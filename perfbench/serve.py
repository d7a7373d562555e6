"""The HTTP read path the ``ingest`` workload drives: server construction,
the reference route mix, HTTP calls and the open-loop reader."""

from __future__ import annotations

import datetime as dt
import json
import math
import re
import socket
import time
import urllib.error
import urllib.parse
import urllib.request

import numpy as np

import common
import gen

DAO_METHODS = [
    "select_count", "select_average", "select_count_group", "run_safe",
    "register_views", "tables", "table_exists", "size",
]
APP_METHODS = ["dashboard", "overview", "top_paths", "top_browsers", "sql", "size"]

#: The reference's read routes.  The repository records no traffic mix
#: for them, so each is requested equally often: an assumption, not a
#: measurement.
ROUTES = ["root", "service", "count", "average", "count_group", "sql"]
GROUPS = ["path", "browser_name", "platform_name", "status"]
SQL = (
    "SELECT service, count(*) AS hits, count(DISTINCT ip) AS visitors "
    "FROM access_log WHERE date = DATE'{day}' "
    "GROUP BY service ORDER BY service"
)


def build_server(spark, warehouse: str, tracer):
    """``SparkDAO`` → ``Ballcone`` → ``BallconeHTTPServer`` on an ephemeral
    port, with the DAO and app instances traced when tracing is on."""
    from ballcone_spark.app import Ballcone
    from ballcone_spark.dao import SparkDAO
    from ballcone_spark.web import BallconeHTTPServer

    dao = SparkDAO(spark, warehouse)
    app = Ballcone(dao)
    tracer.wrap(dao, "dao", DAO_METHODS)
    tracer.wrap(app, "app", APP_METHODS)
    srv = BallconeHTTPServer(app).start()
    if tracer.enabled:
        _trace_requests(srv, tracer)
    return dao, app, srv


def route_of(target: str) -> str:
    """Route name of a request target (``poll`` for marker polls)."""
    u = urllib.parse.urlparse(target)
    parts = [p for p in u.path.split("/") if p]
    if "poll=1" in u.query:
        return "poll"
    if not parts:
        return "root"
    if parts[0] == "sql":
        return "sql"
    return "service" if len(parts) == 2 else parts[2]


def _trace_requests(srv, tracer) -> None:
    """A ``web.request`` span around each request, on the thread that
    serves it (one per request), tagged with the request's route."""
    httpd = srv._httpd
    inner = httpd.finish_request

    def finish_request(request, client_address):
        head = request.recv(2048, socket.MSG_PEEK)  # leave the request unread
        target = head.split(b" ", 2)[1].decode() if head.count(b" ") >= 2 else ""
        with tracer.span("web.request", tag=route_of(target)):
            inner(request, client_address)

    httpd.finish_request = finish_request


def route_mix(seed: int, n: int, days: list[dt.date]) -> list[tuple[str, str]]:
    """``n`` (route, path+query) pairs.  Routes take turns in a fixed
    order, and each round of the six pins its windows to the next of
    ``days`` (``day`` for ``/`` and the SQL query, ``stop`` elsewhere), so
    every seed offers the same work in the same rhythm.  The seed picks
    services (Zipf), window lengths and groups."""
    rng = np.random.default_rng(seed + 5)
    svc_w = gen._zipf_weights(len(gen.SERVICES), 1.1)
    svcs = rng.choice(len(gen.SERVICES), size=n, p=svc_w)
    lengths = rng.choice([7, 30], size=n)
    groups = rng.choice(len(GROUPS), size=n)
    out = []
    for k in range(n):
        name, svc = ROUTES[k % len(ROUTES)], gen.SERVICES[svcs[k]]
        day = days[k // len(ROUTES) % len(days)]
        win = f"stop={day}&days={lengths[k]}"
        if name == "root":
            url = f"/?day={day}"
        elif name == "service":
            url = f"/services/{svc}?{win}"
        elif name == "count":
            url = f"/services/{svc}/count/ip?{win}"
        elif name == "average":
            url = f"/services/{svc}/average/generation_time?{win}"
        elif name == "count_group":
            url = f"/services/{svc}/count_group/{GROUPS[groups[k]]}?limit=5&{win}"
        else:
            url = "/sql?" + urllib.parse.urlencode({"sql": SQL.format(day=day)})
        out.append((name, url))
    return out


def http_get(port: int, url: str, timeout: float = 60.0):
    """(status, payload) for one GET; status 0 on a transport error."""
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{url}", timeout=timeout
        ) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except (OSError, ValueError):
        return 0, None


class ReadLoad:
    """Open-loop route-mix reads; latency counted from each due time.
    Responses to URLs whose answer cannot change during the run
    (``keep(url)`` true) are kept for the output check."""

    def __init__(self, port: int, urls: list[tuple[str, str]], outcome, keep):
        self.port, self.urls, self.outcome, self.keep = port, urls, outcome, keep
        self.lat: list[tuple[str, float]] = []  # (route, seconds)
        self.kept: list[tuple[str, str, object]] = []  # (route, url, payload)

    def op(self, k: int, due: float) -> None:
        route, url = self.urls[k]
        status, payload = http_get(self.port, url)
        self.lat.append((route, time.perf_counter() - due))
        self.outcome.op(status == 200, f"{url}: HTTP {status}")
        if status == 200 and self.keep(url):
            self.kept.append((route, url, payload))

    def run(self, rate: float, seconds: float) -> list[float]:
        return common.open_loop(rate, seconds, self.op, common.CPUS)


def wait_first_response(port: int, url: str, deadline_s: float = 120.0) -> bool:
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        status, _ = http_get(port, url)
        if status == 200:
            return True
        time.sleep(0.05)
    return False


# --------------------------------------------------------------------- #
# response oracle                                                       #
# --------------------------------------------------------------------- #

_TOP = """
SELECT date, grp, c FROM (
  SELECT date, {group} AS grp, count({counted}) AS c,
         row_number() OVER (PARTITION BY date
                            ORDER BY count({counted}) DESC, {group} NULLS LAST) AS rn
  FROM fact WHERE service = ? AND date BETWEEN ? AND ? GROUP BY date, {group})
WHERE rn <= 5 ORDER BY date, c DESC, grp NULLS LAST
"""


class Oracle:
    """The answer each route should give, computed by DuckDB over the
    warehouse's parquet files with the route's documented semantics."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        glob = f"{data_dir}/*/*/*.parquet"
        self.con.execute(
            "CREATE VIEW fact AS SELECT * EXCLUDE (date), CAST(date AS DATE) AS date "
            f"FROM read_parquet('{glob}', hive_partitioning = true)")

    def _rows(self, sql: str, *args) -> list[tuple]:
        return self.con.execute(sql, list(args)).fetchall()

    def _top(self, svc, group, counted, start, stop) -> list[dict]:
        return [{"date": d.isoformat(), "group": g, "count": c}
                for d, g, c in self._rows(_TOP.format(group=group, counted=counted),
                                          svc, start, stop)]

    def _count(self, svc, start, stop) -> list[dict]:
        return [{"date": d.isoformat(), "group": None, "count": c}
                for d, c in self._rows(
                    "SELECT date, count(DISTINCT ip) FROM fact WHERE service = ? "
                    "AND date BETWEEN ? AND ? GROUP BY date ORDER BY date",
                    svc, start, stop)]

    def _average(self, svc, start, stop) -> list[dict]:
        return [{"date": d.isoformat(), "avg": a, "sum": s, "count": c}
                for d, a, s, c in self._rows(
                    "SELECT date, avg(generation_time), "
                    "coalesce(sum(generation_time), 0.0), count(generation_time) "
                    "FROM fact WHERE service = ? AND date BETWEEN ? AND ? "
                    "GROUP BY date ORDER BY date", svc, start, stop)]

    def check(self, route: str, url: str, got) -> bool:
        """Whether ``got`` (the response JSON) answers ``url`` correctly.
        Listings of services are checked to hold every seeded service;
        services created during the run (the marker service) may join."""
        try:
            return self._check(route, url, got)
        except (KeyError, TypeError, AttributeError, ValueError):
            return False  # a response without the expected shape

    def _check(self, route: str, url: str, got) -> bool:
        u = urllib.parse.urlparse(url)
        q = urllib.parse.parse_qs(u.query)
        parts = [p for p in u.path.split("/") if p]
        if route == "root":
            day = dt.date.fromisoformat(q["day"][0])
            seen = dict(self._rows(
                "SELECT service, count(DISTINCT ip) FROM fact WHERE date = ? "
                "GROUP BY service", day))
            want = sorted(([s, seen.get(s, 0)] for s in got["services"]),
                          key=lambda e: (-e[1], e[0]))
            return set(gen.SERVICES) <= set(got["services"]) and got["dashboard"] == want
        if route == "sql":
            day = re.search(r"DATE'([0-9-]+)'", q["sql"][0]).group(1)
            want = [list(r) for r in self._rows(
                "SELECT service, count(*), count(DISTINCT ip) FROM fact "
                "WHERE date = ? GROUP BY service ORDER BY service",
                dt.date.fromisoformat(day))]
            return got["columns"] == ["service", "hits", "visitors"] and got["rows"] == want
        svc = parts[1]
        stop = dt.date.fromisoformat(q["stop"][0])
        start = stop - dt.timedelta(days=int(q["days"][0]) - 1)
        if route == "service":
            overview = {d.isoformat(): {"visits": v, "unique": n}
                        for d, v, n in self._rows(
                            "SELECT date, count(*), count(DISTINCT ip) FROM fact "
                            "WHERE service = ? AND date BETWEEN ? AND ? "
                            "GROUP BY date ORDER BY date", svc, start, stop)}
            want = {"overview": overview,
                    "time": self._average(svc, start, stop),
                    "paths": self._top(svc, "path", "ip", start, stop),
                    "browsers": self._top(svc, "browser_name", "ip", start, stop)}
            got = dict(got, time=got["time"]["elements"])
            return all(same(got[k], v) for k, v in want.items())
        if route == "count":
            want = self._count(svc, start, stop)
        elif route == "average":
            want = self._average(svc, start, stop)
        else:
            want = self._top(svc, parts[3], "date", start, stop)
        return same(got["elements"], want)


def same(a, b) -> bool:
    """Structural equality, floats compared to a relative 1e-9."""
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b
