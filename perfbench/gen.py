"""Seeded inputs for the workloads.

Every generator takes the seed as an argument and is deterministic in it;
the program under test only ever sees the generated files, datagrams and
tables.  The corpus tables are cached by seed under the benchmark's own
state directory (``.perfbench/cache``), never under tracked files or
``spark-warehouse/``.  The dashboard warehouse is not cached: it is
written by the program under test, so every run writes its own.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys

import numpy as np

#: Sites, most to least visited (Zipf over this order).
SERVICES = ["shop", "blog", "docs", "api", "wiki", "forum", "news", "status"]
#: Extra service that carries the ingest workload's freshness markers.
PROBE_SERVICE = "probe"
#: 30 days of history; the last one is the "today" every window pins.
FIRST_DAY = dt.date(2026, 1, 1)
N_DAYS = 30
LAST_DAY = FIRST_DAY + dt.timedelta(days=N_DAYS - 1)
#: Rows in the dashboard warehouse.  Days older than the last
#: ``RECENT_DAYS`` are written in one backfill batch; the recent days get
#: two append batches, so compaction has real work to do.  Request cost
#: is dominated by per-request fixed costs (listing, planning, one job
#: per query), not by scanning, so a small warehouse keeps the input
#: build cheap without changing what the read path does.
N_ROWS = 6_000
RECENT_DAYS = 1

UA_POOL = [
    # (weight, user agent) — browsers across platforms plus crawlers/tools
    (30, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36"),
    (14, "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
         "(KHTML, like Gecko) Version/17.4 Safari/605.1.15"),
    (12, "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) "
         "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Mobile/15E148 "
         "Safari/604.1"),
    (10, "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36"),
    (8, "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0"),
    (6, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.2478.51"),
    (3, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/123.0.0.0 Safari/537.36 OPR/109.0.0.0"),
    (1, "Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko"),
    (7, "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"),
    (4, "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)"),
    (2, "curl/8.5.0"),
    (2, "python-requests/2.31.0"),
    (1, "Wget/1.21.4"),
]
STATUSES = [(86, 200), (6, 304), (5, 404), (2, 301), (1, 500)]
REFERRERS = ["", "", "", "https://www.google.com/", "https://news.ycombinator.com/"]
N_PATHS = 400
N_IPS = 5000


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _choice(rng: np.random.Generator, pairs: list, n: int) -> list:
    w = np.array([p[0] for p in pairs], dtype=float)
    idx = rng.choice(len(pairs), size=n, p=w / w.sum())
    return [pairs[i][1] for i in idx]


class Traffic:
    """Seeded nginx request generator: Zipf services, paths and client IPs,
    weighted real user agents (bots included)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        self.paths = ["/"] + [
            f"/{section}/{k}" for k, section in zip(
                range(1, N_PATHS),
                rng.choice(["post", "item", "tag", "page", "search%20results"],
                           size=N_PATHS - 1),
            )
        ]
        self.ips = [
            f"{a}.{b}.{c}.{d}" for a, b, c, d in rng.integers(1, 255, (N_IPS, 4))
        ]
        self.svc_w = _zipf_weights(len(SERVICES), 1.1)
        self.path_w = _zipf_weights(N_PATHS, 1.05)
        self.ip_w = _zipf_weights(N_IPS, 0.9)

    def payloads(self, n: int, day_of: np.ndarray) -> list[dict]:
        """``n`` nginx JSON payloads; ``day_of[i]`` is row i's day index."""
        rng = self.rng
        svc = rng.choice(len(SERVICES), size=n, p=self.svc_w)
        path = rng.choice(N_PATHS, size=n, p=self.path_w)
        ip = rng.choice(N_IPS, size=n, p=self.ip_w)
        secs = rng.integers(0, 86_400, size=n)
        uas = _choice(rng, UA_POOL, n)
        statuses = _choice(rng, STATUSES, n)
        lengths = rng.integers(120, 60_000, size=n)
        gen_ms = rng.integers(1, 2_000, size=n)
        refs = rng.choice(len(REFERRERS), size=n)
        out = []
        for i in range(n):
            ts = dt.datetime.combine(
                FIRST_DAY + dt.timedelta(days=int(day_of[i])), dt.time()
            ) + dt.timedelta(seconds=int(secs[i]))
            out.append({
                "service": SERVICES[svc[i]],
                "ip": self.ips[ip[i]],
                "host": f"{SERVICES[svc[i]]}.example.org",
                "path": self.paths[path[i]],
                "status": str(statuses[i]),
                "referrer": REFERRERS[refs[i]],
                "user_agent": uas[i],
                "length": int(lengths[i]),
                "generation_time_milli": round(int(gen_ms[i]) / 1000, 3),
                "date": ts.isoformat() + "+00:00",
            })
        return out


def frame(payload: dict | str) -> str:
    """One nginx syslog datagram line (reference log_format over syslog)."""
    body = payload if isinstance(payload, str) else json.dumps(payload)
    return f"<190>Jan  1 00:00:00 web nginx: {body}"


# --------------------------------------------------------------------- #
# dashboard warehouse                                                   #
# --------------------------------------------------------------------- #


def dashboard_batches(seed: int) -> list[list[str]]:
    """Datagram lines of the dashboard warehouse, as the ingest batches
    that write it: one backfill batch, then two append batches over the
    recent days."""
    rng = np.random.default_rng(seed)
    # mild weekly seasonality so days differ in volume
    day_w = 1.0 + 0.3 * np.sin(np.arange(N_DAYS) * 2 * np.pi / 7)
    day_of = rng.choice(N_DAYS, size=N_ROWS, p=day_w / day_w.sum())
    lines = [frame(p) for p in Traffic(seed + 1).payloads(N_ROWS, day_of)]
    recent = day_of >= N_DAYS - RECENT_DAYS
    old = [ln for ln, r in zip(lines, recent) if not r]
    new = [ln for ln, r in zip(lines, recent) if r]
    return [old, new[::2], new[1::2]]


def write_warehouse(spark, seed: int, out: str) -> None:
    """Write the dashboard warehouse for ``seed`` under ``out``: each batch
    through the shipped batch ``ingest_pipeline``, then
    ``compact_warehouse``."""
    from ballcone_spark.streaming.ingest import compact_warehouse, ingest_pipeline

    data = os.path.join(out, "data")
    os.makedirs(os.path.join(out, "_catalog"))
    for i, batch in enumerate(dashboard_batches(seed)):
        lines = os.path.join(out, f"batch-{i}.log")
        with open(lines, "w") as fh:
            fh.write("\n".join(batch) + "\n")
        (
            ingest_pipeline(spark.read.text(lines))
            .repartition("service", "date")
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(data)
        )
        os.remove(lines)
    compact_warehouse(spark, data)


# --------------------------------------------------------------------- #
# ingest datagram stream                                                #
# --------------------------------------------------------------------- #

#: Share of the datagram stream per malformed kind.  The first four are
#: the drop kinds ``parse_stats`` counts; a bad %-escape is kept, with its
#: path stored undecoded.
MALFORMED = {
    "bad_frame": 0.01,
    "bad_json": 0.01,
    "bad_service": 0.01,
    "bad_timestamp": 0.01,
    "bad_escape": 0.01,
}
DROP_KINDS = ("bad_frame", "bad_json", "bad_service", "bad_timestamp")


def _malform(kind: str, p: dict) -> str:
    if kind == "bad_frame":
        return json.dumps(p)  # no syslog PRI/header
    if kind == "bad_json":
        return frame(json.dumps(p)[:-7])
    if kind == "bad_service":
        return frame(dict(p, service="no such/site"))
    if kind == "bad_timestamp":
        return frame(dict(p, date="yesterday-ish"))
    if kind == "bad_escape":
        return frame(dict(p, path=p["path"] + "/%zz"))
    raise ValueError(kind)


def datagram_stream(seed: int, n: int) -> tuple[list[bytes], list[str]]:
    """``n`` datagrams dated on the last warehouse day, with a fixed share
    of each malformed kind at seeded positions.  Returns the datagrams and
    each one's kind (``"valid"`` or a ``MALFORMED`` key)."""
    rng = np.random.default_rng(seed + 2)
    payloads = Traffic(seed + 3).payloads(n, np.full(n, N_DAYS - 1))
    kinds = ["valid"] * n
    slots = rng.permutation(n)
    at = 0
    for kind, share in MALFORMED.items():
        k = int(round(share * n))
        for i in slots[at:at + k]:
            kinds[i] = kind
        at += k
    lines = [
        frame(p) if kind == "valid" else _malform(kind, p)
        for p, kind in zip(payloads, kinds)
    ]
    return [ln.encode() for ln in lines], kinds


def marker_datagram(tag: str, k: int) -> bytes:
    """A valid datagram whose path names marker ``k`` of run ``tag``."""
    return frame(marker_payload(tag, k)).encode()


def marker_payload(tag: str, k: int) -> dict:
    return {
        "service": PROBE_SERVICE,
        "ip": "192.0.2.1",
        "host": "probe.example.org",
        "path": f"/m/{tag}/{k}",
        "status": "200",
        "referrer": "",
        "user_agent": "perfbench-probe/1.0",
        "length": 1,
        "generation_time_milli": 0.001,
        "date": f"{LAST_DAY.isoformat()}T12:00:00+00:00",
    }


# --------------------------------------------------------------------- #
# corpus tables                                                         #
# --------------------------------------------------------------------- #

#: Corpus size: the shape of ``tools/gen_scale_data.py`` at sf0.006
#: (300 documents, 120 vectors).  See README.md for why not sf0.1.
CORPUS_DOCS = 300
CORPUS_VECS = 120
WARMUP_DOCS = 60
WARMUP_VECS = 40


def _scale_gen(repo_root: str):
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    try:
        import gen_scale_data
    finally:
        sys.path.pop(0)
    return gen_scale_data


def build_corpus(
    seed: int, cache_root: str, repo_root: str, n_docs: int, n_vecs: int,
    name: str = "corpus",
) -> str:
    """``documents`` / ``embeddings`` parquet tables in the
    ``tools/gen_scale_data.py`` shape, seeded by ``seed``; cached."""
    import pyarrow.parquet as pq

    out = os.path.join(cache_root, f"{name}-{seed}-{n_docs}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    g = _scale_gen(repo_root)
    rng = np.random.default_rng(np.random.PCG64(seed))
    pq.write_table(g.gen_documents(n_docs, rng), os.path.join(out, "documents.parquet"))
    pq.write_table(g.gen_embeddings(n_vecs, rng), os.path.join(out, "embeddings.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out
