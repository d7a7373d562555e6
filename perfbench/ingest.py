"""``ingest``: open-loop syslog UDP through the shipped ``udp_bridge``
subprocess, the spool and ``start_file_ingest`` at product defaults, into
a dashboard warehouse the run writes first, while the dashboard route mix
reads it at a lower fixed rate.  Marker datagrams measure freshness."""

from __future__ import annotations

import datetime as dt
import os
import signal
import socket
import subprocess
import sys
import threading
import time
from collections import Counter

import common
import gen
import serve
from common import Outcome, fresh_tail, p50, read_tail
from serve import ReadLoad

#: Datagrams per second offered to the bridge: about a quarter of what
#: the stream drains while reads run (README.md, "Rates").
UDP_RATE = 2000
#: Freshness markers per run, spread evenly over the feed.
MARKERS = 100
#: Route-mix reads per second during the feed and the drain after it.
#: At 2.5/s two runs in five tipped into a growing queue; this rate keeps
#: the open loop clear of that on a slower moment of a shared host.
READ_RATE = 1.2
#: The feed starts this many seconds after a multiple of the trigger
#: interval.  Spark aligns processingTime triggers to multiples of the
#: interval since the epoch and the bridge rolls 5 s after the first
#: datagram, so a fixed phase makes roll -> trigger wait the same in every
#: run: each file is published 2.5 s before the trigger that reads it.
TRIGGER_S = 5
FEED_PHASE_S = 2.5
#: Seconds after the feed ends that reads continue while the last files
#: drain (one roll + one trigger + a batch).
DRAIN_S = 12
SEND_TICK_S = 0.01
#: Pause between marker polls, so the poller adds a bounded read load.
POLL_GAP_S = 0.5
MARKER_URL = (
    f"/services/{gen.PROBE_SERVICE}/count_group/path?stop={gen.LAST_DAY}&days=1&poll=1"
)
STREAM_GROUP = "perfbench-ingest-stream"
#: Reads pinned to this day are answered from data ingest does not touch.
STATIC_DAY = gen.LAST_DAY - dt.timedelta(days=1)


def _free_udp_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _udp_bound(port: int) -> bool:
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        try:
            s.bind(("127.0.0.1", port))
        except OSError:
            return True
    return False


class Pipeline:
    """Bridge subprocess + ingest stream + HTTP server for one set-up
    cycle."""

    def __init__(self, spark, run_dir: str, cycle: int, warehouse: str, tracer):
        self.spool = os.path.join(run_dir, f"spool-{cycle}")
        self.port = _free_udp_port()
        self.bridge = subprocess.Popen(
            [sys.executable, "-m", "ballcone_spark.sources.udp_bridge",
             "--port", str(self.port), "--spool", self.spool],
            cwd=common.ROOT, env=os.environ.copy(),
        )
        common.CHILDREN.append(self.bridge)
        while not _udp_bound(self.port):
            if self.bridge.poll() is not None:
                raise RuntimeError("udp_bridge exited at start")
            time.sleep(0.01)
        from ballcone_spark.streaming.ingest import start_file_ingest

        sc = spark.sparkContext
        if tracer.enabled:  # the stream thread inherits this job group
            sc.setJobGroup(STREAM_GROUP, "streaming.ingest")
        self.query = start_file_ingest(
            spark, self.spool, os.path.join(warehouse, "data"),
            os.path.join(run_dir, f"checkpoint-{cycle}"),
        )
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.dao, self.app, self.srv = serve.build_server(spark, warehouse, tracer)

    def stop(self) -> None:
        # signal the bridge first: it exits on its next idle tick, while
        # the stream and the server stop
        self.bridge.send_signal(signal.SIGTERM)
        self.query.stop()
        self.srv.shutdown()
        self.bridge.wait(timeout=30)


class SpoolWatch(threading.Thread):
    """Hard-links every spool file the bridge publishes, so the lines the
    stream consumed (and deletes) can be counted afterwards."""

    def __init__(self, spool: str, keep: str):
        super().__init__(daemon=True)
        self.spool, self.keep = spool, keep
        os.makedirs(keep)
        self.halt = threading.Event()
        self.backlog = 0  # most published files waiting in the spool at once

    def run(self) -> None:
        while not self.halt.is_set():
            self.sweep()
            self.halt.wait(0.05)
        self.sweep()

    def sweep(self) -> None:
        names = [n for n in os.listdir(self.spool) if not n.startswith(".")]
        self.backlog = max(self.backlog, len(names))
        for name in names:
            dst = os.path.join(self.keep, name)
            if os.path.exists(dst):
                continue
            try:
                os.link(os.path.join(self.spool, name), dst)
            except FileNotFoundError:
                pass  # consumed between listdir and link: caught by count check

    def lines(self) -> list[bytes]:
        out = []
        for name in sorted(os.listdir(self.keep)):
            with open(os.path.join(self.keep, name), "rb") as fh:
                out.extend(ln.rstrip(b"\n") for ln in fh)
        return out


def feed(port: int, datagrams: list[bytes], markers: list[bytes], seconds: float,
         sent_at: dict, start: float) -> list[float]:
    """Send ``datagrams`` evenly over ``seconds`` from ``start``, marker k
    at ``start + k * seconds / len(markers)`` (the last marker last).
    Returns each send tick's lateness (s)."""
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    addr = ("127.0.0.1", port)
    ticks = int(seconds / SEND_TICK_S)
    per_tick = len(datagrams) / ticks
    m_every = ticks / len(markers)
    late, sent, next_m = [], 0, 0
    for t in range(ticks + 1):
        due = start + t * SEND_TICK_S
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        late.append(time.perf_counter() - due)
        upto = min(len(datagrams), int(round((t + 1) * per_tick)))
        for d in datagrams[sent:upto]:
            sock.sendto(d, addr)
        sent = upto
        while next_m < len(markers) and (next_m * m_every <= t or t == ticks):
            sent_at[next_m] = time.perf_counter()
            sock.sendto(markers[next_m], addr)
            next_m += 1
    sock.close()
    return late


def poll_markers(port: int, tag: str, sent_at: dict, n: int, halt, seen: dict) -> None:
    """Read the marker service through HTTP until all ``n`` markers show;
    a marker's freshness runs from its send to the first response that
    lists it."""
    while len(seen) < n and not halt.wait(POLL_GAP_S):
        status, payload = serve.http_get(port, MARKER_URL)
        now = time.perf_counter()
        if status != 200:  # 404 until the first marker creates the service
            continue
        for e in payload["elements"]:
            parts = e["group"].split("/")
            if len(parts) == 4 and parts[2] == tag:
                k = int(parts[3])
                if k in sent_at and k not in seen:
                    seen[k] = now - sent_at[k]


def _count_rows(data_dir: str) -> int:
    import duckdb

    glob = os.path.join(data_dir, "*", "*", "*.parquet")
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]


def prepare(seed: int, seconds: float):
    """The datagram stream and markers, built while the JVM launches."""
    tag = f"i{seed}"
    datagrams, kinds = gen.datagram_stream(seed, int(UDP_RATE * seconds))
    markers = [gen.marker_datagram(tag, k) for k in range(MARKERS)]
    return tag, datagrams, kinds, markers


def run(seed: int, seconds: float, run_dir: str, tracer, session, prep) -> dict:
    out = Outcome()
    spark = session.spark
    # writing the warehouse is also the JVM's warm-up for the ingest path
    wh = os.path.join(run_dir, "warehouse")
    gen.write_warehouse(spark, seed, wh)
    data = os.path.join(wh, "data")
    tag, datagrams, kinds, markers = prep
    kind_of = {d: k for d, k in zip(datagrams, kinds)}
    kind_of.update({m: "marker" for m in markers})
    rows_before = _count_rows(data)
    files_at_start = common.parquet_files(data)
    phases = {"gen": time.perf_counter()}

    cycle = [0]

    def start(spark):
        p = Pipeline(spark, run_dir, cycle[0], wh, tracer)
        cycle[0] += 1
        ok = serve.wait_first_response(p.srv.port, f"/?day={gen.LAST_DAY}")
        out.op(ok, "first request failed")
        return p

    pipe, setups = session.cycles(start, lambda p: p.stop())
    phases["setup"] = time.perf_counter()
    spark = session.spark
    watch = SpoolWatch(pipe.spool, os.path.join(run_dir, "spooled"))
    watch.start()

    # start the feed at a fixed phase of the trigger grid
    now = time.time()
    wait = (FEED_PHASE_S - now % TRIGGER_S) % TRIGGER_S
    t0 = time.perf_counter() + wait + (TRIGGER_S if wait < 1 else 0)
    sent_at: dict[int, float] = {}
    seen: dict[int, float] = {}
    halt = threading.Event()
    # windows alternate between the day ingest appends to and the day
    # before it, whose answers cannot change during the run
    urls = serve.route_mix(seed, int(READ_RATE * (seconds + DRAIN_S)),
                           [gen.LAST_DAY, STATIC_DAY])
    load = ReadLoad(pipe.srv.port, urls, out, lambda url: str(STATIC_DAY) in url)
    feed_late: list[float] = []
    threads = [
        threading.Thread(target=lambda: feed_late.extend(feed(
            pipe.port, datagrams, markers, seconds, sent_at, t0))),
        threading.Thread(target=poll_markers, args=(
            pipe.srv.port, tag, sent_at, MARKERS, halt, seen)),
    ]
    for t in threads:
        t.start()
    time.sleep(max(0.0, t0 - time.perf_counter()))
    read_late = load.run(READ_RATE, seconds + DRAIN_S)
    threads[0].join()
    threads[1].join(timeout=max(0.0, t0 + seconds + 40 - time.perf_counter()))
    halt.set()
    threads[1].join()
    while len(load.lat) < len(urls):
        time.sleep(0.02)
    phases["drained"] = time.perf_counter()
    files_written = common.parquet_files(data) - files_at_start
    pipe.query.processAllAvailable()
    progress = list(pipe.query.recentProgress)
    pipe.stop()
    watch.halt.set()
    watch.join()
    out.op(len(seen) == MARKERS, f"{MARKERS - len(seen)} markers never visible",
           n=MARKERS)

    # conservation: spooled lines -> landed rows + dropped rows
    spooled = Counter(kind_of.get(ln, "unknown") for ln in watch.lines())
    sent = Counter(kinds)
    sent["marker"] = MARKERS
    landed_kinds = ("valid", "bad_escape", "marker")
    rows_after = _count_rows(data)
    landed = rows_after - rows_before
    expect_landed = sum(spooled[k] for k in landed_kinds)
    out.op(spooled["unknown"] == 0, f"{spooled['unknown']} spooled lines not sent")
    for kind, n in sent.items():
        out.op(spooled[kind] == n, f"bridge spooled {spooled[kind]} of {n} {kind} "
                                   "datagrams sent")
    out.op(landed == expect_landed,
           f"rows ingested {landed} != valid datagrams spooled {expect_landed}")
    from ballcone_spark.sources.syslog import parse_stats

    stats = parse_stats(spark.read.text(watch.keep)).first()
    for kind in gen.DROP_KINDS:
        out.op(stats[kind] == spooled[kind],
               f"parse_stats {kind} {stats[kind]} != spooled {spooled[kind]}")
    consumed = sum(p.numInputRows for p in progress)
    out.op(consumed == sum(spooled.values()),
           f"stream read {consumed} lines, bridge spooled {sum(spooled.values())}")

    oracle = serve.Oracle(data)
    for route, url, payload in load.kept:
        out.op(oracle.check(route, url, payload), f"{url}: response differs from DuckDB")

    from ballcone_spark.streaming.ingest import compact_warehouse

    tc = time.perf_counter()
    compact_warehouse(spark, data)
    compact_s = time.perf_counter() - tc
    out.op(_count_rows(data) == rows_after, "compaction changed the row count")

    phases["checked"] = time.perf_counter()
    valid_sent = sum(sent[k] for k in landed_kinds)
    fresh = list(seen.values())
    reads = [s for _, s in load.lat]
    return {
        "outcome": out,
        "samples": {"read": len(reads), "freshness": len(fresh)},
        "e2e": {
            "setup_s": common.median(setups),
            "read_p75_ms": 1000 * read_tail(reads),
            "freshness_p50_s": p50(fresh) if fresh else 0.0,
            "freshness_p90_s": fresh_tail(fresh) if fresh else 0.0,
        },
        "read_late": read_late,
        "udp_late": feed_late,
        "warehouse": wh,
        "progress": progress,
        "trigger_s": TRIGGER_S,
        "ingest": {
            "sent": sum(sent.values()),
            "spooled": sum(spooled.values()),
            "spool_files": len(os.listdir(watch.keep)),
            "parse_dropped": sum(stats[k] for k in gen.DROP_KINDS),
            "loss_share": 1 - expect_landed / valid_sent,
            "files_written": files_written,
            "backlog_files": watch.backlog,
            "compact_s": compact_s,
            "feed_s": seconds,
        },
        "notes": {"read_p50_ms": 1000 * p50(reads), "reads": len(reads),
                  "checked_reads": len(load.kept),
                  "read_p50_ms_by_route": {
                      r: round(1000 * p50([s for q, s in load.lat if q == r]))
                      for r in serve.ROUTES},
                  "markers_seen": len(seen),
                  "launch_s": session.launch_s,
                  "first_setup_s": session.first_setup_s, "setups": setups,
                  "loss_share": 1 - expect_landed / valid_sent,
                  "phases": {k: round(v - session.t0, 1) for k, v in phases.items()}},
    }
