"""Per-layer metrics, read from the traced run's spans, the ingest query's
progress reports and the workload's own counters.  Every metric is printed
on every workload; a layer the workload does not exercise reads 0."""

from __future__ import annotations

import datetime as dt
import os

import common
from spans import percentile, self_time

ROUTES = ["root", "service", "count", "average", "count_group", "sql"]
APP = {"dashboard": ["dashboard"], "overview": ["overview"],
       "top": ["top_paths", "top_browsers"], "sql": ["sql"], "size": ["size"]}
DAO = ["select_count", "select_average", "select_count_group", "run_safe",
       "register_views", "tables", "table_exists", "size"]
PHASES = {"add_batch": "addBatch", "latest_offset": "latestOffset",
          "get_batch": "getBatch", "query_planning": "queryPlanning",
          "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}
CORPUS = [
    "dedup_exact_keep_first", "dedup_minhash_lsh_vectorized",
    "dedup_incremental_minhash", "docs_exact_span_dups", "docs_dup_span_coverage",
    "docs_chunk_semantic_pairs", "docs_dedup_keep_best", "docs_curation_budget_mix",
    "docs_chunk_alias_map", "docs_chunk_alias_arrival", "docs_chunk_alias_resolve",
    "docs_token_stats_vectorized", "embeddings_knn_bruteforce_vectorized",
]


def _units() -> dict[str, str]:
    u = {"session.get_spark_s": "s"}
    u.update({f"web.{r}.p50_ms": "ms" for r in ROUTES})
    u["web.self_ms_p50"] = "ms"
    u.update({f"app.{a}_ms": "ms" for a in APP})
    u.update({f"dao.{m}_ms": "ms" for m in DAO})
    u.update({"dao.jobs_per_request": "count", "dao.listings_per_request": "count",
              "dao.warehouse_files": "count"})
    u.update({"sources.bridge_lines_per_s": "1/s", "sources.bridge_loss_share": "ratio",
              "sources.spool_files": "count", "sources.parse_dropped": "count"})
    u.update({"ingest.batch_ms_p50": "ms", "ingest.batch_ms_max": "ms"})
    u.update({f"ingest.{p}_ms_p50": "ms" for p in PHASES})
    u.update({"ingest.rows_per_batch_p50": "count",
              "ingest.processed_rows_per_s_p50": "1/s",
              "ingest.trigger_lag_ms_p50": "ms", "ingest.files_written": "count",
              "ingest.backlog_files": "count", "ingest.compact_s": "s"})
    for q in CORPUS:
        u.update({f"queries.{q}.build_s": "s", f"queries.{q}.build_jobs": "count",
                  f"queries.{q}.exec_s": "s", f"queries.{q}.steady_s": "s"})
    u.update({"queries.plan_cache_hit_share": "ratio", "queries.stages_total": "count",
              "queries.tasks_total": "count", "queries.rebuild_total_s": "s",
              "queries.steady_total_s": "s", "load.read_late_ms_p99": "ms",
              "load.udp_late_ms_p99": "ms"})
    return u


UNITS = _units()


def _p50(xs) -> float:
    return percentile(xs, 50) if xs else 0.0


def _web(tracer, m: dict) -> None:
    reqs = [s for s in tracer.named("web.request")]
    for r in ROUTES:
        m[f"web.{r}.p50_ms"] = 1000 * _p50([s.dur for s in reqs if s.tag == r])
    m["web.self_ms_p50"] = 1000 * _p50([self_time(s, tracer.spans) for s in reqs])
    for key, names in APP.items():
        m[f"app.{key}_ms"] = 1000 * _p50(
            [s.dur for n in names for s in tracer.named(f"app.{n}")])
    for d in DAO:
        m[f"dao.{d}_ms"] = 1000 * _p50([s.dur for s in tracer.named(f"dao.{d}")])
    if reqs:
        trees = [[s] + tracer.descendants(s) for s in reqs]
        m["dao.jobs_per_request"] = sum(x.jobs for t in trees for x in t) / len(reqs)
        m["dao.listings_per_request"] = sum(
            x.name in ("dao.tables", "dao.table_exists") for t in trees for x in t
        ) / len(reqs)


def _ingest(res: dict, m: dict) -> None:
    ing = res["ingest"]
    m["sources.bridge_lines_per_s"] = ing["spooled"] / ing["feed_s"]
    m["sources.bridge_loss_share"] = 1 - ing["spooled"] / ing["sent"]
    m["sources.spool_files"] = ing["spool_files"]
    m["sources.parse_dropped"] = ing["parse_dropped"]
    batches = [p for p in res["progress"] if p.numInputRows > 0]
    dur = [p.durationMs.get("triggerExecution", 0) for p in batches]
    m["ingest.batch_ms_p50"] = _p50(dur)
    m["ingest.batch_ms_max"] = max(dur, default=0)
    for key, name in PHASES.items():
        m[f"ingest.{key}_ms_p50"] = _p50([p.durationMs.get(name, 0) for p in batches])
    m["ingest.rows_per_batch_p50"] = _p50([p.numInputRows for p in batches])
    m["ingest.processed_rows_per_s_p50"] = _p50(
        [p.processedRowsPerSecond for p in batches])
    lag = []
    for p in batches:
        ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        ms = ts.timestamp() * 1000
        lag.append(ms % (1000 * res["trigger_s"]))
    m["ingest.trigger_lag_ms_p50"] = _p50(lag)
    m["ingest.files_written"] = ing["files_written"]
    m["ingest.backlog_files"] = ing["backlog_files"]
    m["ingest.compact_s"] = ing["compact_s"]
    m["load.udp_late_ms_p99"] = 1000 * percentile(res["udp_late"], 99)


def _queries(res: dict, tracer, m: dict) -> None:
    for q, v in res["queries"].items():
        m[f"queries.{q}.build_s"] = _p50(v["build_s"])
        m[f"queries.{q}.exec_s"] = _p50(v["exec_s"])
        m[f"queries.{q}.steady_s"] = _p50(v["steady_s"])
        builds = tracer.named(f"queries.{q}.build")
        m[f"queries.{q}.build_jobs"] = (
            sum(s.jobs for s in builds) / len(builds) if builds else 0)
    m["queries.plan_cache_hit_share"] = res["plan_cache_hit_share"]
    spans = [s for s in tracer.spans.values() if s.name.startswith("queries.")]
    m["queries.stages_total"] = sum(s.stages for s in spans)
    m["queries.tasks_total"] = sum(s.tasks for s in spans)
    m["queries.rebuild_total_s"] = _p50(res["rebuild_total_s"])
    m["queries.steady_total_s"] = sum(
        _p50(v["steady_s"]) for v in res["queries"].values())


def metrics(workload: str, res: dict, tracer) -> dict[str, float]:
    m = {k: 0.0 for k in UNITS}
    m["session.get_spark_s"] = _p50(res["get_spark_s"])
    _web(tracer, m)
    if "warehouse" in res:
        m["dao.warehouse_files"] = common.parquet_files(os.path.join(res["warehouse"], "data"))
    if res.get("read_late"):
        m["load.read_late_ms_p99"] = 1000 * percentile(res["read_late"], 99)
    if "ingest" in res:
        _ingest(res, m)
    if "queries" in res:
        _queries(res, tracer, m)
    return {k: float(v) for k, v in m.items()}
