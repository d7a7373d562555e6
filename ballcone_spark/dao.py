"""SparkDAO — the analytic query layer over the unified fact table.

Reproduces the reference's DAO surface (reference ballcone/dao.py) as
declarative DataFrame plans over one Parquet-backed logical table
partitioned by ``service`` and ``date``:

========== ===============================================================
reference   here
========== ===============================================================
per-service physical tables (dao.py:174-185)   ``service`` partition column
CAST(datetime AS DATE) (dao.py:255,...)        to_date() + the ``date``
                                               partition column → pruning
apply_dates (dao.py:354-369)                   :meth:`SparkDAO._apply_dates`
select (dao.py:236-249)                        :meth:`select`
select_average (dao.py:251-275)                :meth:`select_average`
select_count (dao.py:277-301)                  :meth:`select_count`
select_count_group (dao.py:303-342)            :meth:`select_count_group`
run / SQL console (dao.py:344-352)             :meth:`run` → spark.sql
tables/table_exists/create/drop (150-193)      catalog shim over partitions
size (dao.py:147-148)                          warehouse dir byte count
insert/batch insert (dao.py:195-234)           append writes
========== ===============================================================

Scale notes (the design target is a 1000-executor cluster over ~100 TB):

- Every daily aggregate groups on a **low-cardinality** key (date, or
  date×group). Spark performs partial (map-side) aggregation before the
  shuffle, so shuffle volume is O(days × groups × partitions), independent
  of row count. No repartition hints needed.
- Date-range predicates hit the ``date`` partition column → partition
  pruning at the file listing level; the same predicate on
  ``to_date(datetime)`` is also applied so the plan is correct even over
  un-partitioned inputs (tests, ad-hoc DataFrames).
- ``COUNT(DISTINCT ...)`` is exact (the oracle hash-matches it). Spark
  plans it as a two-phase expand+aggregate; for interactive dashboards at
  extreme scale, ``approx=True`` switches to HyperLogLog
  (``approx_count_distinct``) as a documented opt-in, mirroring the note
  in SURVEY.md §2 Q4.
- The per-day top-N (Q5 with limit) is the classic window row_number
  pattern; Spark ≥3.5 rewrites it to ``WindowGroupLimit`` which pushes the
  limit below the shuffle (each map task keeps only N rows per date).

Read path: every read starts from :meth:`SparkDAO._fact`, one parquet
relation per listing generation of ``data/``, memoized as
``access_log`` in the build cache (``plans/stages.py``). A call re-walks
``data/`` for each file's (relpath, size, mtime_ns) and reuses the
relation, with Spark's file listing and inferred partitions, unless a
file landed, vanished or was rewritten; the walk runs before a miss
lists, so a hit never serves a listing older than the request. The SQL
console binds ``access_log`` to that relation and each per-service view
to ``access_log`` by name, so registering views lists the warehouse at
most once. The per-day aggregates (and the app layer's dashboard and
overview) return at most days × groups rows and are always collected,
so their final sort runs in one partition (``coalesce(1)`` +
``sortWithinPartitions``, same keys and NULL order) instead of a
range-partitioned ``orderBy``, which costs a sampling job and a
shuffle. :meth:`SparkDAO.select_df` has no such bound (a whole service
without a limit) and keeps ``orderBy``: with a limit it plans
``TakeOrderedAndProject``, without one the sort stays distributed.
"""

from __future__ import annotations

import datetime
import functools
import os
import re
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException, ParseException

from ballcone_spark.plans import stages
from ballcone_spark.results import Average, AverageResult, Count, CountResult
from ballcone_spark.schema import ENTRY_SCHEMA, FACT_SCHEMA, VALID_SERVICE_RE

__all__ = ["SparkDAO"]

_ENTRY_COLS = [f.name for f in ENTRY_SCHEMA.fields]
_FACT_COLS = [f.name for f in FACT_SCHEMA.fields]
# Read schema = fact schema + the `date` partition column, built fresh
# (StructType.add mutates in place — never call it on the shared schema).
_FACT_READ_SCHEMA = T.StructType(
    [*FACT_SCHEMA.fields, T.StructField("date", T.DateType(), True)]
)


class SparkDAO:
    """Analytic DAO over a Parquet warehouse (one dir, partitioned by
    ``service`` and ``date``) or over an explicitly supplied DataFrame.

    ``warehouse`` is a local/posix path in tests; on a cluster it is any
    Hadoop-compatible URI (s3a://, hdfs://) — all paths go through Spark's
    reader/writer, nothing assumes a local filesystem except ``size()``
    and the catalog shim, which have documented cluster equivalents.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(self._catalog_dir, exist_ok=True)

    # ------------------------------------------------------------------ #
    # catalog shim                                                       #
    # ------------------------------------------------------------------ #
    # The reference creates one physical table per service lazily on the
    # first datagram (reference syslog_protocol.py:61-65, dao.py:174-185)
    # and introspects via DuckDB's sqlite_master view (dao.py:150-172).
    # Here a "table" is a service partition; empty tables (created but no
    # rows yet) are tracked with marker files so create/drop/list/exists
    # semantics survive with zero rows.

    @property
    def _catalog_dir(self) -> str:
        return os.path.join(self.warehouse, "_catalog")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.warehouse, "data")

    def _check_service(self, service: str) -> None:
        if not re.match(VALID_SERVICE_RE, service):
            raise ValueError(f"invalid service name: {service!r}")

    def create_table(self, service: str) -> None:
        """Register a service (reference dao.py:174-185)."""
        self._check_service(service)
        with open(os.path.join(self._catalog_dir, service), "w"):
            pass

    def drop_table(self, service: str) -> None:
        """Drop a service: marker + its partition dir (reference dao.py:187-193)."""
        self._check_service(service)
        marker = os.path.join(self._catalog_dir, service)
        if os.path.exists(marker):
            os.remove(marker)
        part_dir = os.path.join(self._data_dir, f"service={service}")
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)

    def tables(self) -> list[str]:
        """Sorted distinct service names (reference dao.py:150-160)."""
        names = set(os.listdir(self._catalog_dir))
        if os.path.isdir(self._data_dir):
            for d in os.listdir(self._data_dir):
                if d.startswith("service="):
                    names.add(d.split("=", 1)[1])
        return sorted(names)

    def table_exists(self, service: str) -> bool:
        """Reference dao.py:162-172."""
        return service in self.tables()

    def size(self) -> int:
        """Warehouse size in bytes (reference dao.py:147-148 reads
        pragma_database_size(); the Parquet-native equivalent is the byte
        count of the store — on a cluster, a FileSystem.getContentSummary
        call)."""
        total = 0
        for root, _dirs, files in os.walk(self.warehouse):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    # ------------------------------------------------------------------ #
    # writes                                                             #
    # ------------------------------------------------------------------ #

    def insert_into(self, service: str, entry: dict) -> None:
        """Single-row insert (reference dao.py:195-207). Test/fixture path —
        bulk data goes through batch_insert_into or the streaming sink."""
        self.batch_insert_into(service, [entry])

    def batch_insert_into(self, service: str, entries: list[dict]) -> None:
        """Batched append in one job (reference dao.py:209-234 drains a
        deque inside one transaction; a Spark append write is atomic per
        job, so the transaction wrapper (dao.py:371-387) has no analog)."""
        self._check_service(service)
        self.create_table(service)
        if not entries:
            return
        rows = [{c: e.get(c) for c in _ENTRY_COLS} for e in entries]
        df = self.spark.createDataFrame(rows, schema=ENTRY_SCHEMA)
        (
            df.withColumn("service", F.lit(service))
            .select(_FACT_COLS)
            .withColumn("date", F.to_date("datetime"))
            .repartition("service", "date")
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(self._data_dir)
        )

    def upsert_into(
        self,
        service: str,
        entries: list[dict],
        keys: tuple[str, ...] = ("datetime", "ip", "path"),
    ) -> dict:
        """CDC-style merge: rows whose key matches an update are replaced,
        the rest of the batch inserts — MERGE semantics over plain parquet
        via **dynamic partition overwrite**, rewriting ONLY the (service,
        date) partitions the batch touches (the reference's SQLite store
        gets this for free from primary keys; a 100 TB lake cannot rewrite
        the table, so partition-granular overwrite is the Spark-first
        answer, the same shape Hive/Iceberg `INSERT OVERWRITE` users run).

        Contract: ``datetime`` must be part of ``keys``. The target
        partition is derived from ``datetime``, so a key match can only
        live in a partition the batch itself touches — which makes the
        partition-pruned anti-join complete. Keys that could move across
        partitions would need a full-table scan (that's what transactional
        table formats are for; documented trade-off).

        Within-batch duplicates resolve keep-LAST (later entries win),
        matching replay/CDC ordering. Returns
        ``{"upserted", "replaced", "partitions"}``.

        Key columns match NULL-safely (ADVICE r6). The default keys
        (datetime/ip/path) are non-nullable in ENTRY_SCHEMA, but custom
        ``keys`` may include nullable fields (browser_name, referer, …)
        — and plain ``=`` never matches a NULL, so a null-keyed update
        would silently insert a duplicate row instead of replacing, and
        ``replaced`` would undercount. ``datetime`` itself must be
        non-null: it derives the target partition, so a null there has
        no well-defined destination.
        """
        if "datetime" not in keys:
            raise ValueError("upsert keys must include 'datetime'")
        self._check_service(service)
        self.create_table(service)
        if not entries:
            return {"upserted": 0, "replaced": 0, "partitions": 0}
        if any(e.get("datetime") is None for e in entries):
            raise ValueError("upsert entries must have a non-null datetime")

        # within-batch keep-last, driver-side (the API takes a driver list)
        dedup: dict = {}
        for e in entries:
            dedup[tuple(e.get(k) for k in keys)] = e
        rows = [{c: e.get(c) for c in _ENTRY_COLS} for e in dedup.values()]
        dates = sorted({e["datetime"].date() for e in dedup.values()})

        upd = (
            self.spark.createDataFrame(rows, schema=ENTRY_SCHEMA)
            .withColumn("service", F.lit(service))
            .select(_FACT_COLS)
            .withColumn("date", F.to_date("datetime"))
        )
        existing = (
            self._fact()
            .where(F.col("service") == service)
            .where(F.col("date").isin(dates))  # partition-pruned
        )
        key_cols = list(keys)
        # NULL-safe key match (<=>): a NULL path/ip in an update must
        # replace the NULL-keyed existing row, not silently duplicate it
        ex = existing.alias("x")
        upd_keys = upd.select(key_cols).alias("u")
        cond = functools.reduce(
            lambda a, b: a & b,
            [
                F.col(f"x.{k}").eqNullSafe(F.col(f"u.{k}"))
                for k in key_cols
            ],
        )
        replaced = ex.join(upd_keys, cond, "left_semi").count()
        survivors = ex.join(upd_keys, cond, "left_anti")

        # Eagerly materialize before overwriting the path being read
        # (Spark refuses a lazy read-overwrite cycle on the same files);
        # bounded by the touched partitions, not the table.
        merged = survivors.unionByName(upd).localCheckpoint()
        (
            merged.repartition("service", "date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("service", "date")
            .parquet(self._data_dir)
        )
        return {
            "upserted": len(rows),
            "replaced": replaced,
            "partitions": len(dates),
        }

    # ------------------------------------------------------------------ #
    # reads                                                              #
    # ------------------------------------------------------------------ #

    def _fact(self) -> DataFrame:
        """The unified fact table with a ``date`` partition column: one
        relation per listing generation of ``data/``, memoized in the
        build cache (see the module docstring's read path)."""

        def build() -> DataFrame:
            stages.source(self._data_dir)  # before the listing below
            if not os.path.isdir(self._data_dir) or not any(
                d.startswith("service=") for d in os.listdir(self._data_dir)
            ):
                empty = self.spark.createDataFrame([], schema=FACT_SCHEMA)
                return empty.withColumn("date", F.to_date("datetime"))
            return self.spark.read.schema(_FACT_READ_SCHEMA).parquet(
                self._data_dir
            )

        return stages.memo(self.spark, self._data_dir, "access_log", build)

    def table(self, service: str) -> DataFrame:
        """One service's entries, Entry-shaped."""
        self._check_service(service)
        return self._fact().where(F.col("service") == service)

    @staticmethod
    def _apply_dates(
        df: DataFrame,
        start: Optional[datetime.date] = None,
        stop: Optional[datetime.date] = None,
    ) -> DataFrame:
        """Q1 date-range predicate (reference apply_dates, dao.py:354-369).

        Bounds are **inclusive** on the day derived from ``datetime``.
        Applied to the ``date`` partition column so Catalyst prunes
        partitions — the filter never touches row data for out-of-range
        days.
        """
        if start is not None and stop is not None:
            if start == stop:
                return df.where(F.col("date") == F.lit(start))
            return df.where(F.col("date").between(F.lit(start), F.lit(stop)))
        if start is not None:
            return df.where(F.col("date") >= F.lit(start))
        if stop is not None:
            return df.where(F.col("date") <= F.lit(stop))
        return df

    # -- Q2: ordered, limited scan ------------------------------------- #

    def select_df(
        self,
        service: str,
        start: Optional[datetime.date] = None,
        stop: Optional[datetime.date] = None,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """``SELECT * ... ORDER BY datetime [LIMIT n]`` (reference
        dao.py:236-249). With a limit, Spark plans TakeOrderedAndProject —
        each partition keeps only its top-n rows, no global sort
        materialized."""
        df = self._apply_dates(self.table(service), start, stop)
        df = df.orderBy("datetime").select(*_ENTRY_COLS)
        if limit is not None:
            df = df.limit(limit)
        return df

    def select(self, service, start=None, stop=None, limit=None) -> list:
        return self.select_df(service, start, stop, limit).collect()

    # -- Q3: daily average --------------------------------------------- #

    def select_average_df(
        self,
        service: str,
        field: str,
        start: Optional[datetime.date] = None,
        stop: Optional[datetime.date] = None,
    ) -> DataFrame:
        """Daily AVG/SUM/COUNT of ``field`` (reference dao.py:251-275).

        The reference post-processes ``sum`` to 0.0 when the day's count is
        0 (dao.py:271 — SUM over an empty set is NULL in SQL); expressed
        here as ``coalesce(sum, 0.0)`` inside the plan.
        """
        df = self._apply_dates(self.table(service), start, stop)
        return (
            df.groupBy("date")
            .agg(
                F.avg(field).alias("average"),
                F.coalesce(F.sum(field).cast("double"), F.lit(0.0)).alias("sum"),
                F.count(field).alias("count"),
            )
            .coalesce(1)
            .sortWithinPartitions("date")
        )

    def select_average(self, service, field, start=None, stop=None) -> AverageResult:
        rows = self.select_average_df(service, field, start, stop).collect()
        return AverageResult(
            table=service,
            field=field,
            elements=[
                Average(date=r["date"], avg=r["average"], sum=r["sum"], count=r["count"])
                for r in rows
            ],
        )

    # -- Q4: daily count / distinct count ------------------------------ #

    def select_count_df(
        self,
        service: str,
        field: Optional[str] = None,
        start: Optional[datetime.date] = None,
        stop: Optional[datetime.date] = None,
    ) -> DataFrame:
        """Per-day COUNT(date) (visits) or COUNT(DISTINCT field) (uniques)
        (reference dao.py:277-301; distinct is on iff ``field`` given,
        dao.py:284-285). Exact distinct — see module docstring."""
        df = self._apply_dates(self.table(service), start, stop)
        agg = (
            F.count_distinct(F.col(field)) if field is not None else F.count("date")
        ).alias("count")
        return df.groupBy("date").agg(agg).coalesce(1).sortWithinPartitions("date")

    def select_count(self, service, field=None, start=None, stop=None) -> CountResult:
        rows = self.select_count_df(service, field, start, stop).collect()
        return CountResult(
            table=service,
            field=field,
            distinct=field is not None,
            ascending=True,
            group=None,
            elements=[Count(date=r["date"], group=None, count=r["count"]) for r in rows],
        )

    # -- Q5: grouped daily count + per-day top-N ------------------------ #

    def select_count_group_df(
        self,
        service: str,
        field: Optional[str],
        group: str,
        distinct: bool = False,
        start: Optional[datetime.date] = None,
        stop: Optional[datetime.date] = None,
        ascending: bool = True,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """Per-day per-group counts, optional per-day top-N
        (reference dao.py:303-342).

        Semantics pinned to the reference (SURVEY.md §2.2):
        - counted expression: ``field`` if given else the date column;
          DISTINCT only when ``distinct=True`` (asymmetric vs Q4 — that is
          the reference's behavior, dao.py:309-314).
        - ordering: date, count ASC|DESC, group — ties on count break by
          group ascending (dao.py:317-319). NULL groups sort last to match
          DuckDB's default NULLS LAST (Spark's ASC default is NULLS FIRST,
          so we pin it).
        - limit: ROW_NUMBER() OVER (PARTITION BY date ORDER BY count, group)
          filtered to ≤ limit, then re-sorted (dao.py:323-330). Spark ≥3.5
          turns this into WindowGroupLimit: the per-date limit is applied
          before the final shuffle.
        """
        df = self._apply_dates(self.table(service), start, stop)
        counted = F.col(field) if field is not None else F.col("date")
        agg = (F.count_distinct(counted) if distinct else F.count(counted)).alias(
            "count"
        )
        grouped = df.groupBy("date", F.col(group).alias("group")).agg(agg)

        count_order = F.col("count").asc() if ascending else F.col("count").desc()
        group_order = F.col("group").asc_nulls_last()

        if limit is not None:
            w = Window.partitionBy("date").orderBy(count_order, group_order)
            grouped = (
                grouped.withColumn("row_number", F.row_number().over(w))
                .where(F.col("row_number") <= limit)
                .drop("row_number")
            )
        return grouped.coalesce(1).sortWithinPartitions(
            F.col("date").asc(), count_order, group_order
        )

    def select_count_group(
        self,
        service,
        field,
        group,
        distinct=False,
        start=None,
        stop=None,
        ascending=True,
        limit=None,
    ) -> CountResult:
        rows = self.select_count_group_df(
            service, field, group, distinct, start, stop, ascending, limit
        ).collect()
        return CountResult(
            table=service,
            field=field,
            distinct=distinct,
            ascending=ascending,
            group=group,
            elements=[
                Count(date=r["date"], group=r["group"], count=r["count"]) for r in rows
            ],
        )

    # -- Q6: raw SQL console ------------------------------------------- #

    #: DuckDB-dialect forms the reference's console emits verbatim
    #: (SURVEY.md §3.3): ``pragma_database_size()`` is a table function
    #: there; here it's a one-row view, so strip the call parens.
    _DIALECT_REWRITES = [(re.compile(r"pragma_database_size\s*\(\s*\)"),
                          "pragma_database_size")]

    def run(self, sql: str) -> DataFrame:
        """Raw SQL passthrough (reference dao.py:344-352). The whole Spark
        SQL surface — joins, windows, set ops, CTEs — is the engine here.
        Errors surface as ParseException/AnalysisException; the web layer
        renders their message (reference web_ballcone.py:140-143).

        Tiny dialect shim: the reference console's default query is
        ``SELECT * FROM pragma_database_size();`` (reference
        web_ballcone.py:134) — rewritten to the compat view so it runs
        unchanged."""
        for pat, repl in self._DIALECT_REWRITES:
            sql = pat.sub(repl, sql)
        return self.spark.sql(sql)

    def _is_persistent_table(self, name: str) -> bool:
        """True iff ``name`` resolves to a persistent (managed/external)
        session-catalog table — the kind a temp view would shadow."""
        try:
            return not self.spark.catalog.getTable(name).isTemporary
        except Exception:
            return False

    def run_safe(self, sql: str) -> tuple[Optional[DataFrame], Optional[str]]:
        """SQL console error envelope: (result, error_message)."""
        try:
            return self.run(sql), None
        except (ParseException, AnalysisException) as e:
            return None, str(e)

    def register_views(self) -> None:
        """Expose the fact table and catalog-compat views to the SQL
        surface. Dialect shims (SURVEY.md §3.3): ``sqlite_master`` (the
        reference lists tables through DuckDB's sqlite compat view,
        reference dao.py:150-160) and ``pragma_database_size`` (the
        console default query + size probe, reference dao.py:147-148) —
        both as plain views over this warehouse's state, so reference
        console queries run verbatim.

        Per-service views too: the reference's console addresses each
        service as a physical table (``SELECT * FROM mysite`` — tables
        created at reference syslog_protocol.py:61-65), so every known
        service gets an Entry-shaped view over its partition: SQL text
        over ``access_log``, which Spark resolves by name when a query
        reads it, so registering one lists nothing. Service names are
        pre-validated ``\\A[\\w]+\\Z`` — safe as identifiers and as
        string literals. Views and ``sqlite_master`` come from one
        :meth:`tables` snapshot, so every listed service has its view.

        Namespace guard (ADVICE r2): temp views share one global
        namespace with the analytics dataset views (``events``,
        ``lineitem``, ...) registered by :mod:`ballcone_spark.queries`.
        A syslog-supplied service named after one of those would clobber
        it — and the query layer's registration cache would then skip
        re-registration, silently resolving analytics SQL against the
        service partition. Reserved names are therefore never shadowed
        (the reference has the same hazard the other way: a service named
        ``sqlite_master`` would be unaddressable there too); for every
        view this method DOES (re)register, the query layer's cache entry
        is invalidated so the next analytics build re-asserts its own
        binding."""
        from ballcone_spark.queries import (
            TABLES,
            _VIEWS_REGISTERED,
        )

        reserved = set(TABLES) | {
            "access_log",
            "sqlite_master",
            "pragma_database_size",
        }
        app_id = self.spark.sparkContext.applicationId
        services = self.tables()  # before the relation's listing
        self._fact().createOrReplaceTempView("access_log")
        _VIEWS_REGISTERED.pop((app_id, "access_log"), None)
        cols = ", ".join(f"`{c}`" for c in _ENTRY_COLS)
        for service in services:
            if service in reserved:
                continue  # console reaches it via `access_log WHERE service=...`
            if service.startswith("bkt_") or self._is_persistent_table(
                service
            ):
                # ADVICE r3: temp views win name resolution over session
                # catalog tables — a service named e.g. bkt_lineitem_...
                # would silently shadow a bucketized table and redirect
                # bucketed-join queries to service data. The bkt_ prefix
                # is reserved for ballcone_spark.plans.bucketing; any
                # other persistent-catalog collision is likewise never
                # shadowed (temp views don't block: this method's own
                # prior registrations must stay re-registerable).
                continue
            self.spark.sql(
                f"CREATE OR REPLACE TEMP VIEW `{service}` AS SELECT {cols}"
                f" FROM access_log WHERE service = '{service}'"
            )
            _VIEWS_REGISTERED.pop((app_id, service), None)
        master = [(name, "table") for name in services]
        self.spark.createDataFrame(
            master, schema="name string, type string"
        ).createOrReplaceTempView("sqlite_master")
        block_size = 4096
        size = self.size()
        self.spark.createDataFrame(
            [(size, block_size, -(-size // block_size))],
            schema="database_size long, block_size long, total_blocks long",
        ).createOrReplaceTempView("pragma_database_size")
