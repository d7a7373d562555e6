"""Fault tests for the DAO's memoized warehouse relation
(``SparkDAO._fact``, an ``access_log`` entry in ``plans/stages.py``).

Each case warms the relation, changes the warehouse under it, and then
checks that the next ``select_count`` and the next ``Ballcone.sql`` read
show the change, with no eviction call in between. The expected answers
come from DuckDB over the parquet files on disk after the change."""

from __future__ import annotations

import datetime
import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ballcone_spark.app import Ballcone
from ballcone_spark.streaming.ingest import compact_warehouse, expire_partitions
from tests.conftest import DAY1, DAY2, GOLDEN_ENTRIES

DAY3 = DAY2 + datetime.timedelta(days=1)
SQL = (
    "SELECT service, CAST(date AS STRING) AS d, count(*) AS n,"
    " count(DISTINCT ip) AS u FROM access_log GROUP BY service, date"
    " ORDER BY service, d"
)


def _entry(day: datetime.date, ip: str, path: str = "/") -> dict:
    return dict(
        GOLDEN_ENTRIES[0],
        datetime=datetime.datetime.combine(day, datetime.time(8, 0)),
        ip=ip,
        path=path,
    )


def _duck(dao) -> list[list]:
    """``SQL``'s answer computed by DuckDB from the files on disk."""
    files = glob.glob(os.path.join(dao._data_dir, "service=*/date=*/*.parquet"))
    if not files:
        return []
    rel = duckdb.read_parquet(files, hive_partitioning=True)
    return [
        list(r)
        for r in duckdb.sql(
            "SELECT service, CAST(CAST(datetime AS DATE) AS VARCHAR) AS d,"
            " count(*) AS n, count(DISTINCT ip) AS u FROM rel"
            " GROUP BY ALL ORDER BY service, d"
        ).fetchall()
    ]


def _counts(dao, service: str) -> list[tuple]:
    res = dao.select_count(service, field="ip")
    return [(e.date.isoformat(), e.count) for e in res.elements]


def _append(dao):
    dao.batch_insert_into("test", [_entry(DAY1, "10.0.0.9")])


def _new_date(dao):
    dao.batch_insert_into("test", [_entry(DAY3, "10.0.0.9")])


def _new_service(dao):
    dao.batch_insert_into("other", [_entry(DAY2, "10.0.0.9")])


def _rewrite_in_place(dao):
    # same file name, different rows: every (name, dir mtime) stays put.
    # The file grows well past its old length, so a relation still
    # holding the old listing's length skips its row group.
    path = sorted(
        glob.glob(
            os.path.join(dao._data_dir, "service=test", f"date={DAY1}", "*.parquet")
        )
    )[0]
    t = pq.ParquetFile(path).read()
    t = t.set_column(
        t.schema.get_field_index("datetime"),
        "datetime",
        t["datetime"].cast(pa.timestamp("us", tz="UTC")),
    )
    ip = t.schema.get_field_index("ip")
    extra = pa.concat_tables([t.slice(0, 1)] * 2000).set_column(
        ip, t.schema.field(ip), pa.array([f"10.9.{i // 250}.{i % 250}" for i in range(2000)])
    )
    pq.write_table(pa.concat_tables([t, extra]), path)


def _compact(dao):
    compact_warehouse(dao.spark, dao._data_dir)


def _drop(dao):
    dao.drop_table("other")


def _expire(dao):
    expire_partitions(dao._data_dir, older_than=DAY2)


def _upsert(dao):
    dao.upsert_into("test", [_entry(DAY2, "10.0.0.9", path="/new")])


@pytest.mark.parametrize(
    "change",
    [
        _append,
        _new_date,
        _new_service,
        _rewrite_in_place,
        _compact,
        _drop,
        _expire,
        _upsert,
    ],
)
def test_warehouse_change_reaches_next_read(seeded_dao, change):
    dao = seeded_dao
    # a second file in each `test` partition (something to compact) and
    # a second service (something to drop)
    dao.batch_insert_into("test", [_entry(DAY1, "10.0.0.1"), _entry(DAY2, "10.0.0.2")])
    dao.batch_insert_into("other", [_entry(DAY1, "10.0.0.3")])
    if change is _rewrite_in_place:
        # Hadoop's local FS verifies a part file against its .crc
        # sidecar; an outside rewriter leaves none behind
        for crc in glob.glob(os.path.join(dao._data_dir, "**", ".*.crc"), recursive=True):
            os.remove(crc)
    app = Ballcone(dao)
    before = _duck(dao)
    assert app.sql(SQL)["rows"] == before  # warm relation and views
    warm = {s: _counts(dao, s) for s in ("test", "other")}

    change(dao)

    after = _duck(dao)
    expect = {
        s: [(d, u) for svc, d, _n, u in after if svc == s] for s in ("test", "other")
    }
    assert {s: _counts(dao, s) for s in ("test", "other")} == expect
    assert app.sql(SQL)["rows"] == after
    if change is not _compact:  # compaction moves files, not rows
        assert after != before and expect != warm


def test_service_view_registered_before_append_sees_it(seeded_dao):
    app = Ballcone(seeded_dao)
    assert app.sql("SELECT count(*) AS n FROM test")["rows"] == [[4]]
    seeded_dao.batch_insert_into("test", [_entry(DAY2, "10.0.0.9")])
    assert app.sql("SELECT count(*) AS n FROM test")["rows"] == [[5]]
