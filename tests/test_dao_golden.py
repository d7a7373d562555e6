"""Golden-output tests mirroring the reference's test suite 1:1
(reference ballcone/test_dao.py; expected values in FIXTURES.md §1.2)."""

from __future__ import annotations

import datetime

import pytest

from tests.conftest import DAY1, DAY2, GOLDEN_ENTRIES

BEFORE = datetime.date(2019, 12, 31)
AFTER = datetime.date(2020, 1, 3)


def test_database_size(dao):
    # empty warehouse ≈ 0 bytes of data (reference test_dao.py:50-51)
    assert dao.size() >= 0
    assert dao.tables() == []


def test_create_and_drop_table(dao):
    # reference test_dao.py:53-69
    assert not dao.table_exists("test")
    dao.create_table("test")
    assert dao.table_exists("test")
    assert dao.tables() == ["test"]
    dao.drop_table("test")
    assert not dao.table_exists("test")
    with pytest.raises(ValueError):
        dao.create_table("bad-name!")


def test_insert_into(dao):
    # reference test_dao.py:71-78
    dao.insert_into("test", GOLDEN_ENTRIES[0])
    rows = dao.select("test")
    assert len(rows) == 1
    assert rows[0]["path"] == "/"
    assert rows[0]["status"] == 200


def test_batch_insert_round_trip(seeded_dao):
    # reference test_dao.py:80-89 — round-trip equality pins marshalling
    rows = seeded_dao.select("test")
    assert len(rows) == 4
    got = [r.asDict() for r in rows]
    for g, e in zip(got, GOLDEN_ENTRIES):
        assert g == e


def test_select_date_bounds(seeded_dao):
    # reference test_dao.py:107-125 — inclusive bounds on CAST(datetime AS DATE)
    assert len(seeded_dao.select("test")) == 4
    assert seeded_dao.select("test", stop=BEFORE) == []
    assert len(seeded_dao.select("test", stop=DAY1)) == 2
    assert len(seeded_dao.select("test", start=DAY1, stop=DAY1)) == 2
    assert len(seeded_dao.select("test", start=DAY2)) == 2
    assert seeded_dao.select("test", start=AFTER) == []
    # limit → TakeOrderedAndProject; order by datetime
    limited = seeded_dao.select("test", limit=3)
    assert [r["datetime"] for r in limited] == sorted(
        e["datetime"] for e in GOLDEN_ENTRIES
    )[:3]


def test_select_average(seeded_dao):
    # reference test_dao.py:127-170 — avg 0.055 day1, 0.505 day2
    result = seeded_dao.select_average("test", "generation_time")
    assert result.table == "test"
    assert result.field == "generation_time"
    assert len(result.elements) == 2
    d1, d2 = result.elements
    assert d1.date == DAY1 and d1.count == 2
    assert d1.avg == pytest.approx(0.055)
    assert d1.sum == pytest.approx(0.11)
    assert d2.date == DAY2 and d2.count == 2
    assert d2.avg == pytest.approx(0.505)
    assert d2.sum == pytest.approx(1.01)
    # date-bounded
    only1 = seeded_dao.select_average("test", "generation_time", stop=DAY1)
    assert [e.date for e in only1.elements] == [DAY1]


def test_select_count(seeded_dao):
    # reference test_dao.py:172-225 — 2 visits/day; 1 unique ip/day
    visits = seeded_dao.select_count("test")
    assert visits.field is None and not visits.distinct
    assert [(e.date, e.count) for e in visits.elements] == [(DAY1, 2), (DAY2, 2)]
    uniq = seeded_dao.select_count("test", field="ip")
    assert uniq.field == "ip" and uniq.distinct
    assert [(e.date, e.count) for e in uniq.elements] == [(DAY1, 1), (DAY2, 1)]
    bounded = seeded_dao.select_count("test", start=DAY2)
    assert [(e.date, e.count) for e in bounded.elements] == [(DAY2, 2)]


def test_select_count_group(seeded_dao):
    # reference test_dao.py:227-286 — count of ip per platform_name;
    # day1 ties on count=1 break by group ascending: Linux, Mac OS
    result = seeded_dao.select_count_group("test", field="ip", group="platform_name")
    assert result.group == "platform_name"
    assert result.ascending is True and result.distinct is False
    assert [(e.date, e.group, e.count) for e in result.elements] == [
        (DAY1, "Linux", 1),
        (DAY1, "Mac OS", 1),
        (DAY2, "iOS", 2),
    ]


def test_select_count_group_topn_desc(seeded_dao):
    # the window top-N path the reference leaves untested (SURVEY.md §5):
    # top-1 path per day by visits, descending
    result = seeded_dao.select_count_group(
        "test", field=None, group="path", ascending=False, limit=1
    )
    # day1: "/" and "/robots.txt" both count 1 → tie-break group asc → "/"
    # day2: "/" and "/post" both count 1 → "/"
    assert [(e.date, e.group, e.count) for e in result.elements] == [
        (DAY1, "/", 1),
        (DAY2, "/", 1),
    ]


def test_select_count_group_distinct(seeded_dao):
    # distinct=True in Q5 (untested in the reference)
    result = seeded_dao.select_count_group(
        "test", field="ip", group="platform_name", distinct=True
    )
    assert [(e.date, e.group, e.count) for e in result.elements] == [
        (DAY1, "Linux", 1),
        (DAY1, "Mac OS", 1),
        (DAY2, "iOS", 1),
    ]


@pytest.mark.parametrize("ascending", [True, False])
def test_select_count_group_null_group_order_matches_duckdb(dao, ascending):
    """A NULL group sorts after every tied group in both directions,
    as DuckDB's NULLS LAST orders the reference's result."""
    import glob
    import os

    import duckdb

    day1 = [None, None, "Firefox", "Firefox", "Chrome"]
    day2 = [None, "Safari", "Edge", "Edge", "Edge"]
    entries = [
        dict(
            GOLDEN_ENTRIES[0],
            datetime=datetime.datetime.combine(d, datetime.time(i)),
            browser_name=b,
        )
        for d, names in ((DAY1, day1), (DAY2, day2))
        for i, b in enumerate(names)
    ]
    dao.batch_insert_into("test", entries)
    result = dao.select_count_group(
        "test", field="ip", group="browser_name", ascending=ascending
    )
    files = glob.glob(os.path.join(dao._data_dir, "service=test", "*", "*.parquet"))
    rel = duckdb.read_parquet(files)
    order = "ASC" if ascending else "DESC"
    expected = duckdb.sql(
        "SELECT CAST(datetime AS DATE) AS date, browser_name AS grp,"
        " count(ip) AS count FROM rel GROUP BY ALL"
        f" ORDER BY date, count {order}, grp NULLS LAST"
    ).fetchall()
    got = [(e.date, e.group, e.count) for e in result.elements]
    assert got == expected
    # each day's tie puts the named group first in both directions
    assert [g for d, g, c in got if (d, c) in ((DAY1, 2), (DAY2, 1))] == [
        "Firefox", None, "Safari", None
    ]


def test_sql_console(seeded_dao):
    # reference test_dao.py:288-290 (error path) + Q6 passthrough
    seeded_dao.register_views()
    df = seeded_dao.run(
        "SELECT count(*) AS n FROM access_log WHERE service = 'test'"
    )
    assert df.collect()[0]["n"] == 4
    _, err = seeded_dao.run_safe("SELECT * FROM nonexistent_xyz")
    assert err is not None


def test_multi_service_isolation(dao):
    dao.batch_insert_into("alpha", GOLDEN_ENTRIES[:2])
    dao.batch_insert_into("beta", GOLDEN_ENTRIES[2:])
    assert dao.tables() == ["alpha", "beta"]
    assert len(dao.select("alpha")) == 2
    assert len(dao.select("beta")) == 2
    dao.drop_table("alpha")
    assert dao.tables() == ["beta"]
    assert len(dao.select("beta")) == 2


def test_migrate_table_parity_and_partitioning(spark, tmp_path):
    """S13 semantics (reference tools/monet2duck.py:86-130): bulk copy +
    row-count parity gate, partitioned output."""
    import os

    from pyspark.sql import functions as F

    from ballcone_spark.migrate import migrate_table
    from ballcone_spark.queries import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    n = src.count()
    dest = str(tmp_path / "migrated")
    report = migrate_table(
        spark, src.withColumn("etype", F.col("event_type")),
        dest, partition_cols=["etype"],
    )
    assert report["rows"] == n
    assert any(d.startswith("etype=") for d in os.listdir(dest))
    assert spark.read.parquet(dest).count() == n


def test_migrate_parity_gate_fires(spark, tmp_path):
    """A destination that reads back short must raise, like the
    reference's count assert."""
    import pytest as _pytest

    from ballcone_spark.migrate import MigrationParityError, migrate_table
    from ballcone_spark.queries import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "region")
    with _pytest.raises(MigrationParityError):
        migrate_table(
            spark, src, str(tmp_path / "m"),
            expected_count=src.count() + 5,  # simulated source drift
        )


def test_date_range_predicates_cover_exactly():
    import datetime

    from ballcone_spark.migrate import date_range_predicates

    preds = date_range_predicates(
        datetime.date(2024, 1, 1), datetime.date(2024, 1, 31), days_per_chunk=7
    )
    assert len(preds) == 5
    assert preds[0].startswith("datetime >= DATE '2024-01-01'")
    # half-open chaining: each chunk's upper bound is the next's lower
    bounds = [p.split("DATE '")[2].rstrip("'") for p in preds]
    starts = [p.split("DATE '")[1].split("'")[0] for p in preds]
    assert starts[1:] == bounds[:-1]
    assert bounds[-1] == "2024-02-01"  # stop day included, nothing beyond


# --------------------------------------------------------------------- #
# upsert (CDC merge via dynamic partition overwrite)                     #
# --------------------------------------------------------------------- #


def _upsert_entry(dt, path="/", **kw):
    base = dict(
        datetime=dt, host="example.com", path=path, status=200, length=1,
        generation_time=0.1, referer=None, ip="192.168.1.1",
        country_iso_code="UNKNOWN", platform_name=None,
        platform_version=None, browser_name=None, browser_version=None,
        is_robot=False,
    )
    base.update(kw)
    return base


def test_upsert_replaces_matching_keys_only(seeded_dao):
    """A key-matching row is replaced in place; non-matching rows in the
    same partition, other dates, and other services all survive."""
    import datetime as _d

    before = seeded_dao.select("test")
    target = before[0]  # 2020-01-01 12:00:00, /, 192.168.1.1

    stats = seeded_dao.upsert_into(
        "test",
        [
            # same key as GOLDEN_ENTRIES[0] → replaces it
            _upsert_entry(target.datetime, path=target.path, length=9999),
            # brand-new key, same partition → inserts
            _upsert_entry(_d.datetime(2020, 1, 1, 13, 0, 0), path="/new"),
        ],
    )
    assert stats == {"upserted": 2, "replaced": 1, "partitions": 1}

    after = seeded_dao.select("test")
    assert len(after) == len(before) + 1
    replaced = [e for e in after if e.datetime == target.datetime and e.path == target.path]
    assert len(replaced) == 1 and replaced[0].length == 9999
    # the untouched 2020-01-02 partition's row is intact
    assert any(e.datetime.date() == _d.date(2020, 1, 2) for e in after)


def test_upsert_within_batch_keeps_last(seeded_dao):
    import datetime as _d

    dt = _d.datetime(2020, 3, 1, 8, 0, 0)
    stats = seeded_dao.upsert_into(
        "test",
        [
            _upsert_entry(dt, path="/dup", length=1),
            _upsert_entry(dt, path="/dup", length=2),  # later wins
        ],
    )
    assert stats["upserted"] == 1  # batch collapsed before the write
    rows = [e for e in seeded_dao.select("test") if e.path == "/dup"]
    assert len(rows) == 1 and rows[0].length == 2


def test_upsert_rewrites_only_touched_partitions(seeded_dao, tmp_path):
    """Dynamic overwrite must leave the files of untouched (service,
    date) partitions byte-identical — the property that makes upsert
    affordable on a partitioned lake."""
    import datetime as _d
    import glob
    import os

    def files_of(date):
        pat = os.path.join(
            seeded_dao._data_dir, "service=test", f"date={date}", "*.parquet"
        )
        return {p: os.path.getmtime(p) for p in glob.glob(pat)}

    untouched_before = files_of("2020-01-02")
    touched_before = files_of("2020-01-01")
    assert untouched_before and touched_before

    seeded_dao.upsert_into(
        "test",
        [_upsert_entry(_d.datetime(2020, 1, 1, 12, 0, 0), length=7)],
    )

    assert files_of("2020-01-02") == untouched_before  # same files, same mtimes
    assert set(files_of("2020-01-01")) != set(touched_before)  # rewritten


def test_upsert_requires_datetime_key(seeded_dao):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        seeded_dao.upsert_into("test", [], keys=("ip", "path"))


def test_upsert_null_key_replaces_not_duplicates(seeded_dao):
    """ADVICE r6: key columns match NULL-safely. The default keys are
    non-nullable in ENTRY_SCHEMA, but a custom key tuple may include a
    nullable field (browser_name here): a row with a NULL key value
    must be REPLACED by a later upsert with the same NULL-keyed tuple —
    plain = would never match the NULL and silently insert a duplicate
    while undercounting `replaced`."""
    import datetime as _d

    keys = ("datetime", "ip", "path", "browser_name")
    dt = _d.datetime(2020, 4, 1, 9, 0, 0)
    seeded_dao.upsert_into(
        "test",
        [_upsert_entry(dt, path="/nullkey", browser_name=None, length=1)],
        keys=keys,
    )
    stats = seeded_dao.upsert_into(
        "test",
        [_upsert_entry(dt, path="/nullkey", browser_name=None, length=2)],
        keys=keys,
    )
    assert stats["replaced"] == 1  # the NULL-keyed row matched

    rows = [e for e in seeded_dao.select("test") if e.path == "/nullkey"]
    assert len(rows) == 1 and rows[0].length == 2  # replaced, not duped


def test_upsert_rejects_null_datetime(seeded_dao):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-null datetime"):
        seeded_dao.upsert_into("test", [_upsert_entry(None)])
