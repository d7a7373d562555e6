"""App-layer tests (A1-A6 composition semantics)."""

from __future__ import annotations

import datetime

from ballcone_spark.app import Ballcone, days_before, json_value
from tests.conftest import DAY2, GOLDEN_ENTRIES


def test_days_before():
    start, stop = days_before(datetime.date(2020, 1, 10), days=7)
    assert start == datetime.date(2020, 1, 4)
    assert stop == datetime.date(2020, 1, 10)


def test_json_value():
    assert json_value(datetime.date(2020, 1, 1)) == "2020-01-01"
    assert json_value(5) == 5
    assert json_value("x") == "x"


def test_dashboard(seeded_dao):
    app = Ballcone(seeded_dao)
    seeded_dao.batch_insert_into("second", GOLDEN_ENTRIES[:1])
    board = app.dashboard(day=DAY2)
    # 'test' has 1 unique ip on day2; 'second' none that day → 0
    assert board == [
        {"service": "test", "unique": 1},
        {"service": "second", "unique": 0},
    ]


def test_overview_single_pass(seeded_dao):
    app = Ballcone(seeded_dao)
    ov = app.overview("test", days=7, stop=DAY2)
    assert ov == {
        "2020-01-01": {"visits": 2, "unique": 1},
        "2020-01-02": {"visits": 2, "unique": 1},
    }


def test_top_paths_web_defaults(seeded_dao):
    app = Ballcone(seeded_dao, top_limit=1)
    top = app.top_paths("test", days=7, stop=DAY2)
    # per day, top path by distinct-ip... field=ip distinct=False counts
    # rows of ip per (day, path); ties break by group asc → "/"
    assert [t["group"] for t in top] == ["/", "/"]
    assert [t["date"] for t in top] == ["2020-01-01", "2020-01-02"]


def test_sql_console_envelope(seeded_dao):
    app = Ballcone(seeded_dao)
    ok = app.sql("SELECT service, count(*) AS n FROM access_log GROUP BY service")
    assert ok["columns"] == ["service", "n"]
    assert ok["rows"] == [["test", 4]]
    bad = app.sql("SELECT nope FROM access_log")
    assert "error" in bad and "nope" in bad["error"]


def test_size_ttl_cache(seeded_dao):
    app = Ballcone(seeded_dao)
    s1 = app.size()
    assert s1 > 0
    seeded_dao.batch_insert_into("more", GOLDEN_ENTRIES)
    assert app.size() == s1  # cached
    app._size_ttl = 0
    assert app.size() > s1  # expired → recomputed


def test_console_dialect_shims(seeded_dao):
    """The reference console's default query and its catalog queries run
    VERBATIM: pragma_database_size() (web_ballcone.py:134), the size
    probe (dao.py:147-148), and sqlite_master table listing
    (dao.py:150-160)."""
    app = Ballcone(seeded_dao)
    out = app.sql("SELECT * FROM pragma_database_size();")
    assert "error" not in out
    assert out["columns"] == ["database_size", "block_size", "total_blocks"]
    assert out["rows"][0][0] == seeded_dao.size() > 0

    out = app.sql(
        "SELECT COALESCE(total_blocks * block_size, 0) AS sz"
        " FROM pragma_database_size()"
    )
    assert out["rows"][0][0] >= seeded_dao.size()

    out = app.sql(
        "SELECT DISTINCT name FROM sqlite_master"
        " WHERE type = 'table' ORDER BY name"
    )
    assert [r[0] for r in out["rows"]] == seeded_dao.tables()


def test_service_view_cannot_clobber_dataset_views(seeded_dao):
    """ADVICE r2 namespace guard: a syslog-supplied service named after
    an analytics dataset view ('events', 'lineitem', ...) or a catalog
    shim must NOT shadow it — and the query layer's view-registration
    cache must be invalidated for anything register_views rebinds, so a
    later analytics build re-asserts its own binding."""
    import ballcone_spark.queries as q
    from ballcone_spark.queries import load_table

    spark = seeded_dao.spark
    sf = "/root/testdata/sf0.001"
    # analytics surface binds `events` (and caches the registration)
    q._register_views(spark, sf, ["events"])
    expected = load_table(spark, sf, "events").count()

    # a hostile-but-valid service name arrives and views are rebuilt
    seeded_dao.batch_insert_into("events", GOLDEN_ENTRIES[:1])
    seeded_dao.batch_insert_into("mysite", GOLDEN_ENTRIES)
    seeded_dao.register_views()

    # the dataset view survives; the service is still reachable through
    # the unified table (the documented path for reserved names)
    assert spark.table("events").count() == expected
    n = spark.sql(
        "SELECT count(*) AS n FROM access_log WHERE service = 'events'"
    ).collect()[0]["n"]
    assert n == 1
    # and a normal service name IS addressable verbatim
    assert spark.sql("SELECT count(*) AS n FROM mysite").collect()[0]["n"] == 4

    # cache invalidation: register_views popped its rebound names, so a
    # fresh analytics build re-registers instead of trusting a stale entry
    app_id = spark.sparkContext.applicationId
    assert (app_id, "mysite") not in q._VIEWS_REGISTERED


def test_service_view_cannot_shadow_catalog_tables(seeded_dao):
    """ADVICE r3: temp views win name resolution over session-catalog
    tables, so a valid service named like a bucketized table
    (bkt_*) — or any persistent catalog table — must not get a view;
    otherwise bucketed-join queries silently read service data."""
    from ballcone_spark.plans.bucketing import ensure_bucketed

    spark = seeded_dao.spark
    bkt = ensure_bucketed(
        spark, "/root/testdata/sf0.001", "orders", ["o_orderkey"], 4
    )
    n_orders = spark.table(bkt).count()

    # hostile-but-valid service names: the bucketized table itself and
    # an unrelated bkt_-prefixed name
    seeded_dao.batch_insert_into(bkt, GOLDEN_ENTRIES[:2])
    seeded_dao.batch_insert_into("bkt_other", GOLDEN_ENTRIES[:1])
    seeded_dao.register_views()

    # the catalog table still resolves to orders data, not service rows
    assert spark.table(bkt).count() == n_orders
    assert "o_orderkey" in spark.table(bkt).columns
    # both services remain reachable through the unified fact table
    for svc, expect in [(bkt, 2), ("bkt_other", 1)]:
        n = spark.sql(
            f"SELECT count(*) AS n FROM access_log WHERE service = '{svc}'"
        ).collect()[0]["n"]
        assert n == expect
    # idempotency: a second register_views still rebinds normal services
    seeded_dao.register_views()
    assert spark.table(bkt).count() == n_orders


# --------------------------------------------------------------------- #
# thin HTTP front (r4): reference routes over the app handlers          #
# --------------------------------------------------------------------- #


def _get(port, path, expect_status=200):
    import json as _json
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=60
        ) as resp:
            return resp.status, _json.loads(resp.read() or b"null")
    except urllib.error.HTTPError as e:
        return e.code, _json.loads(e.read() or b"null")


def test_http_front_routes(seeded_dao):
    """e2e over real sockets: every reference route
    (reference __main__.py:60-98) answers with the same envelope the
    underlying (already-golden-tested) app handler produces."""
    import json as _json
    import urllib.request

    from ballcone_spark.app import Ballcone
    from ballcone_spark.web import BallconeHTTPServer, encode

    app = Ballcone(seeded_dao)
    srv = BallconeHTTPServer(app).start()
    try:
        port = srv.port
        win = "days=7&stop=2020-01-02"

        # root: dashboard for a pinned day
        st, root = _get(port, "/?day=2020-01-02")
        assert st == 200
        assert root["services"] == ["test"]
        assert root["dashboard"] == [["test", 1]]  # 1 unique ip on day 2
        assert root["size"] > 0

        # /services redirects to /
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/services", method="GET"
        )
        import urllib.error

        try:
            urllib.request.urlopen(req, timeout=60)
            redirected = True  # urllib follows the 302 to /
        except urllib.error.HTTPError:
            redirected = False
        assert redirected

        # per-service page equals the handler composition
        st, svc = _get(port, f"/services/test?{win}")
        assert st == 200
        assert svc["overview"] == app.overview(
            "test", days=7, stop=datetime.date(2020, 1, 2)
        )
        assert svc["paths"] == app.top_paths(
            "test", days=7, stop=datetime.date(2020, 1, 2)
        )
        assert [e["date"] for e in svc["time"]["elements"]]

        # API envelopes: average / count / count_group match the DAO
        st, avg = _get(port, f"/services/test/average/generation_time?{win}")
        assert st == 200
        assert avg == encode(
            seeded_dao.select_average(
                "test", "generation_time",
                datetime.date(2019, 12, 27), datetime.date(2020, 1, 2),
            )
        )
        st, cnt = _get(port, f"/services/test/count/ip?{win}")
        assert cnt == encode(
            seeded_dao.select_count(
                "test", field="ip",
                start=datetime.date(2019, 12, 27),
                stop=datetime.date(2020, 1, 2),
            )
        )
        st, grp = _get(
            port,
            f"/services/test/count_group/path?distinct=ip&limit=5&{win}",
        )
        assert grp == encode(
            seeded_dao.select_count_group(
                "test", field="ip", group="path", distinct=True,
                ascending=False, limit=5,
                start=datetime.date(2019, 12, 27),
                stop=datetime.date(2020, 1, 2),
            )
        )

        # unknown service → 404 with the reference's message
        st, err = _get(port, "/services/nope/count/ip")
        assert st == 404 and "No such service" in err["error"]

        # SQL console: POST form, result envelope + error envelope
        data = "sql=SELECT count(*) AS n FROM access_log".encode()
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/sql", data=data, timeout=120
        ) as resp:
            out = _json.loads(resp.read())
        assert out["columns"] == ["n"] and out["rows"] == [[4]]
        st, bad = _get(port, "/sql?sql=SELEKT+1")
        assert st == 200 and "error" in bad  # reference renders the error

        # default console query runs through the pragma shim
        st, dflt = _get(port, "/sql")
        assert dflt["sql"].startswith("SELECT * FROM pragma_database_size")
        assert "rows" in dflt

        # nginx helper: valid + both invalid branches
        st, ng = _get(port, "/nginx?service=test&ip=203.0.113.9")
        assert ng["ip_version"] == 4 and ng["error"] == []
        st, ng6 = _get(port, "/nginx?service=bad-name&ip=zzz")
        assert len(ng6["error"]) == 2 and ng6["ip_version"] is None
    finally:
        srv.shutdown()
