"""Ingest-path tests: syslog parsing (incl. every malformed variant from
FIXTURES.md §2), UA/GeoIP enrichment, and the end-to-end streaming
pipeline into the warehouse (the e2e test the reference never had,
SURVEY.md §5)."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from ballcone_spark.sources.enrich import enrich, enrich_geoip_with_table
from ballcone_spark.sources.syslog import parse_datagrams, parse_stats
from ballcone_spark.sources.udp_bridge import UdpSpool
from ballcone_spark.streaming.ingest import ingest_pipeline, start_file_ingest


def _dgram(payload: dict, pri: int = 190) -> str:
    return f"<{pri}>Jan  1 12:00:00 host nginx: {json.dumps(payload)}"


GOOD = {
    "service": "example",
    "ip": "192.168.1.1",
    "host": "example.com",
    "path": "/%7Euser",
    "status": "200",
    "referrer": "",
    "user_agent": "Mozilla/5.0 (X11; Linux x86_64; rv:75.0) Gecko/20100101 Firefox/75.0",
    "length": 1024,
    "generation_time_milli": 0.1,
    "date": "2020-01-01T12:00:00+03:00",
}

MALFORMED = [
    "no syslog header at all {}",          # missing header
    "<190>oops no colon-space separator",  # header regex no-match
    _dgram({}).replace("{}", "{not json"),  # invalid JSON
    _dgram({**GOOD, "service": ""}),        # empty service
    _dgram({**GOOD, "service": "bad name"}),  # invalid service chars
    _dgram({k: v for k, v in GOOD.items() if k != "service"}),  # missing service
    _dgram({**GOOD, "date": "not-a-date"}),  # unparseable timestamp
]


@pytest.fixture()
def raw_df(spark):
    lines = [_dgram(GOOD)] + MALFORMED
    return spark.createDataFrame([(x,) for x in lines], "value string")


def test_parse_good_datagram(spark, raw_df):
    rows = parse_datagrams(raw_df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["service"] == "example"
    # +03:00 normalized to UTC (reference syslog_protocol.py:67)
    assert r["datetime"] == datetime.datetime(2020, 1, 1, 9, 0, 0)
    assert r["path"] == "/~user"  # URL-decoded
    assert r["status"] == 200 and isinstance(r["status"], int)
    assert r["length"] == 1024
    assert r["generation_time"] == pytest.approx(0.1)
    assert r["referer"] is None  # empty → NULL
    assert r["ip"] == "192.168.1.1"


def test_parse_stats_accounting(spark, raw_df):
    s = parse_stats(raw_df).collect()[0]
    assert s["received"] == 8
    assert s["parsed"] == 1
    assert s["bad_frame"] == 2
    assert s["bad_json"] == 1
    assert s["bad_service"] == 3
    assert s["bad_timestamp"] == 1


def test_ua_enrichment(spark):
    uas = [
        ("Mozilla/5.0 (X11; Linux x86_64; rv:75.0) Gecko/20100101 Firefox/75.0",
         "Firefox", "75.0", "Linux", False),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
         "Chrome", "120.0.0.0", "Windows", False),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 13_3_1 like Mac OS X) "
         "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.0.5 "
         "Mobile/15E148 Safari/604.1",
         "Safari", "13.0.5", "iOS", False),
        ("Googlebot/2.1 (+http://www.google.com/bot.html)", None, None, None, True),
    ]
    df = spark.createDataFrame([(u[0],) for u in uas], "user_agent string")
    rows = enrich(df).collect()
    for r, (_ua, bname, bver, pname, robot) in zip(rows, uas):
        assert r["browser_name"] == bname
        assert r["browser_version"] == bver
        assert r["platform_name"] == pname
        assert r["is_robot"] == robot
        assert r["country_iso_code"] is None  # no GeoIP table supplied


def test_geoip_range_join(spark):
    ranges = spark.createDataFrame(
        [
            (ip_long("10.0.0.0"), ip_long("10.255.255.255"), "XA"),
            (ip_long("192.168.1.0"), ip_long("192.168.1.255"), "XB"),
        ],
        "start_ip long, end_ip long, country_iso_code string",
    )
    df = spark.createDataFrame(
        [("10.1.2.3",), ("192.168.1.77",), ("8.8.8.8",), ("not-an-ip",)],
        "ip string",
    )
    got = {r["ip"]: r["country_iso_code"] for r in
           enrich_geoip_with_table(df, ranges).collect()}
    assert got == {"10.1.2.3": "XA", "192.168.1.77": "XB",
                   "8.8.8.8": None, "not-an-ip": None}


def ip_long(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    return a * 16777216 + b * 65536 + c * 256 + d


def test_malformed_percent_escape_does_not_poison_batch(spark):
    """Attacker-controlled path with a bad %-escape must neither crash the
    batch (url_decode raises CANNOT_DECODE_URL) nor be dropped: it falls
    back to the raw path, like the reference's urllib.parse.unquote which
    never raises."""
    lines = [
        _dgram({**GOOD, "path": "/a%zzb"}),
        _dgram({**GOOD, "path": "/ok%20fine"}),
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = {r["path"] for r in parse_datagrams(df).collect()}
    assert rows == {"/a%zzb", "/ok fine"}


def test_service_normalized_like_reference(spark):
    """Reference strips + lowercases the service before validation
    (syslog_protocol.py:55): ' Example ' must land in partition
    'example', not be dropped or split into a case-variant partition."""
    lines = [
        _dgram({**GOOD, "service": " Example "}),
        _dgram({**GOOD, "service": "EXAMPLE"}),
        _dgram({**GOOD, "service": "ex ample"}),  # invalid even after norm
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    got = [r["service"] for r in parse_datagrams(df).collect()]
    assert got == ["example", "example"]


def test_geoip_range_crossing_slash8_boundary(spark):
    """A range spanning a /8 border must match probes in its tail prefix
    (the r1 bucketing keyed only on the start's /8 — tail IPs got NULL)."""
    ranges = spark.createDataFrame(
        [(ip_long("9.255.0.0"), ip_long("10.0.1.255"), "XC")],
        "start_ip long, end_ip long, country_iso_code string",
    )
    df = spark.createDataFrame(
        [("9.255.0.7",), ("10.0.1.5",), ("10.0.2.1",)], "ip string"
    )
    got = {r["ip"]: r["country_iso_code"] for r in
           enrich_geoip_with_table(df, ranges).collect()}
    assert got == {"9.255.0.7": "XC", "10.0.1.5": "XC", "10.0.2.1": None}


def test_compact_warehouse_per_partition(spark, tmp_path):
    """Compaction folds micro-batch files per (service, date) partition
    dir with an atomic two-rename swap: same rows after, fewer files,
    never a window with the whole data dir missing."""
    import os

    from ballcone_spark.streaming.ingest import compact_warehouse

    data = str(tmp_path / "data")
    rows = [
        ("svc_a", datetime.date(2020, 1, 1), i, f"/p{i}") for i in range(6)
    ] + [("svc_b", datetime.date(2020, 1, 2), i, f"/q{i}") for i in range(4)]
    df = spark.createDataFrame(
        rows, "service string, date date, n int, path string"
    )
    # three separate appends → ≥3 files per partition
    for k in range(3):
        (
            df.where(F.col("n") % 3 == k)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(data)
        )

    def part_files(svc, d):
        p = os.path.join(data, f"service={svc}", f"date={d}")
        return [f for f in os.listdir(p) if f.endswith(".parquet")]

    assert len(part_files("svc_a", "2020-01-01")) >= 3
    before = {tuple(r) for r in spark.read.parquet(data).collect()}
    compact_warehouse(spark, data, target_file_mb=128)
    spark.catalog.clearCache()
    after = {tuple(r) for r in spark.read.parquet(data).collect()}
    assert after == before
    assert len(part_files("svc_a", "2020-01-01")) == 1
    assert len(part_files("svc_b", "2020-01-02")) == 1


def test_compact_rescues_mid_compaction_append(spark, tmp_path, monkeypatch):
    """ADVICE r2 TOCTOU regression: a micro-batch file appended AFTER the
    snapshot but BEFORE the partition-dir rename must survive compaction
    (the r2 code moved it into the doomed dir and deleted it). The append
    is injected at the last possible instant by hooking os.rename."""
    import os

    from ballcone_spark.streaming import ingest as ingest_mod

    data = str(tmp_path / "data")
    part = os.path.join(data, "service=svc", "date=2020-01-01")
    df = spark.createDataFrame(
        [("svc", datetime.date(2020, 1, 1), i) for i in range(4)],
        "service string, date date, n int",
    )
    for k in range(2):
        (
            df.where(F.col("n") % 2 == k)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(data)
        )
    late = spark.createDataFrame(
        [("svc", datetime.date(2020, 1, 1), 99)],
        "service string, date date, n int",
    ).where(F.col("n") == 99)

    real_rename = os.rename
    injected = {"done": False}

    def rename_hook(src, dst):
        # the first part_dir→old rename is the race window's close: write
        # the late append just before it happens
        if not injected["done"] and dst.endswith("._compact_old"):
            injected["done"] = True
            late.coalesce(1).write.mode("append").partitionBy(
                "service", "date"
            ).parquet(data)
        real_rename(src, dst)

    monkeypatch.setattr(ingest_mod.os, "rename", rename_hook)
    ingest_mod.compact_warehouse(spark, data, target_file_mb=128)
    monkeypatch.undo()
    spark.catalog.clearCache()
    assert injected["done"]
    got = sorted(r["n"] for r in spark.read.parquet(data).collect())
    assert got == [0, 1, 2, 3, 99]  # the late row survived
    tmp, old = ingest_mod._helper_dirs(part)
    assert not os.path.exists(old)
    assert not os.path.exists(tmp)


def test_compact_helper_dirs_hidden_from_readers(spark, tmp_path, monkeypatch):
    """ADVICE r3: helper dirs must be invisible to partition discovery.
    A concurrent read taken while BOTH the tmp copy and the live dir
    exist must return exactly the original rows with the `date` column
    still typed date (the old `date=<d>._compact_tmp` naming doubled the
    rows and flipped the partition type to string)."""
    import os

    from ballcone_spark.streaming import ingest as ingest_mod

    data = str(tmp_path / "data")
    df = spark.createDataFrame(
        [("svc", datetime.date(2020, 1, 1), i) for i in range(4)],
        "service string, date date, n int",
    )
    for k in range(2):
        (
            df.where(F.col("n") % 2 == k)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(data)
        )
    seen: dict = {}
    real_rename = os.rename

    def rename_hook(src, dst):
        # fires at the part_dir→old rename: tmp is fully written and
        # sits next to the still-live partition dir — the worst moment
        if dst.endswith("._compact_old") and "rows" not in seen:
            mid = spark.read.parquet(data)
            seen["rows"] = sorted(r["n"] for r in mid.collect())
            seen["date_type"] = dict(mid.dtypes)["date"]
        real_rename(src, dst)

    monkeypatch.setattr(ingest_mod.os, "rename", rename_hook)
    ingest_mod.compact_warehouse(spark, data, target_file_mb=128)
    monkeypatch.undo()
    assert seen["rows"] == [0, 1, 2, 3]  # no duplicates from tmp
    assert seen["date_type"] == "date"  # partition type not poisoned
    # helper basenames are dot-prefixed, in the same parent
    tmp, old = ingest_mod._helper_dirs(
        os.path.join(data, "service=svc", "date=2020-01-01")
    )
    assert os.path.basename(tmp).startswith(".")
    assert os.path.basename(old).startswith(".")


@pytest.mark.parametrize("crash_at", ["after_tmp", "after_part_rename", "mid_extras"])
def test_compact_crash_recovery(spark, tmp_path, monkeypatch, crash_at):
    """A compaction killed at any step leaves helper dirs that the next
    run's sweep must resolve with zero row loss and zero duplicates."""
    import os

    from ballcone_spark.streaming import ingest as ingest_mod

    data = str(tmp_path / "data")
    part = os.path.join(data, "service=svc", "date=2020-01-01")
    df = spark.createDataFrame(
        [("svc", datetime.date(2020, 1, 1), i) for i in range(4)],
        "service string, date date, n int",
    )
    for k in range(2):
        (
            df.where(F.col("n") % 2 == k)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(data)
        )

    class Boom(RuntimeError):
        pass

    real_rename = os.rename
    state = {"renames": 0}

    def rename_hook(src, dst):
        if crash_at == "after_tmp" and dst.endswith("._compact_old"):
            raise Boom()  # tmp written+manifested, partition not renamed
        real_rename(src, dst)
        if crash_at == "after_part_rename" and dst.endswith("._compact_old"):
            # also plant a late append INTO old via the race window, so
            # recovery must rescue a non-snapshot extra
            extra = spark.createDataFrame(
                [("svc", datetime.date(2020, 1, 1), 99)],
                "service string, date date, n int",
            )
            extra.coalesce(1).write.mode("append").partitionBy(
                "service", "date"
            ).parquet(data)
            # the append re-created part_dir? No — it recreated the dir;
            # move its file into old to simulate landing pre-rename
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    old_dir = dst
                    real_rename(
                        os.path.join(part, f), os.path.join(old_dir, f)
                    )
            import shutil as _sh

            _sh.rmtree(part)
            raise Boom()

    monkeypatch.setattr(ingest_mod.os, "rename", rename_hook)
    if crash_at == "mid_extras":
        # crash after moving manifest-removal but before tmp→part rename
        real_remove = os.remove

        def remove_hook(p):
            real_remove(p)
            if p.endswith(ingest_mod._MANIFEST):
                raise Boom()

        monkeypatch.setattr(ingest_mod.os, "remove", remove_hook)
    try:
        ingest_mod.compact_warehouse(spark, data, target_file_mb=128)
        crashed = False
    except Boom:
        crashed = True
    monkeypatch.undo()
    assert crashed or crash_at == "mid_extras"  # mid_extras raises via remove
    spark.catalog.clearCache()
    # second run: sweep must recover, then compact normally
    ingest_mod.compact_warehouse(spark, data, target_file_mb=128)
    spark.catalog.clearCache()
    got = sorted(r["n"] for r in spark.read.parquet(data).collect())
    expect = [0, 1, 2, 3] + ([99] if crash_at == "after_part_rename" else [])
    assert got == expect
    tmp, old = ingest_mod._helper_dirs(part)
    assert not os.path.exists(tmp) and not os.path.exists(old)


def test_streaming_ingest_end_to_end(spark, tmp_path):
    """Spool files → streaming parse/enrich → partitioned warehouse →
    DAO queries see the rows."""
    from ballcone_spark.dao import SparkDAO

    spool = tmp_path / "spool"
    spool.mkdir()
    payloads = []
    for day, n in [(1, 2), (2, 3)]:
        for i in range(n):
            payloads.append(
                _dgram(
                    {
                        **GOOD,
                        "ip": f"192.168.{day}.{i}",
                        "date": f"2020-01-0{day}T12:00:0{i}+00:00",
                    }
                )
            )
    payloads.extend(MALFORMED)
    (spool / "batch1.log").write_text("\n".join(payloads) + "\n")

    wh = tmp_path / "warehouse"
    q = start_file_ingest(
        spark,
        str(spool),
        str(wh / "data"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    dao = SparkDAO(spark, str(wh))
    visits = dao.select_count("example")
    assert [(e.date, e.count) for e in visits.elements] == [
        (datetime.date(2020, 1, 1), 2),
        (datetime.date(2020, 1, 2), 3),
    ]
    uniq = dao.select_count("example", field="ip")
    assert [e.count for e in uniq.elements] == [2, 3]

    # exactly-once: draining the same spool again adds nothing
    q2 = start_file_ingest(
        spark, str(spool), str(wh / "data"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert sum(e.count for e in dao.select_count("example").elements) == 5


def test_udp_spool_rolling(tmp_path):
    spool = UdpSpool(str(tmp_path), roll_seconds=9999, roll_bytes=64)
    for i in range(10):
        spool.write(f"<190>host nginx: msg {i} with some padding".encode())
    spool.close()
    files = sorted(p.name for p in tmp_path.iterdir())
    assert files and all(not f.startswith(".") for f in files)
    lines = []
    for f in sorted(tmp_path.iterdir()):
        lines += f.read_text().splitlines()
    assert len(lines) == 10
    assert lines[0].endswith("msg 0 with some padding")


#: 57-agent public corpus pinning the regex mini-parser's long-tail
#: behavior (VERDICT r2 #5): mainstream desktop/mobile, iOS re-skins
#: (CriOS/FxiOS/EdgiOS), legacy IE (MSIE + Trident rv:11), Samsung
#: Internet / UC / WebView (documented as Chrome-engine), Opera Mini,
#: consoles/TVs, and 20+ bots and HTTP tools. Each row is
#: (ua, platform_name, platform_version, browser_name, browser_version,
#: is_robot) — generated from the parser once, hand-reviewed, frozen.
UA_GOLDEN = [
    ('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36', 'Windows', '10.0', 'Chrome', '120.0.0.0', False),
    ('Mozilla/5.0 (Windows NT 6.1; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/109.0.0.0 Safari/537.36', 'Windows', '6.1', 'Chrome', '109.0.0.0', False),
    ('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36', 'Mac OS', '10.15.7', 'Chrome', '119.0.0.0', False),
    ('Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Safari/537.36', 'Linux', None, 'Chrome', '118.0.0.0', False),
    ('Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0', 'Windows', '10.0', 'Firefox', '121.0', False),
    ('Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/115.0', 'Mac OS', '10.15', 'Firefox', '115.0', False),
    ('Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0', 'Linux', None, 'Firefox', '120.0', False),
    ('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15', 'Mac OS', '10.15.7', 'Safari', '17.1', False),
    ('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91', 'Windows', '10.0', 'Edge', '120.0.2210.91', False),
    ('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 Edg/119.0.2151.97', 'Mac OS', '10.15.7', 'Edge', '119.0.2151.97', False),
    ('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/106.0.0.0 Safari/537.36 OPR/92.0.4561.43', 'Windows', '10.0', 'Opera', '92.0.4561.43', False),
    ('Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36', 'Android', '14', 'Chrome', '120.0.6099.43', False),
    ('Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36', 'Android', '13', 'Chrome', '112.0.0.0', False),
    ('Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/21.0 Chrome/110.0.5481.154 Mobile Safari/537.36', 'Android', '13', 'Chrome', '110.0.5481.154', False),
    ('Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1', 'iOS', '17.1.1', 'Safari', '17.1', False),
    ('Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 Mobile/15E148 Safari/604.1', 'iOS', '16.6', 'Safari', '16.5', False),
    ('Mozilla/5.0 (iPhone; CPU iPhone OS 16_7 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/119.0.6045.109 Mobile/15E148 Safari/604.1', 'iOS', '16.7', 'Chrome', '119.0.6045.109', False),
    ('Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/118.1 Mobile/15E148 Safari/605.1.15', 'iOS', '16.6', 'Firefox', '118.1', False),
    ('Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/119.0.2151.105 Version/17.0 Mobile/15E148 Safari/604.1', 'iOS', '17.0', 'Edge', '119.0.2151.105', False),
    ('Mozilla/5.0 (Linux; Android 10; HD1913) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36 EdgA/118.0.2088.81', 'Android', '10', 'Edge', '118.0.2088.81', False),
    ('Mozilla/5.0 (Linux; U; Android 12; en-US; CPH2205) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.58 UCBrowser/15.5.5.1312 Mobile Safari/537.36', 'Android', '12', 'Chrome', '100.0.4896.58', False),
    ('Mozilla/5.0 (Linux; Android 11; M2101K6G Build/RKQ1.200826.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/110.0.5481.153 Mobile Safari/537.36', 'Android', '11', 'Chrome', '110.0.5481.153', False),
    ('Opera/9.80 (Android; Opera Mini/7.5.54678/28.2555; U; ru) Presto/2.10.289 Version/12.02', None, None, 'Opera', '7.5.54678', False),
    ('Mozilla/5.0 (compatible; MSIE 10.0; Windows NT 6.1; Trident/6.0)', 'Windows', '6.1', 'MSIE', '10.0', False),
    ('Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 5.1; Trident/4.0)', 'Windows', '5.1', 'MSIE', '8.0', False),
    ('Mozilla/5.0 (Windows NT 10.0; WOW64; Trident/7.0; rv:11.0) like Gecko', 'Windows', '10.0', 'MSIE', '11.0', False),
    ('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 Vivaldi/6.4.3160.47', 'Windows', '10.0', 'Chrome', '119.0.0.0', False),
    ('Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Safari/537.36 Brave/117', 'Linux', None, 'Chrome', '117.0.0.0', False),
    ('Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 LibreWolf/120.0', 'Linux', None, None, None, False),
    ('Mozilla/5.0 (PlayStation 5 7.40) AppleWebKit/605.1.15 (KHTML, like Gecko)', None, None, None, None, False),
    ('Mozilla/5.0 (SMART-TV; Linux; Tizen 6.5) AppleWebKit/537.36 (KHTML, like Gecko) Version/6.5 TV Safari/537.36', 'Linux', None, 'Safari', '6.5', False),
    ('Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)', None, None, None, None, True),
    ('Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; Googlebot/2.1; +http://www.google.com/bot.html) Chrome/119.0.6045.123 Safari/537.36', None, None, 'Chrome', '119.0.6045.123', True),
    ('Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; Baiduspider/2.0; +http://www.baidu.com/search/spider.html)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; DuckDuckBot-Https/1.1; https://duckduckgo.com/duckduckbot)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; SemrushBot/7~bl; +http://www.semrush.com/bot.html)', None, None, None, None, True),
    ('Mozilla/5.0 (compatible; PetalBot;+https://webmaster.petalsearch.com/site/petalbot)', None, None, None, None, True),
    ('Mozilla/5.0 (Linux; Android 5.0) AppleWebKit/537.36 (KHTML, like Gecko) Mobile Safari/537.36 (compatible; Bytespider; spider-feedback@bytedance.com)', 'Android', '5.0', None, None, True),
    ('Mozilla/5.0 (compatible; Yahoo! Slurp; http://help.yahoo.com/help/us/ysearch/slurp)', None, None, None, None, True),
    ('Slackbot-LinkExpanding 1.0 (+https://api.slack.com/robots)', None, None, None, None, True),
    ('Twitterbot/1.0', None, None, None, None, True),
    ('facebookexternalhit/1.1 (+http://www.facebook.com/externalhit_uatext.php)', None, None, None, None, False),
    ('Mozilla/5.0 (compatible; Discordbot/2.0; +https://discordapp.com)', None, None, None, None, True),
    ('curl/8.4.0', None, None, None, None, True),
    ('Wget/1.21.4', None, None, None, None, True),
    ('python-requests/2.31.0', None, None, None, None, True),
    ('Scrapy/2.11.0 (+https://scrapy.org)', None, None, None, None, True),
    ('Go-http-client/2.0', None, None, None, None, False),
    ('okhttp/4.12.0', None, None, None, None, False),
    ('Dalvik/2.1.0 (Linux; U; Android 13; Pixel 7 Build/TQ3A.230901.001)', 'Android', '13', None, None, False),
    ('Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/118.0.5993.117 Safari/537.36', 'Linux', None, 'Chrome', '118.0.5993.117', False),
    ('Mozilla/5.0 (compatible; UptimeRobot/2.0; http://www.uptimerobot.com/)', None, None, None, None, True),
    ('', None, None, None, None, False),
    ('totally-unknown-agent/0.1', None, None, None, None, False),
]


def test_ua_corpus_table_driven(spark):
    from ballcone_spark.sources.enrich import enrich_user_agent

    df = spark.createDataFrame(
        [(u[0],) for u in UA_GOLDEN], "user_agent string"
    )
    got = enrich_user_agent(df).collect()
    for (ua, pn, pv, bn, bv, bot), r in zip(UA_GOLDEN, got):
        assert (
            r["platform_name"], r["platform_version"],
            r["browser_name"], r["browser_version"], r["is_robot"],
        ) == (pn, pv, bn, bv, bot), ua


def test_ua_library_path_plumbing(spark):
    """The Arrow-batched httpagentparser parity path, exercised with a
    deterministic fake detect(ua)->dict (the real library is absent in
    this container): struct schema, field extraction per reference
    syslog_protocol.py:83-87 (missing keys → NULL), null-UA handling."""
    from ballcone_spark.sources.enrich import enrich_user_agent_library

    def fake_detect(ua: str) -> dict:
        if "known" in ua:
            return {
                "platform": {"name": "TestOS", "version": "1.2"},
                "browser": {"name": "TestBrowser", "version": "9.9"},
                "bot": False,
            }
        if "partial" in ua:
            return {"browser": {"name": "OnlyBrowser"}}  # no platform/bot
        return {}

    df = spark.createDataFrame(
        [("known-agent",), ("partial-agent",), ("mystery",), (None,)],
        "user_agent string",
    )
    rows = enrich_user_agent_library(df, detect_fn=fake_detect).collect()
    assert (
        rows[0]["platform_name"], rows[0]["platform_version"],
        rows[0]["browser_name"], rows[0]["browser_version"],
        rows[0]["is_robot"],
    ) == ("TestOS", "1.2", "TestBrowser", "9.9", False)
    assert rows[1]["browser_name"] == "OnlyBrowser"
    assert rows[1]["platform_name"] is None and rows[1]["is_robot"] is None
    assert all(rows[2][f] is None for f in
               ("platform_name", "browser_name", "is_robot"))
    assert all(rows[3][f] is None for f in
               ("platform_name", "browser_name", "is_robot"))


def test_ua_library_path_requires_library(spark):
    from ballcone_spark.sources.enrich import (
        HAVE_HTTPAGENTPARSER,
        enrich_user_agent_library,
    )

    if HAVE_HTTPAGENTPARSER:
        pytest.skip("library installed — error path untestable")
    df = spark.createDataFrame([("x",)], "user_agent string")
    with pytest.raises(ImportError, match="httpagentparser"):
        enrich_user_agent_library(df)


def test_geoip_library_path_plumbing(spark):
    """The maxminddb parity path with a fake Reader.get: reference
    core.py:60-64 semantics — iso_code when present, None for no-country
    records, unknown IPs, lookup errors, and NULL input."""
    from ballcone_spark.sources.enrich import enrich_geoip_library

    def fake_get(ip):
        if ip == "1.2.3.4":
            return {"country": {"iso_code": "XA"}}
        if ip == "5.6.7.8":
            return {"country": {}}  # country present, no iso_code
        if ip == "9.9.9.9":
            return {"city": {"name": "X"}}  # no country key
        if ip == "bad":
            raise ValueError("malformed IP")
        return None

    df = spark.createDataFrame(
        [("1.2.3.4",), ("5.6.7.8",), ("9.9.9.9",), ("bad",),
         ("0.0.0.0",), (None,)],
        "ip string",
    )
    got = [
        r["country_iso_code"]
        for r in enrich_geoip_library(df, "/nonexistent.mmdb",
                                      get_fn=fake_get).collect()
    ]
    assert got == ["XA", None, None, None, None, None]


def _have_httpagentparser() -> bool:
    from ballcone_spark.sources.enrich import HAVE_HTTPAGENTPARSER

    return HAVE_HTTPAGENTPARSER


@pytest.mark.skipif(
    not _have_httpagentparser(),
    reason="httpagentparser not installed in this container",
)
def test_ua_library_vs_regex_parity(spark):
    """Where the real library IS installed: the regex mini-parser must
    agree with httpagentparser on browser family for mainstream agents
    (versions/platform naming may differ — family is the query-visible
    field, reference test_dao.py fixtures group by platform_name)."""
    import httpagentparser  # noqa: F401

    from ballcone_spark.sources.enrich import (
        enrich_user_agent,
        enrich_user_agent_library,
    )

    mainstream = [u for u, *_rest in UA_GOLDEN[:16]]
    df = spark.createDataFrame([(u,) for u in mainstream], "user_agent string")
    regex_rows = enrich_user_agent(df).collect()
    lib_rows = enrich_user_agent_library(df).collect()
    for u, a, b in zip(mainstream, regex_rows, lib_rows):
        if b["browser_name"] is not None:
            assert a["browser_name"] == b["browser_name"], u


def test_parse_pipeline_never_crashes_on_fuzz(spark):
    """Drop-don't-crash under adversarial input (the reference's core
    ingest guarantee, syslog_protocol.py:33-59): 300 seeded-random hostile
    lines — binary-ish garbage, truncated frames, deep JSON, huge
    numbers, bad escapes, null bytes — run through the FULL parse+enrich
    pipeline in one batch. Nothing may throw; survivors must carry a
    valid service and timestamp."""
    import random

    from ballcone_spark.streaming.ingest import ingest_pipeline

    rng = random.Random(20240813)
    alphabet = "<>{}[]\"'\\:%,.\x00\x01\u20ac日本 abc0123456789"
    lines = []
    for i in range(150):
        lines.append("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120))))
    # structured-but-hostile variants
    for i in range(150):
        svc = rng.choice(["ok_svc", "bad svc", "", "a" * 500, "svc\x00", "日本"])
        date = rng.choice([
            "2024-02-01T00:00:00Z", "not-a-date", "9999-99-99T99:99:99Z",
            "2024-02-01T00:00:00+99:00", "",
        ])
        status = rng.choice(["200", "99999999999999999999", "-1", "NaN", "2e3"])
        path = rng.choice(["/x", "/%zz%%%", "/%7E" * 200, "%", ""])
        frame = rng.choice(["<190>x: ", "<99999>x: ", "", "<190>"])
        lines.append(
            frame + '{"service":"%s","date":"%s","status":"%s","path":"%s",'
            '"length":%s,"generation_time_milli":1e308,"ip":"1.2.3.4",'
            '"host":"h","referrer":"","user_agent":"UA"}'
            % (svc, date, status, path, rng.choice(["1", "99999999999999999999"]))
        )
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = ingest_pipeline(df).collect()  # must not raise
    assert len(rows) <= len(lines)
    for r in rows:
        assert r["service"] and r["datetime"] is not None


def test_expire_partitions_retention(spark, tmp_path):
    """Retention deletes only date partitions strictly older than the
    cutoff (optionally per service); unparseable dirs survive."""
    import os

    from ballcone_spark.streaming.ingest import expire_partitions

    data = str(tmp_path / "data")
    rows = [
        ("a", datetime.date(2020, 1, d), d) for d in (1, 2, 3)
    ] + [("b", datetime.date(2020, 1, 2), 9)]
    spark.createDataFrame(rows, "service string, date date, n int").write.mode(
        "append"
    ).partitionBy("service", "date").parquet(data)
    os.makedirs(os.path.join(data, "service=a", "date=not-a-date"))

    removed = expire_partitions(data, datetime.date(2020, 1, 2), service="a")
    assert removed == ["service=a/date=2020-01-01"]
    spark.catalog.clearCache()
    left = sorted(
        (r["service"], str(r["date"])) for r in spark.read.parquet(data).collect()
    )
    assert left == [
        ("a", "2020-01-02"), ("a", "2020-01-03"), ("b", "2020-01-02")
    ]
    assert os.path.isdir(os.path.join(data, "service=a", "date=not-a-date"))
    # no service filter: b's old days (none) unaffected, cutoff respected
    assert expire_partitions(data, datetime.date(2020, 1, 2)) == []


def test_compact_crash_recovery_exhaustive(spark, tmp_path, monkeypatch):
    """Stronger form of the parametrized crash test: kill compaction at
    EVERY destructive filesystem operation (each os.rename and
    os.remove, in order), then run compaction again and assert zero row
    loss, zero duplicates, and no leftover helper dirs. This enumerates
    all crash points mechanically instead of hand-picking three."""
    import os
    import shutil

    from ballcone_spark.streaming import ingest as ingest_mod

    base = str(tmp_path / "base")
    df = spark.createDataFrame(
        [("svc", datetime.date(2020, 1, 1), i) for i in range(4)],
        "service string, date date, n int",
    )
    for k in range(2):
        (
            df.where(F.col("n") % 2 == k)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("service", "date")
            .parquet(base)
        )

    class Boom(RuntimeError):
        pass

    real_rename, real_remove = os.rename, os.remove

    def count_ops():
        """Dry-run compaction on a copy, counting destructive fs ops."""
        work = str(tmp_path / "count")
        shutil.copytree(base, work)
        ops = {"n": 0}

        def rn(src, dst):
            ops["n"] += 1
            real_rename(src, dst)

        def rm(p):
            ops["n"] += 1
            real_remove(p)

        monkeypatch.setattr(ingest_mod.os, "rename", rn)
        monkeypatch.setattr(ingest_mod.os, "remove", rm)
        try:
            ingest_mod.compact_warehouse(spark, work, target_file_mb=128)
        finally:
            monkeypatch.undo()
        shutil.rmtree(work)
        return ops["n"]

    n_ops = count_ops()
    assert n_ops >= 3  # manifest tmp-rename, manifest remove, dir swaps

    expect = [0, 1, 2, 3]
    for crash_at in range(1, n_ops + 1):
        work = str(tmp_path / f"crash_{crash_at}")
        shutil.copytree(base, work)
        ops = {"n": 0}

        def rn(src, dst, _ops=ops, _k=crash_at):
            _ops["n"] += 1
            if _ops["n"] == _k:
                raise Boom()
            real_rename(src, dst)

        def rm(p, _ops=ops, _k=crash_at):
            _ops["n"] += 1
            if _ops["n"] == _k:
                raise Boom()
            real_remove(p)

        monkeypatch.setattr(ingest_mod.os, "rename", rn)
        monkeypatch.setattr(ingest_mod.os, "remove", rm)
        try:
            ingest_mod.compact_warehouse(spark, work, target_file_mb=128)
            crashed = False
        except Boom:
            crashed = True
        finally:
            monkeypatch.undo()
        assert crashed, f"op {crash_at} never reached (n_ops drifted?)"
        spark.catalog.clearCache()
        # recovery run, un-instrumented
        ingest_mod.compact_warehouse(spark, work, target_file_mb=128)
        spark.catalog.clearCache()
        got = sorted(r["n"] for r in spark.read.parquet(work).collect())
        assert got == expect, f"crash at fs-op {crash_at}: rows {got}"
        svc_dir = os.path.join(work, "service=svc")
        leftovers = [e for e in os.listdir(svc_dir) if e.startswith(".date=")]
        assert leftovers == [], f"crash at fs-op {crash_at}: {leftovers}"
        shutil.rmtree(work)


def test_backlog_drains_in_bounded_batches(spark, tmp_path):
    """Backpressure knob (r10): with max_files_per_trigger=1 a spool
    backlog of 4 files must drain as multiple bounded micro-batches —
    the catch-up path after a stall — with every row landing exactly
    once in the warehouse."""
    spool = tmp_path / "spool"
    spool.mkdir()
    for seq in range(4):
        lines = [
            _dgram(dict(GOOD, path=f"/f{seq}/{i}")) for i in range(5)
        ]
        (spool / f"backlog-{seq:06d}.log").write_text(
            "\n".join(lines) + "\n"
        )
    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")
    q = start_file_ingest(
        spark, str(spool), wh, ck,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 4, [
        (p["batchId"], p["numInputRows"]) for p in q.recentProgress
    ]
    assert all(p["numInputRows"] == 5 for p in batches)
    got = spark.read.parquet(wh)
    assert got.count() == 20
    assert got.select("path").distinct().count() == 20


def test_hot_partition_escape_hatch(spark, tmp_path):
    """Hot-partition escape hatch (r11, BASELINE §6r): a (service, date)
    key whose batch rows exceed ``hot_partition_rows`` drops the
    1-file invariant for that batch — its write salts into
    ⌈rows/threshold⌉ tasks (multiple files) while cold keys keep the
    single-file path; compact_warehouse later folds the extras. Rows
    land exactly once either way."""
    import os

    from ballcone_spark.streaming.ingest import compact_warehouse

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        _dgram(dict(GOOD, service="hotsvc", path=f"/hot/{i}",
                    ip=f"10.{i % 250}.{i // 250}.7"))
        for i in range(400)
    ] + [
        _dgram(dict(GOOD, service="coldsvc", path=f"/cold/{i}"))
        for i in range(5)
    ]
    (spool / "batch.log").write_text("\n".join(lines) + "\n")

    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")
    q = start_file_ingest(
        spark, str(spool), wh, ck,
        available_now=True, hot_partition_rows=100,
    )
    q.awaitTermination()

    got = spark.read.parquet(wh)
    assert got.count() == 405
    assert got.filter(F.col("path").startswith("/hot/")).count() == 400
    assert got.select("path").distinct().count() == 405

    def parquet_files(svc):
        svc_dir = os.path.join(wh, f"service={svc}", "date=2020-01-01")
        return [f for f in os.listdir(svc_dir) if f.endswith(".parquet")]

    # cold key kept the 1-file invariant; the hot key salted into up to
    # ceil(400/100)=4 files (≥2 even under unlucky hash distribution)
    assert len(parquet_files("coldsvc")) == 1
    n_hot = len(parquet_files("hotsvc"))
    assert 2 <= n_hot <= 4, n_hot

    # compaction folds the extra files without losing a row
    compact_warehouse(spark, wh, target_file_mb=128)
    assert len(parquet_files("hotsvc")) == 1
    assert spark.read.parquet(wh).count() == 405


def test_ingest_clean_source_deletes_committed_spool(spark, tmp_path):
    """r12: the spool is a transport buffer — once a micro-batch
    COMMITS, its input files are deleted (cleanSource=delete, the new
    default), so the spool dir and the file source's per-trigger
    listing stay bounded instead of growing ~17 k files/day. Replay
    safety is Spark's own contract: only committed batches' files are
    cleaned. Rows must all land exactly once."""
    import os
    import time

    spool = tmp_path / "spool"
    spool.mkdir()
    for b in range(2):
        lines = [
            _dgram(dict(GOOD, path=f"/c{b}/{i}")) for i in range(5)
        ]
        (spool / f"batch{b}.log").write_text("\n".join(lines) + "\n")
    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")

    def drain():
        q = start_file_ingest(spark, str(spool), wh, ck, available_now=True)
        q.awaitTermination()

    drain()
    assert spark.read.parquet(wh).count() == 10
    # the cleaner is async; a follow-up drain (and a short poll) gives
    # it a batch boundary to run behind
    (spool / "batch2.log").write_text(
        _dgram(dict(GOOD, path="/c2/0")) + "\n"
    )
    drain()
    assert spark.read.parquet(wh).count() == 11
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [f for f in os.listdir(spool) if f.endswith(".log")]
        if set(left) <= {"batch2.log"}:
            break
        time.sleep(0.5)
    assert set(left) <= {"batch2.log"}, left


def test_ingest_clean_source_rejects_bad_values(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="clean_source"):
        start_file_ingest(
            spark, str(tmp_path / "s"), str(tmp_path / "w"),
            str(tmp_path / "c"), clean_source="shred",
        )
    with pytest.raises(ValueError, match="archive_dir"):
        start_file_ingest(
            spark, str(tmp_path / "s"), str(tmp_path / "w"),
            str(tmp_path / "c"), clean_source="archive",
        )


def test_hot_partition_hatch_auto_threshold(spark, tmp_path, monkeypatch):
    """r12 (VERDICT r11 #5): ``hot_partition_rows="auto"`` derives the
    threshold per batch — max(floor, batch_rows // defaultParallelism)
    — so a deployment never supplies the constant. With the floor
    patched to 100, the 405-row batch derives threshold 100 (405//32 <
    100): the 400-row key trips and spreads, the 5-row key keeps the
    1-file invariant — same observable behavior as the explicit-100
    test above, reached with no caller-supplied number."""
    import os

    from ballcone_spark.streaming import ingest as ing

    monkeypatch.setattr(ing, "_HOT_AUTO_FLOOR", 100)

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        _dgram(dict(GOOD, service="hotsvc", path=f"/hot/{i}",
                    ip=f"10.{i % 250}.{i // 250}.7"))
        for i in range(400)
    ] + [
        _dgram(dict(GOOD, service="coldsvc", path=f"/cold/{i}"))
        for i in range(5)
    ]
    (spool / "batch.log").write_text("\n".join(lines) + "\n")

    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")
    q = start_file_ingest(
        spark, str(spool), wh, ck,
        available_now=True, hot_partition_rows="auto",
    )
    q.awaitTermination()

    got = spark.read.parquet(wh)
    assert got.count() == 405
    assert got.select("path").distinct().count() == 405

    def parquet_files(svc):
        svc_dir = os.path.join(wh, f"service={svc}", "date=2020-01-01")
        return [f for f in os.listdir(svc_dir) if f.endswith(".parquet")]

    assert len(parquet_files("coldsvc")) == 1
    assert 2 <= len(parquet_files("hotsvc")) <= 4


def test_hot_partition_hatch_auto_floor_guards_small_batches(
    spark, tmp_path
):
    """With the production floor (100 k rows), "auto" must NOT spread a
    batch whose dominant key is far below it — spreading tiny batches
    would mint small files for nothing. The 400-row hot key keeps the
    1-file invariant."""
    import os

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        _dgram(dict(GOOD, service="hotsvc", path=f"/hot/{i}"))
        for i in range(400)
    ]
    (spool / "batch.log").write_text("\n".join(lines) + "\n")
    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")
    q = start_file_ingest(
        spark, str(spool), wh, ck,
        available_now=True, hot_partition_rows="auto",
    )
    q.awaitTermination()
    svc_dir = os.path.join(wh, "service=hotsvc", "date=2020-01-01")
    files = [f for f in os.listdir(svc_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(wh).count() == 400


def test_hot_partition_rows_rejects_unknown_string(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="auto"):
        start_file_ingest(
            spark, str(tmp_path / "s"), str(tmp_path / "w"),
            str(tmp_path / "c"), hot_partition_rows="always",
        )


def test_hot_partition_hatch_disabled_is_old_path(spark, tmp_path):
    """hot_partition_rows=None (default) preserves the invariant even
    for a key that would have tripped a threshold."""
    import os

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        _dgram(dict(GOOD, service="hotsvc", path=f"/hot/{i}"))
        for i in range(300)
    ]
    (spool / "batch.log").write_text("\n".join(lines) + "\n")
    wh, ck = str(tmp_path / "wh"), str(tmp_path / "ck")
    q = start_file_ingest(spark, str(spool), wh, ck, available_now=True)
    q.awaitTermination()
    svc_dir = os.path.join(wh, "service=hotsvc", "date=2020-01-01")
    files = [f for f in os.listdir(svc_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(wh).count() == 300


def test_sharded_bridge_round_trip(tmp_path):
    """`--workers N` bridge e2e: N SO_REUSEPORT receiver processes on
    one port, each writing its own `datagrams-wK-*` spool files. With
    many distinct sender sockets the kernel flow hash spreads traffic
    over every worker; every datagram lands exactly once, and SIGTERM
    publishes each worker's in-progress file."""
    import os
    import signal as _signal
    import socket as _socket
    import subprocess
    import sys as _sys
    import time as _time

    port_probe = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    port_probe.bind(("127.0.0.1", 0))
    port = port_probe.getsockname()[1]
    port_probe.close()

    spool = tmp_path / "spool"
    env = dict(os.environ, PYTHONPATH="/root/repo")
    bridge = subprocess.Popen(
        [_sys.executable, "-m", "ballcone_spark.sources.udp_bridge",
         "--port", str(port), "--spool", str(spool),
         "--roll-seconds", "1", "--workers", "2"],
        env=env,
    )
    try:
        _time.sleep(2.5)  # spawn-context worker startup
        # 64 distinct source sockets: odds every flow hashes to one of
        # the 2 workers are 2^-63 — both shards must see traffic
        socks = [_socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
                 for _ in range(64)]
        n = 2000
        for i in range(n):
            socks[i % 64].sendto(
                b"<190>host nginx: shard msg %d" % i, ("127.0.0.1", port)
            )
        _time.sleep(1.5)  # roll publishes
    finally:
        bridge.send_signal(_signal.SIGTERM)
        bridge.wait(timeout=20)

    lines, prefixes = [], set()
    for p in sorted(spool.iterdir()):
        assert not p.name.startswith(".")  # everything published
        prefixes.add(p.name.split("-")[1])
        lines += p.read_text().splitlines()
    assert len(lines) == n  # zero loss, zero duplication
    assert prefixes == {"w0", "w1"}  # both shards carried traffic
    assert sorted(int(l.rsplit(" ", 1)[1]) for l in lines) == list(range(n))


def test_sharded_ingest_streams_share_one_warehouse(spark, tmp_path):
    """§6aj: TWO concurrent ingest streams into one warehouse. Plain
    concurrent appends to the same sink root are unsafe (both jobs
    stage under <root>/_temporary/0/ — one stream's commit deletes the
    other's staging; measured FileNotFoundException in commitJob).
    service_shard gives each stream its own service=<X> root: private
    staging, date-only partitioning, and the directory name restores
    the service column on read — layout and readers unchanged. Stray
    rows of OTHER services in a shard's spool are dropped, never
    mislabeled."""
    import os
    import time as _time

    from ballcone_spark.streaming.ingest import (
        compact_warehouse,
        start_file_ingest,
    )

    def dgram(svc, k):
        return (
            f'<190>Jan  1 12:00:00 host nginx: {{"service": "{svc}", '
            f'"ip": "10.0.0.{k % 255}", "host": "h", "path": "/p/{k}", '
            f'"status": "200", "referrer": "", "user_agent": "UA", '
            f'"length": 10, "generation_time_milli": 0.5, '
            f'"date": "2024-01-01T12:00:00+00:00"}}'
        )

    data = str(tmp_path / "data")
    os.makedirs(data)
    streams, spools = [], {}
    for svc in ("svc_a", "svc_b"):
        spool = str(tmp_path / f"spool_{svc}")
        os.makedirs(spool)
        spools[svc] = spool
        streams.append(
            start_file_ingest(
                spark, spool, data, str(tmp_path / f"ckpt_{svc}"),
                trigger_seconds=1, query_name=f"ingest_{svc}",
                service_shard=svc,
            )
        )

    n_batches, rows_per = 6, 400
    for b in range(n_batches):
        for svc, spool in spools.items():
            with open(os.path.join(spool, f"f{b}.log"), "w") as f:
                for i in range(rows_per):
                    f.write(dgram(svc, b * rows_per + i) + "\n")
                if svc == "svc_a":
                    # a stray row of the OTHER service: must be dropped
                    f.write(dgram("svc_b", 999_999) + "\n")
        _time.sleep(1.0)

    deadline = _time.monotonic() + 60
    expect = n_batches * rows_per
    while _time.monotonic() < deadline:
        try:
            df = spark.read.parquet(data)
            counts = {
                r["service"]: r["count"]
                for r in df.groupBy("service").count().collect()
            }
        except Exception:
            counts = {}
        if counts.get("svc_a") == expect and counts.get("svc_b") == expect:
            break
        _time.sleep(1.0)
    errs = [q.exception() for q in streams if q.exception()]
    # the stray drop is observable, not silent: svc_a's stream saw
    # n_batches foreign rows, counted in its observed metrics
    stray_a = sum(
        p["observedMetrics"]["shard"]["stray_rows"]
        for p in (streams[0].recentProgress or [])
        if "shard" in (p.get("observedMetrics") or {})
    )
    for q in streams:
        q.stop()
    assert not errs, errs[0]
    assert counts == {"svc_a": expect, "svc_b": expect}
    assert stray_a == n_batches
    # read layout unchanged: service restored from the dir name, and
    # the per-shard dirs partition by date beneath it
    assert os.path.isdir(os.path.join(data, "service=svc_a",
                                      "date=2024-01-01"))
    # compaction still owns the shared layout
    df = spark.read.parquet(data)
    rows_before = df.count()
    compact_warehouse(spark, data)
    assert spark.read.parquet(data).count() == rows_before
    # shard names that would break partition-value escaping are refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="service_shard"):
        start_file_ingest(
            spark, str(tmp_path / "nope"), data,
            str(tmp_path / "nope_ck"), service_shard="a/b",
        )
