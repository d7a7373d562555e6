"""Application layer — the reference's web-handler compositions
(SURVEY.md §2.3 A1–A6) over :class:`~ballcone_spark.dao.SparkDAO`,
minus the HTML rendering (explicit non-goal, SURVEY.md §7).

Result envelopes mirror the reference's JSON API shapes
(reference ballcone/web_ballcone.py) so a client of the reference's
``/services``, ``/count``, ``/average`` endpoints could consume these
dicts unchanged.
"""

from __future__ import annotations

import datetime
import time
from typing import Any, Optional

from pyspark.sql import functions as F

from ballcone_spark.dao import SparkDAO

__all__ = ["days_before", "json_value", "Ballcone"]


def days_before(
    stop: Optional[datetime.date] = None, days: int = 7
) -> tuple[datetime.date, datetime.date]:
    """Last ``days`` window ending today, UTC (reference core.py:66-72:
    start = stop − (days−1); defaults 30 CLI / 7 web)."""
    if stop is None:
        stop = datetime.datetime.now(datetime.timezone.utc).date()
    return stop - datetime.timedelta(days=days - 1), stop


def json_value(v: Any) -> Any:
    """A5 JSON encoding (reference BallconeJSONEncoder, core.py:18-26):
    dates/datetimes → ISO strings; everything else passes through (IPs
    are already strings in our schema)."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


class Ballcone:
    """The service-facing API: one instance per warehouse."""

    def __init__(self, dao: SparkDAO, top_limit: int = 5, size_cache_ttl: int = 300):
        self.dao = dao
        self.top_limit = top_limit
        self._size_cache: tuple[float, int] | None = None
        self._size_ttl = size_cache_ttl

    # -- A1: dashboard -------------------------------------------------- #

    def dashboard(self, day: Optional[datetime.date] = None) -> list[dict]:
        """Unique visitors today per service, sorted (−count, service).

        One aggregate over the unified fact table — the reference loops
        N per-table queries (web_ballcone.py:24-44); a single groupBy is
        the Spark-first form and also what scales (SURVEY.md §2.3 A1)."""
        if day is None:
            day = datetime.datetime.now(datetime.timezone.utc).date()
        # one service snapshot, taken before the aggregate's listing
        services = self.dao.tables()
        rows = (
            self.dao._fact()
            .where(F.col("date") == F.lit(day))
            .groupBy("service")
            .agg(F.count_distinct("ip").alias("unique"))
            .coalesce(1)
            .sortWithinPartitions(F.col("unique").desc(), "service")
            .collect()
        )
        present = {r["service"]: r["unique"] for r in rows}
        # services with no traffic today still appear with 0 (the
        # reference iterates all tables)
        out = [{"service": s, "unique": present.get(s, 0)} for s in services]
        out.sort(key=lambda d: (-d["unique"], d["service"]))
        return out

    # -- A2: service overview ------------------------------------------ #

    def overview(
        self, service: str, days: int = 7, stop: Optional[datetime.date] = None
    ) -> dict[str, dict[str, int]]:
        """{date: {visits, unique}} for the window — ONE pass (the
        reference merges two queries in Python, web_ballcone.py:61-73)."""
        start, stop = days_before(stop, days)
        rows = (
            self.dao._apply_dates(self.dao.table(service), start, stop)
            .groupBy("date")
            .agg(
                F.count("*").alias("visits"),
                F.count_distinct("ip").alias("unique"),
            )
            .coalesce(1)
            .sortWithinPartitions("date")
            .collect()
        )
        return {
            r["date"].isoformat(): {"visits": r["visits"], "unique": r["unique"]}
            for r in rows
        }

    # -- A4: top-N ------------------------------------------------------ #

    def top_paths(self, service: str, days: int = 7, stop=None):
        return self._top(service, "path", days, stop)

    def top_browsers(self, service: str, days: int = 7, stop=None):
        return self._top(service, "browser_name", days, stop)

    def _top(self, service: str, group: str, days: int, stop):
        """Q5 with the web defaults: field=ip, desc, limit=top_limit
        (reference web_ballcone.py:79-83, __main__.py:37)."""
        start, stop = days_before(stop, days)
        result = self.dao.select_count_group(
            service,
            field="ip",
            group=group,
            start=start,
            stop=stop,
            ascending=False,
            limit=self.top_limit,
        )
        return [
            {"date": json_value(e.date), "group": e.group, "count": e.count}
            for e in result.elements
        ]

    # -- Q6 console ------------------------------------------------------ #

    def sql(self, text: str) -> dict:
        """SQL console envelope: rows or a rendered error message
        (reference web_ballcone.py:130-155)."""
        self.dao.register_views()
        df, err = self.dao.run_safe(text)
        if err is not None:
            return {"error": err}
        rows = df.limit(1000).collect()
        return {
            "columns": df.columns,
            "rows": [[json_value(v) for v in r] for r in rows],
        }

    # -- A6: TTL-cached size -------------------------------------------- #

    def size(self) -> int:
        """Warehouse bytes, cached 300 s (reference web_ballcone.py:194-200)."""
        now = time.monotonic()
        if self._size_cache is not None and now - self._size_cache[0] < self._size_ttl:
            return self._size_cache[1]
        n = self.dao.size()
        self._size_cache = (now, n)
        return n
