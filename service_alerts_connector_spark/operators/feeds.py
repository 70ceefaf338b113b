"""Config-driven serving fan-out (SURVEY P3-P5, §3.3).

The reference enumerates 24 feed configs = {all, 7days, current} ×
{planned, unplanned} × {v0, v1, v1.1, v1.2} in Python lists
(ServiceAlertBroadcaster.py:51-59) and loops them.  The engine keeps the
configs as *data*.  ``feed_records`` serves every config from one
projection of gold — the planned flag, one boolean per time window and one
rendered JSON record per API version — collected in a single Spark job; the
per-feed filters then run on the driver.  ``feed_dataframe`` is the
per-config plan those feeds must equal.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.schemas import API_VERSION_COLS
from service_alerts_connector_spark.sources.json_feed import json_record

# Reference ServiceAlertBroadcaster.py:51-59.
WINDOWS = ("all", "7days", "current")
PLANNED_STATES = (True, False)
VERSIONS = ("v0", "v1", "v1.1", "v1.2")


@dataclass(frozen=True)
class FeedConfig:
    """One serving feed = time window × planned flag × API version."""

    window: str  # 'all' | '7days' | 'current'
    planned: bool
    version: str  # 'v0' | 'v1' | 'v1.1' | 'v1.2'

    @property
    def path(self) -> str:
        kind = "planned" if self.planned else "unplanned"
        return f"{self.version}/service-alerts/{self.window}/{kind}.json"


def all_feed_configs() -> list[FeedConfig]:
    """The full 24-feed matrix (reference ServiceAlertBroadcaster.py:51-59)."""
    return [
        FeedConfig(w, p, v)
        for v in VERSIONS
        for w in WINDOWS
        for p in PLANNED_STATES
    ]


def time_window_predicate(
    df: DataFrame,
    window: str,
    now: datetime,
    expiry_col: str = "expiry_date",
):
    """P4 — ``expiry_date > anchor`` where the anchor depends on the window:

    * ``current`` → now                 (Δ = 0)
    * ``7days``   → now - 7 days        (Δ = 7d)
    * ``all``     → min(expiry) - 1 day (Δ = ∞; anchor from an agg, reference
                                         ServiceAlertBroadcaster.py:79-90/A2)

    The 'all' anchor is computed as a scalar subquery-style min() so the
    predicate shape stays uniform; at scale this is one cheap agg over a
    column that parquet stores min/max stats for.
    """
    if window == "current":
        return F.col(expiry_col) > F.lit(now)
    if window == "7days":
        return F.col(expiry_col) > F.lit(now) - F.expr("INTERVAL 7 DAYS")
    if window == "all":
        anchor = df.agg(
            (F.min(expiry_col) - F.expr("INTERVAL 1 DAY")).alias("a")
        ).collect()[0]["a"]
        if anchor is None:
            return F.lit(True)
        return F.col(expiry_col) > F.lit(anchor)
    raise ValueError(f"unknown window {window!r}")


def feed_dataframe(
    gold: DataFrame, cfg: FeedConfig, now: datetime
) -> DataFrame:
    """P4 + P5 + P3 — window predicate, planned predicate, version projection."""
    cols = [c for c in API_VERSION_COLS[cfg.version] if c in gold.columns]
    return (
        gold.where(time_window_predicate(gold, cfg.window, now))
        .where(F.col("planned") == F.lit(cfg.planned))  # P5
        .select(*cols)  # P3
    )


def feed_records(
    gold: DataFrame, now: datetime, configs: list[FeedConfig]
) -> dict[FeedConfig, list[str]]:
    """Every config's feed as rendered JSON records (``json_record``), from
    one collect of gold.  Each list keeps gold's collect order, so its
    ``json_array`` equals ``dataframe_to_json_records(feed_dataframe(gold,
    cfg, now))``.

    The ``all`` flag is ``expiry_date IS NOT NULL``: every non-null expiry
    is above ``time_window_predicate``'s min(expiry) − 1 day anchor and a
    null one compares false.  With no expiry at all that predicate is
    ``lit(True)``, so the ``all`` feeds then keep every row.
    """
    windows = list(dict.fromkeys(c.window for c in configs))
    versions = list(dict.fromkeys(c.version for c in configs))
    flags = [
        F.col("expiry_date").isNotNull()
        if w == "all"
        else F.coalesce(time_window_predicate(gold, w, now), F.lit(False))
        for w in windows
    ]
    renders = [
        json_record([c for c in API_VERSION_COLS[v] if c in gold.columns])
        for v in versions
    ]
    rows = gold.select(
        "planned",
        F.array(*flags).alias("flags"),
        F.array(*renders).alias("records"),
    ).collect()
    in_window = {w: [r["flags"][i] for r in rows] for i, w in enumerate(windows)}
    if "all" in in_window and not any(in_window["all"]):
        in_window["all"] = [True] * len(rows)
    return {
        cfg: [
            r["records"][versions.index(cfg.version)]
            for r, keep in zip(rows, in_window[cfg.window])
            if keep and r["planned"] == cfg.planned
        ]
        for cfg in configs
    }
