"""The Broadcaster — gold → 24 versioned JSON feeds (SURVEY §3.3).

One collect of gold renders every feed (``operators.feeds.feed_records``);
the files are written from the driver.  The recon CDC hop consumes the same
gold snapshot (plans/recon.py).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

from service_alerts_connector_spark.operators.feeds import (
    FeedConfig,
    all_feed_configs,
    feed_records,
)
from service_alerts_connector_spark.sources.json_feed import write_feed


def broadcast_feeds(
    gold: DataFrame,
    out_root: str,
    now: datetime | None = None,
    configs: list[FeedConfig] | None = None,
) -> dict[str, int]:
    """Write every feed; returns {feed path: row count} for observability.

    The whole fan-out is one Spark job: gold is collected once, and the row
    counts are the lengths of the driver-side feeds.
    """
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    feeds = feed_records(gold, now, configs or all_feed_configs())
    written: dict[str, int] = {}
    for cfg, records in feeds.items():
        write_feed(records, out_root, cfg.path)
        written[cfg.path] = len(records)
    return written
