"""The Broadcaster — gold → 24 versioned JSON feeds (SURVEY §3.3).

The feeds are filtered on the driver (``operators.feeds.feed_records``)
from rows of the pipeline's one collect of gold, which carry every feed's
window flags and rendered records (``operators.feeds.feed_columns``); the
files are written from the driver.  Recon and the emailer read the same
rows (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Row

from service_alerts_connector_spark.operators.feeds import (
    all_feed_configs,
    feed_records,
)
from service_alerts_connector_spark.sources.json_feed import write_feed


def broadcast_feeds(rows: list[Row], out_root: str) -> dict[str, int]:
    """Write every feed from collected gold rows that carry
    ``feed_columns(gold, now, all_feed_configs())``; returns {feed path:
    row count} for observability.  Launches no Spark job.
    """
    feeds = feed_records(rows, all_feed_configs())
    written: dict[str, int] = {}
    for cfg, records in feeds.items():
        write_feed(records, out_root, cfg.path)
        written[cfg.path] = len(records)
    return written
