"""Broadcaster fan-out tests (SURVEY P3-P5, §3.3) + JSON sink shape."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from service_alerts_connector_spark.operators.feeds import (
    FeedConfig,
    all_feed_configs,
    feed_dataframe,
)
from service_alerts_connector_spark.plans.broadcaster import broadcast_feeds
from service_alerts_connector_spark.schemas import V0_COLS, V1_2_COLS
from service_alerts_connector_spark.sources.json_feed import (
    dataframe_to_json_records,
)

NOW = datetime(2024, 2, 14, 12, 0, 0)

GOLD_ROWS = [
    # expired long ago
    {"Id": 1, "planned": True, "expiry_date": datetime(2024, 1, 1), "status": "Closed", "tweet_text": "old"},
    # expires within the last 7 days window
    {"Id": 2, "planned": False, "expiry_date": datetime(2024, 2, 10), "status": "Open", "tweet_text": None},
    # current (expiry in the future)
    {"Id": 3, "planned": False, "expiry_date": datetime(2024, 2, 20), "status": "Open", "tweet_text": "live"},
    {"Id": 4, "planned": True, "expiry_date": datetime(2024, 3, 1), "status": "Open", "tweet_text": "planned"},
]
SCHEMA = "Id long, planned boolean, expiry_date timestamp, status string, tweet_text string"


def _gold(spark):
    return spark.createDataFrame(GOLD_ROWS, SCHEMA)


def test_config_matrix_is_24():
    cfgs = all_feed_configs()
    assert len(cfgs) == 24
    assert len({c.path for c in cfgs}) == 24


def test_current_window(spark):
    df = feed_dataframe(_gold(spark), FeedConfig("current", False, "v0"), NOW)
    assert [r["Id"] for r in df.collect()] == [3]


def test_7days_window(spark):
    df = feed_dataframe(_gold(spark), FeedConfig("7days", False, "v0"), NOW)
    assert sorted(r["Id"] for r in df.collect()) == [2, 3]


def test_all_window_includes_everything(spark):
    df = feed_dataframe(_gold(spark), FeedConfig("all", True, "v0"), NOW)
    assert sorted(r["Id"] for r in df.collect()) == [1, 4]


def test_version_projection(spark):
    gold = _gold(spark)
    v0 = feed_dataframe(gold, FeedConfig("current", False, "v0"), NOW)
    v12 = feed_dataframe(gold, FeedConfig("current", False, "v1.2"), NOW)
    assert set(v0.columns) <= set(V0_COLS)
    assert "tweet_text" not in v0.columns
    assert "tweet_text" in v12.columns
    assert set(v12.columns) <= set(V1_2_COLS)


# gold variants for the broadcaster equivalence check: rows no planned
# feed may hold, rows no window may hold, a gold with no expiry at all (the
# 'all' anchor falls back to keeping every row) and an empty gold
WIDE_SCHEMA = SCHEMA + ", inferred_wards array<string>, image_filename string"
GOLDS = {
    "null_planned": GOLD_ROWS
    + [{"Id": 5, "planned": None, "expiry_date": datetime(2024, 2, 25),
        "status": "Open", "tweet_text": "unknown"}],
    "null_expiry": GOLD_ROWS
    + [{"Id": 6, "planned": False, "expiry_date": None, "status": "Open",
        "tweet_text": "open-ended", "inferred_wards": ["WARD_1"]},
       {"Id": 7, "planned": True, "expiry_date": None, "status": "Open",
        "tweet_text": None, "image_filename": "7.png"}],
    "all_null_expiry": [dict(r, expiry_date=None) for r in GOLD_ROWS],
    "empty": [],
}


@pytest.mark.parametrize("variant", sorted(GOLDS))
def test_broadcast_feeds_equals_per_config_reference(spark, tmp_path, variant):
    """broadcast_feeds (one collect of gold) writes every feed byte for byte
    as the per-config plan feed_dataframe + dataframe_to_json_records."""
    rows = [
        {"inferred_wards": None, "image_filename": None, **r}
        for r in GOLDS[variant]
    ]
    spark.createDataFrame(rows, WIDE_SCHEMA).write.parquet(str(tmp_path / "gold"))
    gold = spark.read.parquet(str(tmp_path / "gold"))
    counts = broadcast_feeds(gold, str(tmp_path / "feeds"), now=NOW)
    assert sorted(counts) == sorted(c.path for c in all_feed_configs())
    for cfg in all_feed_configs():
        want = dataframe_to_json_records(feed_dataframe(gold, cfg, NOW))
        got = (tmp_path / "feeds" / cfg.path).read_text()
        assert got == want, cfg.path
        assert counts[cfg.path] == len(json.loads(want))
    if variant == "all_null_expiry":
        everything = len(json.loads(
            (tmp_path / "feeds" / "v0/service-alerts/all/planned.json").read_text()
        ))
        assert everything == sum(r["planned"] is True for r in rows)


def test_api_sql_views(spark):
    from service_alerts_connector_spark.plans.serving import (
        register_api_views,
    )

    gold = _gold(spark)
    names = register_api_views(spark, gold)
    assert names == [
        "service_alerts_v0",
        "service_alerts_v1",
        "service_alerts_v1_1",
        "service_alerts_v1_2",
    ]
    out = spark.sql(
        "SELECT Id FROM service_alerts_v1_2 WHERE NOT planned ORDER BY Id"
    ).collect()
    assert [r["Id"] for r in out] == [2, 3]
    # v0 must not expose enrichment columns
    assert "tweet_text" not in spark.table("service_alerts_v0").columns


def test_json_records_shape(spark):
    df = feed_dataframe(_gold(spark), FeedConfig("current", False, "v1.2"), NOW)
    payload = json.loads(dataframe_to_json_records(df))
    assert isinstance(payload, list) and len(payload) == 1
    rec = payload[0]
    assert rec["Id"] == 3
    assert rec["expiry_date"].startswith("2024-02-20T00:00:00")
    # nulls are stripped, not serialized
    assert all(v is not None for v in rec.values())


def _jobs_launched(spark, fn) -> int:
    """Spark jobs (driver round trips) ``fn()`` launches."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    fn()
    return scheduler.numTotalJobs() - before


def test_broadcast_feeds_is_one_job(spark, tmp_path):
    # per-config plans took 89 jobs here: a count and a collect per feed,
    # plus a min(expiry_date) anchor per 'all' feed
    _gold(spark).write.parquet(str(tmp_path / "gold"))
    gold = spark.read.parquet(str(tmp_path / "gold"))
    out = str(tmp_path / "feeds")
    assert _jobs_launched(spark, lambda: broadcast_feeds(gold, out, now=NOW)) == 1


def test_recon_job_count(spark, tmp_path):
    # 15 jobs when the notified Ids and the per-alert objects were two
    # separate collects; 8 with one collect of the flagged changed rows
    from service_alerts_connector_spark.plans.recon import recon

    gold = spark.createDataFrame(
        [(1, "Open", "a"), (2, "Closed", "b"), (3, "Open", "c")],
        "Id long, status string, title string",
    )
    prev = spark.createDataFrame([(1, "Open"), (2, "Open")], "Id long, status string")
    run = lambda: recon(gold, prev, out_root=str(tmp_path), notifier=lambda ids: None)
    assert _jobs_launched(spark, run) == 8
