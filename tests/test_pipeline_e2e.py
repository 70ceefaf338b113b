"""The composed pipeline over two streaming micro-batches: every stage,
every state table, update semantics, CDC, and email idempotence."""

from __future__ import annotations

import json
from datetime import datetime

from service_alerts_connector_spark.plans.emailer import EmailConfig
from service_alerts_connector_spark.plans.pipeline import (
    PipelineSinks,
    run_micro_batch,
)
from service_alerts_connector_spark.streaming.runner import (
    run_available_now,
    stream_raw_alerts,
)
from tests.fixtures import RAW_ALERTS

NOW = datetime(2024, 2, 14, 12, 0)


def test_two_microbatch_pipeline(spark, tmp_path):
    # session is shared across the test suite: measure cache hygiene as a
    # delta, not an absolute (another module's cache may legitimately live)
    n_cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    staged = tmp_path / "staged"
    staged.mkdir()
    with open(staged / "p1.jsonl", "w") as f:
        for rec in RAW_ALERTS[:3]:
            f.write(json.dumps(rec) + "\n")
    updated = dict(RAW_ALERTS[0])
    updated["Status12"] = "Issue Resolved"
    updated["_ingest_seq"] = 100
    with open(staged / "p2.jsonl", "w") as f:
        f.write(json.dumps(updated) + "\n")

    notifications_log: list[int] = []
    outbox: list[tuple] = []
    sinks = PipelineSinks(
        feeds_root=str(tmp_path / "feeds"),
        recon_root=str(tmp_path / "recon"),
        notifier=notifications_log.extend,
        email_transport=lambda to, s, h: outbox.append((to, s)),
        email_configs=[
            EmailConfig(
                name="water-unplanned",
                recipients=("w@example.org",),
                service_area="Water & Sanitation",
                planned=False,
            )
        ],
    )

    def batch_fn(bdf, bid):
        run_micro_batch(
            bdf, str(tmp_path / "lake"), sinks=sinks, now=NOW
        )

    stream = stream_raw_alerts(spark, str(staged), max_files_per_trigger=1)
    run_available_now(stream, batch_fn, str(tmp_path / "ckpt"))

    # batch 1: alerts 23121-23123 created; batch 2: 23121 status updated
    from service_alerts_connector_spark.constants import AUGMENTED_DATASET
    from service_alerts_connector_spark.sources.parquet_io import read_dataset

    gold = {
        r["Id"]: r
        for r in read_dataset(
            spark, str(tmp_path / "lake"), AUGMENTED_DATASET
        ).collect()
    }
    assert set(gold) == {23121, 23122, 23123}
    assert gold[23121]["status"] == "Issue Resolved"  # ST7 update won
    assert gold[23121]["tweet_text"]  # re-enriched after checksum change

    # CDC: batch 1 notified all three as new; batch 2 notified nothing new
    assert sorted(notifications_log) == [23121, 23122, 23123]
    # recon wrote status-aware objects for the update
    assert (tmp_path / "recon" / "v1.2" / "23121.Issue Resolved.json").exists()

    # feeds exist and the current/unplanned v1.2 feed holds the updated row
    feed = json.loads(
        (tmp_path / "feeds" / "v1.2/service-alerts/all/unplanned.json").read_text()
    )
    ids = {r["Id"] for r in feed}
    assert 23121 in ids

    # email: exactly one send for the water unplanned alert, across BOTH
    # batches (sent-log idempotence) — plus one more when status changed
    # (new delivery key per status, reference ST6 semantics)
    assert len(outbox) == 2
    subjects = sorted(s for _, s in outbox)
    assert subjects[0].startswith("Service Alert:")  # first sight
    assert subjects[1].startswith("Updated Service Alert:")  # status change

    # cache hygiene: the email fan-out cache is released per batch — the
    # two-batch run must not leave any extra DataFrame pinned (the old
    # pending_emails-owned cache leaked one per micro-batch)
    n_cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached_after <= n_cached_before


def test_feeds_only_run_leaves_nothing_cached(spark, tmp_path):
    """With feed sinks and no email sinks nothing may stay pinned: only the
    email block caches gold, and it releases what it caches."""
    from service_alerts_connector_spark.sources.sharepoint import (
        read_sharepoint,
    )

    n_cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    bronze = read_sharepoint(spark, lambda: RAW_ALERTS[:3])
    run_micro_batch(
        bronze,
        str(tmp_path / "lake"),
        sinks=PipelineSinks(feeds_root=str(tmp_path / "feeds")),
        now=NOW,
    )
    assert len(list((tmp_path / "feeds").rglob("*.json"))) == 24
    n_cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached_after == n_cached_before


def test_streaming_sharepoint_source_equals_batch_run(spark, tmp_path):
    """The full alert pipeline driven from the REGISTERED SharePoint
    DataSource in streaming mode — partitioned executor-side reader (the
    default since round 12), checkpoint resume across a mid-run page
    append, last-wins upsert — must land byte-identical gold to ONE
    batch-mode run of the same staged directory through the same source
    (reference DAG src/dags/service-alerts-pipeline.py:45: the poll loop
    is semantically one big fetch)."""
    from service_alerts_connector_spark.constants import AUGMENTED_DATASET
    from service_alerts_connector_spark.sources.parquet_io import (
        read_dataset,
    )
    from service_alerts_connector_spark.sources.sharepoint_datasource import (
        register,
    )

    register(spark)
    staged = tmp_path / "staged"
    staged.mkdir()

    def dirty(rec, **extra):
        out = dict(rec)
        out.pop("_ingest_seq", None)
        out.update(__metadata={"type": "SP.Data.Item"})
        out.update(extra)
        return out

    def stage(idx, recs):
        with open(staged / f"page-{idx:04d}.jsonl", "w") as f:
            for rec in recs:
                f.write(json.dumps(rec) + "\n")

    stage(0, [dirty(r) for r in RAW_ALERTS[:3]])

    def batch_fn(lake):
        def fn(bdf, bid):
            run_micro_batch(bdf, lake, now=NOW)

        return fn

    def stream():
        return (
            spark.readStream.format("sharepoint")
            .option("path", str(staged))
            .load()
        )

    lake_stream = str(tmp_path / "lake_stream")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(stream(), batch_fn(lake_stream), ckpt)
    # next poll cycle: one update + one fresh alert land as a new page;
    # the resumed checkpoint must deliver ONLY that page
    stage(1, [dirty(RAW_ALERTS[0], Status12="Issue Resolved"),
              dirty(RAW_ALERTS[3])])
    run_available_now(stream(), batch_fn(lake_stream), ckpt)

    # the batch path: same registered source over the same staged dir,
    # one micro-batch (page-major _ingest_seq makes last-wins identical)
    lake_batch = str(tmp_path / "lake_batch")
    bdf = (
        spark.read.format("sharepoint").option("path", str(staged)).load()
    )
    run_micro_batch(bdf, lake_batch, now=NOW)

    # the upsert write path may order columns differently than the single
    # batch write: equality is BY NAME, row for row
    def rows_by_name(lake):
        df = read_dataset(spark, lake, AUGMENTED_DATASET)
        return sorted(
            tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
        ), sorted(df.columns)

    gold_s, cols_s = rows_by_name(lake_stream)
    gold_b, cols_b = rows_by_name(lake_batch)
    assert cols_s == cols_b
    assert gold_s == gold_b
    ids = {r[sorted(cols_s).index("id")] for r in gold_s} if "id" in cols_s \
        else {r[0] for r in gold_s}
    assert ids == {RAW_ALERTS[i]["Id"] for i in range(4)}
