"""Versioned-store reads with the schema sidecar: no Spark job, and the
same schema (nullability and partition columns included) and rows as a
read that infers the schema from the parquet footers."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import (
    AUGMENTED_DATASET,
    SANITISED_DATASET,
)
from service_alerts_connector_spark.plans.emailer import EmailConfig
from service_alerts_connector_spark.plans.pipeline import (
    SENTLOG_DATASET,
    SNAPSHOT_DATASET,
    PipelineSinks,
    run_micro_batch,
)
from service_alerts_connector_spark.sources.parquet_io import (
    SCHEMA_FILE,
    list_versions,
    read_dataset,
    write_dataset,
)
from service_alerts_connector_spark.sources.sharepoint import read_sharepoint
from tests.fixtures import RAW_ALERTS, jobs_launched


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_reads_like_inference(spark, root: str, dataset: str) -> None:
    base = Path(root) / dataset
    for path in (base / "current", base / "versions" / list_versions(root, dataset)[-1]):
        assert (path / SCHEMA_FILE).exists(), path
    got = {}
    assert jobs_launched(
        spark, lambda: got.update(df=read_dataset(spark, root, dataset))
    ) == 0
    inferred = spark.read.parquet(str(base / "current"))
    assert got["df"].schema == inferred.schema, dataset
    assert _rows(got["df"]) == _rows(inferred), dataset


def test_pipeline_stores_read_without_a_job(spark, tmp_path):
    """Silver, gold, the recon snapshot and the sent-email log of a real
    run each read with 0 jobs, as inference would read them."""
    lake = str(tmp_path / "lake")
    run_micro_batch(
        read_sharepoint(spark, lambda: RAW_ALERTS[:3]),
        lake,
        sinks=PipelineSinks(
            email_transport=lambda to, s, h: None,
            email_configs=[
                EmailConfig(
                    name="water-unplanned",
                    recipients=("w@example.org",),
                    service_area="Water & Sanitation",
                    planned=False,
                )
            ],
        ),
        now=datetime(2024, 2, 14, 12, 0),
    )
    for dataset in (
        SANITISED_DATASET, AUGMENTED_DATASET, SNAPSHOT_DATASET, SENTLOG_DATASET
    ):
        _assert_reads_like_inference(spark, lake, dataset)


def test_partitioned_store_reads_like_inference(spark, tmp_path):
    """Partition columns come last and typed by inference (a long
    partition column comes back as int), with or without the sidecar."""
    rows = [
        (i, datetime(2024, 1 + (i % 6), 1 + i % 27), f"alert {i}", i % 3)
        for i in range(60)
    ]
    gold = spark.createDataFrame(
        rows, "Id long, publish_date timestamp, title string, bucket long"
    ).withColumn("publish_month", F.date_format("publish_date", "yyyy-MM"))
    write_dataset(
        gold, str(tmp_path), "gold", partition_by=["bucket", "publish_month"]
    )
    _assert_reads_like_inference(spark, str(tmp_path), "gold")
    read = read_dataset(spark, str(tmp_path), "gold")
    assert read.dtypes[-2:] == [("bucket", "int"), ("publish_month", "string")]


def test_version_without_sidecar_still_reads(spark, tmp_path):
    """A store written before the sidecar existed reads by inference."""
    df = spark.createDataFrame([(1, "a"), (2, None)], "Id long, v string")
    version = Path(write_dataset(df, str(tmp_path), "old"))
    for path in (version, tmp_path / "old" / "current"):
        (path / SCHEMA_FILE).unlink()
    got = {}
    assert jobs_launched(
        spark, lambda: got.update(df=read_dataset(spark, str(tmp_path), "old"))
    ) == 1
    assert got["df"].schema == spark.read.parquet(str(version)).schema
    assert _rows(got["df"]) == _rows(df)
    pinned = read_dataset(spark, str(tmp_path), "old", version=version.name)
    assert _rows(pinned) == _rows(df)
