"""Structured Streaming wrapper: the 10-minute batch DAG as availableNow
micro-batches (SURVEY §1.4, §2.8).

The reference's Airflow cadence (ST1) maps to ``trigger(availableNow=True)``
fired on a schedule (or ``processingTime='10 minutes'`` for a resident
stream).  Each micro-batch runs the same *batch* plan functions
(fixer/augmenter/broadcaster/recon) inside ``foreachBatch`` — one code path
for both execution modes, which is the point of the design: the plans are
pure DataFrame→DataFrame functions.

State (previous silver/gold, CDC snapshot, sent-email log) lives in
versioned parquet datasets (sources/parquet_io.py); a lakehouse deployment
swaps these for Delta tables + MERGE with no plan changes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from service_alerts_connector_spark.schemas import RAW_SCHEMA

BatchFn = Callable[[DataFrame, int], None]


def stream_raw_alerts(
    spark: SparkSession, staged_path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream of staged SharePoint page dumps (JSONL).

    ``maxFilesPerTrigger`` bounds batch size — admission control at the
    source, complementing the incremental cap (ST2)."""
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(staged_path)
        .na.drop(subset=["Publish_x0020_Date"])
    )


def run_available_now(
    stream_df: DataFrame,
    batch_fn: BatchFn,
    checkpoint_dir: str,
) -> None:
    """Drain everything currently available as micro-batches through
    ``batch_fn`` and stop — the engine's equivalent of one 10-minute DAG run
    (ST1).  Empty batches short-circuit (ST4)."""

    def _foreach(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_fn(batch_df, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_foreach)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
