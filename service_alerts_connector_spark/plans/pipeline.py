"""The composed pipeline: one micro-batch = the reference's whole DAG run.

``run_micro_batch`` executes fetch→fix→augment→broadcast→recon→email against
parquet-backed state, exactly the unit of work the reference's Airflow DAG
performs every 10 minutes (src/dags/service-alerts-pipeline.py:45).  It is a
plain function of (batch DataFrame, state root, sinks), so the same code
runs:

* batch:      ``run_micro_batch(read_sharepoint(...), ...)``
* streaming:  ``run_available_now(stream, lambda df, _: run_micro_batch(df, ...))``

State datasets (all versioned parquet under ``state_root``): silver, gold,
CDC snapshot, sent-email log.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from service_alerts_connector_spark.constants import (
    AUGMENTED_DATASET,
    SANITISED_DATASET,
)
from service_alerts_connector_spark.plans.augmenter import (
    AugmenterConfig,
    augment,
)
from service_alerts_connector_spark.plans.broadcaster import broadcast_feeds
from service_alerts_connector_spark.plans.emailer import (
    EmailConfig,
    pending_emails,
    send_pending,
)
from service_alerts_connector_spark.plans.fixer import fix_alerts
from service_alerts_connector_spark.plans.recon import Notifier, recon
from service_alerts_connector_spark.sources.parquet_io import (
    read_dataset,
    write_dataset,
)

SNAPSHOT_DATASET = "service-alerts.recon-snapshot"
SENTLOG_DATASET = "service-alerts.sent-email-log"


def _try_read(spark: SparkSession, root: str, name: str) -> DataFrame | None:
    try:
        return read_dataset(spark, root, name)
    except FileNotFoundError:
        return None


@dataclass
class PipelineSinks:
    feeds_root: str | None = None
    recon_root: str | None = None
    notifier: Notifier | None = None
    email_transport: Callable | None = None
    email_configs: list[EmailConfig] = field(default_factory=list)


def run_micro_batch(
    bronze: DataFrame,
    state_root: str,
    sinks: PipelineSinks | None = None,
    notifications: DataFrame | None = None,
    augmenter_config: AugmenterConfig | None = None,
    gis_areas: DataFrame | None = None,
    suburb_layer: DataFrame | None = None,
    ward_layer: DataFrame | None = None,
    now: datetime | None = None,
) -> DataFrame:
    """One end-to-end run; returns the new gold DataFrame."""
    spark = bronze.sparkSession
    sinks = sinks or PipelineSinks()
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    # fix: clean + lookup + upsert onto previous silver (ST7)
    prev_silver = _try_read(spark, state_root, SANITISED_DATASET)
    silver = fix_alerts(bronze, notifications, previous_silver=prev_silver)
    write_dataset(silver, state_root, SANITISED_DATASET)
    silver = read_dataset(spark, state_root, SANITISED_DATASET)

    # augment incrementally vs previous gold (ST2-ST5)
    prev_gold = _try_read(spark, state_root, AUGMENTED_DATASET)
    gold = augment(
        silver,
        previous_gold=prev_gold,
        gis_areas=gis_areas,
        suburb_layer=suburb_layer,
        ward_layer=ward_layer,
        config=augmenter_config,
    )
    write_dataset(gold, state_root, AUGMENTED_DATASET)
    gold = read_dataset(spark, state_root, AUGMENTED_DATASET)

    # broadcast the 24 feeds
    if sinks.feeds_root is not None:
        broadcast_feeds(gold, sinks.feeds_root, now=now)

    # recon CDC + notification
    prev_snapshot = _try_read(spark, state_root, SNAPSHOT_DATASET)
    rr = recon(
        gold,
        prev_snapshot,
        out_root=sinks.recon_root,
        notifier=sinks.notifier,
    )

    # email fan-out with durable sent-log (ST6); alerts whose Id existed in
    # the previous snapshot are updates → "Updated Service Alert" subject
    if sinks.email_transport is not None and sinks.email_configs:
        sent_log = _try_read(spark, state_root, SENTLOG_DATASET)
        # cache serving only the per-config email union (pending_emails
        # scans gold once per config); released below once send_pending has
        # eagerly collected (pending_emails must not own the cache — a
        # per-micro-batch cache with no unpersist pins executor storage)
        gold_cached = gold.cache()
        pending = pending_emails(gold_cached, sinks.email_configs, sent_log)
        if prev_snapshot is not None:
            from pyspark.sql import functions as F

            prev_ids = prev_snapshot.select(
                F.col("Id"), F.lit(True).alias("_is_update")
            ).distinct()
            pending = pending.join(prev_ids, "Id", "left").withColumn(
                "_is_update", F.coalesce(F.col("_is_update"), F.lit(False))
            )
        new_log = send_pending(pending, sinks.email_transport)
        gold_cached.unpersist()
        merged_log = (
            new_log
            if sent_log is None
            else sent_log.unionByName(new_log).distinct()
        )
        write_dataset(merged_log, state_root, SENTLOG_DATASET)

    # snapshot write happens LAST: the email join reads prev_snapshot
    # lazily, so its backing files must survive until the sends are done
    write_dataset(rr.new_snapshot, state_root, SNAPSHOT_DATASET)

    return gold
