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

The sinks read one collect of gold, which carries every feed's flags and
renders and every email config's matches beside gold's columns, plus the
previous snapshot's (Id, status) pairs and, when emailing, the sent log's
keys.  The driver thus holds every live alert of the city on each batch:
all of gold's columns when feeds, recon objects or emails are written,
only Id and status otherwise.  The feeds, recon's diff and the email fan-out then run on the
driver over those rows, as the reference's broadcaster, recon Lambda and
emailer do in memory.  Both state commits are shuffle-free ``distinct``s
over one partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from service_alerts_connector_spark.constants import (
    AUGMENTED_DATASET,
    ID_COL,
    SANITISED_DATASET,
)
from service_alerts_connector_spark.operators.feeds import (
    all_feed_configs,
    feed_columns,
)
from service_alerts_connector_spark.plans.augmenter import (
    AugmenterConfig,
    augment,
)
from service_alerts_connector_spark.plans.broadcaster import broadcast_feeds
from service_alerts_connector_spark.plans.emailer import (
    EmailConfig,
    email_matches,
    merged_sent_log,
    pending_emails,
    send_pending,
)
from service_alerts_connector_spark.plans.fixer import fix_alerts
from service_alerts_connector_spark.plans.recon import (
    Notifier,
    recon,
    snapshot,
)
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

    # the sinks' one collect of gold: every feed's window flags and
    # rendered records, every email config's matches, and gold's columns
    # where the feed filter, recon's objects or the emails read them
    # (recon's diff alone reads Id and status)
    emailing = sinks.email_transport is not None and bool(sinks.email_configs)
    full = sinks.feeds_root is not None or sinks.recon_root is not None or emailing
    extra = []
    if sinks.feeds_root is not None:
        extra += feed_columns(gold, now, all_feed_configs())
    if emailing:
        extra.append(email_matches(sinks.email_configs))
    rows = gold.select(*(["*"] if full else [ID_COL, "status"]), *extra).collect()

    # broadcast the 24 feeds
    if sinks.feeds_root is not None:
        broadcast_feeds(rows, sinks.feeds_root)

    # recon CDC + notification, against the previous snapshot's pairs
    prev_snapshot = _try_read(spark, state_root, SNAPSHOT_DATASET)
    previous = (
        set()
        if prev_snapshot is None
        else set(map(tuple, prev_snapshot.select(ID_COL, "status").collect()))
    )
    recon(
        rows,
        gold.columns,
        previous,
        out_root=sinks.recon_root,
        notifier=sinks.notifier,
    )

    # email fan-out with durable sent-log (ST6); alerts whose Id existed in
    # the previous snapshot are updates → "Updated Service Alert" subject
    if emailing:
        sent_log = _try_read(spark, state_root, SENTLOG_DATASET)
        sent_keys = (
            set()
            if sent_log is None
            else {r[0] for r in sent_log.select("email_key").collect()}
        )
        pending = pending_emails(
            rows, gold.columns, sent_keys, {i for i, _ in previous}
        )
        new_log = send_pending(spark, pending, sinks.email_transport)
        write_dataset(
            merged_sent_log(sent_log, new_log), state_root, SENTLOG_DATASET
        )

    # the snapshot commits LAST, after the sent log: a crash between the
    # two commits leaves the old snapshot, so the next batch re-delivers
    # recon's objects and notifications (at least once) while the sent log
    # already holds this batch's emails; the other order would resend them
    # as updates
    write_dataset(snapshot(gold), state_root, SNAPSHOT_DATASET)

    return gold
