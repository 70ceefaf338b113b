"""The recon hop — event-driven CDC fan-out (SURVEY §3.3 step 4).

Reference: an AWS Lambda diffs the new feed against a ``<feed>.prev``
snapshot of (Id, status) pairs, writes one JSON object per changed alert per
API version, publishes an SNS notification for brand-new Ids, and persists
the new snapshot (alerts-recon.py:16-115).

Engine shape: a pure function of (current gold, previous snapshot) →
(changed rows, new snapshot), with sinks injected — runs identically inside
a ``foreachBatch`` (streaming/runner.py) or a batch job.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import ID_COL
from service_alerts_connector_spark.operators.dedup import snapshot_diff
from service_alerts_connector_spark.sources.json_feed import (
    write_per_alert_objects,
)

# Column drops per API version prefix (reference alerts-recon.py:50-81
# deletes version-specific fields from a deep copy; the engine projects).
VERSION_DROPS = {
    "v1": ["geospatial_footprint", "inferred_suburbs", "inferred_wards",
           "area_type", "image_filename"],
    "v1.1": ["area_type", "image_filename"],
    "v1.2": [],
}

Notifier = Callable[[list[int]], None]


@dataclass
class ReconResult:
    changed: DataFrame          # rows whose (Id, status) pair is new
    new_snapshot: DataFrame     # (Id, status) pairs to persist for next run
    notified_ids: list[int]     # brand-new alert Ids sent to the notifier


def recon(
    gold: DataFrame,
    previous_snapshot: DataFrame | None,
    out_root: str | None = None,
    notifier: Notifier | None = None,
    status_col: str = "status",
) -> ReconResult:
    """J8 snapshot diff → per-alert JSON objects (S8) + notification (S9).

    The changed rows are collected once, each flagged ``_is_new`` when its
    Id is absent from the previous snapshot; both sinks read that one
    collect.
    """
    current = gold.select(ID_COL, status_col).distinct()
    changed_keys = snapshot_diff(current, previous_snapshot, [ID_COL, status_col])
    changed = gold.join(changed_keys, [ID_COL, status_col], "left_semi")

    # brand-new = Id absent entirely from the previous snapshot (the SNS set;
    # status-only changes are delivered but not notified — recon.py:83-95).
    # The snapshot may hold several statuses per Id: its Ids are made
    # distinct so the left join cannot duplicate a changed row.  Broadcast
    # by plan, not by AQE: left to AQE, whether the changed rows get
    # shuffled by Id depends on which side finishes first, so the job
    # count varied from run to run.
    if previous_snapshot is None:
        flagged = changed.withColumn("_is_new", F.lit(True))
    else:
        seen = previous_snapshot.select(ID_COL).distinct().withColumn(
            "_seen", F.lit(True)
        )
        flagged = changed.join(F.broadcast(seen), ID_COL, "left").select(
            *changed.columns, F.col("_seen").isNull().alias("_is_new")
        )
    rows = flagged.collect()
    notified = sorted({r[ID_COL] for r in rows if r["_is_new"]})

    if out_root is not None:
        write_per_alert_objects(
            rows,
            changed.columns,
            out_root,
            VERSION_DROPS,
            id_col=ID_COL,
            status_col=status_col,
        )
    if notifier is not None and notified:
        notifier(notified)
    return ReconResult(
        changed=changed, new_snapshot=current, notified_ids=notified
    )
