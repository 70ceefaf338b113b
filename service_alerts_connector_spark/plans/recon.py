"""The recon hop — event-driven CDC fan-out (SURVEY §3.3 step 4).

Reference: an AWS Lambda diffs the new feed against a ``<feed>.prev``
snapshot of (Id, status) pairs, writes one JSON object per changed alert per
API version, publishes an SNS notification for brand-new Ids, and persists
the new snapshot (alerts-recon.py:16-115).

Engine shape: as in the reference, the diff runs in memory.  ``recon`` is a
driver-side function of (collected gold rows, previous snapshot pairs) →
changed rows and notified Ids, with sinks injected; the pipeline reads the
rows from its one collect of gold and the pairs from one collect of the
previous snapshot, and commits ``snapshot(gold)`` as the next one.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Row

from service_alerts_connector_spark.constants import ID_COL
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
    changed: list[Row]          # rows whose (Id, status) pair is new
    notified_ids: list[int]     # brand-new alert Ids sent to the notifier


def snapshot(gold: DataFrame) -> DataFrame:
    """The (Id, status) pairs to persist for the next run.  ``distinct``
    over a single-partition child needs no shuffle: one job, one file."""
    return gold.select(ID_COL, "status").coalesce(1).distinct()


def recon(
    rows: list[Row],
    columns: list[str],
    previous_pairs: set[tuple],
    out_root: str | None = None,
    notifier: Notifier | None = None,
) -> ReconResult:
    """J8 snapshot diff → per-alert JSON objects (S8) + notification (S9).

    ``rows`` are collected gold rows, ``columns`` the gold columns an
    object holds (it lists Id and status first), and ``previous_pairs``
    the previous snapshot's (Id, status) pairs (empty on the first run).
    A row is changed when its pair is not in the previous snapshot; as
    under SQL join semantics, a row with a null Id or a null status never
    is.  A changed row is brand-new when the previous snapshot holds its
    Id under no status: that is the SNS set (status-only changes are
    delivered but not notified — recon.py:83-95).
    """
    seen = {i for i, _ in previous_pairs}
    changed = [
        r
        for r in rows
        if r[ID_COL] is not None
        and r["status"] is not None
        and (r[ID_COL], r["status"]) not in previous_pairs
    ]
    notified = sorted({r[ID_COL] for r in changed if r[ID_COL] not in seen})

    if out_root is not None:
        write_per_alert_objects(
            changed,
            [ID_COL, "status"]
            + [c for c in columns if c not in (ID_COL, "status")],
            out_root,
            VERSION_DROPS,
            id_col=ID_COL,
        )
    if notifier is not None and notified:
        notifier(notified)
    return ReconResult(changed=changed, notified_ids=notified)
