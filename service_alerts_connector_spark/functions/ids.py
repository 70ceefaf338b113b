"""F18 — pinned time and deterministic identifiers.

The reference calls ``Timestamp.now(tz)`` and ``uuid4()`` inline
(ServiceAlertBroadcaster.py:79, ServiceAlertEmailer.py:698-699) — fine for a
single-process batch, but nondeterministic in a distributed engine where a
retried task would mint different values (SURVEY §7(d)).  The engine's rule:

* *time* is pinned once per batch on the driver and passed in as a literal
  (see ``feed_columns(gold, now, ...)``, ``run_micro_batch(now=...)``);
* *identifiers* are content-derived — UUID-shaped sha256 of the business
  key, so retries and re-runs mint the same id.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F


def pinned_now() -> datetime:
    """Batch-pinned wall clock (naive UTC, matching parquet-naive storage)."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def deterministic_uuid(*key_cols: Column) -> Column:
    """UUID-shaped, RFC-4122-lookalike id derived from the business key:
    sha256 → 32 hex chars formatted 8-4-4-4-12.  Stable across retries,
    re-runs, and cluster shapes — the engine's replacement for ``uuid4()``
    wherever the id must be reproducible (delivery keys, artifact names)."""
    h = F.sha2(F.concat_ws("\x1f", *key_cols), 256)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
