"""S7/S8 — JSON feed sinks.

The reference serializes each feed as a single records-oriented JSON array
object with ISO dates (ServiceAlertBroadcaster.py:100-114) and, in the recon
hop, one JSON object per alert per API version (alerts-recon.py:50-81).

Feed volumes are small (these are serving artifacts, not data lakes), so the
engine renders rows JVM-side with ``to_json(struct(*))`` — null keys dropped,
ISO timestamps — and brings them to the driver in the pipeline's one collect
of gold, beside the per-window flags.  The per-feed filters and the array
assembly then run on the driver over rows bounded by the city's live
alerts, as the reference's broadcaster filters in memory, and the files are
written there, exactly where an object-store PUT has to happen anyway.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Iterable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def json_record(cols: list[str]) -> Column:
    """One row as a JSON object string: ISO-8601 timestamps, null keys
    dropped (the reference's ``to_json(orient='records', date_format='iso')``
    per-record contract)."""
    return F.to_json(
        F.struct(*cols), {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS"}
    )


def json_array(records: Iterable[str]) -> str:
    """Join rendered records into the feed's JSON array payload."""
    return "[" + ",".join(records) + "]"


def dataframe_to_json_records(df: DataFrame) -> str:
    """Render a (small, already-filtered) DataFrame as a JSON array string
    with ISO-8601 timestamps and nulls stripped."""
    rows = df.select(json_record(df.columns).alias("j")).collect()
    return json_array(r["j"] for r in rows)


def write_feed(records: Iterable[str], out_root: str, rel_path: str) -> str:
    """S7 — write one feed file (local path or mounted object store) from
    its records rendered by ``json_record``."""
    path = Path(out_root) / rel_path
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json_array(records))
    return str(path)


def write_per_alert_objects(
    rows: list[Row],
    columns: list[str],
    out_root: str,
    version_drops: dict[str, list[str]],
    id_col: str = "Id",
    status_col: str = "status",
) -> list[str]:
    """S8 — one JSON object per alert per API version prefix.

    ``version_drops`` maps version prefix → columns to drop for that version
    (reference alerts-recon.py:50-81 deep-copies and deletes fields; the
    engine projects).  Filenames are status-aware and deterministic —
    idempotent re-delivery (ST6).  ``rows`` are the collected changed alerts
    (CDC deltas are small by construction); ``columns`` are the alert
    columns to serialize, in order — any other field of a row is left out.
    """
    written: list[str] = []
    for version, drops in version_drops.items():
        keep = [c for c in columns if c not in drops]
        for row in rows:
            rec = {k: row[k] for k in keep if row[k] is not None}
            name = f"{row[id_col]}.{row[status_col]}.json"
            path = Path(out_root) / version / name
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(rec, default=str))
            written.append(str(path))
    return written
