"""Versioned parquet datasets with retention and a "latest" pointer.

Re-expresses the reference's Minio dataset layout
(ServiceAlertBase.py:98-121 reads, 170-202 writes: timestamped object per
write, ``prune=5`` old versions kept, plus a ``current/`` latest copy) as a
directory convention any object store / HDFS path supports:

    <root>/<dataset>/versions/<utc-timestamp>/   (parquet dir per write)
    <root>/<dataset>/current  -> newest version  (re-written pointer dir)

Retention is pure path management on the driver (tiny listings — never data
jobs).  Each version also holds ``_schema.json``, the schema its data files
were written with (partition columns excluded), written after the write
commits and copied into ``current/`` with it.  Reads pass it to the parquet
reader, which then has no footer to read for schema inference: a read
launches no Spark job.  A version without the file (written before the
sidecar existed, or torn between commit and sidecar) is read by inference.
Spark's readers and ``dataset_files`` skip ``_``-prefixed files.

On a lakehouse deployment the same API would be backed by Delta time travel
+ VACUUM instead; the interface is deliberately storage-agnostic.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


def _dataset_root(root: str, dataset: str) -> Path:
    return Path(root) / dataset


def list_versions(root: str, dataset: str) -> list[str]:
    """Committed versions only: a write interrupted mid-job leaves a
    version directory WITHOUT Spark's ``_SUCCESS`` commit marker, and a
    restarted ingest must never pin reads to (or merge from) that torn
    state — uncommitted directories are invisible here and get cleaned up
    by the next successful ``write_dataset``'s prune pass."""
    vdir = _dataset_root(root, dataset) / "versions"
    if not vdir.exists():
        return []
    return sorted(
        p.name
        for p in vdir.iterdir()
        if p.is_dir() and (p / "_SUCCESS").exists()
    )


def persist_or_validate_store_param(
    root: str,
    dataset: str,
    filename: str,
    param: str,
    value: int,
    consequence: str,
) -> None:
    """Guard an IRREVERSIBLE store parameter (sample-store ``k``,
    novelty-shingle ``k``): persist it beside the store on first ingest
    (atomic tmp+rename), re-validate on every later one, and raise when
    a store has committed versions but the sidecar is missing —
    re-seeding with the CALLER's value would silently defeat the guard
    exactly when it matters (partial copy/cleanup lost the record).

    ``consequence`` finishes the mismatch message: what ingesting with
    a different value would silently do to THIS store's semantics.
    """
    sidecar = _dataset_root(root, dataset) / filename
    if sidecar.exists():
        stored = int(sidecar.read_text().strip())
        if stored != value:
            raise ValueError(
                f"{dataset} store at {root!r} was built with "
                f"{param}={stored}; ingesting with {param}={value} would "
                f"{consequence} — use the original {param} or rebuild "
                "the store"
            )
    elif list_versions(root, dataset):
        raise ValueError(
            f"{dataset} store at {root!r} has committed versions but no "
            f"{filename} parameter record — restore the sidecar (the "
            "value the store was built with) or rebuild the store"
        )
    else:
        sidecar.parent.mkdir(parents=True, exist_ok=True)
        tmp = sidecar.with_suffix(sidecar.suffix + ".tmp")
        tmp.write_text(str(value))
        os.replace(tmp, sidecar)


def write_dataset(
    df: DataFrame,
    root: str,
    dataset: str,
    prune: int = 5,
    latest_copy: bool = True,
    partition_by: list[str] | None = None,
    timestamp: datetime | None = None,
) -> str:
    """S6 — write a new version, prune old ones, refresh the latest copy.

    ``partition_by`` enables hive-style partitioning for the big tables
    (e.g. gold by publish_date month) so serving queries partition-prune.
    """
    ts = (timestamp or datetime.now(timezone.utc)).strftime("%Y%m%dT%H%M%S%f")
    base = _dataset_root(root, dataset)
    version_path = base / "versions" / ts
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(version_path))
    # partition columns come back from the directory names, typed as
    # inference types them, so the sidecar holds the data columns only
    data_schema = StructType(
        [f for f in df.schema.fields if f.name not in (partition_by or ())]
    )
    tmp = version_path / (SCHEMA_FILE + ".tmp")
    tmp.write_text(data_schema.json())
    os.replace(tmp, version_path / SCHEMA_FILE)

    versions = list_versions(root, dataset)
    for stale in versions[:-prune] if prune else []:
        shutil.rmtree(base / "versions" / stale, ignore_errors=True)
    # sweep torn directories from interrupted writes (no _SUCCESS — never
    # listed, so the retention loop above can't reach them); the version
    # just written is committed and always in `versions`
    for p in (base / "versions").iterdir():
        if p.is_dir() and p.name not in versions and p.name != ts:
            shutil.rmtree(p, ignore_errors=True)

    if latest_copy:
        current = base / "current"
        tmp = base / "current.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        shutil.copytree(version_path, tmp)
        if current.exists():
            shutil.rmtree(current)
        tmp.rename(current)
    return str(version_path)


def read_dataset(
    spark: SparkSession, root: str, dataset: str, version: str | None = None
) -> DataFrame:
    """S2 — read the latest (or a pinned) version of a dataset; with the
    version's schema sidecar this launches no Spark job."""
    base = _dataset_root(root, dataset)
    if version is not None:
        path = base / "versions" / version
    elif (base / "current").exists():
        path = base / "current"
    else:
        versions = list_versions(root, dataset)
        if not versions:
            raise FileNotFoundError(f"no versions of {dataset} under {root}")
        path = base / "versions" / versions[-1]
    reader = spark.read
    if (path / SCHEMA_FILE).exists():
        reader = reader.schema(
            StructType.fromJson(json.loads((path / SCHEMA_FILE).read_text()))
        )
    return reader.parquet(str(path))


def dataset_files(root: str, dataset: str, version: str | None = None) -> int:
    """Number of parquet data files in a committed version (default:
    newest) — the statistic the compaction policy reads."""
    base = _dataset_root(root, dataset)
    if version is None:
        versions = list_versions(root, dataset)
        if not versions:
            raise FileNotFoundError(f"no versions of {dataset} under {root}")
        version = versions[-1]
    vdir = base / "versions" / version
    return sum(
        1
        for p in vdir.rglob("*.parquet")
        if p.is_file() and p.name.startswith("part-")
    )


def compact_dataset(
    spark: SparkSession,
    root: str,
    dataset: str,
    target_files: int = 1,
    shuffle: bool = False,
    prune: int = 5,
    sort_by: list[str] | None = None,
) -> str:
    """Small-file compaction for a versioned dataset: rewrite the newest
    committed version into ``target_files`` files AS A NEW VERSION.

    Incremental ingest loops append a version per micro-batch, so a
    long-running store accumulates versions written at batch parallelism
    — the classic small-file problem that throttles scan throughput at
    scale (every file costs a task + footer read).  Compaction here is
    just ``read pinned → coalesce → write_dataset``, which inherits the
    store's whole crash discipline for free: the rewrite lands under a
    fresh timestamp with its own ``_SUCCESS`` (a crash mid-compaction
    leaves a torn dir that ``list_versions`` never surfaces and the next
    write sweeps), the data files of the old version are NEVER mutated
    in place, and retention prunes history as usual.  ``coalesce`` keeps
    the rewrite shuffle-free (narrow merge of input splits); pass
    ``shuffle=True`` to rebalance skewed file sizes at the cost of one
    exchange.

    ``sort_by`` re-CLUSTERS while compacting (the OPTIMIZE ... ZORDER /
    cluster-on-write maintenance pattern): rows range-partition across
    the ``target_files`` files and sort within each, so parquet footer
    min/max zones become tight and disjoint on the sort columns — a
    range predicate then prunes to ~1 file instead of scanning all
    (measured in tests/test_range_layout.py).  Uses Spark's sampled
    ``repartitionByRange`` (fine for maintenance — the DATA is identical
    whatever the sampled bounds); ``layout.write_range_partitioned`` is
    the deterministic-bounds alternative when reproducible file
    boundaries matter.

    SINGLE WRITER per dataset: compaction pins the newest version at
    entry and commits the rewrite as the new newest — an ingest that
    commits concurrently would be silently superseded by the stale
    snapshot (lost update).  The ingest loops satisfy this by running
    compaction inline between batches (streaming/*_stream.py); the
    re-check below turns an accidental concurrent commit into a loud
    abort instead of dropped data (best-effort — it narrows the race to
    the rewrite job itself, it cannot eliminate it without a real
    transaction log, which is the Delta/Iceberg swap)."""
    versions = list_versions(root, dataset)
    if not versions:
        raise FileNotFoundError(f"no versions of {dataset} under {root}")
    pinned = versions[-1]
    df = read_dataset(spark, root, dataset, version=pinned)
    if sort_by:
        df = df.repartitionByRange(target_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    elif shuffle:
        df = df.repartition(target_files)
    else:
        df = df.coalesce(target_files)
    latest = list_versions(root, dataset)[-1]
    if latest != pinned:
        raise RuntimeError(
            f"compact_dataset({dataset!r}): version {latest} was committed "
            f"after the compaction pinned {pinned} — aborting the rewrite "
            "so the newer ingest is not superseded by a stale snapshot "
            "(compaction requires a single writer per dataset)"
        )
    out = write_dataset(df, root, dataset, prune=prune)
    # Post-write re-check: an ingest that committed DURING the rewrite job
    # itself slipped past the pre-check above.  Its version is now
    # shadowed (or superseded) by the compacted snapshot of the OLDER
    # pinned state — raise so the lost update is detected instead of
    # silent.  The compacted version stays committed (it is data-identical
    # to `pinned`, just fewer files), and recovery is cheap: the intruding
    # batch's ledger rows live only in its own version, not in the
    # compacted latest, so an exactly-once ingest loop that redelivers the
    # batch converges (the ledger in the latest snapshot does not name it).
    written = Path(out).name
    intruders = [
        v
        for v in list_versions(root, dataset)
        if v > pinned and v != written
    ]
    if intruders:
        raise RuntimeError(
            f"compact_dataset({dataset!r}): version(s) {intruders} were "
            f"committed while the rewrite of {pinned} ran — the compacted "
            f"version {out} supersedes them with a stale snapshot; "
            "redeliver the lost batch(es) (single-writer contract violated)"
        )
    return out


def compact_if_due(
    spark: SparkSession,
    root: str,
    dataset: str,
    batch_seq: int,
    every: int | None,
    target_files: int = 1,
    sort_by: list[str] | None = None,
) -> bool:
    """Loop-integrated compaction policy: rewrite the newest version of
    ``dataset`` after every ``every``-th committed micro-batch.

    An ingest loop appends one version per batch, each written at batch
    parallelism — so the version the NEXT ingest reads accumulates small
    files (task + footer cost per file at scale).  Firing
    ``compact_dataset`` on ``batch_seq % every == every - 1`` (0-based
    engine batch ids: every ``every``-th batch, starting with the
    ``every``-th) bounds the store's file count at ~``every`` ×
    batch-parallelism between compactions for a flat amortized cost of
    one bounded rewrite per ``every`` ingests.

    No-op (returns False) when ``every`` is falsy, the cadence doesn't
    hit, or the dataset has no committed versions yet.  Safe inside a
    single-writer ingest loop by construction: it runs BETWEEN batches on
    the loop's own thread, so no ingest can commit concurrently — the
    exact requirement ``compact_dataset`` documents.  Crash-safety is
    inherited: a compaction killed mid-write leaves a torn dir the next
    write sweeps, and the store keeps serving the pre-compaction version
    (pinned in tests/test_stats_stream.py's mid-loop chaos test)."""
    if not every or batch_seq % every != every - 1:
        return False
    if not list_versions(root, dataset):
        return False
    compact_dataset(
        spark, root, dataset, target_files=target_files, sort_by=sort_by
    )
    return True
