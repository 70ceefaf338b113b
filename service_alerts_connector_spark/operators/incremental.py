"""Incremental checksum cache — the engine's core incremental operator.

Re-expresses the reference's hand-rolled change detection
(ServiceAlertBase.py:123-166; SURVEY J2, ST2-ST5, ST8) as set-based
anti/semi joins:

* ``new      = input  ⟕anti  cache  on (Id, InputChecksum)``  — changed/new rows
* ``kept     = cache  ⟕semi  input  on (Id, InputChecksum)``  — unchanged rows
                                                                to pass through
* admission cap: newest-N by an explicit recency column (the reference's
  ``tail(20)`` relies on positional order, which Spark doesn't have — SURVEY
  W4/§7(c))
* salt bump (ST8) invalidates every checksum because the salt is folded into
  the md5 expression.

Scale: both joins key on (Id, checksum).  The cache side is the previous
*output* — typically much smaller than the input scan at 100 TB, so Spark's
AQE converts these to broadcast anti/semi joins automatically; when both
sides are huge they degrade gracefully to shuffle hash joins on the same key,
which co-partitions `new`/`kept` for the union that follows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import CHECKSUM_COL, ID_COL
from service_alerts_connector_spark.functions.checksum import row_checksum


@dataclass(frozen=True)
class IncrementalSplit:
    """Result of an incremental comparison against the previous output."""

    new: DataFrame  # rows to (re)process
    kept: DataFrame  # cached rows still valid upstream, passed through


def with_checksum(
    df: DataFrame,
    cols: list[str] | None = None,
    salt: str = "",
    skip_ids: frozenset[int] = frozenset(),
    checksum_col: str = CHECKSUM_COL,
    id_col: str = ID_COL,
) -> DataFrame:
    """Attach the salted row checksum (F9).

    ``skip_ids`` blanks the checksum for specific keys, forcing them to look
    "changed" on the next comparison (reference ServiceAlertBase.py:15-18, 62
    — the SKIP_SET flush hook, P9).
    """
    cols = cols or [c for c in df.columns if c not in (checksum_col,)]
    cs = row_checksum(df, cols, salt)
    if skip_ids:
        cs = F.when(F.col(id_col).isin(*skip_ids), F.lit("")).otherwise(cs)
    return df.withColumn(checksum_col, cs)


def split_incremental(
    input_df: DataFrame,
    cache_df: DataFrame | None,
    limit: int | None = None,
    order_col: str = "_ingest_seq",
    checksum_col: str = CHECKSUM_COL,
    id_col: str = ID_COL,
) -> IncrementalSplit:
    """ST2/ST3 — split input into changed-vs-cached using (Id, checksum).

    ``limit`` is the admission cap (reference ``data_size_limit=20`` +
    ``tail()``, ServiceAlertBase.py:98, 155-156): keep only the *most recent*
    ``limit`` changed rows by ``order_col``; rows beyond the cap are dropped
    from this batch (they re-qualify next run, exactly like the reference).
    """
    if cache_df is None:
        new = input_df
        kept = None
    else:
        keys = [id_col, checksum_col]
        new = input_df.join(cache_df.select(*keys), keys, "left_anti")
        kept = cache_df.join(input_df.select(*keys), keys, "left_semi")
    if limit is not None:
        # id tiebreak: equal order_col values (same-poll ingests) must admit
        # the same rows on any partitioning — repo determinism rule, every
        # top-k carries a key tiebreak (SCALE.md "Determinism at scale")
        new = new.orderBy(F.desc(order_col), F.desc(id_col)).limit(limit)
    return IncrementalSplit(new=new, kept=kept)


def merge_processed(
    processed: DataFrame, kept: DataFrame | None
) -> DataFrame:
    """ST3 — output = processed(new) ∪ unchanged-from-cache.

    Reference ServiceAlertBase.py:180-185 (union-on-write).  unionByName with
    allowMissingColumns tolerates enrichment columns that only the processed
    side has yet.
    """
    if kept is None:
        return processed
    return processed.unionByName(kept, allowMissingColumns=True)


def backfill_sample(
    kept: DataFrame,
    unfinished_predicate: str,
    budget: int,
    order_col: str = "publish_date",
    seed: int = 42,
) -> DataFrame:
    """ST5 — ≤ ``budget`` cached rows that still lack enrichment (e.g. null
    tweet), to pull back into the work set.

    Reference ServiceAlertAugmenter.py:546-570 (``sort_values(by=
    publish_date).tail(n*2)`` — SURVEY W2): take the 2×n *most recent*
    unfinished cache rows, sample n of them.  The reference's
    ``DataFrame.sample`` is unseeded; the engine seeds it for reproducibility
    (SURVEY §7(d)).  Collect the sample once and drop its Ids from the cache
    side, so the work set and the cache see the same draw.
    """
    return (
        kept.filter(unfinished_predicate)
        .orderBy(F.desc(order_col))
        .limit(budget * 2)
        .orderBy(F.rand(seed))
        .limit(budget)
    )
