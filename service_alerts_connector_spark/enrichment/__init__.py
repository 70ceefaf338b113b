"""Side-effecting enrichment operators (SURVEY §2.9 X1-X5) — the reference's
irreducibly non-relational stages, with injectable external clients
(deterministic stubs for tests, HTTP clients in production), bounded
retries, and per-row errors instead of process aborts.

Each stage is a per-frame row loop: the augmenter runs it on its collected
work set, and :func:`map_row_loop` runs it as an Arrow-batched
``mapInPandas`` for DataFrame callers.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def map_row_loop(
    df: DataFrame,
    loop: Callable[[pd.DataFrame], tuple[list, ...]],
    id_col: str,
    out: dict[str, str],
) -> DataFrame:
    """``loop`` as a ``mapInPandas`` over ``df``: (id_col long, *out) where
    ``out`` maps each of the loop's output lists to its column name and
    type.  The loop sees one frame per partition, so state it keeps (a
    geocoder's pace) spans the partition."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy("int64"),
                 **dict(zip(out, loop(pdf)))}
            )

    schema = ", ".join(
        [f"`{id_col}` long"] + [f"`{c}` {t}" for c, t in out.items()]
    )
    return df.mapInPandas(run, schema)
