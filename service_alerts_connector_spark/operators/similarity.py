"""Similarity search over embedding columns (array<float>).

Tiers:

* ``cosine_topk``        — brute-force cosine against a query vector as a
                           pure expression plan (zip_with/aggregate fold —
                           JVM-side, codegen'd).  The correctness baseline.
* ``bucketed_cosine_topk`` — random-hyperplane sign-LSH bucketing with
                           Hamming-distance multi-probe: probe the query's
                           bucket plus its single-bit-flip neighbours.  The
                           scale path: at 100 TB the table is written
                           bucketed/partitioned by this key, so a query
                           prunes to ``1 + n_planes`` buckets' files.
* ``embedding_near_dup_pairs`` — banded sign-LSH candidate generation
                           (MinHash-LSH shape: explode band buckets, one
                           groupBy, capped sorted-id pair expansion) verified
                           by exact cosine.
* ``cosine_topk_mapinpandas`` — Arrow-batched NumPy matmul variant of the
                           brute force (per-partition partial top-k, then
                           global merge) — the pattern to swap in when the
                           embedding dimension/corpus makes expression folds
                           uncompetitive.

Determinism and engine portability:

* Cosines are rounded to 6 dp before ranking, with the id as tiebreak.
* Hyperplanes are pseudo-random but *derived from md5 of (seed, plane, dim)*
  and rounded to 6 dp, so an oracle in any engine regenerates the identical
  constants (see ``seeded_hyperplanes``).
* Projections are built as explicit left-associated sums — the same IEEE
  add/mul sequence an oracle's left-associated SQL ``v[1]*c1 + v[2]*c2 + …``
  performs — so bucket *signs* are bit-identical across engines, never
  at the mercy of an engine's summation order.

Recall (documented approximation): sign-LSH with ``P`` planes split into
``B`` bands of ``r = P/B`` bits has pair-recall ``1 - (1 - p^r)^B`` where
``p = 1 - acos(cos_sim)/pi``.  The defaults (32 planes, 4 bands of 8) give
~0.75 recall at cosine 0.9 while pruning a random-pair space by ~B/2^r =
1/64.  Exact duplicates (cosine 1.0) are always recalled.  Raise ``n_bands``
(narrower bands) for higher recall at higher candidate cost; raise
``n_planes`` with band width held for both.  The brute-force tier is the
recall-1.0 baseline.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _dlit(x: float) -> str:
    """A double literal for SQL text: repr() is the shortest round-trip
    decimal and Spark's parser reads the D-suffixed form back to the
    identical IEEE double."""
    return f"{float(x)!r}D"


def _array_dsql(vec: "Sequence[float]") -> str:
    return "array(" + ",".join(_dlit(x) for x in vec) + ")"


def _dot_sql(a: str, b: str) -> str:
    """``_dot`` as SQL text — the same zip_with/aggregate left fold, so
    the float op sequence (and hence every rounded cosine) is identical;
    one parsed string instead of ~60 py4j Column calls (the literal
    query array alone was 64 round trips)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x)"
    )


def with_cosine(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    out_col: str = "cos",
) -> DataFrame:
    """Attach round(cosine(vec, query), 6)."""
    q = _array_dsql(query_vec)
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    return df.withColumn(
        out_col,
        F.expr(
            f"round({_dot_sql(v, q)} /"
            f" (SQRT({_dot_sql(v, v)}) * SQRT({_dot_sql(q, q)})), 6)"
        ),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k (TakeOrderedAndProject — each partition keeps
    k candidates; no global sort materialization)."""
    return (
        with_cosine(df, query_vec, vec_col)
        .select(F.col(id_col), F.col("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# A plane is a sparse list of (dim_index, sign) with sign in {+1, -1}.
SparsePlane = Sequence[tuple[int, int]]


def seeded_hyperplanes(
    n_planes: int, dim: int, seed: int = 7, nnz: int | None = None
) -> list[list[tuple[int, int]]]:
    """Deterministic *sparse ±1* random hyperplanes (database-friendly
    random projections, Achlioptas 2003): plane p touches the ``nnz`` dims
    with the lowest ``md5(f"hp:{seed}:{p}:{d}")`` digest, each with an
    md5-derived sign.  Engine-portable by construction — any oracle
    regenerates identical planes from the recipe, the projection is a short
    exact ±element sum (no float literals), and the per-plane expression is
    ``nnz`` add/subs, so 32 banded planes stay inside whole-stage codegen's
    64 KB method limit — PROVIDED the double-cast vector is materialized in
    a projection first (callers here all do): inlining the cast repeats it
    under every element_at and the generated method overflows, silently
    degrading the bucket stage to interpreted eval (measured 1.4× slower
    end-to-end at sf0.1).  A dense 64-dim plane matrix overflows
    regardless.  Sparse sign projections approximate the
    1 - θ/π collision law of dense Gaussian planes; exact duplicates always
    collide.  The recall tests measure the approximation."""
    nnz = nnz if nnz is not None else max(4, dim // 8)
    planes: list[list[tuple[int, int]]] = []
    for p in range(n_planes):
        scored = sorted(
            (hashlib.md5(f"hp:{seed}:{p}:{d}".encode()).hexdigest(), d)
            for d in range(dim)
        )
        plane = sorted(
            (d, 1 if int(h[-1], 16) % 2 == 0 else -1) for h, d in scored[:nnz]
        )
        planes.append(plane)
    return planes


def projection_expr(vec_col: Column, plane: SparsePlane) -> Column:
    """<vec, plane> as an explicit left-associated ± sum in ascending dim
    order — the identical IEEE op sequence an oracle's left-associated
    ``±v[d1] ± v[d2] ± …`` performs, so sign decisions are bit-portable."""
    e: Column | None = None
    for d, s in plane:
        term = F.element_at(vec_col, d + 1)
        if e is None:
            e = term if s > 0 else -term
        else:
            e = (e + term) if s > 0 else (e - term)
    assert e is not None
    return e


def projection_sql(vec_sql: str, plane: SparsePlane) -> str:
    """``projection_expr`` as a SQL fragment: the explicitly parenthesized
    left-associated ± chain parses to the identical expression tree, but
    the whole string costs ONE py4j round trip instead of ~4 per term —
    Column-object construction of the 32-plane banding measured 2.0 s of
    pure driver/py4j time per query build (guide §4: the Python boundary
    is also the *driver's* expression-construction boundary)."""
    e = ""
    for d, s in plane:
        term = f"element_at({vec_sql}, {d + 1})"
        if not e:
            e = term if s > 0 else f"(- {term})"
        else:
            e = f"({e} + {term})" if s > 0 else f"({e} - {term})"
    assert e
    return e


def _band_bucket_sql(vec_sql: str, planes, b: int, r: int) -> str:
    """One band's packed sign-bucket as a SQL fragment (bit i ← plane
    b*r+i), mirroring the Column construction in ``banded_bucket_cols``:
    left-associated sum of CASE terms."""
    total = ""
    for i in range(r):
        bit = (
            f"CASE WHEN ({projection_sql(vec_sql, planes[b * r + i])}) > 0"
            f" THEN {2 ** i} ELSE 0 END"
        )
        total = bit if not total else f"({total} + {bit})"
    assert total
    return total


def hyperplane_bucket(vec_col: Column, planes: Sequence[SparsePlane]) -> Column:
    """Sign-LSH bucket id: bit j (weight 2**j) is set iff <vec, plane_j> > 0."""
    total: Column | None = None
    for j, plane in enumerate(planes):
        bit = F.when(projection_expr(vec_col, plane) > 0, F.lit(2**j)).otherwise(
            F.lit(0)
        )
        total = bit if total is None else total + bit
    assert total is not None
    return total


def query_bucket(query_vec: Sequence[float], planes: Sequence[SparsePlane]) -> int:
    """Driver-side bucket of a literal query vector — the same left-assoc
    float arithmetic as ``projection_expr`` so the probe set matches."""
    bits = 0
    for j, plane in enumerate(planes):
        acc: float | None = None
        for d, s in plane:
            term = float(query_vec[d])
            if acc is None:
                acc = term if s > 0 else -term
            else:
                acc = (acc + term) if s > 0 else (acc - term)
        assert acc is not None
        if acc > 0:
            bits += 2**j
    return bits


def bucketed_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
    hamming: int = 1,
) -> DataFrame:
    """ANN: restrict the scan to the query's random-hyperplane sign-LSH
    bucket plus (``hamming=1`` multi-probe) its single-bit-flip neighbours,
    then exact cosine top-k within the probed set.

    With the table written partitioned by ``bucket`` this is a
    partition-pruned scan of ``(1 + n_planes)/2**n_planes`` of the data
    (9/256 at the default 8 planes).  Multi-probe recovers most of the
    recall lost to near-zero projections flipping sign (the classic
    single-bucket sign-LSH failure mode).  ``n_planes`` should scale with
    corpus size — log2(n / target_bucket_rows); 8 suits the sf test tables,
    16–32 a 100 TB corpus."""
    dim = len(query_vec)
    planes = seeded_hyperplanes(n_planes, dim, seed)
    qb = query_bucket(query_vec, planes)
    probes = [qb] if hamming == 0 else [qb] + [qb ^ (1 << j) for j in range(n_planes)]
    casted = df.withColumn("_vd", F.col(vec_col).cast("array<double>"))
    bucketed = (
        # one-expr SQL build (see projection_sql): 32 planes as a single
        # parsed string instead of ~1000 py4j Column ops
        casted.withColumn(
            "bucket",
            F.expr(
                " + ".join(
                    f"(CASE WHEN ({projection_sql('_vd', p)}) > 0"
                    f" THEN {2 ** j} ELSE 0 END)"
                    for j, p in enumerate(planes)
                )
            ),
        )
        .where(F.col("bucket").isin(probes))
        .drop("_vd")
    )
    return cosine_topk(bucketed, query_vec, k, vec_col, id_col)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF: assign each vector to its nearest centroid (broadcast list of
    centroids, expression-only distance argmin).  At scale the table is
    written partitioned by ``ivf_cell`` so probes read only n_probe cells."""
    v = F.col(vec_col).cast("array<double>")
    best_cell = None
    best_dist = None
    for ci, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
        diff = F.zip_with(v, carr, lambda x, y: (x - y) * (x - y))
        d = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
        if best_cell is None:
            best_cell, best_dist = F.lit(ci), d
        else:
            cond = d < best_dist
            best_cell = F.when(cond, F.lit(ci)).otherwise(best_cell)
            best_dist = F.when(cond, d).otherwise(best_dist)
    return df.withColumn("ivf_cell", best_cell)


def train_centroids_kmeanspp_lite(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 256,
    iterations: int = 2,
) -> list[list[float]]:
    """Deterministic lite k-means for IVF cells: seed with the k
    lowest-id sampled vectors, refine with ``iterations`` Lloyd steps
    computed as DataFrame aggregations (mean per cell).  Deterministic by
    construction (no RNG) — good enough cells for inverted-file pruning;
    a production index would train offline with MLlib KMeans."""
    seed_rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    centroids = [
        [float(x) for x in r[vec_col]] for r in seed_rows[:k]
    ]
    work = df.select(id_col, vec_col).orderBy(id_col).limit(sample)
    for _ in range(iterations):
        assigned = ivf_assign(work, centroids, vec_col)
        dim = len(centroids[0])
        means = assigned.groupBy("ivf_cell").agg(
            *[
                F.avg(F.col(vec_col).cast("array<double>")[i]).alias(f"c{i}")
                for i in range(dim)
            ]
        )
        got = {
            r["ivf_cell"]: [r[f"c{i}"] for i in range(dim)]
            for r in means.collect()
        }
        centroids = [got.get(ci, centroids[ci]) for ci in range(k)]
    return centroids


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: exact cosine top-k over only the ``n_probe`` cells whose
    centroids are nearest the query — scanning ~n_probe/k of the data."""
    q = query_vec
    dists = [
        (ci, sum((float(a) - float(b)) ** 2 for a, b in zip(c, q)))
        for ci, c in enumerate(centroids)
    ]
    probe_cells = [ci for ci, _ in sorted(dists, key=lambda t: t[1])[:n_probe]]
    assigned = ivf_assign(df, centroids, vec_col)
    candidates = assigned.where(F.col("ivf_cell").isin(probe_cells))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def batch_cosine_topk(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact cosine top-k for MANY queries in ONE corpus scan — the
    serving shape a retrieval stage actually runs (a microbatch of
    queries against the corpus), not a driver round-trip per query.

    The query batch is an inline literal array: each corpus row explodes
    into |Q| scored rows (|Q| small — tens), cosine folds as expressions.
    The per-query top-k uses the salted two-phase prune (same shape as
    ``kmv_distinct``): phase 1 keeps k per (query, salt-from-id) so no
    sort partition ever sees more than corpus/salt_buckets rows, phase 2
    ranks the surviving salt_buckets×k rows per query — an exact prune,
    never a corpus-sized window group.

    Output: (query_id, vec_id, cos) with ≤k rows per query, ordered by
    (query_id, cos desc, vec_id).
    """
    qrows = F.array(
        *[
            F.struct(
                F.lit(int(qid)).alias("query_id"),
                F.array(*[F.lit(float(x)) for x in vec])
                .cast("array<double>")
                .alias("qv"),
            )
            for qid, vec in queries
        ]
    )
    casted = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vd")
    ).withColumn("_vn", _norm(F.col("_vd")))
    exploded = casted.select(
        id_col, "_vd", "_vn", F.explode(qrows).alias("_q")
    )
    cos = F.round(
        _dot(F.col("_vd"), F.col("_q.qv"))
        / (F.col("_vn") * _norm(F.col("_q.qv"))),
        6,
    )
    scored = exploded.select(
        F.col("_q.query_id").alias("query_id"), F.col(id_col), cos.alias("cos")
    )
    salt = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 25, 4), 16, 10
        ).cast("long")
        % salt_buckets
    )
    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("cos"), F.asc(id_col)
    )
    pruned = (
        scored.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_salt", "_rn")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.desc("cos"), F.asc(id_col))
    )


def train_pq_codebooks(
    df: DataFrame,
    n_sub: int = 8,
    k_cent: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 256,
    iterations: int = 3,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: split the dimension
    into ``n_sub`` subspaces and run a lite k-means per subspace on the
    lowest-id ``sample`` vectors (driver-side NumPy; same bounded-sample
    discipline as ``train_centroids_kmeanspp_lite`` — no RNG, so retrains
    reproduce bit-identical codebooks).  A production index trains
    offline (MLlib / faiss) and ships codebooks the same way: a tiny
    broadcast list."""
    import numpy as np

    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    x = np.array([[float(v) for v in r[vec_col]] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    dsub = dim // n_sub
    books = []
    for s in range(n_sub):
        xs = x[:, s * dsub : (s + 1) * dsub]
        c = xs[:k_cent].copy()
        for _ in range(iterations):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(k_cent):
                if (assign == j).any():
                    c[j] = xs[assign == j].mean(0)
        books.append(c.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as ``n_sub`` centroid ids — with 16 centroids a
    64-dim float32 vector compresses 256 B → 8 nibbles (~32×), which is
    what lets a 10⁹-vector index live in cluster RAM.  NumPy per Arrow
    batch (narrow, zero shuffle); output (id, pq_codes array<int>)."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), len(books)), dtype=np.int32)
            for s, c in enumerate(books):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
                codes[:, s] = d2.argmin(1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pq_codes": list(codes.tolist())}
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, f"{id_col} long, pq_codes array<int>"
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per subspace precompute
    LUT[s][c] = <query_s, centroid_c> and the centroid norms, then a
    candidate's approximate cosine is pure table lookup — the float
    vectors are never touched at query time.  Per-partition partial top-k
    → global merge (same contract as ``cosine_topk_mapinpandas``)."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    q = np.asarray(query_vec, dtype=np.float64)
    dsub = books[0].shape[1]
    lut = np.stack(
        [books[s] @ q[s * dsub : (s + 1) * dsub] for s in range(len(books))]
    )  # (n_sub, k_cent) dot tables
    n2 = np.stack([(b * b).sum(1) for b in books])  # centroid norm² tables
    qn = float(np.sqrt((q * q).sum()))
    sub_idx = np.arange(len(books))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            dots = lut[sub_idx, codes].sum(1)
            norms = np.sqrt(n2[sub_idx, codes].sum(1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round(dots / (norms * qn), 6)
            cand = pd.DataFrame({id_col: pdf[id_col], "pq_cos": cos}).dropna()
            best = cand if best is None else pd.concat([best, cand])
            best = best.sort_values(
                ["pq_cos", id_col], ascending=[False, True]
            ).head(k)
        if best is not None:
            yield best

    partials = encoded.select(id_col, "pq_codes").mapInPandas(
        part, f"{id_col} long, pq_cos double"
    )
    return partials.orderBy(F.desc("pq_cos"), F.asc(id_col)).limit(k)


def banded_bucket_cols(
    vec_col: Column | str,
    planes: Sequence[Sequence[float]],
    n_bands: int,
) -> list[Column]:
    """One sign-LSH bucket id per band: band b packs the signs of planes
    [b*r, (b+1)*r) into an int (bit i of the band ← plane b*r+i)."""
    r = len(planes) // n_bands
    if isinstance(vec_col, str):
        # SQL fast path (one F.expr round trip per band instead of ~130
        # Column-op round trips): parses to the identical tree — the
        # parenthesization mirrors the Column chain's associativity, and
        # `bit > 0` / CASE literals analyze to the same promoted types.
        return [
            F.expr(_band_bucket_sql(vec_col, planes, b, r))
            for b in range(n_bands)
        ]
    out = []
    for b in range(n_bands):
        total: Column | None = None
        for i in range(r):
            bit = F.when(
                projection_expr(vec_col, planes[b * r + i]) > 0, F.lit(2**i)
            ).otherwise(F.lit(0))
            total = bit if total is None else total + bit
        assert total is not None
        out.append(total)
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 10_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup detection: banded random-hyperplane
    sign-LSH candidates (pairs sharing ≥1 band bucket), verified by exact
    cosine ≥ threshold.

    MinHash-LSH shape, one shuffle for candidate generation: explode each
    id into its ``n_bands`` (band, bucket) cells, groupBy cell collecting a
    *sorted, capped* id array, expand (a < b) pairs per cell with an
    expression (no recomputing self-join), distinct, then join the vectors
    back for exact verification (AQE broadcasts the lookup when the table
    is small; at 100 TB it is a co-partitioned shuffle join on the id — the
    correct plan either way).

    ``max_bucket`` caps a cell's id array before pair expansion so one
    degenerate bucket (billions of identical boilerplate vectors) cannot
    become a single unsplittable row with O(bucket²) pairs: the sorted
    array is sliced to the cap (keep-lowest-ids, deterministic) and the
    overflow is surfaced in the companion audit ``bucket_overflow_stats``.
    Recall model in the module docstring; defaults (32 planes, 4 bands of
    8 bits) prune a random-pair space ~64× and recall ~0.75 at cosine 0.9,
    1.0 for exact duplicates.

    ``dim`` (r16): the embedding dimensionality when the caller knows it
    (it is a property of the embedding model, and catalog callers already
    pin it in their oracles' hyperplane literals) — skips the blocking
    head-row probe job (~0.5 s of pure driver latency per build at sf0.1;
    same move as the r15 semantic_dedup dim-from-centroids).  A wrong
    ``dim`` changes the failure mode from an up-front probe mismatch to
    out-of-range ``element_at`` in the band expressions, exactly as
    documented for semantic_dedup."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    planes = seeded_hyperplanes(n_planes, dim, seed)
    # CPU-bound banding over a few-file scan serializes on 1-2 tasks
    # (measured 0.45 s of single-digit-task CPU at sf0.1): rebalance up to
    # the cluster's parallelism first — a no-op on a many-file corpus
    # (same conditional as textdedup._spread)
    from service_alerts_connector_spark.operators.textdedup import _spread

    # Materialize the double-cast array ONCE before the band expressions:
    # inlining the cast repeats it under every element_at (n_planes × nnz
    # copies), the generated method blows past janino's size limit, and the
    # whole bucket stage silently falls back to interpreted evaluation.
    casted = _spread(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vd")
    )
    bands = banded_bucket_cols("_vd", planes, n_bands)
    cells = casted.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bands[b].alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("cell"),
    ).select(id_col, F.col("cell.band").alias("band"), F.col("cell.bucket").alias("bucket"))
    # The pair-dedup exchange carries an EXPLICIT partition count (the
    # same (id_a, id_b) hash partitioning `distinct` would plan, so no
    # extra Exchange) because AQE's byte-targeted coalescing otherwise
    # collapses the few-MB candidate list to ONE partition and serializes
    # the verify stage's per-pair cosine folds behind it — measured 1.28 s
    # of single-task CPU at sf0.1, the dominant cost of this operator.
    # Byte-cheap rows here are CPU-expensive downstream, which AQE cannot
    # see (guide §2.5: partition for the work, not the bytes); an explicit
    # count is exempt from coalescing, and defaultParallelism is the
    # cluster-sized knob, not a local constant.
    buckets = (
        cells.groupBy("band", "bucket")
        .agg(
            F.slice(
                F.array_sort(F.collect_set(F.col(id_col))), 1, max_bucket
            ).alias("ids")
        )
        .where(F.size("ids") > 1)
    )
    # chunked two-level pair generation (hot capped buckets parallelize —
    # see _slice_pair_explode), then the explicit-count dedup exchange
    candidates = (
        _chunked_pairs(buckets)
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            F.col("id_a"),
            F.col("id_b"),
        )
        .distinct()
    )
    # norms precomputed once per VECTOR, not per pair: the higher-order
    # dot/norm folds are the per-pair hot path, and a vector appears in
    # many candidate pairs — this cuts the verify stage from 3 folds per
    # pair (dot + 2 norms) to 1.  Same float ops per value, so results are
    # bit-identical to the per-pair form (and the SQL oracle).
    v = F.col(vec_col).cast("array<double>")
    vecs = df.select(
        F.col(id_col), v.alias("_v"), _norm(v).alias("_n")
    )
    pair_cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        6,
    )
    return (
        candidates.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .withColumn("cos", pair_cos)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def bucket_overflow_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Audit for the ``max_bucket`` cap: cells whose population exceeds the
    cap, with the overflow count — run alongside near-dup extraction so a
    truncation never passes silently."""
    dim = _infer_dim(df, vec_col)
    planes = seeded_hyperplanes(n_planes, dim, seed)
    # same materialize-the-cast-once discipline as embedding_near_dup_pairs
    casted = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vd"))
    bands = banded_bucket_cols("_vd", planes, n_bands)
    cells = casted.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bands[b].alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("cell"),
    ).select(id_col, F.col("cell.band"), F.col("cell.bucket"))
    return (
        cells.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .where(F.col("n_ids") > max_bucket)
        .select(
            "band",
            "bucket",
            "n_ids",
            (F.col("n_ids") - max_bucket).alias("n_overflow"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids_milli: list[list[int]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 10_000,
    keep: str = "far",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication") as a deterministic Spark
    plan: cluster embeddings, then drop all-but-one of every within-
    cluster group whose pairwise cosine clears ``threshold``, keeping the
    member FARTHEST from its centroid (the paper's keep-low-centroid-
    similarity rule; it preserves the cluster's outer shell).

    ``keep="first"`` switches the drop rule to FIRST-WINS: the loser of a
    pair is always the LARGER id.  This is the prefix-monotone rule —
    whether a vector survives depends only on vectors with smaller ids —
    which makes the result reproducible under sequential ingest
    (``incremental_semantic_dedup``): appending a new id-increasing batch
    never retracts an earlier verdict.  The centroid-distance rule cannot
    offer that (a later vector can out-rank an earlier one).

    Deterministic re-expression of the paper's three stages:

    1. assignment — pinned ``centroids_milli`` (the oracled complement of
       iterative training, exactly like ``kmeans_update_stats``): exact
       bigint squared-L2 on floor(x·1000) coordinates, first-wins ties;
    2. candidate generation — the paper compares ALL pairs inside a
       cluster (O(|cluster|²)); here pairs must ALSO share a banded
       sign-LSH bucket (``embedding_near_dup_pairs`` machinery keyed by
       (cell, band, bucket)), which keeps the 100 TB path bounded:
       candidates ≈ genuinely-similar pairs, recall for exact duplicates
       = 1.0 under any banding, near-threshold recall is the measured
       module-docstring model;
    3. drop rule — a vector is dropped iff SOME surviving-or-not
       candidate neighbour beats it under the strict total priority
       (larger d2_milli, then smaller id).  The exists-form is non-
       transitive (a chain a~b, b~c with a≁c drops both b and c) but
       engine-portable and one aggregation — no sequential greedy pass.

    Returns one row per input vector: (id, cell, d2_milli, kept) —
    the audit frame a curation pipeline filters on ``kept``.
    """
    # dim from the pinned centroids, not a head(1) probe: assignment is
    # only well-defined when vectors and centroids share a dimension, so
    # len(centroids[0]) IS the corpus dim — this removes a whole driver
    # job (the bounded head(1) Spark action) from every invocation
    # (guide §5: keep driver-side actions out of the query path).
    dim = _centroid_dim(centroids_milli)
    planes = seeded_hyperplanes(n_planes, dim, seed)
    # localCheckpoint pins ONE evaluation of the scan+quantize+assign
    # subtree: it feeds four downstream branches (band cells, both verify
    # sides, the audit join), which would otherwise each recompute it —
    # and, as with sorted_neighborhood's eager-build contract, a
    # nondeterministic upstream must not hand different branches
    # different rows.  MEMORY_AND_DISK blocks, corpus-sized: the working
    # set a real pipeline persists anyway.
    assigned = _assign_cells(df, centroids_milli, vec_col, id_col)\
        .localCheckpoint(eager=False)
    bands = banded_bucket_cols("_vd", planes, n_bands)
    cells = assigned.select(
        "_id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bands[b].alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("c"),
    ).select("_id", "cell", F.col("c.band").alias("band"), F.col("c.bucket").alias("bucket"))
    # chunked two-level pair generation (hot capped buckets parallelize —
    # see _slice_pair_explode), then the explicit-count pair-dedup
    # exchange (same partitioning `distinct` plans, coalescing-exempt):
    # AQE's byte-targeted coalescing otherwise serializes the verify
    # joins' per-pair cosine folds behind ~1 task — see
    # embedding_near_dup_pairs (measured there; identical shape)
    buckets = (
        cells.groupBy("cell", "band", "bucket")
        .agg(
            F.slice(F.array_sort(F.collect_set("_id")), 1, max_bucket).alias(
                "ids"
            )
        )
        .where(F.size("ids") > 1)
    )
    candidates = (
        _chunked_pairs(buckets)
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            F.col("id_a"),
            F.col("id_b"),
        )
        .distinct()
    )
    pair_cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    losers = (
        candidates.join(
            assigned.select(
                F.col("_id").alias("id_a"),
                F.col("_vd").alias("_va"),
                F.col("_n").alias("_na"),
                F.col("d2_milli").alias("_d2a"),
            ),
            "id_a",
        )
        .join(
            assigned.select(
                F.col("_id").alias("id_b"),
                F.col("_vd").alias("_vb"),
                F.col("_n").alias("_nb"),
                F.col("d2_milli").alias("_d2b"),
            ),
            "id_b",
        )
        .where(pair_cos >= threshold)
        .select(
            (
                # first-wins: candidates emit id_a < id_b, so the larger
                # id is always the loser
                F.greatest("id_a", "id_b")
                if keep == "first"
                else F.when(F.col("_d2a") > F.col("_d2b"), F.col("id_b"))
                .when(F.col("_d2b") > F.col("_d2a"), F.col("id_a"))
                .otherwise(F.greatest("id_a", "id_b"))
            ).alias("_id")
        )
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(losers, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "d2_milli",
            F.col("_dropped").isNull().alias("kept"),
        )
        # no final orderBy: output is row-per-vector (corpus-sized), the
        # correctness gate canonicalizes order-insensitively, and the sort
        # was a whole rangepartitioning Exchange + global Sort of the
        # corpus (guide §2.4) — the catalog's own no-corpus-sort rule.
    )


def _dist_sql(xm_sql: str, c: "Sequence[int]") -> str:
    """Exact-integer squared L2 to one milli-quantized centroid as SQL
    text — the same zip_with/aggregate bigint fold the Column version
    built, at ONE py4j round trip instead of ~130 (64 literal+cast calls
    per centroid array dominated query-build time: measured 0.89 s of the
    semdedup build in the 4-centroid listcomp alone)."""
    carr = "array(" + ",".join(f"{int(x)}L" for x in c) + ")"
    return (
        f"aggregate(zip_with({xm_sql}, {carr}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _centroid_dim(centroids_milli: list[list[int]]) -> int:
    """The one dimension every pinned centroid shares."""
    dims = {len(c) for c in centroids_milli}
    if len(dims) != 1 or 0 in dims:
        raise ValueError(
            "centroids_milli must be non-empty and share one dimension, "
            f"got dimensions {sorted(dims)}"
        )
    return dims.pop()


def _assign_cells(
    df: DataFrame,
    centroids_milli: list[list[int]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Pinned-centroid exact-integer assignment shared by batch and
    incremental SemDeDup: (_id, _vd, cell, d2_milli, _n).

    Distances STAGED as k columns, argmin in a second projection: a
    kmeans_update_stats-style nested-when chain embeds every distance
    fold repeatedly (the cond AND both branches reference it), so each
    64-dim fold appears up to 2^(k-1) times in the final tree — measured
    ~20% of the whole query at sf0.1.  array_min over (d2, cell) structs
    keeps the exact first-wins tie rule.

    A vector whose dimension differs from the centroids' fails its task:
    ``zip_with`` would pad the shorter array with NULLs and make every
    distance NULL, silently assigning an arbitrary cell."""
    dim = _centroid_dim(centroids_milli)
    vec = F.col(vec_col).cast("array<double>")
    checked = F.when(
        F.assert_true(
            F.coalesce(F.size(vec) == dim, F.lit(True)),
            f"{vec_col} dimension differs from the centroids' ({dim})",
        ).isNull(),
        vec,
    )
    xm = F.transform(
        checked, lambda v: F.floor(v * F.lit(1000.0)).cast("bigint")
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vd"),
        xm.alias("_xm"),
    )
    dist_cols = [
        F.expr(_dist_sql("_xm", c)).alias(f"_d{ci}")
        for ci, c in enumerate(centroids_milli)
    ]
    staged = base.select("_id", "_vd", *dist_cols)
    m = F.array_min(
        F.array(
            *[
                F.struct(
                    F.col(f"_d{ci}").alias("d2"),
                    F.lit(ci).cast("int").alias("cell"),
                )
                for ci in range(len(centroids_milli))
            ]
        )
    )
    return staged.select(
        "_id",
        "_vd",
        m["cell"].alias("cell"),
        m["d2"].alias("d2_milli"),
        _norm(F.col("_vd")).alias("_n"),
    )


SEMDEDUP_STORE = "semdedup_vector_store"


def _explode_bands(df: DataFrame) -> DataFrame:
    """(_id, cell, band, bucket) rows from the packed ``_bkts`` array."""
    return df.select(
        "_id", "cell",
        F.posexplode("_bkts").alias("band", "bucket"),
    )


def _store_batch_candidates(
    prev: DataFrame, batch: DataFrame, max_bucket: int
) -> DataFrame:
    """Store ↔ batch candidate pairs, CAPPED on the store side: per
    (cell, band, bucket) the store contributes at most its ``max_bucket``
    smallest ids — the exact analogue of the within-batch sorted-slice
    cap, so a bucket that accumulates across ingests never expands to
    stored×batch pairs (round-10 verdict finding #2).  Smallest-kept is
    exact under first-wins prefix monotonicity: verdicts depend only on
    smaller ids, and under id-increasing ingest the smallest-k set is
    stable once the bucket fills, so capped verdicts never retract.
    The id-increasing invariant makes the stored side the smaller id;
    the strict < drops redelivered self-pairs."""
    store_capped = (
        _explode_bands(prev)
        .groupBy("cell", "band", "bucket")
        .agg(
            F.slice(F.array_sort(F.collect_set("_id")), 1, max_bucket)
            .alias("ids")
        )
        .select(
            "cell", "band", "bucket", F.explode("ids").alias("id_a")
        )
    )
    return (
        store_capped.join(
            _explode_bands(batch).select(
                F.col("_id").alias("id_b"), "cell", "band", "bucket"
            ),
            ["cell", "band", "bucket"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def store_bucket_overflow(
    store: DataFrame, max_bucket: int = 10_000
) -> DataFrame:
    """Audit complement for ``incremental_semantic_dedup``'s store-side
    cap (the ``bucket_overflow_stats`` analogue for the persistent
    store): per (cell, band, bucket) whose accumulated population
    exceeds ``max_bucket``, the overflow count — run it on the store
    (``read_dataset(spark, root, SEMDEDUP_STORE)``) alongside ingest so
    a store-side truncation never passes silently."""
    return (
        _explode_bands(store)
        .groupBy("cell", "band", "bucket")
        .agg(F.countDistinct("_id").alias("n_ids"))
        .where(F.col("n_ids") > max_bucket)
        .select(
            "cell",
            "band",
            "bucket",
            "n_ids",
            (F.col("n_ids") - max_bucket).alias("n_overflow"),
        )
    )


def incremental_semantic_dedup(
    spark,
    root: str,
    new_vecs: DataFrame,
    centroids_milli: list[list[int]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 10_000,
) -> DataFrame:
    """SemDeDup for a streaming ingest loop: judge the NEW batch against
    every vector ever ingested (persistent (cell, band, bucket)-keyed
    vector store) plus within-batch — O(batch) per batch: only the new
    vectors are assigned/hashed; the store is an equi-join side keyed by
    the same LSH cells, never re-scanned pairwise.

    Drop rule is the prefix-monotone FIRST-WINS form
    (``semantic_dedup(keep="first")``): a new vector is dropped iff SOME
    smaller-id vector — stored or in-batch — shares its centroid cell
    and an LSH band bucket and clears the cosine threshold.  Because a
    verdict depends only on smaller ids, sequential ingest of
    id-increasing batches produces EXACTLY the batch-mode
    ``keep="first"`` result over the concatenated corpus (pytest-pinned;
    the paper's keep-farthest rule cannot be incremental — a later
    vector can out-rank an earlier one, retracting a verdict).

    Store discipline per CLAUDE.md / ``incremental_substring_strip``:
    ALL batch vectors (kept and dropped) enter the store — batch-mode
    drops against dropped neighbours too, so the store must hold every
    seen vector; the merge is a distinct-by-id union, idempotent under
    at-least-once redelivery (a redelivered vector meets its own id in
    the store only on the excluded equal-id join side, so verdicts
    repeat verbatim); the previous version is read PINNED,
    snapshot-write-last.  Store size = corpus vectors × (1 + bands/row
    overhead) — the working set a real pipeline persists anyway;
    prunable by cell at 100 TB.  Bucket caps (``max_bucket``) apply on
    BOTH candidate sides: within-batch (same sorted-slice as batch mode)
    and store-side — the exploded store is capped per (cell, band,
    bucket) to its ``max_bucket`` SMALLEST ids before the equi-join, so
    a pathological bucket that accumulates across ingests can never pay
    stored×batch pairs.  Smallest-kept is the consistent choice under
    first-wins: verdicts depend only on smaller ids, and under the
    id-increasing ingest invariant the smallest-k set of a bucket is
    STABLE once full, so capped verdicts stay prefix-monotone and
    redelivery-idempotent (documented divergence-under-cap; the
    equivalence pin runs below the cap).  ``store_bucket_overflow``
    is the audit complement — run it on the store so a store-side
    truncation never passes silently.

    The returned verdicts frame is forced (eager localCheckpoint)
    BEFORE the new store version commits, so callers may consume it at
    any later time: a lazy plan would re-read the pinned previous
    version, which the writer's retention prune deletes after enough
    further ingests.
    """
    from service_alerts_connector_spark.sources.parquet_io import (
        list_versions,
        read_dataset,
        write_dataset,
    )

    dim = _infer_dim(new_vecs, vec_col)
    planes = seeded_hyperplanes(n_planes, dim, seed)

    assigned = _assign_cells(new_vecs, centroids_milli, vec_col, id_col)\
        .localCheckpoint(eager=False)
    bands = banded_bucket_cols("_vd", planes, n_bands)
    batch = assigned.select(
        "_id", "_vd", "cell", "d2_milli", "_n",
        F.array(*[bands[b] for b in range(n_bands)]).alias("_bkts"),
    )

    # within-batch candidates (same shape as batch-mode, chunked pair
    # generation — see _slice_pair_explode)
    cand = _chunked_pairs(
        _explode_bands(batch)
        .groupBy("cell", "band", "bucket")
        .agg(
            F.slice(F.array_sort(F.collect_set("_id")), 1, max_bucket)
            .alias("ids")
        )
        .where(F.size("ids") > 1)
    )

    versions = list_versions(root, SEMDEDUP_STORE)
    prev = (
        read_dataset(spark, root, SEMDEDUP_STORE, version=versions[-1])
        if versions
        else None
    )
    if prev is not None:
        cand = cand.unionByName(
            _store_batch_candidates(prev, batch, max_bucket)
        )
    # explicit-count pair-dedup exchange before the verify joins — the
    # AQE-coalescing rationale at semantic_dedup's candidates
    cand = cand.repartition(
        new_vecs.sparkSession.sparkContext.defaultParallelism,
        F.col("id_a"),
        F.col("id_b"),
    ).distinct()

    side_a = (
        prev.select(
            F.col("_id").alias("id_a"),
            F.col("_vd").alias("_va"),
            F.col("_n").alias("_na"),
        ).unionByName(
            batch.select(
                F.col("_id").alias("id_a"),
                F.col("_vd").alias("_va"),
                F.col("_n").alias("_na"),
            )
        )
        if prev is not None
        else batch.select(
            F.col("_id").alias("id_a"),
            F.col("_vd").alias("_va"),
            F.col("_n").alias("_na"),
        )
    )
    pair_cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    losers = (
        cand.join(side_a, "id_a")
        .join(
            batch.select(
                F.col("_id").alias("id_b"),
                F.col("_vd").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .where(pair_cos >= threshold)
        .select(F.col("id_b").alias("_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    verdicts = (
        batch.join(losers, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "d2_milli",
            F.col("_dropped").isNull().alias("kept"),
        )
        # (no orderBy: batch-sized but still a needless rangepartitioning
        # exchange before the eager checkpoint; verdict consumers key by id)
        # eager: sever the plan's read of the pinned previous version
        # BEFORE committing the new one — retention prunes old version
        # dirs after enough further ingests, and a still-lazy verdicts
        # plan forced then would read a deleted directory (batch-sized
        # frame, so the materialization is cheap relative to the write)
        .localCheckpoint(eager=True)
    )

    merged = (
        prev.unionByName(
            batch.select("_id", "_vd", "cell", "d2_milli", "_n", "_bkts")
        ).dropDuplicates(["_id"])
        if prev is not None
        else batch.select("_id", "_vd", "cell", "d2_milli", "_n", "_bkts")
    )
    write_dataset(merged, root, SEMDEDUP_STORE)
    return verdicts


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the schema when it is a fixed-size
    metadata field, else from one bounded head row (dimension is a property
    of the embedding model, constant per table)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).head(1)
    if not row:
        raise ValueError(f"cannot infer dim of empty {vec_col}")
    return int(row[0]["d"])


def _pair_explode(ids_col: str):
    """All (a < b) pairs from a sorted id array — expression-only pair
    generation inside a bucket (no recomputing self-join)."""
    return F.explode(
        F.expr(
            f"flatten(transform({ids_col}, (x, i) -> "
            f"transform(slice({ids_col}, i + 2, size({ids_col}) - i - 1), "
            f"y -> struct(x AS id_a, y AS id_b))))"
        )
    ).alias("p")


_PAIR_CHUNK = 256


def _slice_pair_explode(ids_col: str):
    """Level 1 of chunked pair generation: explode a sorted id array into
    (slice_a, slice_b, same) struct rows over ``_PAIR_CHUNK``-sized slices
    (a ≤ b by slice index).

    Why two levels (r16, measured on the 20× scale-up): a ``max_bucket``-
    capped hot bucket is ONE row whose single-level ``_pair_explode``
    yields C(10 000, 2) ≈ 5·10⁷ pairs serially inside one task — the
    verify tier's dominant straggler (8-vs-32-core ratio ≈ 1 on
    dedup_embedding_cosine at 20×; guide §2.5: a single enormous key must
    be SPLIT, AQE cannot).  Level 1 emits ≤ (n/chunk)² slice-pair rows
    (≤ 1 600 for a capped bucket — and exactly one row, the whole-array
    pair, for buckets under the chunk size); an explicit hash
    redistribution between the levels spreads them, and
    ``_pairs_of_slice_pair`` expands each row's ≤ chunk² pairs in
    parallel.  The pair SET is unchanged: slices partition the array, so
    {(a, b): a < b} = within-slice pairs ∪ cross pairs of slice_i × slice_j
    for i < j."""
    return F.explode(
        F.expr(
            f"flatten(transform("
            f"  sequence(0, (size({ids_col}) - 1) div {_PAIR_CHUNK}),"
            f"  i -> transform("
            f"    sequence(i, (size({ids_col}) - 1) div {_PAIR_CHUNK}),"
            f"    j -> struct("
            f"      slice({ids_col}, i * {_PAIR_CHUNK} + 1, {_PAIR_CHUNK})"
            f"        AS sa,"
            f"      slice({ids_col}, j * {_PAIR_CHUNK} + 1, {_PAIR_CHUNK})"
            f"        AS sb,"
            f"      i = j AS same))))"
        )
    ).alias("sp")


def _pairs_of_slice_pair():
    """Level 2: expand one (sa, sb, same) slice-pair row into its pairs —
    within-slice (a < b by position, slices are sorted) when ``same``,
    full cross product otherwise."""
    return F.explode(
        F.expr(
            "CASE WHEN sp.same THEN "
            "flatten(transform(sp.sa, (x, i) -> "
            "transform(slice(sp.sa, i + 2, size(sp.sa) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b)))) "
            "ELSE flatten(transform(sp.sa, x -> "
            "transform(sp.sb, y -> struct(x AS id_a, y AS id_b)))) END"
        )
    ).alias("p")


def _chunked_pairs(bucket_frame: DataFrame, ids_col: str = "ids") -> DataFrame:
    """(id_a, id_b) candidate pairs from a bucket frame holding sorted,
    capped id arrays — two-level explode with a hash redistribution of the
    slice-pair rows between the levels so hot buckets parallelize (see
    ``_slice_pair_explode``).  Ends BEFORE dedup: callers chain their own
    explicit-count repartition + distinct."""
    par = bucket_frame.sparkSession.sparkContext.defaultParallelism
    return (
        bucket_frame.select(_slice_pair_explode(ids_col))
        .repartition(par, F.col("sp"))
        .select(_pairs_of_slice_pair())
        .select(F.col("p.id_a"), F.col("p.id_b"))
    )


def cosine_topk_mapinpandas(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """NumPy-vectorized brute force: per-Arrow-batch matmul, per-partition
    partial top-k, global top-k merge.  Same contract as ``cosine_topk``."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dots = m @ q
            norms = np.sqrt((m * m).sum(axis=1))
            cos = np.round(dots / (norms * qn), 6)
            cand = pd.DataFrame({id_col: pdf[id_col], "cos": cos})
            best = cand if best is None else pd.concat([best, cand])
            best = best.sort_values(
                ["cos", id_col], ascending=[False, True]
            ).head(k)
        if best is not None:
            yield best

    schema = f"{id_col} long, cos double"
    partials = df.select(id_col, vec_col).mapInPandas(part, schema)
    return partials.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def quantize_embeddings_sq8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "codes",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (SQ8): scale =
    max|x|, code_i = floor(x_i/scale·127 + 0.5) ∈ [−127, 127] — 4×
    smaller vectors for the memory-bound stages of 100 TB ANN (store/
    shuffle codes + one double, dequantize on the fly; reconstruction
    error ≤ scale/254 per component, asserted in tests).

    Engine-portable BY CONSTRUCTION: every step (float32→double widen,
    abs, max, one divide, one multiply, one add, floor) is a single
    exactly-rounded IEEE-754 operation, so the codes and the scale are
    bit-identical in any engine — no rounding fuzz in the oracle.

    Zero-shuffle narrow projection; the double-cast and the scale are
    materialized once before the per-element lambda (codegen discipline
    of the band expressions above)."""
    casted = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_vd")
    )
    with_scale = casted.withColumn(
        "_s", F.array_max(F.transform("_vd", lambda x: F.abs(x)))
    )
    codes = F.when(
        F.col("_s") == 0.0,
        F.transform("_vd", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "_vd",
            lambda x: F.floor(x / F.col("_s") * F.lit(127.0) + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    return with_scale.select(
        F.col(id_col), F.col("_s").alias("scale"), codes.alias(out_col)
    )


def dequantize_sq8(
    codes_col: Column, scale_col: Column
) -> Column:
    """Inverse of ``quantize_embeddings_sq8``: x̂_i = code_i·scale/127
    (array<double>)."""
    return F.transform(
        codes_col, lambda c: c.cast("double") * scale_col / F.lit(127.0)
    )


def sq8_quantize_vec(vec: Sequence[float]) -> list[int]:
    """Driver-side SQ8 of a query vector with the EXACT engine recipe
    (Python floats are IEEE doubles, so floor(x/scale·127 + 0.5) matches
    the column expression bit-for-bit)."""
    import math

    scale = max((abs(float(x)) for x in vec), default=0.0)
    if scale == 0.0:
        return [0 for _ in vec]
    return [int(math.floor(float(x) / scale * 127.0 + 0.5)) for x in vec]


def sq8_cosine_topk(
    quantized: DataFrame,
    query_codes: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    out_col: str = "qcos",
) -> DataFrame:
    """ANN top-k served ENTIRELY from SQ8 codes: cosine of the
    dequantized vectors equals dot(c_x, c_q) / (‖c_x‖·‖c_q‖) — the two
    scale factors cancel — so scoring is integer dot products over the
    4×-compressed representation; the float32 originals are never read.

    Exactness: integer dots are ≤ 127²·dim ≪ 2⁵³, so accumulating them
    in doubles is exact in any engine (no summation-order fuzz), and the
    final divide/sqrt/round are single IEEE ops — the oracle needs no
    tolerance.  Plan: narrow projection → TakeOrderedAndProject (each
    partition keeps k); zero-norm codes are filtered (undefined cosine).
    """
    qarr = F.array(*[F.lit(int(c)).cast("long") for c in query_codes])
    qq = sum(int(c) * int(c) for c in query_codes)
    if qq == 0:
        raise ValueError("zero query vector: cosine undefined")
    dot_cq = F.aggregate(
        F.zip_with(F.col(codes_col), qarr, lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dot_cc = F.aggregate(
        F.transform(F.col(codes_col), lambda a: a.cast("long") * a.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = quantized.select(
        F.col(id_col),
        dot_cq.alias("_cq"),
        dot_cc.alias("_cc"),
    ).where(F.col("_cc") > 0)
    cos = F.round(
        F.col("_cq")
        / (F.sqrt(F.col("_cc").cast("double")) * F.sqrt(F.lit(float(qq)))),
        6,
    )
    return (
        scored.select(F.col(id_col), cos.alias(out_col))
        .orderBy(F.desc(out_col), F.asc(id_col))
        .limit(k)
    )


def project_embeddings(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    out_col: str = "projected",
    dim: int | None = None,
) -> DataFrame:
    """Sparse random projection to ``out_dim`` dims (Johnson–Lindenstrauss
    sketch with the Achlioptas ±1 planes of ``seeded_hyperplanes``):
    component j = <vec, plane_j>, an exact left-associated ± sum — so the
    reduced vectors are bit-identical on any engine, unlike a dense
    Gaussian matmul.  Pairwise distances are preserved within the JL bound
    (ε ~ sqrt(8 ln n / out_dim)); the reduced table is the cheap input for
    downstream clustering / ANN when the full dimension is overkill.

    Same codegen discipline as the band expressions: the double-cast is
    materialized once before the per-plane sums.  ``dim``: see
    ``embedding_near_dup_pairs`` — skips the head-row probe job when the
    caller pins the model dimensionality."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    planes = seeded_hyperplanes(out_dim, dim, seed)
    casted = df.withColumn("_vd", F.col(vec_col).cast("array<double>"))
    comps = [
        F.expr(projection_sql("_vd", planes[j])).alias(f"_p{j}")
        for j in range(out_dim)
    ]
    return (
        casted.select(F.col(id_col), *comps)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_p{j}") for j in range(out_dim)]).alias(out_col),
        )
    )


def kmeans_update_stats(
    df: DataFrame,
    centroids_milli: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd k-means *update* step as exact sufficient statistics:
    assign every vector to its nearest centroid (squared L2 on milli-unit
    integer coordinates — exact bigint math, first-wins ties like
    ``ivf_assign``), then emit per (cell, dimension) the member count and
    coordinate sum.  The new centroid is ``sum_milli / n_members`` —
    division deliberately left to the caller so the statistics stay exact
     64-bit integers, bit-identical across engines (the oracled complement
    of ``train_centroids_kmeanspp_lite``'s driver-side loop: iterative
    training is assignment + this update, repeated).

    Scale shape: centroids are a k-sized literal (broadcast by value into
    the expression — no join), the explode is dim-wide per row, and the
    single shuffle is groupBy(cell, dim) with k×dim result cells.  Partial
    aggregation (map-side combine) means the shuffle carries at most
    k×dim rows per task regardless of input size.
    """
    xm = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda v: F.floor(v * F.lit(1000.0)).cast("bigint"),
    )
    # materialize once: k copies of the quantization inline would repeat
    # the cast under every fold (codegen method-limit trap — see
    # bucketed_cosine_topk)
    base = df.select(F.col(id_col).alias("_id"), xm.alias("_xm"))
    # Distances staged as k columns + array_min over (d2, cell) structs —
    # same first-wins tie rule as the old nested-when chain (strict <,
    # equal d2 → smallest cell index), but the chain embedded each fold
    # up to 2^(k-1) times (cond + both branches) and its Python
    # construction paid ~130 py4j calls per centroid (_dist_sql note);
    # this is the argmin shape _assign_cells already uses.
    staged = base.select(
        "_id",
        "_xm",
        *[
            F.expr(_dist_sql("_xm", c)).alias(f"_d{ci}")
            for ci, c in enumerate(centroids_milli)
        ],
    )
    m = F.array_min(
        F.array(
            *[
                F.struct(
                    F.col(f"_d{ci}").alias("d2"),
                    F.lit(ci).cast("int").alias("cell"),
                )
                for ci in range(len(centroids_milli))
            ]
        )
    )
    assigned = staged.select("_id", "_xm", m["cell"].alias("cell"))
    return (
        assigned.select("cell", F.posexplode("_xm").alias("d", "x"))
        .groupBy("cell", "d")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("x").alias("sum_milli"),
        )
        .select("cell", "d", "n_members", "sum_milli")
    )


def two_stage_ann(
    df: DataFrame,
    query_vec: "Sequence[float]",
    recall_k: int = 100,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rcos",
) -> DataFrame:
    """Two-stage ANN serving — the standard recall→precision split: a
    coarse pass scores the WHOLE corpus from 4×-compressed SQ8 codes
    (integer dots, ``sq8_cosine_topk``) and keeps ``recall_k``
    candidates; the rerank pass touches only those rows and re-scores
    them at full precision from the original vectors re-encoded as exact
    milli-ints (floor(x·1000) — one IEEE multiply + floor per component,
    so dots stay exact 64-bit integers and the oracle needs no
    tolerance).

    Scale shape: the corpus scan reads codes only (memory-bound stage);
    the candidate frame is ``recall_k`` rows → broadcast semi-join back
    into the vector table; both top-ks are TakeOrderedAndProject.
    """
    import math

    quant = quantize_embeddings_sq8(df, vec_col=vec_col, id_col=id_col)
    cand = sq8_cosine_topk(
        quant, sq8_quantize_vec(query_vec), k=recall_k, id_col=id_col
    ).select(id_col)
    mq = [int(math.floor(float(x) * 1000.0)) for x in query_vec]
    qq = sum(c * c for c in mq)
    if qq == 0:
        raise ValueError("zero query vector: cosine undefined")
    qarr = F.array(*[F.lit(c).cast("long") for c in mq])
    milli = (
        df.join(F.broadcast(cand), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.floor(x * F.lit(1000.0)).cast("long"),
            ).alias("_m"),
        )
    )
    dot_mq = F.aggregate(
        F.zip_with(F.col("_m"), qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dot_mm = F.aggregate(
        F.transform(F.col("_m"), lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = milli.select(
        F.col(id_col), dot_mq.alias("_mq"), dot_mm.alias("_mm")
    ).where(F.col("_mm") > 0)
    cos = F.round(
        F.col("_mq")
        / (F.sqrt(F.col("_mm").cast("double")) * F.sqrt(F.lit(float(qq)))),
        6,
    )
    return (
        scored.select(F.col(id_col), cos.alias(out_col))
        .orderBy(F.desc(out_col), F.asc(id_col))
        .limit(k)
    )
