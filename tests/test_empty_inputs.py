"""Empty-input robustness: every round-2 operator must return an empty
(or well-defined) result on an empty frame, never raise."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_text_operators_on_empty_corpus(spark):
    from service_alerts_connector_spark.operators.boilerplate import (
        remove_frequent_lines,
    )
    from service_alerts_connector_spark.operators.chunking import (
        chunk_documents,
        source_quota,
    )
    from service_alerts_connector_spark.operators.tfidf import (
        inverted_index,
        tfidf_top_terms,
    )

    docs = _empty_docs(spark)
    assert chunk_documents(docs).count() == 0
    assert tfidf_top_terms(docs).count() == 0
    assert inverted_index(docs).count() == 0
    assert remove_frequent_lines(docs, "doc_id", "text").count() == 0
    docs2 = spark.createDataFrame([], "doc_id long, source string")
    assert source_quota(docs2).count() == 0


def test_sketch_operators_on_empty_input(spark):
    from service_alerts_connector_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
        source_mixing,
    )

    keys = spark.createDataFrame([], "k string")
    sketch = count_min_sketch(keys, "k")
    assert sketch.count() == 0
    probe = spark.createDataFrame([("x",)], "k string")
    est = cms_estimate(sketch, probe, "k").collect()
    assert est[0]["est_n"] == 0  # empty sketch -> zero estimate, not error
    docs = spark.createDataFrame([], "doc_id long, source string")
    config = spark.createDataFrame([("s", 100)], "source string, keep_per_65536 long")
    assert source_mixing(docs, config).count() == 0


def test_similarity_on_empty_pairs_and_scd(spark):
    import pytest

    from service_alerts_connector_spark.operators.scd import (
        scd2_from_changelog,
    )
    from service_alerts_connector_spark.operators.similarity import (
        _infer_dim,
        embedding_near_dup_pairs,
    )
    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
    )

    ev = spark.createDataFrame([], "ts long, uid long, st string")
    assert scd2_from_changelog(ev, "uid", "st", "ts", "ts").count() == 0
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="cannot infer dim"):
        embedding_near_dup_pairs(emb)  # explicit error, not a silent crash


def test_round4_operators_on_empty_input(spark):
    from service_alerts_connector_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        histogram_quantiles,
    )
    from service_alerts_connector_spark.operators.similarity import (
        quantize_embeddings_sq8,
        sq8_cosine_topk,
    )
    from service_alerts_connector_spark.sources.multimodal import (
        media_decode_stats,
        synth_bmp_media,
    )

    # empty key set -> empty bitmap -> probe admits NOTHING (empty-set
    # semantics, not pass-through)
    keys = spark.createDataFrame([], "k long")
    bloom = bloom_build(keys, "k")
    assert bloom.count() == 0
    fact = spark.range(100).select(F.col("id").alias("k"))
    assert bloom_probe(fact, bloom, "k").count() == 0

    vals = spark.createDataFrame([], "g string, v long")
    assert histogram_quantiles(vals, "v", ["g"]).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = quantize_embeddings_sq8(emb)
    assert q.count() == 0
    assert sq8_cosine_topk(q, [1, 2, 3], k=5).count() == 0

    media = spark.createDataFrame([], "media_id long, seed long")
    synth = synth_bmp_media(media, seed_col="seed")
    assert synth.count() == 0
    assert media_decode_stats(synth).count() == 0
    # non-BMP content -> null stats row, not an exception
    junk = spark.createDataFrame(
        [(9, bytearray(b"not an image"))], "media_id long, content binary"
    )
    row = media_decode_stats(junk).collect()[0]
    assert row["width"] is None and row["hist"] is None


def test_round5_operators_on_empty_input(spark):
    from service_alerts_connector_spark.operators.graph import triangle_count
    from service_alerts_connector_spark.operators.sketches import (
        kmv_set_overlap,
        kmv_synopsis,
    )

    empty_edges = spark.createDataFrame([], "src long, dst long")
    row = triangle_count(empty_edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"],
            row["n_triangles"]) == (0, 0, 0, 0)

    empty_keys = spark.createDataFrame([], "k long")
    syn = kmv_synopsis(empty_keys, "k", k=16)
    assert syn.count() == 0
    row = kmv_set_overlap(syn, syn, k=16).collect()[0]
    assert row["n_merged"] == 0 and row["union_est"] == 0
    # one empty side: estimates collapse to the non-empty side, exactly
    some = kmv_synopsis(
        spark.range(0, 5).select(F.col("id").alias("k")), "k", k=16
    )
    row = kmv_set_overlap(some, syn, k=16).collect()[0]
    assert row["union_est"] == 5 and row["c_common"] == 0


def test_coalesce_intervals_empty(spark):
    from service_alerts_connector_spark.operators.temporal import (
        coalesce_intervals,
    )

    df = spark.createDataFrame([], "user_id long, s long, e long, tb long")
    assert coalesce_intervals(df, "user_id", "s", "e", "tb").count() == 0


def test_pointer_jump_roots_empty(spark):
    from service_alerts_connector_spark.operators.graph import (
        pointer_jump_roots,
    )

    df = spark.createDataFrame([], "node long, parent long")
    assert pointer_jump_roots(df, iterations=2).count() == 0


def test_gap_fill_interp_empty(spark):
    from service_alerts_connector_spark.operators.temporal import (
        gap_fill_interp,
    )

    df = spark.createDataFrame([], "user_id long, day date, cents long")
    assert gap_fill_interp(df, "user_id", "day", "cents").count() == 0


def test_sorted_neighborhood_empty_and_singleton(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        sorted_neighborhood_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, k string")
    assert sorted_neighborhood_pairs(empty, "k", "doc_id").count() == 0
    one = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    assert sorted_neighborhood_pairs(one, "k", "doc_id").count() == 0


def test_round5_operators_partitioning_invariant(spark):
    """Repartitioning the input must not change any result — the
    determinism contract of the two-phase rank (sorted_neighborhood),
    running-max islands (coalesce_intervals), and pointer jumping."""
    import random

    from service_alerts_connector_spark.operators.graph import (
        pointer_jump_roots,
    )
    from service_alerts_connector_spark.operators.temporal import (
        coalesce_intervals,
    )
    from service_alerts_connector_spark.operators.textdedup import (
        sorted_neighborhood_pairs,
    )

    rng = random.Random(3)
    iv = [
        (rng.randrange(4), s := rng.randrange(100), s + rng.randrange(20), i)
        for i in range(200)
    ]
    ivdf = spark.createDataFrame(iv, "user_id long, s long, e long, tb long")
    a = sorted(coalesce_intervals(ivdf, "user_id", "s", "e", "tb").collect())
    b = sorted(
        coalesce_intervals(
            ivdf.repartition(7), "user_id", "s", "e", "tb"
        ).collect()
    )
    assert a == b

    keys = [(i, "".join(rng.choice("abc") for _ in range(3))) for i in range(80)]
    kdf = spark.createDataFrame(keys, "doc_id long, k string")
    a = sorted(sorted_neighborhood_pairs(kdf, "k", "doc_id").collect())
    b = sorted(
        sorted_neighborhood_pairs(kdf.repartition(5), "k", "doc_id").collect()
    )
    assert a == b

    edges = [(i, max(0, i - 3)) for i in range(60)] + [(0, 0)]
    edf = spark.createDataFrame(edges, "node long, parent long")
    a = sorted(pointer_jump_roots(edf, iterations=6).collect())
    b = sorted(
        pointer_jump_roots(edf.repartition(9), iterations=6).collect()
    )
    assert a == b


def test_round9_operators_on_empty_input(spark):
    from service_alerts_connector_spark.operators.similarity import (
        semantic_dedup,
    )
    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
    )

    docs = _empty_docs(spark)
    assert duplicate_substring_spans(docs, k=3).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    # r15: dim comes from the pinned centroids (no head(1) driver probe),
    # so an empty corpus is now a defined empty result — and empty
    # centroids are the defined error instead.
    assert semantic_dedup(emb, [[1000, 0]], threshold=0.9).count() == 0
    import pytest

    with pytest.raises(ValueError, match="centroids_milli"):
        semantic_dedup(emb, [], threshold=0.9)
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = semantic_dedup(one, [[1000, 0], [0, 1000]]).collect()
    assert len(got) == 1 and got[0]["kept"] is True  # singleton survives


def test_semantic_dedup_rejects_mismatched_dims(spark):
    """Ragged centroids fail at build time, and a vector whose dim differs
    from the centroids' fails its task — zip_with would otherwise pad with
    NULLs and assign it a cell by a NULL distance."""
    import pytest

    from service_alerts_connector_spark.operators.similarity import (
        semantic_dedup,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="one dimension"):
        semantic_dedup(vecs, [[1000, 0, 0, 0], [0, 1000, 0]])
    with pytest.raises(Exception, match="dimension differs"):
        semantic_dedup(vecs, [[1000, 0, 0], [0, 1000, 0]]).collect()


def test_round9_operators_partitioning_invariant(spark):
    """Same answers under any input partitioning (the distributed-
    determinism claim both round-9 drop rules make)."""
    import random

    from service_alerts_connector_spark.operators.similarity import (
        semantic_dedup,
    )
    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
    )

    rng = random.Random(9)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 25))))
        for i in range(60)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(map(tuple, duplicate_substring_spans(ddf, k=3).collect()))
    b = sorted(
        map(
            tuple,
            duplicate_substring_spans(ddf.repartition(7), k=3).collect(),
        )
    )
    assert a == b

    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
    ] + [(100 + i, [1.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(4)]
    edf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [[1000, 0, 0, 0, 0, 0, 0, 0], [0, 1000, 0, 0, 0, 0, 0, 0]]
    a = sorted(map(tuple, semantic_dedup(edf, cents, threshold=0.9).collect()))
    b = sorted(
        map(
            tuple,
            semantic_dedup(
                edf.repartition(5), cents, threshold=0.9
            ).collect(),
        )
    )
    assert a == b
    # the four planted exact duplicates: exactly one survivor among them
    planted = {t[0]: t[3] for t in a if t[0] >= 100}
    assert sum(planted.values()) == 1 and planted[100] is True


def test_planner_decisions_on_empty_stats(spark):
    """Degenerate/empty statistics must yield well-defined decisions, not
    engine-divergent division-by-zero or a query-side crash: the
    join-order pick on all-zero stats (guarded divisors → 0 estimates,
    lineitem-first tiebreak), the salting decision on an empty cell
    frame (0 rows), and the strict store readers raising the documented
    ValueError rather than silently estimating 0."""
    import pytest as _pytest

    from service_alerts_connector_spark.operators.planner import (
        est_ndv_from_store,
        join_order_decision,
        salting_decision_from_cells,
    )

    zero = dict(
        n_l=0, ndv_l_ok=0, n_o=0, ndv_o_ok=0, ndv_o_ck=0, n_c=0, ndv_c_ck=0
    )
    rows = {r["order_name"]: r for r in join_order_decision(spark, zero).collect()}
    assert all(r["cost"] == 0 for r in rows.values())
    assert rows["lineitem_orders_first"]["chosen"] is True
    assert rows["orders_customer_first"]["chosen"] is False

    empty_cells = spark.createDataFrame(
        [], "col_name string, val string, cnt long"
    )
    assert salting_decision_from_cells(empty_cells).count() == 0
    with _pytest.raises(ValueError):
        est_ndv_from_store(empty_cells, ["anything"])
