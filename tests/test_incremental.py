"""Incremental checksum-cache tests (SURVEY J2, ST2-ST5, ST8)."""

from __future__ import annotations

from service_alerts_connector_spark.constants import CHECKSUM_COL
from service_alerts_connector_spark.operators.incremental import (
    backfill_sample,
    merge_processed,
    split_incremental,
    with_checksum,
)

SCHEMA = "Id long, title string, _ingest_seq long, tweet_text string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_checksum_stable_and_salted(spark):
    df = _df(spark, [(1, "a", 0, None), (2, None, 1, None)])
    cols = ["Id", "title"]
    a = {r["Id"]: r[CHECKSUM_COL] for r in with_checksum(df, cols, "s1").collect()}
    b = {r["Id"]: r[CHECKSUM_COL] for r in with_checksum(df, cols, "s1").collect()}
    c = {r["Id"]: r[CHECKSUM_COL] for r in with_checksum(df, cols, "s2").collect()}
    assert a == b  # deterministic
    assert a[1] != c[1]  # ST8: salt bump invalidates
    assert a[1] != a[2]  # distinct rows, distinct sums


def test_checksum_null_vs_empty_distinct(spark):
    # canonical serialization must distinguish null from ""
    df = _df(spark, [(1, "", 0, None), (2, None, 0, None)])
    sums = {
        r["Id"]: r[CHECKSUM_COL]
        for r in with_checksum(df, ["title"], "").collect()
    }
    assert sums[1] != sums[2]


def test_split_incremental_anti_semi(spark):
    cols = ["Id", "title"]
    inp = with_checksum(
        _df(spark, [(1, "a", 0, None), (2, "b", 1, None), (3, "c", 2, None)]),
        cols,
    )
    # cache: 1 unchanged, 2 changed content, 4 disappeared upstream
    cache = with_checksum(
        _df(spark, [(1, "a", 0, "t1"), (2, "OLD", 1, "t2"), (4, "d", 3, "t4")]),
        cols,
    )
    split = split_incremental(inp, cache)
    assert sorted(r["Id"] for r in split.new.collect()) == [2, 3]  # changed+new
    assert sorted(r["Id"] for r in split.kept.collect()) == [1]  # semi: still valid


def test_admission_cap_most_recent(spark):
    inp = with_checksum(
        _df(spark, [(i, f"t{i}", i, None) for i in range(10)]), ["Id", "title"]
    )
    split = split_incremental(inp, None, limit=3, order_col="_ingest_seq")
    assert sorted(r["Id"] for r in split.new.collect()) == [7, 8, 9]


def test_admission_cap_tied_order_is_deterministic(spark):
    # all rows share one _ingest_seq (same poll): the id tiebreak must pick
    # the same rows on any partitioning — highest ids win under desc sort
    inp = with_checksum(
        _df(spark, [(i, f"t{i}", 5, None) for i in range(10)]), ["Id", "title"]
    ).repartition(8)
    for _ in range(3):
        split = split_incremental(inp, None, limit=3, order_col="_ingest_seq")
        assert sorted(r["Id"] for r in split.new.collect()) == [7, 8, 9]


def test_merge_processed_union(spark):
    cols = ["Id", "title"]
    new = with_checksum(_df(spark, [(2, "b", 1, "fresh")]), cols)
    kept = with_checksum(_df(spark, [(1, "a", 0, "old")]), cols)
    out = merge_processed(new, kept)
    assert {r["Id"]: r["tweet_text"] for r in out.collect()} == {
        2: "fresh",
        1: "old",
    }


def test_backfill_unfinished(spark):
    kept = with_checksum(
        _df(
            spark,
            [(1, "a", 0, None), (2, "b", 1, None), (3, "c", 2, "done")],
        ),
        ["Id", "title"],
    )

    def drawn(budget):
        return sorted(
            r["Id"]
            for r in backfill_sample(
                kept, "tweet_text IS NULL", budget, order_col="_ingest_seq"
            ).collect()
        )

    # both unfinished cached rows fit the budget; the finished one never moves
    assert drawn(2) == drawn(5) == [1, 2]
    # a budget of 1 draws one of them, the same one every time (seeded)
    assert drawn(1) in ([1], [2]) and drawn(1) == drawn(1)


def test_skip_set_blanks_checksum(spark):
    df = _df(spark, [(1, "a", 0, None), (2, "b", 1, None)])
    out = {
        r["Id"]: r[CHECKSUM_COL]
        for r in with_checksum(df, ["title"], skip_ids=frozenset({1})).collect()
    }
    assert out[1] == ""  # forced-changed on next compare
    assert out[2] != ""
