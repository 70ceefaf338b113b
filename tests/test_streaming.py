"""Streaming integration: staged page dumps → availableNow micro-batches →
incremental silver state (ST1-ST4), plus the image-link artifact cache."""

from __future__ import annotations

import json

from service_alerts_connector_spark.constants import SANITISED_DATASET
from service_alerts_connector_spark.enrichment.images import (
    missing_images,
    render_missing,
    with_image_links,
)
from service_alerts_connector_spark.plans.fixer import fix_alerts
from service_alerts_connector_spark.operators.dedup import upsert
from service_alerts_connector_spark.sources.parquet_io import (
    list_versions,
    read_dataset,
    write_dataset,
)
from service_alerts_connector_spark.streaming.runner import (
    run_available_now,
    stream_raw_alerts,
)
from tests.fixtures import RAW_ALERTS


def test_stream_available_now_fixer(spark, tmp_path):
    staged = tmp_path / "staged"
    staged.mkdir()
    # page 1: first three alerts; page 2: an update to 23121 + the null-date row
    with open(staged / "page1.jsonl", "w") as f:
        for rec in RAW_ALERTS[:3]:
            f.write(json.dumps(rec) + "\n")
    updated = dict(RAW_ALERTS[0])
    updated["Status12"] = "Issue Resolved"
    updated["_ingest_seq"] = 100
    with open(staged / "page2.jsonl", "w") as f:
        f.write(json.dumps(updated) + "\n")
        f.write(json.dumps(RAW_ALERTS[4]) + "\n")  # null publish date

    lake = str(tmp_path / "lake")

    def batch_fn(batch_df, batch_id):
        silver = fix_alerts(batch_df)
        if list_versions(lake, SANITISED_DATASET):
            prev = read_dataset(batch_df.sparkSession, lake, SANITISED_DATASET)
            silver = upsert(prev, silver)
        write_dataset(silver, lake, SANITISED_DATASET)

    stream = stream_raw_alerts(
        spark, str(staged), max_files_per_trigger=1
    )  # one page per micro-batch → exercises multi-batch state handoff
    run_available_now(stream, batch_fn, str(tmp_path / "ckpt"))

    final = read_dataset(spark, str(tmp_path / "lake"), SANITISED_DATASET)
    rows = {r["Id"]: r for r in final.collect()}
    assert set(rows) == {23121, 23122, 23123}  # null-date row dropped (P2)
    assert rows[23121]["status"] == "Issue Resolved"  # ST7 last-wins upsert
    assert rows[23122]["status"] == "Assigned"

    # re-run with no new files: checkpoint makes it a no-op (ST4)
    stream2 = stream_raw_alerts(spark, str(staged))
    run_available_now(stream2, batch_fn, str(tmp_path / "ckpt"))
    assert read_dataset(
        spark, str(tmp_path / "lake"), SANITISED_DATASET
    ).count() == 3


def test_image_link_cache(spark):
    gold = spark.createDataFrame(
        [
            (1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            (2, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),  # same footprint
            (3, "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"),
            (4, None),
        ],
        "Id long, geospatial_footprint string",
    )
    linked = with_image_links(gold)
    links = {r["Id"]: r["image_filename"] for r in linked.collect()}
    assert links[1] == links[2]  # content-addressed: same footprint, same key
    assert links[1] != links[3]
    assert links[4] is None
    assert all(v.endswith(".png") for v in links.values() if v)

    # nothing rendered yet → 3 rows missing (deduped by key at render time)
    store: dict[str, bytes] = {}
    rendered = render_missing(
        missing_images(linked, None).dropDuplicates(["image_filename"]),
        sink=store.__setitem__,
    )
    assert len(rendered) == 2  # two distinct footprints
    inventory = spark.createDataFrame(
        [(k,) for k in store], "key string"
    )
    # with a full inventory, nothing is missing (S10 anti-join)
    assert missing_images(linked, inventory).count() == 0
