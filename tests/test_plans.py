"""End-to-end plan tests: augmenter, emailer fan-out, recon CDC, multimodal."""

from __future__ import annotations

from pyspark.sql import functions as F

from service_alerts_connector_spark.plans.augmenter import augment
from service_alerts_connector_spark.plans.emailer import (
    EXAMPLE_EMAIL_CONFIGS,
    email_key,
    legacy_email_key,
    pending_emails,
    send_pending,
)
from service_alerts_connector_spark.plans.recon import recon
from service_alerts_connector_spark.schemas import RAW_SCHEMA
from service_alerts_connector_spark.plans.fixer import fix_alerts
from service_alerts_connector_spark.sources.multimodal import (
    exact_media_dedup,
    media_features,
)
from tests.fixtures import RAW_ALERTS, jobs_launched


def _silver(spark):
    return fix_alerts(spark.createDataFrame(RAW_ALERTS, RAW_SCHEMA))


def test_augment_end_to_end(spark):
    gold = augment(_silver(spark))
    rows = {r["Id"]: r for r in gold.collect()}
    assert len(rows) == 4
    # every admitted row got a draft + toot + checksum
    for r in rows.values():
        assert r["tweet_text"]
        assert r["toot_text"].startswith(r["tweet_text"])
        assert "#CapeTown" in r["toot_text"]
        assert r["InputChecksum"]


def test_augment_incremental_skips_unchanged(spark):
    silver = _silver(spark)
    gold1 = augment(silver)
    # second run against the same silver: nothing changed → drafts identical
    gold2 = augment(silver, previous_gold=gold1)
    t1 = {r["Id"]: r["tweet_text"] for r in gold1.collect()}
    t2 = {r["Id"]: r["tweet_text"] for r in gold2.collect()}
    assert t1 == t2
    assert gold2.count() == gold1.count()


def test_augment_with_gis(spark):
    gis = spark.createDataFrame(
        [("Official Planning Suburb", "SONEIKE II",
          "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "area_type string, area string, WKT string",
    )
    suburbs = spark.createDataFrame(
        [("SONEIKE", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "name string, WKT string",
    )
    gold = augment(_silver(spark), gis_areas=gis, suburb_layer=suburbs)
    rows = {r["Id"]: r for r in gold.collect()}
    assert rows[23121]["geospatial_footprint"] is not None  # J4 exact hit
    assert rows[23121]["inferred_suburbs"] == ["SONEIKE"]  # J5 overlay
    # Citywide alert excluded from spatial work but still present
    assert 23123 in rows


def test_augment_with_location_waterfall(spark):
    from service_alerts_connector_spark.enrichment.llm import StubLLMClient
    from service_alerts_connector_spark.plans.augmenter import AugmenterConfig

    gis = spark.createDataFrame(
        [("NO MATCH", "NOWHERE", "POLYGON ((9 9, 10 9, 10 10, 9 10, 9 9))")],
        "area_type string, area string, WKT string",
    )
    suburbs = spark.createDataFrame(
        [("soneike", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "name string, WKT string",
    )
    streets = spark.createDataFrame(
        [("Main Road", "LINESTRING (0.1 0.1, 0.9 0.9)")],
        "street_name string, WKT string",
    )
    cfg = AugmenterConfig(location_clients=[StubLLMClient("locations")])
    gold = augment(
        _silver(spark),
        gis_areas=gis,
        suburb_layer=suburbs,
        ward_layer=None,
        street_layer=streets,
        config=cfg,
    )
    rows = {r["Id"]: r for r in gold.collect()}
    # no tier-1 GIS hit (area dim doesn't match) → waterfall produced
    # MULTIPOLYGON footprints from stub-suggested locations via the
    # geocoder tail (stub suggestions won't match suburb/street names)
    fps = [r["geospatial_footprint"] for r in rows.values() if r["geospatial_footprint"]]
    assert fps and all(fp.startswith("MULTIPOLYGON") for fp in fps)


def test_emailer_fanout_and_sent_dedup(spark):
    gold = spark.createDataFrame(
        [
            (1, "Water & Sanitation", "Leak", "Open", True, "Official Planning Suburb",
             ["grassy park"], ["57"]),
            (2, "Electricity", "Fault", "Open", False, "Official Planning Suburb",
             ["woodstock"], ["57"]),
            (3, "Water & Sanitation", "Burst", "Open", True, "Citywide",
             None, None),
        ],
        "Id long, service_area string, title string, status string, planned boolean, "
        "area_type string, inferred_suburbs array<string>, inferred_wards array<string>",
    )
    pending = pending_emails(gold, EXAMPLE_EMAIL_CONFIGS)
    got = {(r["config_name"], r["Id"]) for r in pending.collect()}
    assert ("grassy-park-watch", 1) in got  # P6 rlike hit
    assert ("ward-57-unplanned", 2) in got  # P7 ward + planned=False
    assert ("water-planned", 1) in got  # P7 service area + planned=True
    assert ("water-planned", 3) in got
    assert ("grassy-park-watch", 3) not in got  # Citywide excluded by P6

    outbox = []
    sent_log = send_pending(pending, lambda to, subj, html: outbox.append((to, subj)))
    assert len(outbox) == pending.count()
    # second pass with the sent log → nothing pending (ST6 idempotence)
    assert pending_emails(gold, EXAMPLE_EMAIL_CONFIGS, sent_log).count() == 0


def test_emailer_legacy_sent_key_fallback(spark):
    """A sent log migrated from the legacy (status-less) key form still
    dedups: reference checks both filename forms
    (ServiceAlertEmailer.py:793-808)."""
    gold = spark.createDataFrame(
        [(1, "Water & Sanitation", "Leak", "Open", True, "Official Planning Suburb",
          ["grassy park"], ["57"]),
         (2, "Water & Sanitation", "Burst", "Open", True, "Citywide",
          None, None)],
        "Id long, service_area string, title string, status string, planned boolean, "
        "area_type string, inferred_suburbs array<string>, inferred_wards array<string>",
    )
    # a log holding alert 1's LEGACY key only (as a migrated store would)
    legacy_log = (
        gold.where("Id = 1")
        .select(legacy_email_key(F.lit("water-planned")).alias("email_key"))
    )
    pending = pending_emails(gold, EXAMPLE_EMAIL_CONFIGS, legacy_log)
    got = {(r["config_name"], r["Id"]) for r in pending.collect()}
    assert ("water-planned", 1) not in got  # deduped via legacy key
    assert ("water-planned", 2) in got  # untouched alert still pending
    # mixed log: legacy key for 1 + current (status-aware) key for 2
    outbox = []
    mixed = legacy_log.unionByName(
        send_pending(
            pending.where("Id = 2 and config_name = 'water-planned'"),
            lambda to, subj, html: outbox.append(subj),
        ).select("email_key")
    )
    left = {
        (r["config_name"], r["Id"])
        for r in pending_emails(gold, EXAMPLE_EMAIL_CONFIGS, mixed).collect()
    }
    assert ("water-planned", 1) not in left and ("water-planned", 2) not in left


EMAIL_GOLD_SCHEMA = (
    "Id long, service_area string, title string, status string, planned boolean, "
    "area_type string, inferred_suburbs array<string>, inferred_wards array<string>"
)


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def test_pending_emails_equals_per_config_reference(spark):
    """One projection over gold = the per-config ``where`` reference, row
    for row, including rows whose predicates evaluate to null."""
    gold = spark.createDataFrame(
        [
            # matches grassy-park-watch and ward-57-unplanned
            (1, "Water & Sanitation", "Leak", "Open", False, "Official Planning Suburb",
             ["Grassy Park"], ["57"]),
            (2, "Water & Sanitation", "Leak", "Open", True, "Official Planning Suburb",
             ["grassy-park"], ["57", "58"]),
            (3, "Water & Sanitation", "Burst", "Open", None, None, None, None),
            (4, "Electricity", "Fault", "Open", False, None, ["grassy park"], ["57"]),
            (5, "Water & Sanitation", "Burst", "Closed", True, "Citywide",
             ["grassy park"], ["57"]),
            (6, None, None, "Open", None, "Official Planning Suburb", [None], [None]),
        ],
        EMAIL_GOLD_SCHEMA,
    )
    pending = pending_emails(gold, EXAMPLE_EMAIL_CONFIGS)
    reference = [
        gold.where(cfg.predicate())
        .withColumn("config_name", F.lit(cfg.name))
        .withColumn("recipients", F.lit(list(cfg.recipients)).cast("array<string>"))
        .withColumn("email_key", email_key(F.lit(cfg.name)))
        .withColumn("legacy_email_key", legacy_email_key(F.lit(cfg.name)))
        for cfg in EXAMPLE_EMAIL_CONFIGS
    ]
    assert pending.columns == reference[0].columns
    want = sorted(r for df in reference for r in _rows(df))
    assert _rows(pending) == want
    assert {(r["config_name"], r["Id"]) for r in pending.collect()} >= {
        ("grassy-park-watch", 1), ("ward-57-unplanned", 1), ("water-planned", 2),
    }


def test_pending_emails_and_send_job_count(spark, tmp_path):
    """Jobs the pipeline's email step launches: fan-out, sent-log anti-join,
    update flag and send.  The per-config union over a cached gold, with
    the update join in the pipeline, launched 8 here."""
    gold_rows = [
        (1, "Water & Sanitation", "Leak", "Open", True, "Official Planning Suburb",
         ["grassy park"], ["57"]),
        (2, "Electricity", "Fault", "Open", False, "Official Planning Suburb",
         ["woodstock"], ["57"]),
        (3, "Water & Sanitation", "Burst", "Closed", True, "Citywide", None, None),
    ]
    spark.createDataFrame(gold_rows, EMAIL_GOLD_SCHEMA).write.parquet(
        str(tmp_path / "gold")
    )
    gold = spark.read.parquet(str(tmp_path / "gold"))
    sent = send_pending(
        pending_emails(gold.where("Id = 3"), EXAMPLE_EMAIL_CONFIGS), lambda *a: None
    )
    sent.write.parquet(str(tmp_path / "sent"))
    spark.createDataFrame([(1, "Open"), (3, "Open")], "Id long, status string").write.parquet(
        str(tmp_path / "snapshot")
    )
    sent_log = spark.read.parquet(str(tmp_path / "sent"))
    snapshot = spark.read.parquet(str(tmp_path / "snapshot"))
    outbox = []

    def run():
        pending = pending_emails(gold, EXAMPLE_EMAIL_CONFIGS, sent_log, snapshot)
        send_pending(pending, lambda to, subj, html: outbox.append(subj))

    assert jobs_launched(spark, run) == 5
    assert sorted(outbox) == [
        "Service Alert: Fault", "Updated Service Alert: Leak",
        "Updated Service Alert: Leak",
    ]


RECON_GOLD = [(1, "Open", "a"), (2, "Closed", "b"), (3, "Open", "c")]


def _recon_gold(spark):
    return spark.createDataFrame(RECON_GOLD, "Id long, status string, title string")


def _snapshot(spark, pairs):
    return spark.createDataFrame(pairs, "Id long, status string")


def test_recon_cdc(spark, tmp_path):
    gold = _recon_gold(spark)
    prev = _snapshot(spark, [(1, "Open"), (2, "Open")])
    notifications = []
    result = recon(gold, prev, out_root=str(tmp_path), notifier=notifications.extend)
    changed = {r["Id"] for r in result.changed.collect()}
    assert changed == {2, 3}  # 2 status-changed, 3 brand-new
    assert notifications == [3]  # only brand-new Ids notified
    assert (tmp_path / "v1.2" / "3.Open.json").exists()
    assert (tmp_path / "v1" / "2.Closed.json").exists()
    assert result.new_snapshot.count() == 3
    # exact object bytes: gold's column order, one object per version
    objects = {
        str(f.relative_to(tmp_path)): f.read_text()
        for f in tmp_path.rglob("*.json")
    }
    assert objects == {
        f"{v}/{i}.{st}.json": f'{{"Id": {i}, "status": "{st}", "title": "{t}"}}'
        for v in ("v1", "v1.1", "v1.2")
        for i, st, t in RECON_GOLD[1:]
    }


def test_recon_first_run_notifies_every_id(spark, tmp_path):
    notifications = []
    result = recon(
        _recon_gold(spark), None, out_root=str(tmp_path),
        notifier=notifications.extend,
    )
    assert notifications == result.notified_ids == [1, 2, 3]
    assert len(list(tmp_path.rglob("*.json"))) == 3 * len(RECON_GOLD)


def test_recon_snapshot_with_two_statuses_per_id(spark, tmp_path, monkeypatch):
    """An Id the snapshot holds under two statuses is neither written twice
    (the new-Id join must not fan out) nor notified."""
    from service_alerts_connector_spark.plans import recon as recon_mod

    write = recon_mod.write_per_alert_objects
    paths: list[str] = []

    def capture(*args, **kwargs):
        written = write(*args, **kwargs)
        paths.extend(written)
        return written

    monkeypatch.setattr(recon_mod, "write_per_alert_objects", capture)
    prev = _snapshot(spark, [(1, "Open"), (2, "Open"), (2, "Pending")])
    notifications = []
    recon(_recon_gold(spark), prev, out_root=str(tmp_path),
          notifier=notifications.extend)
    assert notifications == [3]
    assert len(paths) == len(set(paths)) == 3 * 2  # Ids 2 and 3, 3 versions


def test_multimodal_features_and_dedup(spark):
    rows = [(1, b"imagebytes-A"), (2, b"imagebytes-A"), (3, b"imagebytes-B")]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    feats = {r["media_id"]: r for r in media_features(media).collect()}
    assert len(feats[1]["feature"]) == 16
    assert feats[1]["content_sha256"] == feats[2]["content_sha256"]
    assert feats[1]["content_sha256"] != feats[3]["content_sha256"]
    # unit-norm fake features, deterministic
    assert abs(sum(x * x for x in feats[1]["feature"]) - 1.0) < 1e-5
    groups = {r["content_sha256"]: r for r in exact_media_dedup(media).collect()}
    assert groups[feats[1]["content_sha256"]]["n_dups"] == 2
    assert groups[feats[1]["content_sha256"]]["keep_id"] == 1


def _media_with_meta(spark, rows):
    from service_alerts_connector_spark.sources.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_resize_rewrites_meta_and_content(spark):
    from service_alerts_connector_spark.sources.multimodal import resize_images

    media = _media_with_meta(
        spark,
        [
            (1, b"img-A", {"mime": "image/png", "width": 640, "height": 480,
                           "duration_ms": None, "source_uri": "u1"}),
            (2, b"img-B", {"mime": "image/png", "width": 64, "height": 64,
                           "duration_ms": None, "source_uri": "u2"}),
        ],
    )
    out = {r["media_id"]: r for r in resize_images(media, 224, 224).collect()}
    assert out[1]["meta"]["width"] == 224 and out[1]["meta"]["height"] == 224
    assert out[1]["meta"]["mime"] == "image/png"  # untouched metadata rides along
    assert out[1]["content"] != b"img-A"  # content replaced by resized bytes
    # deterministic: same input -> same resized content
    again = {r["media_id"]: r for r in resize_images(media, 224, 224).collect()}
    assert bytes(again[1]["content"]) == bytes(out[1]["content"])
    assert bytes(out[1]["content"]) != bytes(out[2]["content"])


def test_sample_frames_grid_and_cap(spark):
    from service_alerts_connector_spark.sources.multimodal import sample_frames

    media = _media_with_meta(
        spark,
        [
            (1, b"vid-A", {"mime": "video/mp4", "width": None, "height": None,
                           "duration_ms": 3500, "source_uri": "v1"}),
            (2, b"vid-B", {"mime": "video/mp4", "width": None, "height": None,
                           "duration_ms": 500_000, "source_uri": "v2"}),
            (3, b"img-C", {"mime": "image/png", "width": 8, "height": 8,
                           "duration_ms": None, "source_uri": "i3"}),
        ],
    )
    out = sample_frames(media, every_ms=1000, max_frames=32).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # 3.5 s video at 1 fps -> frames at 0,1000,2000,3000
    assert sorted(r["frame_ts_ms"] for r in by_id[1]) == [0, 1000, 2000, 3000]
    # 500 s video capped at max_frames (row-size-bomb discipline)
    assert len(by_id[2]) == 32
    # still image (no duration) -> exactly one frame
    assert len(by_id[3]) == 1 and by_id[3][0]["frame_idx"] == 0
    for r in by_id[1]:
        assert abs(sum(x * x for x in r["feature"]) - 1.0) < 1e-5
