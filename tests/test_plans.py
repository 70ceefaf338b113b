"""End-to-end plan tests: augmenter, emailer fan-out, recon CDC, multimodal."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from service_alerts_connector_spark.plans.augmenter import (
    AugmenterConfig,
    augment,
)
from service_alerts_connector_spark.plans.emailer import (
    EXAMPLE_EMAIL_CONFIGS,
    EmailConfig,
    email_key,
    email_matches,
    legacy_email_key,
    merged_sent_log,
    pending_emails,
    send_pending,
)
from service_alerts_connector_spark.operators.spatial import overlay_inference
from service_alerts_connector_spark.plans.recon import recon, snapshot
from service_alerts_connector_spark.schemas import RAW_SCHEMA
from service_alerts_connector_spark.plans.fixer import fix_alerts
from service_alerts_connector_spark.sources.multimodal import (
    exact_media_dedup,
    media_features,
)
from tests.fixtures import (
    RAW_ALERTS,
    CountingGeocoder,
    CountingLLM,
    calls,
    jobs_launched,
    unscannable_layer,
)


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


def _grid(spark, prefix, nx, ny):
    """(name, WKT) rectangles tiling the stub geocoder's extent."""
    x0, y0, w, h = 18.3, -34.3, 0.52 / nx, 0.42 / ny
    rows = []
    for i in range(nx):
        for j in range(ny):
            a, b = x0 + i * w, y0 + j * h
            rows.append(
                (
                    f"{prefix}{i}_{j}",
                    f"POLYGON (({a} {b}, {a + w} {b}, {a + w} {b + h}, "
                    f"{a} {b + h}, {a} {b}))",
                )
            )
    return spark.createDataFrame(rows, "name string, WKT string")


def _city(spark, tmp_path, waterfall=False):
    """Parquet-backed silver plus city-shaped layers: an 8×8 suburb grid, a
    4×4 ward grid, and a GIS area table no alert matches, so each of the
    three non-citywide fixture alerts takes the geocode tail."""
    _silver(spark).write.parquet(str(tmp_path / "silver"))
    kw = {
        "silver": spark.read.parquet(str(tmp_path / "silver")),
        "suburb_layer": _grid(spark, "SUBURB_", 8, 8),
        "ward_layer": _grid(spark, "WARD_", 4, 4),
        "gis_areas": spark.createDataFrame(
            [("Official Planning Suburb", "NO SUCH AREA",
              _grid(spark, "X", 1, 1).first()["WKT"])],
            "area_type string, area string, WKT string",
        ),
        "config": AugmenterConfig(
            llm_clients=[CountingLLM(str(tmp_path / "llm"))],
            geocoder=CountingGeocoder(str(tmp_path / "geo")),
        ),
    }
    if waterfall:
        kw["config"].location_clients = [
            CountingLLM(str(tmp_path / "loc"), "locations")
        ]
        kw["street_layer"] = spark.createDataFrame(
            [("Main Road", "LINESTRING (18.31 -34.29, 18.32 -34.28)")],
            "street_name string, WKT string",
        )
    return kw


def _digest(df):
    rows = sorted(
        (r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["Id"]
    )
    blob = json.dumps(rows, default=str, sort_keys=True)
    return hashlib.md5(blob.encode()).hexdigest()[:12]


# Gold over the fixture as the join-back augmenter wrote it (whole-row
# digests), and its enrichment values in the default configuration.
GOLD_DIGEST = {False: "294ad22869f6", True: "02cbbd45850b"}
GOLD_ENRICHMENT = {
    23121: ("288ff0c40033", "POLYGON ((18.4435 -34.1532, 18.4535 -34.1532, "
            "18.4535 -34.1432, 18.4435 -34.1432, 18.4435 -34.1532))",
            ["SUBURB_2_2"], ["WARD_1_1"]),
    23122: ("5df6cb9df174", "POLYGON ((18.421 -34.0568, 18.431 -34.0568, "
            "18.431 -34.0468, 18.421 -34.0468, 18.421 -34.0568))",
            ["SUBURB_1_4", "SUBURB_2_4"], ["WARD_0_2", "WARD_1_2"]),
    23123: ("f0ba10a57457", None, None, None),  # citywide: no spatial work
    23125: ("8603563a3779", "POLYGON ((18.4955 -33.9276, 18.5055 -33.9276, "
            "18.5055 -33.9176, 18.4955 -33.9176, 18.4955 -33.9276))",
            ["SUBURB_3_7"], ["WARD_1_3"]),
}


@pytest.mark.parametrize("waterfall", [False, True])
def test_augment_calls_each_service_once_per_alert(spark, tmp_path, waterfall):
    """Each external service sees each admitted alert once: 4 drafts for 4
    alerts, and one geocode per located alert (default) or per suggested
    location (waterfall).  The join-back plan drafted 8 times and geocoded
    6 times in the default configuration.  Gold is unchanged."""
    gold = augment(**_city(spark, tmp_path, waterfall))
    assert _digest(gold) == GOLD_DIGEST[waterfall]
    assert len(calls(tmp_path / "llm")) == 4
    geocoded = calls(tmp_path / "geo")
    assert len(geocoded) == len(set(geocoded))
    if waterfall:
        # three located alerts, two stub suggestions each
        assert len(calls(tmp_path / "loc")) == 3
        assert len(geocoded) == 6
    else:
        assert len(geocoded) == 3
        got = {
            r["Id"]: (
                r["tweet_text"] and r["tweet_text"].split()[3][:-1],
                r["geospatial_footprint"],
                r["inferred_suburbs"],
                r["inferred_wards"],
            )
            for r in gold.collect()
        }
        assert got == GOLD_ENRICHMENT


def test_augment_job_counts_and_nothing_cached(spark, tmp_path):
    """Building the gold DataFrame launches the work-set collect only, and
    writing it runs the Spark tail (toot, overlays, image links, merge);
    nothing stays persisted.  The join-back plan launched 4 + 19, and the
    grid-join overlay of the work set 2 + 13."""
    kw = _city(spark, tmp_path)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    built = {}
    assert jobs_launched(spark, lambda: built.update(gold=augment(**kw))) == 2
    assert jobs_launched(
        spark, lambda: built["gold"].write.parquet(str(tmp_path / "gold"))
    ) == 5
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted


def test_gold_plan_overlays_work_set_in_one_layer_pass(spark, tmp_path):
    """Gold's plan keeps both parquet layers as scans, has no grid-cell
    join (no ``_cx``/``_cy`` keys), and one ``MapInPandas`` per layer."""
    kw = _city(spark, tmp_path)
    for name in ("suburb_layer", "ward_layer"):
        kw[name].write.parquet(str(tmp_path / name))
        kw[name] = spark.read.parquet(str(tmp_path / name))
    plan = augment(**kw)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReadSchema: struct<name:string,WKT:string>") == 2
    assert "_cx" not in plan and "_cy" not in plan
    assert plan.count("MapInPandas") == 2


def test_augment_rerun_job_counts_and_no_layer_work(spark, tmp_path):
    """A rerun over the augmenter's own gold with nothing changed has an
    empty work set: the work-set and backfill collects build it (6 jobs),
    the write takes 2, and neither layer is scanned.  The grid-join
    overlay of the work set read 6 + 6 or 6 + 7."""
    kw = _city(spark, tmp_path)
    augment(**kw).write.parquet(str(tmp_path / "gold1"))
    kw.update(
        previous_gold=spark.read.parquet(str(tmp_path / "gold1")),
        suburb_layer=unscannable_layer(spark),
        ward_layer=unscannable_layer(spark),
    )
    built = {}
    assert jobs_launched(spark, lambda: built.update(gold=augment(**kw))) == 6
    assert jobs_launched(
        spark, lambda: built["gold"].write.parquet(str(tmp_path / "gold2"))
    ) == 2
    assert spark.read.parquet(str(tmp_path / "gold2")).count() == 4


def test_augment_unbounded_work_set_zones_equal_overlay_inference(
    spark, tmp_path
):
    """A seed run (``data_size_limit=None``) sends every footprint of its
    work set past the layers in one pass each; the zones equal those of
    the grid-join overlay over the same footprints."""
    kw = _city(spark, tmp_path)
    raw = [
        dict(RAW_ALERTS[0], Id=30000 + i, _ingest_seq=i,
             Address_x0020_Location_x0020_2=f"{i} Main Road")
        for i in range(150)
    ]
    kw["silver"] = fix_alerts(spark.createDataFrame(raw, RAW_SCHEMA))
    kw["config"] = AugmenterConfig(data_size_limit=None)
    gold = augment(**kw).select(
        "Id", "geospatial_footprint", "inferred_suburbs", "inferred_wards"
    )
    rows = gold.collect()
    assert len({r["geospatial_footprint"] for r in rows}) > 100
    for layer, col in (
        (kw["suburb_layer"], "inferred_suburbs"),
        (kw["ward_layer"], "inferred_wards"),
    ):
        reference = overlay_inference(
            gold.select("Id", "geospatial_footprint"), layer, col,
            use_sedona=False,
        )
        assert {r["Id"]: r[col] for r in rows} == {
            r["Id"]: r[col] for r in reference.collect()
        }
    assert any(len(r["inferred_suburbs"] or ()) > 1 for r in rows)


def test_augment_backfills_unfinished_cached_rows(spark, tmp_path):
    """ST5: with nothing changed upstream, cached rows that lack a draft
    come back into the work set once, are drafted and located again, and
    are not also passed through from the cache.  23122's cached row holds
    a two-suburb array, which its prompt record keeps whole."""
    kw = _city(spark, tmp_path)
    gold1 = augment(**kw)
    unfinished = (23122, 23125)
    gold1.withColumn(
        "tweet_text",
        F.when(F.col("Id").isin(*unfinished), None).otherwise(
            F.col("tweet_text")
        ),
    ).write.parquet(str(tmp_path / "gold1"))
    before = {r["Id"]: r.asDict() for r in gold1.collect()}
    for name in ("llm", "geo"):
        (tmp_path / name).unlink()
    gold2 = augment(
        previous_gold=spark.read.parquet(str(tmp_path / "gold1")), **kw
    )
    after = [r.asDict() for r in gold2.collect()]
    assert len(calls(tmp_path / "llm")) == len(calls(tmp_path / "geo")) == 2
    assert sorted(r["Id"] for r in after) == sorted(before)
    for r in after:
        old = before[r["Id"]]
        if r["Id"] in unfinished:
            assert r["tweet_text"] and r["toot_text"].startswith(r["tweet_text"])
            for col in ("geospatial_footprint", "inferred_suburbs"):
                assert r[col] == old[col]
        else:
            assert r == old


def _pending(gold, configs, sent_keys=frozenset(), previous_ids=frozenset()):
    """The pipeline's email step over one collect of gold."""
    rows = gold.select("*", email_matches(configs)).collect()
    return pending_emails(rows, gold.columns, sent_keys, previous_ids)


def _keys(log):
    return [r["email_key"] for r in log.collect()]


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
    pending = _pending(gold, EXAMPLE_EMAIL_CONFIGS)
    got = {(r["config_name"], r["Id"]) for r in pending}
    assert ("grassy-park-watch", 1) in got  # P6 rlike hit
    assert ("ward-57-unplanned", 2) in got  # P7 ward + planned=False
    assert ("water-planned", 1) in got  # P7 service area + planned=True
    assert ("water-planned", 3) in got
    assert ("grassy-park-watch", 3) not in got  # Citywide excluded by P6

    outbox = []
    sent_log = send_pending(
        spark, pending, lambda to, subj, html: outbox.append((to, subj))
    )
    assert len(outbox) == len(pending)
    # second pass with the sent log → nothing pending (ST6 idempotence)
    assert _pending(gold, EXAMPLE_EMAIL_CONFIGS, set(_keys(sent_log))) == []


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
    legacy_log = set(_keys(
        gold.where("Id = 1")
        .select(legacy_email_key(F.lit("water-planned")).alias("email_key"))
    ))
    pending = _pending(gold, EXAMPLE_EMAIL_CONFIGS, legacy_log)
    got = {(r["config_name"], r["Id"]) for r in pending}
    assert ("water-planned", 1) not in got  # deduped via legacy key
    assert ("water-planned", 2) in got  # untouched alert still pending
    # mixed log: legacy key for 1 + current (status-aware) key for 2
    outbox = []
    mixed = legacy_log | set(_keys(
        send_pending(
            spark,
            [r for r in pending if (r["config_name"], r["Id"]) == ("water-planned", 2)],
            lambda to, subj, html: outbox.append(subj),
        )
    ))
    left = {
        (r["config_name"], r["Id"])
        for r in _pending(gold, EXAMPLE_EMAIL_CONFIGS, mixed)
    }
    assert ("water-planned", 1) not in left and ("water-planned", 2) not in left


EMAIL_GOLD_SCHEMA = (
    "Id long, service_area string, title string, status string, planned boolean, "
    "area_type string, inferred_suburbs array<string>, inferred_wards array<string>"
)


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
    pending = _pending(gold, EXAMPLE_EMAIL_CONFIGS, previous_ids={2, 6})
    reference = [
        gold.where(cfg.predicate())
        .withColumn("config_name", F.lit(cfg.name))
        .withColumn("recipients", F.lit(list(cfg.recipients)).cast("array<string>"))
        .withColumn("email_key", email_key(F.lit(cfg.name)))
        .withColumn("legacy_email_key", legacy_email_key(F.lit(cfg.name)))
        for cfg in EXAMPLE_EMAIL_CONFIGS
    ]
    # the HTML lists fields in record order
    assert {tuple(rec) for rec in pending} == {(*reference[0].columns, "_is_update")}
    want = sorted(
        repr(sorted(r.asDict().items())) for df in reference for r in df.collect()
    )
    got = sorted(
        repr(sorted((k, v) for k, v in rec.items() if k != "_is_update"))
        for rec in pending
    )
    assert got == want
    assert {(r["config_name"], r["Id"]) for r in pending} >= {
        ("grassy-park-watch", 1), ("ward-57-unplanned", 1), ("water-planned", 2),
    }
    assert {r["Id"] for r in pending if r["_is_update"]} == {2}


def test_pending_emails_and_send_job_count(spark, tmp_path):
    """Jobs the pipeline's email step launches.  The DataFrame fan-out with
    its two sent-log anti joins, the update join and the send launched 5
    here (the per-config union over a cached gold, 8).  Now the matches
    ride in one collect of gold, the fan-out and the send run on the
    driver, and the sent log commits in one shuffle-free job."""
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
    got = {}
    collect = lambda: got.update(
        rows=gold.select("*", email_matches(EXAMPLE_EMAIL_CONFIGS)).collect()
    )
    assert jobs_launched(spark, collect) == 1
    rows = got["rows"]
    sent = send_pending(
        spark,
        pending_emails([r for r in rows if r["Id"] == 3], gold.columns),
        lambda *a: None,
    )
    sent.write.parquet(str(tmp_path / "sent"))
    sent_log = spark.read.parquet(str(tmp_path / "sent"))
    sent_keys = set(_keys(sent_log))
    outbox = []

    def run():
        pending = pending_emails(rows, gold.columns, sent_keys, {1, 3})
        got.update(
            new_log=send_pending(
                spark, pending, lambda to, subj, html: outbox.append(subj)
            )
        )

    assert jobs_launched(spark, run) == 0
    assert sorted(outbox) == [
        "Service Alert: Fault", "Updated Service Alert: Leak",
        "Updated Service Alert: Leak",
    ]
    commit = lambda: merged_sent_log(sent_log, got["new_log"]).write.parquet(
        str(tmp_path / "sent2")
    )
    assert jobs_launched(spark, commit) == 1
    assert len(list((tmp_path / "sent2").glob("part-*"))) == 1


def test_send_nothing_gives_typed_empty_log(spark):
    log = send_pending(spark, [], lambda *a: None)
    assert log.schema.simpleString() == (
        "struct<email_key:string,config_name:string,Id:bigint>"
    )
    assert log.collect() == []


def test_sent_log_holds_each_key_once(spark, tmp_path):
    """Two configs under one name, or gold holding one (Id, status) twice,
    match one delivery key twice: every match is sent, and the committed
    sent log holds the key once — with or without a previous log."""
    gold = spark.createDataFrame(
        [
            (1, "Water & Sanitation", "Leak", "Open", True, None, None, ["57"]),
            (2, "Electricity", "Fault", "Open", False, None, None, ["58"]),
            (2, "Electricity", "Fault", "Open", False, None, None, ["58"]),
        ],
        EMAIL_GOLD_SCHEMA,
    )
    configs = [
        EmailConfig(name="twin", recipients=("a@example.org",), ward="57"),
        EmailConfig(name="twin", recipients=("b@example.org",), ward="57"),
        EmailConfig(name="fault", recipients=("c@example.org",), ward="58"),
    ]
    outbox = []
    new_log = send_pending(
        spark, _pending(gold, configs), lambda to, subj, html: outbox.append(to)
    )
    assert sorted(outbox) == [
        ("a@example.org",), ("b@example.org",),
        ("c@example.org",), ("c@example.org",),
    ]
    previous = spark.createDataFrame([("k0", "old", 9)], new_log.schema)
    for log in (None, previous):
        keys = _keys(merged_sent_log(log, new_log))
        assert len(keys) == len(set(keys)) == 2 + (log is not None)


RECON_GOLD = [(1, "Open", "a"), (2, "Closed", "b"), (3, "Open", "c")]


def _recon_gold(spark):
    return spark.createDataFrame(RECON_GOLD, "Id long, status string, title string")


def _recon(gold, previous, **sinks):
    return recon(gold.collect(), gold.columns, previous, **sinks)


def test_recon_cdc(spark, tmp_path):
    gold = _recon_gold(spark)
    prev = {(1, "Open"), (2, "Open")}
    notifications = []
    result = _recon(gold, prev, out_root=str(tmp_path), notifier=notifications.extend)
    changed = {r["Id"] for r in result.changed}
    assert changed == {2, 3}  # 2 status-changed, 3 brand-new
    assert notifications == [3]  # only brand-new Ids notified
    assert (tmp_path / "v1.2" / "3.Open.json").exists()
    assert (tmp_path / "v1" / "2.Closed.json").exists()
    assert snapshot(gold).count() == 3
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
    result = _recon(
        _recon_gold(spark), set(), out_root=str(tmp_path),
        notifier=notifications.extend,
    )
    assert notifications == result.notified_ids == [1, 2, 3]
    assert len(list(tmp_path.rglob("*.json"))) == 3 * len(RECON_GOLD)


def _capture_objects(monkeypatch) -> list[str]:
    from service_alerts_connector_spark.plans import recon as recon_mod

    write = recon_mod.write_per_alert_objects
    paths: list[str] = []

    def capture(*args, **kwargs):
        written = write(*args, **kwargs)
        paths.extend(written)
        return written

    monkeypatch.setattr(recon_mod, "write_per_alert_objects", capture)
    return paths


def test_recon_snapshot_with_two_statuses_per_id(spark, tmp_path, monkeypatch):
    """An Id the snapshot holds under two statuses is neither written twice
    (the new-Id join must not fan out) nor notified."""
    paths = _capture_objects(monkeypatch)
    prev = {(1, "Open"), (2, "Open"), (2, "Pending")}
    notifications = []
    _recon(_recon_gold(spark), prev, out_root=str(tmp_path),
           notifier=notifications.extend)
    assert notifications == [3]
    assert len(paths) == len(set(paths)) == 3 * 2  # Ids 2 and 3, 3 versions


@pytest.mark.parametrize("first_run", [True, False])
def test_recon_null_id_or_status_is_never_changed(
    spark, tmp_path, monkeypatch, first_run
):
    """As under SQL join semantics, a gold row with a null Id or a null
    status is neither written as an object nor notified, whether or not
    the snapshot holds the same null pair."""
    paths = _capture_objects(monkeypatch)
    gold = spark.createDataFrame(
        RECON_GOLD + [(None, "Open", "d"), (4, None, "e"), (5, "Open", "f")],
        "Id long, status string, title string",
    )
    prev = set() if first_run else {(None, "Open"), (4, None), (5, None)}
    notifications = []
    result = _recon(gold, prev, out_root=str(tmp_path),
                    notifier=notifications.extend)
    changed = {r["Id"] for r in result.changed}
    assert changed == {1, 2, 3, 5}
    assert notifications == ([1, 2, 3, 5] if first_run else [1, 2, 3])
    assert sorted(paths) == sorted(
        str(tmp_path / v / f"{i}.{st}.json")
        for v in ("v1", "v1.1", "v1.2")
        for i, st in [(1, "Open"), (2, "Closed"), (3, "Open"), (5, "Open")]
    )


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
