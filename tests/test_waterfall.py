"""Full geocode-waterfall + many-config emailer fan-out tests."""

from __future__ import annotations

from service_alerts_connector_spark.enrichment.geocode import (
    StubGeocoder,
    full_geocode_waterfall,
)
from service_alerts_connector_spark.plans.emailer import (
    EmailConfig,
    email_matches,
    pending_emails,
)


def test_full_geocode_waterfall_tiers(spark):
    suggestions = spark.createDataFrame(
        [
            (1, [["Observatory", "Main Road"]]),  # tier1 + tier2 hits
            (2, [["Unknown Place Xyz"]]),  # falls through to geocoder
            (3, [[""]]),  # blank → nothing
        ],
        "Id long, suggested_locations array<array<string>>",
    )
    suburbs = spark.createDataFrame(
        [("observatory", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "name string, WKT string",
    )
    streets = spark.createDataFrame(
        [
            ("Main Road", "LINESTRING (0.1 0.1, 0.9 0.9)"),
            ("Other St", "LINESTRING (5 5, 6 6)"),
        ],
        "street_name string, WKT string",
    )
    out = {
        r["Id"]: r["geospatial_footprint"]
        for r in full_geocode_waterfall(
            suggestions, suburbs, streets, StubGeocoder()
        ).collect()
    }
    # alert 1: suburb polygon + street-segment bbox union → MULTIPOLYGON
    assert out[1].startswith("MULTIPOLYGON")
    assert out[1].count("((") == 2  # two member polygons
    # alert 2: stub-geocoded bbox polygon
    assert out.get(2) is None or out[2].startswith("MULTIPOLYGON")
    assert 3 not in out  # blank suggestion resolved nothing


def test_pending_emails_101_configs_one_projection(spark):
    gold = spark.createDataFrame(
        [
            (1, "Water & Sanitation", "Leak", "Open", True,
             "Official Planning Suburb", ["57"]),
            (2, "Electricity", "Fault", "Open", False,
             "Official Planning Suburb", ["58"]),
            (3, "Water & Sanitation", "Citywide burst", "Open", True,
             "Citywide", ["57"]),
        ],
        "Id long, service_area string, title string, status string, "
        "planned boolean, area_type string, inferred_wards array<string>",
    )
    # 100 ward configs + 1 service-area config
    configs = [
        EmailConfig(name=f"ward-{w}", recipients=(f"w{w}@example.org",), ward=str(w))
        for w in range(1, 101)
    ] + [
        EmailConfig(
            name="water-planned",
            recipients=("water@example.org",),
            service_area="Water & Sanitation",
            planned=True,
        )
    ]
    projected = gold.select("*", email_matches(configs))
    rows = projected.collect()
    pending = pending_emails(rows, gold.columns)
    got = {(r["config_name"], r["Id"]) for r in pending}
    assert got == {
        ("ward-57", 1), ("ward-58", 2),  # Citywide 3 excluded from ward streams
        ("water-planned", 1), ("water-planned", 3),
    }
    # one projection of one gold scan, whatever the config count
    plan = projected._jdf.queryExecution().optimizedPlan()
    assert "Union" not in plan.toString()
    assert plan.collectLeaves().size() == 1

    # sent-log idempotence
    sent = {r["email_key"] for r in pending}
    assert pending_emails(rows, gold.columns, sent) == []
