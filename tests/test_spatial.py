"""Spatial operator tests (J4-J7 on the pure-Python geo fallback)."""

from __future__ import annotations

import pandas as pd

from service_alerts_connector_spark.operators.spatial import (
    area_lookup_join,
    excluded_area_type,
    fuzzy_street_match,
    overlay_footprints,
    overlay_inference,
)
from tests.fixtures import unscannable_layer

# two adjacent 1°×1° suburbs and one far away
SUBURBS = [
    ("OBSERVATORY", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
    ("SALT RIVER", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))"),
    ("FARAWAY", "POLYGON ((50 50, 51 50, 51 51, 50 51, 50 50))"),
]

ALERTS = [
    # footprint straddles both suburbs
    (1, "Official Planning Suburb", "Observatory ",
     "POLYGON ((0.4 0.2, 1.6 0.2, 1.6 0.8, 0.4 0.8, 0.4 0.2))"),
    # tiny sliver: <5% of anything
    (2, "Official Planning Suburb", "Salt River",
     "POLYGON ((0.99 0.0, 1.01 0.0, 1.01 0.01, 0.99 0.01, 0.99 0.0))"),
    (3, "Citywide", "CITYWIDE", None),
]


def _alerts(spark):
    return spark.createDataFrame(
        ALERTS, "Id long, area_type string, area string, geospatial_footprint string"
    )


def _layer(spark):
    return spark.createDataFrame(SUBURBS, "name string, WKT string")


def test_area_lookup_join_trims_and_lowers(spark):
    dim = spark.createDataFrame(
        [("Official Planning Suburb", "observatory  ", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "area_type string, area string, WKT string",
    )
    out = {r["Id"]: r["area_wkt"] for r in area_lookup_join(_alerts(spark), dim).collect()}
    assert out[1] is not None  # "Observatory " matches "observatory  "
    assert out[2] is None


def test_overlay_inference_threshold(spark):
    out = {
        r["Id"]: r["inferred_suburbs"]
        for r in overlay_inference(
            _alerts(spark), _layer(spark), "inferred_suburbs"
        ).collect()
    }
    # alert 1 covers >5% of each adjacent suburb
    assert out[1] == ["OBSERVATORY", "SALT RIVER"]
    # sliver covers <5% of both and both cover <5% of... the sliver is tiny
    # relative to suburbs, but suburbs cover 100% of the sliver -> hit
    assert out[2] is not None and len(out[2]) >= 1
    assert out[3] is None  # no footprint


def test_exclude_area_types():
    area_types = pd.Series(
        [a for _, a, _, _ in ALERTS] + [None, "Driving Licence Testing Centre"]
    )
    assert excluded_area_type(area_types).tolist() == [
        False, False, True, False, True,
    ]


def test_fuzzy_street_match(spark):
    alerts = spark.createDataFrame(
        [
            (1, "Main Roade", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            (2, "Nonexistent Avenue Something", None),
        ],
        "Id long, location string, area_wkt string",
    )
    streets = spark.createDataFrame(
        [
            ("Main Road", "LINESTRING (0.1 0.1, 0.9 0.9)"),
            ("Main Road", "LINESTRING (0.2 0.1, 0.9 0.8)"),  # second segment
            ("Main Road", "LINESTRING (40 40, 41 41)"),  # outside bound
            ("Maine Rd", "LINESTRING (0.5 0.5, 0.6 0.6)"),
        ],
        "street_name string, WKT string",
    )
    out = {r["Id"]: r for r in fuzzy_street_match(alerts, streets).collect()}
    assert out[1]["matched_street"] == "Main Road"  # distance 1 beats 4
    assert len(out[1]["segment_wkts"]) == 2  # same-name in-bound segments union
    assert 2 not in out  # beyond levenshtein bound


def test_overlay_grid_pruning_matches_dense_layer(spark):
    """Grid-pruned overlay over a 20x20 grid layer gives exactly the
    features the footprint overlaps >5% — pruning must not drop hits."""
    layer = spark.createDataFrame(
        [
            (f"CELL_{i}_{j}",
             f"POLYGON (({i} {j}, {i+1} {j}, {i+1} {j+1}, {i} {j+1}, {i} {j}))")
            for i in range(20) for j in range(20)
        ],
        "name string, WKT string",
    )
    alerts = spark.createDataFrame(
        [(1, "POLYGON ((4.5 4.5, 6.5 4.5, 6.5 6.5, 4.5 6.5, 4.5 4.5))")],
        "Id long, geospatial_footprint string",
    )
    out = {
        r["Id"]: r["hit"]
        for r in overlay_inference(alerts, layer, "hit").collect()
    }
    # footprint covers 25% of each of the 4 corner cells and 50% of the 4
    # edge cells and 100% of the center cell -> all 9 cells in [4,6]^2
    assert out[1] == sorted(f"CELL_{i}_{j}" for i in (4, 5, 6) for j in (4, 5, 6))


def test_sedona_gate_absent_falls_back(spark):
    from service_alerts_connector_spark.operators import spatial as S

    assert not S.HAVE_SEDONA  # container has no Sedona (CLAUDE.md)
    # explicit fallback selection works and matches auto-selection
    auto = overlay_inference(_alerts(spark), _layer(spark), "x").collect()
    forced = overlay_inference(
        _alerts(spark), _layer(spark), "x", use_sedona=False
    ).collect()
    assert sorted(map(str, auto)) == sorted(map(str, forced))


import pytest as _pytest

from service_alerts_connector_spark.operators.spatial import HAVE_SEDONA


@_pytest.mark.skipif(
    not HAVE_SEDONA,
    reason="Sedona not installed in this container; branch is "
    "import-gated (operators/spatial.py HAVE_SEDONA)",
)
def test_sedona_branch_matches_fallback(spark):  # pragma: no cover
    sed = overlay_inference(
        _alerts(spark), _layer(spark), "x", use_sedona=True
    ).collect()
    fb = overlay_inference(
        _alerts(spark), _layer(spark), "x", use_sedona=False
    ).collect()
    assert sorted(map(str, sed)) == sorted(map(str, fb))


def test_overlay_construction_launches_no_job(spark, tmp_path):
    """The grid extent is a cross-joined one-row aggregate, not a driver
    probe: building the overlay over a parquet layer runs no Spark job."""
    from tests.fixtures import jobs_launched

    _layer(spark).write.parquet(str(tmp_path / "layer"))
    layer = spark.read.parquet(str(tmp_path / "layer"))
    built = {}
    assert jobs_launched(
        spark,
        lambda: built.update(
            out=overlay_inference(_alerts(spark), layer, "zones", use_sedona=False)
        ),
    ) == 0
    zones = {r["Id"]: r["zones"] for r in built["out"].collect()}
    assert zones[1] == ["OBSERVATORY", "SALT RIVER"] and zones[3] is None


def test_overlay_empty_layer_zones_are_null(spark, tmp_path):
    spark.createDataFrame([], "name string, WKT string").write.parquet(
        str(tmp_path / "empty")
    )
    layer = spark.read.parquet(str(tmp_path / "empty"))
    out = overlay_inference(_alerts(spark), layer, "zones", use_sedona=False)
    assert {r["Id"]: r["zones"] for r in out.collect()} == {
        1: None, 2: None, 3: None,
    }


# every geometry kind the parse accepts, the ones it rejects, a footprint
# that only touches a feature along an edge, and a repeated footprint
PARITY_ALERTS = [
    (1, "POLYGON ((0.4 0.2, 1.6 0.2, 1.6 0.8, 0.4 0.8, 0.4 0.2))"),
    (2, "MULTIPOLYGON (((0.1 0.1, 0.5 0.1, 0.5 0.5, 0.1 0.5, 0.1 0.1)), "
        "((50.2 50.2, 50.6 50.2, 50.6 50.6, 50.2 50.6, 50.2 50.2)))"),
    (3, "POINT (1.5 0.5)"),
    (4, "LINESTRING (0.2 0.5, 0.8 0.5)"),
    (5, "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))"),  # shares SALT RIVER's edge
    (6, "POLYGON ((0.2 0.2, 0.8 0.2, 0.5 0.9, 0.2 0.2))"),  # clip path
    (7, "NOT WKT"),
    (8, "LINESTRING EMPTY"),
    (9, None),
    (10, "POLYGON ((0.4 0.2, 1.6 0.2, 1.6 0.8, 0.4 0.8, 0.4 0.2))"),
]
PARITY_LAYER = SUBURBS + [
    (None, "POLYGON ((0 0, 0.5 0, 0.5 0.5, 0 0.5, 0 0))"),
    ("BROKEN", "NOT WKT"),
    ("NO GEOMETRY", None),
]


def _zones(df, col="zones"):
    return {r["Id"]: r[col] for r in df.collect()}


def test_overlay_footprints_equals_overlay_inference(spark):
    """Both overlay paths share the parse and the 5% rule: equal zones over
    every footprint kind, an edge-touching pair, a null feature name (it
    names no zone; both paths once reported it as "None"), unparseable
    geometry on either side, and an empty layer."""
    alerts = spark.createDataFrame(
        PARITY_ALERTS, "Id long, geospatial_footprint string"
    )
    fps = [fp for _, fp in PARITY_ALERTS]
    for layer in (
        spark.createDataFrame(PARITY_LAYER, "name string, WKT string"),
        spark.createDataFrame([], "name string, WKT string"),
    ):
        got = _zones(overlay_footprints(alerts, fps, layer, "zones"))
        assert got == _zones(
            overlay_inference(alerts, layer, "zones", use_sedona=False)
        )
    assert got == dict.fromkeys(range(1, 11))  # the empty layer
    full = _zones(overlay_footprints(
        alerts, fps,
        spark.createDataFrame(PARITY_LAYER, "name string, WKT string"),
        "zones",
    ))
    assert full[1] == full[10] == ["OBSERVATORY", "SALT RIVER"]
    assert full[5] is None  # edge contact has no area
    assert full[7] is full[8] is full[9] is None


def test_overlay_footprints_without_footprints_touches_no_layer(spark):
    """No footprint: a null array<string> column and no Spark work on the
    layer, whose scan would fail the job."""
    alerts = spark.createDataFrame(
        [(1, None), (2, None)], "Id long, geospatial_footprint string"
    )
    out = overlay_footprints(
        alerts, [None, None], unscannable_layer(spark), "zones"
    )
    assert dict(out.dtypes)["zones"] == "array<string>"
    assert _zones(out) == {1: None, 2: None}
