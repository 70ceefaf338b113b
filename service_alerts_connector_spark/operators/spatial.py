"""Spatial operators (SURVEY J4-J7, A6, F19-F20) — Sedona-shaped semantics
on the pure-Python geo fallback.

Execution model: the overlay (J5/J6) has two paths that share one WKT
parse (``_shape``) and one 5% rule (``_overlaps``), and neither collects
the GIS layer to the driver:

* ``overlay_inference``, the catalog-scale path, is a **grid-keyed
  equi-join**: the layer and the alert footprints stay DataFrames
  end-to-end, exploded to covered grid cells and joined on the cell key,
  so a country-scale layer shuffles like any other fact-fact join;
* ``overlay_footprints`` serves a caller that already holds a small work
  set's footprints on the driver (the augmenter): they ride in the task
  closure and the layer streams past them in one ``mapInPandas``.

Name-keyed lookups (J4) and the fuzzy street dimension (J7) remain
broadcast joins — genuinely small dimensions.

With Apache Sedona installed the overlay compiles to ST_* expression range
joins instead (spatially partitioned by Sedona's optimizer); the operator
signatures are deliberately join-shaped so that swap is local to this
module.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import ID_COL
from service_alerts_connector_spark.geo import ops as G
from service_alerts_connector_spark.geo import wkt as W

# Import-gated Sedona branch (mirrors the PIL gate in sources/multimodal.py).
# When Apache Sedona is on the classpath + pip-installed, the spatial
# operators (J5/J6/J7) compile to ST_* expression joins that Sedona's
# optimizer turns into spatially-partitioned range joins — the 100 TB path.
# This container has no Sedona (CLAUDE.md), so the pure-Python geo fallback
# runs; the branch is selected automatically, overridable per-call.
try:  # pragma: no cover — Sedona is not installed in this container
    from sedona.spark import SedonaContext  # type: ignore  # noqa: F401

    HAVE_SEDONA = True
except ImportError:
    HAVE_SEDONA = False

# Area types excluded from spatial inference (reference
# ServiceAlertAugmenter.py:64 AREA_TYPE_EXCLUSION_SET — P9).
AREA_TYPE_EXCLUSION = ("Citywide", "Driving Licence Testing Centre",
                       "Driving License Testing Centre")


def _to_polys(wkt_str: str) -> list[W.Polygon]:
    kind, shape = W.parse_wkt(wkt_str)
    if kind == "polygon":
        return [shape]  # type: ignore[list-item]
    if kind == "multipolygon":
        return list(shape)  # type: ignore[arg-type]
    if kind == "point":
        x, y = shape  # type: ignore[misc]
        return [G.bbox_polygon(x - 1e-4, y - 1e-4, x + 1e-4, y + 1e-4)]
    if kind == "linestring":
        minx, miny, maxx, maxy = G.bbox(shape)  # type: ignore[arg-type]
        return [G.bbox_polygon(minx - 1e-4, miny - 1e-4, maxx + 1e-4, maxy + 1e-4)]
    raise ValueError(kind)


Shape = tuple[list[W.Polygon], tuple[float, float, float, float], float]


def _shape(wkt_str) -> Shape | None:
    """WKT → (polygons, bbox, area); None for a null, unparseable or empty
    geometry, which no overlay path ever matches."""
    if not isinstance(wkt_str, str):
        return None
    try:
        polys = _to_polys(wkt_str)
        box = G.merge_bboxes([G.bbox(p[0]) for p in polys if p])
    except ValueError:
        return None
    if box is None:
        return None
    return polys, box, sum(G.polygon_area(p) for p in polys)


def _shape_memo():
    """``_shape`` behind a task-lifetime memo: zone grids and tile layers
    repeat a small vocabulary of WKT strings (the catalog fixture has 1.6 k
    distinct alert boxes over 15 k rows, 25 features), so each distinct
    string is parsed once per task instead of once per row or pair."""
    memo: dict[str, Shape | None] = {}

    def shape(wkt_str) -> Shape | None:
        if wkt_str not in memo:
            memo[wkt_str] = _shape(wkt_str)
        return memo[wkt_str]

    return shape


def _overlaps(a: Shape, f: Shape, min_overlap: float) -> bool:
    """The reference's 5% rule (ServiceAlertAugmenter.py:649-681): the exact
    intersection covers more than ``min_overlap`` of either geometry."""
    inter = sum(G.intersection_area(x, y) for x in a[0] for y in f[0])
    return inter > 0 and (
        (f[2] > 0 and inter / f[2] > min_overlap)
        or (a[2] > 0 and inter / a[2] > min_overlap)
    )


def area_lookup_join(
    alerts: DataFrame,
    gis_dim: DataFrame,
    area_type_col: str = "area_type",
    area_col: str = "area",
    wkt_col: str = "WKT",
) -> DataFrame:
    """J4 — area polygon by composite (area_type, area) key.

    The reference builds per-type dicts of stripped name → WKT
    (ServiceAlertAugmenter.py:509-535); here it's a broadcast equi-join with
    trim+lower normalization on the build side and a case-normalized probe.
    """
    dim = gis_dim.select(
        F.col(area_type_col).alias("_at"),
        F.lower(F.trim(F.col(area_col))).alias("_an"),
        F.col(wkt_col).alias("area_wkt"),
    )
    joined = alerts.join(
        F.broadcast(dim),
        (F.col(area_type_col) == F.col("_at"))
        & (F.lower(F.trim(F.col(area_col))) == F.col("_an")),
        "left",
    )
    return joined.drop("_at", "_an")


def overlay_inference_sedona(
    alerts: DataFrame,
    layer: DataFrame,
    out_col: str,
    footprint_col: str = "geospatial_footprint",
    layer_name_col: str = "name",
    layer_wkt_col: str = "WKT",
    min_overlap: float = 0.05,
) -> DataFrame:
    """J5/J6 on Sedona: ST_Intersects predicate join + proportional-overlap
    filter via ST_Area(ST_Intersection), then collect_set per alert.

    Requires a Sedona-registered SparkSession (``SedonaContext.create``).
    Sedona rewrites the ST_Intersects theta-join into a spatial range join
    with its own spatial partitioning — no broadcast-collect of the layer,
    so this is the branch that survives country-scale layers.  Semantics
    match ``overlay_inference`` (the reference's 5% rule,
    ServiceAlertAugmenter.py:649-681).
    """
    a = (
        alerts.select(ID_COL, footprint_col)
        .where(F.col(footprint_col).isNotNull())
        .withColumn("_ag", F.expr(f"ST_GeomFromWKT(`{footprint_col}`)"))
    )
    lay = layer.where(F.col(layer_name_col).isNotNull()).select(
        F.col(layer_name_col).cast("string").alias("_fname"),
        F.expr(f"ST_GeomFromWKT(`{layer_wkt_col}`)").alias("_fg"),
    )
    pairs = a.join(lay, F.expr("ST_Intersects(_ag, _fg)"))
    scored = (
        pairs.withColumn("_inter", F.expr("ST_Area(ST_Intersection(_ag, _fg))"))
        .withColumn("_fa", F.expr("ST_Area(_fg)"))
        .withColumn("_aa", F.expr("ST_Area(_ag)"))
    )
    hits = scored.where(
        ((F.col("_fa") > 0) & (F.col("_inter") / F.col("_fa") > min_overlap))
        | ((F.col("_aa") > 0) & (F.col("_inter") / F.col("_aa") > min_overlap))
    )
    inferred = hits.groupBy(ID_COL).agg(
        F.sort_array(F.collect_set("_fname")).alias(out_col)
    )
    return alerts.join(inferred, ID_COL, "left")


def _bbox_prep(
    df: DataFrame,
    key_cols: list[str],
    wkt_col: str,
    out_schema: str,
) -> DataFrame:
    """Parse WKT per row → (key cols..., wkt, minx, miny, maxx, maxy).

    Pure-Python parse inside Arrow batches (``_shape``, memoised per task);
    rows with null/unparseable WKT are dropped.  Narrow in, narrow out —
    geometry never leaves as anything but its WKT string, so the
    downstream cell-join shuffles strings, not Python objects.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shape = _shape_memo()
        for pdf in batches:
            rows: list[tuple] = []
            wkts = pdf[wkt_col].tolist()
            # key_cols may be empty (r16 distinct-footprint collapse: the
            # WKT string is its own key) — zip(*()) would yield nothing
            keys = (
                list(zip(*(pdf[k].tolist() for k in key_cols)))
                if key_cols
                else [()] * len(wkts)
            )
            for key_tup, wkt_str in zip(keys, wkts):
                parsed = shape(wkt_str)
                if parsed is not None:
                    rows.append(key_tup + (wkt_str,) + parsed[1])
            cols = key_cols + [wkt_col, "_minx", "_miny", "_maxx", "_maxy"]
            yield pd.DataFrame(rows, columns=cols)

    return df.select(*key_cols, wkt_col).mapInPandas(run, out_schema)


def overlay_inference(
    alerts: DataFrame,
    layer: DataFrame,
    out_col: str,
    footprint_col: str = "geospatial_footprint",
    layer_name_col: str = "name",
    layer_wkt_col: str = "WKT",
    min_overlap: float = 0.05,
    use_sedona: bool | None = None,
) -> DataFrame:
    """J5 + A1 — proportional-overlap spatial inference, the catalog-scale
    path: for footprint sets too large to ship in a task closure (the
    catalog's 15 k alerts).  A caller that holds a small work set's
    footprints on the driver uses ``overlay_footprints`` instead.

    For each alert footprint, collect the layer features whose intersection
    covers >``min_overlap`` of either geometry (the reference's 5% rule,
    ServiceAlertAugmenter.py:649-681), as a sorted array in ``out_col``.
    Features with a null name name no zone.

    Fallback execution (no Sedona) is a **grid-keyed equi-join** — the
    layer is a full DataFrame participant, never collected to the driver:

    1. the alert side collapses to DISTINCT footprint strings (r16:
       zones are a pure function of the footprint, and real feeds repeat
       template geometries — every Python stage below runs once per
       distinct geometry, never per alert row);
    2. both sides get WKT-parsed bbox columns via ``mapInPandas``
       (``_bbox_prep`` — narrow, no shuffle);
    3. a uniform grid is sized from a one-row layer-extent aggregate
       (same ``sqrt(n)``-per-axis heuristic as ``geo.ops.GridIndex``,
       ≤256 cells/axis), broadcast-cross-joined onto both sides — nothing
       reaches the driver, and building the DataFrame launches no job;
    4. each side explodes to its covered ``(cell_x, cell_y)`` keys
       JVM-side (``sequence`` + ``explode`` over floor-clamped bbox
       cells) and the candidate join is a plain shuffle equi-join on the
       cell key — Spark distributes it like any other join, AQE handles
       hot cells;
    5. a pair surviving the bbox-overlap filter is kept only in its
       **canonical cell** (the cell of the overlap region's min corner),
       so multi-cell pairs dedup without a ``distinct`` shuffle;
    6. the exact Sutherland–Hodgman intersection + 5% rule
       (``_overlaps``) runs per joined pair in one Arrow-batched kernel,
       hits aggregate with ``collect_set`` per footprint, and a final
       footprint-keyed join maps zones back onto every alert row
       (broadcast when the distinct geometry vocabulary is small).

    This is the candidate pruning ``overlay_footprints`` gets from
    ``geo.ops.GridIndex`` (and the reference from geopandas' R-tree,
    ServiceAlertAugmenter.py:649-681), but expressed as data, so neither
    side has to fit in a task.  With Sedona present the ST_Intersects range
    join takes over wholesale (``overlay_inference_sedona``).

    Cost: the layer is scanned twice in the one plan (extent aggregate +
    join side); both scans are embarrassingly parallel and shuffle-free,
    which is the right trade against materializing a parsed copy.
    """
    if use_sedona is None:
        use_sedona = HAVE_SEDONA
    if use_sedona:
        return overlay_inference_sedona(
            alerts, layer, out_col, footprint_col,
            layer_name_col, layer_wkt_col, min_overlap,
        )

    # Distinct-footprint collapse (r16, the textdedup exact-collapse move
    # applied to geometry): zones depend ONLY on the footprint string, and
    # real alert feeds repeat template geometries (the catalog fixture has
    # 1.6 k distinct boxes over 15 k alerts), so every Python stage below
    # — WKT parse, cell explode, candidate join, clip kernel — runs once
    # per DISTINCT footprint and the per-alert answer is a map-back join
    # (AQE broadcasts the footprint→zones frame when small).  The explicit
    # partition count on the distinct keeps the CPU-bound parse/clip
    # stages parallel (AQE would coalesce the few-MB distinct output to
    # ~1 task; byte-cheap rows, CPU-expensive downstream).  A corpus of
    # all-unique footprints pays one narrow distinct exchange + a
    # broadcast-ish join — the same accepted premium class as
    # textdedup.collapsed_assignment.
    par = alerts.sparkSession.sparkContext.defaultParallelism
    distinct_fp = (
        alerts.select(footprint_col)
        .where(F.col(footprint_col).isNotNull())
        .repartition(par, F.col(footprint_col))
        .distinct()
    )

    # a feature without a name names no zone
    feats = _bbox_prep(
        layer.where(F.col(layer_name_col).isNotNull()),
        [layer_name_col],
        layer_wkt_col,
        f"`{layer_name_col}` string, `{layer_wkt_col}` string, "
        "_minx double, _miny double, _maxx double, _maxy double",
    )

    # grid sizing: a one-row aggregate over the layer bboxes, cross-joined
    # onto both sides instead of collected, so building the plan launches
    # no job.  An empty layer has no feature cells, so every zone is null.
    n_axis = F.greatest(
        F.lit(1),
        F.least(F.lit(256), F.floor(F.sqrt(F.count(F.lit(1)))).cast("int")),
    )

    def width(hi: str, lo: str):
        span = (F.max(hi) - F.min(lo)) / n_axis
        return F.when(span == 0, F.lit(1.0)).otherwise(span)

    grid = F.broadcast(
        feats.agg(
            F.min("_minx").alias("_gx"), F.min("_miny").alias("_gy"),
            n_axis.alias("_na"),
            width("_maxx", "_minx").alias("_sx"),
            width("_maxy", "_miny").alias("_sy"),
        )
    )

    def cell(v, lo: str, width: str):
        return F.least(
            F.col("_na") - 1,
            F.greatest(
                F.lit(0),
                F.floor((v - F.col(lo)) / F.col(width)).cast("int"),
            ),
        )

    def with_cells(df: DataFrame) -> DataFrame:
        return df.crossJoin(grid).withColumn(
            "_cx",
            F.explode(
                F.sequence(
                    cell(F.col("_minx"), "_gx", "_sx"),
                    cell(F.col("_maxx"), "_gx", "_sx"),
                )
            ),
        ).withColumn(
            "_cy",
            F.explode(
                F.sequence(
                    cell(F.col("_miny"), "_gy", "_sy"),
                    cell(F.col("_maxy"), "_gy", "_sy"),
                )
            ),
        )

    aprep = _bbox_prep(
        distinct_fp,
        [],
        footprint_col,
        f"`{footprint_col}` string, "
        "_minx double, _miny double, _maxx double, _maxy double",
    )
    a_cells = with_cells(aprep).select(
        footprint_col, "_cx", "_cy", "_gx", "_gy", "_sx", "_sy", "_na",
        F.col("_minx").alias("_aminx"), F.col("_miny").alias("_aminy"),
        F.col("_maxx").alias("_amaxx"), F.col("_maxy").alias("_amaxy"),
    )
    f_cells = with_cells(feats).select(
        F.col(layer_name_col).alias("_fname"),
        F.col(layer_wkt_col).alias("_fwkt"),
        "_cx", "_cy",
        F.col("_minx").alias("_fminx"), F.col("_miny").alias("_fminy"),
        F.col("_maxx").alias("_fmaxx"), F.col("_maxy").alias("_fmaxy"),
    )

    pairs = (
        a_cells.join(f_cells, ["_cx", "_cy"])
        .where(
            (F.col("_aminx") <= F.col("_fmaxx"))
            & (F.col("_fminx") <= F.col("_amaxx"))
            & (F.col("_aminy") <= F.col("_fmaxy"))
            & (F.col("_fminy") <= F.col("_amaxy"))
        )
        # canonical-cell dedup: the overlap region's min corner lies in
        # exactly one shared cell, so each surviving pair is kept once —
        # no distinct shuffle
        .where(
            (F.col("_cx")
             == cell(F.greatest("_aminx", "_fminx"), "_gx", "_sx"))
            & (F.col("_cy")
               == cell(F.greatest("_aminy", "_fminy"), "_gy", "_sy"))
        )
        .select(footprint_col, "_fname", "_fwkt")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the canonical-cell rule + the distinct-footprint collapse bring
        # each (footprint, feature) pair here exactly once; the parse memo
        # serves the strings the pair stream repeats
        shape = _shape_memo()
        for pdf in batches:
            fps, names = [], []
            for awkt, fname, fwkt in zip(
                pdf[footprint_col].tolist(), pdf["_fname"].tolist(),
                pdf["_fwkt"].tolist(),
            ):
                if _overlaps(shape(awkt), shape(fwkt), min_overlap):
                    fps.append(awkt)
                    names.append(str(fname))
            yield _hits_frame(footprint_col, fps, names)

    # map-back: one equality join on the footprint string — the zones
    # frame is distinct-geometry-sized, so AQE broadcasts it when small;
    # alerts with null/unparseable footprints never match and keep null
    # zones
    return alerts.join(
        _zones(pairs, score, footprint_col, out_col), footprint_col, "left"
    )


def overlay_footprints(
    alerts: DataFrame,
    footprints: Iterable[str | None],
    layer: DataFrame,
    out_col: str,
    footprint_col: str = "geospatial_footprint",
    layer_name_col: str = "name",
    layer_wkt_col: str = "WKT",
    min_overlap: float = 0.05,
) -> DataFrame:
    """J5 + A1 for a work set whose footprints the caller already holds on
    the driver: the augmenter's ≤ ``DATA_SIZE_LIMIT`` admitted alerts, which
    the reference overlays in memory (ServiceAlertAugmenter.py:649-681).

    ``footprints`` are the values of ``alerts[footprint_col]``.  Their
    distinct strings ride in the task closure, and the layer streams past
    them in one ``mapInPandas`` over ``(name, WKT)``: a ``geo.ops.GridIndex``
    over the footprint bboxes gives each feature its candidates, and the
    bbox filter plus the kernel ``overlay_inference`` uses (``_overlaps``)
    keep the hits.  Hits aggregate to a sorted ``collect_set`` per
    footprint, broadcast-joined back onto ``alerts``.  The layer stays a
    plan participant, never collected, so building the DataFrame launches
    no job and a country-scale layer streams like any scan.  No footprint
    gives a null ``out_col`` and no Spark work at all.

    ``overlay_inference`` is the path for footprint sets too large to ship
    in a closure (the catalog's 15 k alerts).
    """
    distinct = sorted({fp for fp in footprints if isinstance(fp, str)})
    if not distinct:
        return alerts.withColumn(out_col, F.lit(None).cast("array<string>"))

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shaped = [(fp, s) for fp in distinct if (s := _shape(fp)) is not None]
        index = G.GridIndex([s[1] for _, s in shaped])
        for pdf in batches:
            fps, names = [], []
            for fname, fwkt in zip(
                pdf["_fname"].tolist(), pdf["_fwkt"].tolist()
            ):
                f = _shape(fwkt)
                if f is None:
                    continue
                for i in index.candidates(f[1]):
                    fp, a = shaped[i]
                    if G.bboxes_overlap(a[1], f[1]) and _overlaps(
                        a, f, min_overlap
                    ):
                        fps.append(fp)
                        names.append(str(fname))
            yield _hits_frame(footprint_col, fps, names)

    features = layer.where(F.col(layer_name_col).isNotNull()).select(
        F.col(layer_name_col).alias("_fname"),
        F.col(layer_wkt_col).alias("_fwkt"),
    )
    return alerts.join(
        F.broadcast(_zones(features, stream, footprint_col, out_col)),
        footprint_col,
        "left",
    )


def _hits_frame(
    footprint_col: str, fps: list[str], names: list[str]
) -> pd.DataFrame:
    return pd.DataFrame(
        {
            footprint_col: pd.Series(fps, dtype="object"),
            "_hit": pd.Series(names, dtype="object"),
        }
    )


def _zones(
    df: DataFrame, kernel, footprint_col: str, out_col: str
) -> DataFrame:
    """Footprint → sorted zone array, from a kernel that yields one
    ``(footprint, _hit)`` row per overlapping feature."""
    hits = df.mapInPandas(kernel, f"`{footprint_col}` string, _hit string")
    return hits.groupBy(footprint_col).agg(
        F.sort_array(F.collect_set("_hit")).alias(out_col)
    )


def excluded_area_type(area_type: pd.Series) -> pd.Series:
    """P9 — True where an alert's area type is excluded from spatial work
    (a null area type is not excluded)."""
    return area_type.isin(AREA_TYPE_EXCLUSION)


def fuzzy_street_match(
    alerts: DataFrame,
    streets: DataFrame,
    street_query_col: str = "location",
    street_name_col: str = "street_name",
    street_wkt_col: str = "WKT",
    bounding_wkt_col: str = "area_wkt",
    max_distance: int = 5,
    use_sedona: bool | None = None,
) -> DataFrame:
    """J7/W3 — fuzzy street geocoding: Levenshtein ≤ N against a broadcast
    street dimension, constrained to streets intersecting the alert's
    bounding polygon, best (lowest) score wins, same-name segments unioned.

    Plan shape: broadcast theta-join on the Levenshtein bound (JVM-side
    expression), spatial constraint via the geo fallback in a follow-up
    filter stage (or an ST_Intersects expression when Sedona is present —
    fully JVM-side, no Python gate), then a window top-1 per alert.
    Returns Id → street_wkt.
    """
    if use_sedona is None:
        use_sedona = HAVE_SEDONA
    cand = alerts.select(
        ID_COL, street_query_col, bounding_wkt_col
    ).join(
        F.broadcast(
            streets.select(
                F.col(street_name_col).alias("_sname"),
                F.col(street_wkt_col).alias("_swkt"),
            )
        ),
        # threshold form: banded DP early-exits beyond the bound (-1),
        # O(len × bound) per candidate pair instead of O(len²)
        F.levenshtein(
            F.lower(F.trim(F.col(street_query_col))),
            F.lower(F.col("_sname")),
            max_distance,
        )
        != F.lit(-1),
    ).withColumn(
        "_score",
        F.levenshtein(
            F.lower(F.trim(F.col(street_query_col))),
            F.lower(F.col("_sname")),
            max_distance,
        ),
    )

    def spatial_gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = []
            for bound, swkt in zip(
                pdf[bounding_wkt_col].tolist(), pdf["_swkt"].tolist()
            ):
                if bound is None or (
                    isinstance(bound, float) and pd.isna(bound)
                ):
                    keep.append(True)  # no bounding polygon → accept
                    continue
                try:
                    bpolys = _to_polys(bound)
                    spolys = _to_polys(swkt)
                except ValueError:
                    keep.append(False)
                    continue
                keep.append(
                    any(
                        G.polygons_intersect(s, b)
                        for s in spolys
                        for b in bpolys
                    )
                )
            yield pdf[pd.Series(keep, index=pdf.index)]

    if use_sedona:
        gated = cand.where(
            F.col(bounding_wkt_col).isNull()
            | F.expr(
                f"ST_Intersects(ST_GeomFromWKT(`{bounding_wkt_col}`),"
                " ST_GeomFromWKT(_swkt))"
            )
        )
    else:
        gated = cand.mapInPandas(spatial_gate, cand.schema)
    from pyspark.sql import Window

    w = Window.partitionBy(ID_COL).orderBy(
        F.asc("_score"), F.asc("_sname"), F.asc("_swkt")
    )
    best = (
        gated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(ID_COL, F.col("_sname").alias("matched_street"))
    )
    # same-name segment union (A6): all segments sharing the winning name
    segs = gated.join(best, ID_COL).where(
        F.col("_sname") == F.col("matched_street")
    )
    return (
        segs.groupBy(ID_COL, "matched_street")
        .agg(F.sort_array(F.collect_set("_swkt")).alias("segment_wkts"))
    )
