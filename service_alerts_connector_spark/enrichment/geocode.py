"""X3 — the geocode waterfall, as tiered joins + a rate-limited tail.

Reference (ServiceAlertAugmenter.py:76-79, 110-214, 741-756) resolves each
LLM-suggested location through: exact suburb polygon match → fuzzy street
match (J7) → external geocoder (Nominatim, ≥2 s between calls, point→bbox
polygon) → validity check → clip to the alert's bounding polygon.

Engine decomposition (each tier strictly cheaper rows than the last):

1. tier 1/2 are *joins* (operators/spatial.py: area_lookup_join,
   fuzzy_street_match) — fully relational, no external calls;
2. only rows still unresolved reach :func:`geocode_rows`, a serial loop
   over an injectable geocoder with a minimum delay between calls — the
   reference's rate-limited loop.  The augmenter runs it on the driver over
   its collected work set; :func:`geocode_tail` runs it as a
   single-partition ``mapInPandas``;
3. results memoize into a (query → WKT) table the caller persists and
   anti-joins against on the next batch, so repeat queries never re-hit the
   external service (the reference's lru_cache, made durable).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Protocol

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.enrichment import map_row_loop
from service_alerts_connector_spark.geo import ops as G
from service_alerts_connector_spark.geo import wkt as W


class Geocoder(Protocol):
    def geocode(self, query: str) -> tuple[float, float, float, float] | None:
        """query → (minx, miny, maxx, maxy) bbox, or None."""


@dataclass(frozen=True)
class StubGeocoder:
    """Deterministic bbox from the query hash, inside a plausible Cape Town
    extent — test double for the Nominatim client."""

    def geocode(self, query: str) -> tuple[float, float, float, float] | None:
        import hashlib

        h = int(hashlib.md5(query.lower().encode()).hexdigest(), 16)
        if h % 17 == 0:  # deterministic "not found" slice
            return None
        x = 18.3 + (h % 1000) / 2000.0  # 18.3..18.8 °E
        y = -34.3 + ((h // 1000) % 1000) / 2500.0  # -34.3..-33.9 °S
        return (x, y, x + 0.01, y + 0.01)


def geocode_rows(
    pdf: pd.DataFrame,
    geocoder: Geocoder,
    query_col: str = "location",
    bounding_wkt_col: str | None = None,
    min_delay_s: float = 0.0,
) -> tuple[list[str | None], list[str | None]]:
    """X3 tail row loop — one geocoder call per non-empty query of ``pdf``,
    at least ``min_delay_s`` apart, as (WKTs, errors).  A box that misses
    the row's ``bounding_wkt_col`` polygon is dropped."""
    last_call = 0.0

    def one(row: pd.Series) -> tuple[str | None, str | None]:
        nonlocal last_call
        q = row[query_col]
        if q is None or (isinstance(q, float) and pd.isna(q)) or not str(q).strip():
            return None, "empty query"
        wait = min_delay_s - (time.monotonic() - last_call)
        if wait > 0:
            time.sleep(wait)
        last_call = time.monotonic()
        try:
            box = geocoder.geocode(str(q))
        except Exception as e:  # noqa: BLE001
            return None, f"{type(e).__name__}: {e}"
        if box is None:
            return None, "not found"
        poly = G.bbox_polygon(*box)
        bound = row.get(bounding_wkt_col) if bounding_wkt_col else None
        if bound is not None and not (isinstance(bound, float) and pd.isna(bound)):
            try:
                kind, shape = W.parse_wkt(bound)
                bpolys = [shape] if kind == "polygon" else list(shape)
                if not any(G.polygons_intersect(poly, bp) for bp in bpolys):
                    return None, "outside bounding polygon"
            except ValueError:
                pass
        return W.polygon_to_wkt(poly), None

    out = [one(row) for _, row in pdf.iterrows()]
    return [w for w, _ in out], [e for _, e in out]


def geocode_tail(
    unresolved: DataFrame,
    geocoder: Geocoder,
    query_col: str = "location",
    id_col: str = "Id",
    bounding_wkt_col: str | None = "area_wkt",
    min_delay_s: float = 0.0,
    max_partitions: int = 1,
) -> DataFrame:
    """Rate-limited external geocoding of the unresolved remainder:
    :func:`geocode_rows` as a ``mapInPandas``.

    ``max_partitions=1`` + ``min_delay_s`` bounds the global request rate
    exactly like the reference's ``GEOCODER_DELAY=2`` serial loop; raise
    partitions only if the provider allows parallel clients.  Returns
    (id, geocoded_wkt, geocode_error).
    """
    work = unresolved.select(
        id_col, query_col, *( [bounding_wkt_col] if bounding_wkt_col else [] )
    ).coalesce(max_partitions)
    return map_row_loop(
        work,
        lambda pdf: geocode_rows(
            pdf, geocoder, query_col, bounding_wkt_col, min_delay_s
        ),
        id_col,
        {"geocoded_wkt": "string", "geocode_error": "string"},
    )


def full_geocode_waterfall(
    suggestions: DataFrame,
    suburb_dim: DataFrame | None,
    street_dim: DataFrame | None,
    geocoder: Geocoder,
    id_col: str = "Id",
    min_delay_s: float = 0.0,
) -> DataFrame:
    """X3 end-to-end: resolve each LLM-suggested location through the tiered
    waterfall and union per-alert results into a MULTIPOLYGON footprint (A6).

    * ``suggestions``: (Id, suggested_locations array<array<string>>) from
      :func:`enrichment.llm.extract_locations` — exploded to one row per
      suggestion string (the reference iterates suggestion groups,
      Augmenter:719-756).
    * tier 1: exact suburb-name polygon match (broadcast join, lower/trim);
    * tier 2: fuzzy street match (Levenshtein ≤5 theta join, best score) —
      only suggestions tier 1 missed;
    * tier 3: external geocoder on the remainder (rate-limited tail);
    * union: all resolved geometries per alert → MULTIPOLYGON WKT at 6 dp.

    Each tier's input is the previous tier's misses, so external calls are
    last-resort and bounded.
    """
    from service_alerts_connector_spark.geo import wkt as WK

    sug = suggestions.select(
        F.col(id_col),
        F.explode(F.flatten(F.col("suggested_locations"))).alias("suggestion"),
    ).where(F.trim(F.col("suggestion")) != "").distinct()

    resolved_parts: list[DataFrame] = []

    if suburb_dim is not None:
        dim = F.broadcast(
            suburb_dim.select(
                F.lower(F.trim(F.col("name"))).alias("_n"),
                F.col("WKT").alias("_wkt"),
            )
        )
        t1 = sug.join(
            dim, F.lower(F.trim(F.col("suggestion"))) == F.col("_n"), "left"
        )
        resolved_parts.append(
            t1.where(F.col("_wkt").isNotNull()).select(
                id_col, F.col("_wkt").alias("wkt")
            )
        )
        sug = t1.where(F.col("_wkt").isNull()).select(id_col, "suggestion")

    if street_dim is not None:
        from service_alerts_connector_spark.operators.spatial import (
            fuzzy_street_match,
        )

        streets = fuzzy_street_match(
            sug.withColumn("area_wkt", F.lit(None).cast("string")),
            street_dim,
            street_query_col="suggestion",
        )
        # one matched street (possibly several segments) per suggestion-row
        resolved_parts.append(
            streets.select(
                id_col, F.explode("segment_wkts").alias("wkt")
            )
        )
        sug = sug.join(
            streets.select(id_col, "matched_street"),
            id_col,
            "left_anti",
        )

    tail = geocode_tail(
        sug.withColumnRenamed("suggestion", "location"),
        geocoder,
        id_col=id_col,
        bounding_wkt_col=None,
        min_delay_s=min_delay_s,
    )
    resolved_parts.append(
        tail.where(F.col("geocoded_wkt").isNotNull()).select(
            id_col, F.col("geocoded_wkt").alias("wkt")
        )
    )

    all_resolved = resolved_parts[0]
    for p in resolved_parts[1:]:
        all_resolved = all_resolved.unionByName(p)
    grouped = all_resolved.groupBy(id_col).agg(
        F.sort_array(F.collect_set("wkt")).alias("wkts")
    )

    def to_multipolygon(batches):
        import pandas as pd  # noqa: F811

        from service_alerts_connector_spark.geo import ops as G

        for pdf in batches:
            ids, out = [], []
            for _, row in pdf.iterrows():
                polys = []
                for w in row["wkts"]:
                    try:
                        kind, shape = WK.parse_wkt(w)
                    except ValueError:
                        continue
                    if kind == "polygon":
                        polys.append(shape)
                    elif kind == "multipolygon":
                        polys.extend(shape)
                    elif kind == "linestring":
                        minx, miny, maxx, maxy = G.bbox(shape)
                        polys.append(
                            G.bbox_polygon(
                                minx - 1e-4, miny - 1e-4, maxx + 1e-4, maxy + 1e-4
                            )
                        )
                ids.append(row[id_col])
                out.append(
                    WK.multipolygon_to_wkt(G.union_as_multipolygon(polys))
                    if polys
                    else None
                )
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "geospatial_footprint": out}
            )

    return grouped.mapInPandas(
        to_multipolygon, f"{id_col} long, geospatial_footprint string"
    )


def apply_memo(
    unresolved: DataFrame,
    memo: DataFrame | None,
    query_col: str = "location",
) -> tuple[DataFrame, DataFrame]:
    """Split unresolved rows into (memo hits, still-unresolved) by query
    string — the durable lru_cache tier.  ``memo`` schema:
    (query string, geocoded_wkt string)."""
    if memo is None:
        return unresolved.limit(0), unresolved
    m = F.broadcast(memo.select(
        F.col("query").alias("_q"), F.col("geocoded_wkt").alias("_memo_wkt")
    ))
    probe = unresolved.join(
        m, F.lower(F.trim(F.col(query_col))) == F.lower(F.trim(F.col("_q"))), "left"
    )
    hits = probe.where(F.col("_memo_wkt").isNotNull()).withColumn(
        "geocoded_wkt", F.col("_memo_wkt")
    ).drop("_q", "_memo_wkt")
    misses = probe.where(F.col("_memo_wkt").isNull()).drop("_q", "_memo_wkt")
    return hits, misses
