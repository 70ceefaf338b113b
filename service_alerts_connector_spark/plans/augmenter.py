"""The Augmenter — silver → gold (incremental enrichment).

Re-expresses ServiceAlertAugmenter.py's lifecycle (SURVEY §3.2) as the
reference runs it: one pass that enriches each admitted alert once
(ServiceAlertAugmenter.py:572-621, pandas over ≤ DATA_SIZE_LIMIT rows):

1. checksum incremental split vs the previous gold (ST2/ST3), admission
   cap and area polygon lookup (J4), collected once; backfill of unfinished
   drafts (ST5) is one more collect, whose Ids leave the cache side;
2. on that frame, LLM post drafting (X1) and the footprint: the area
   polygon, else the geocode tail (X3) or the LLM location suggestions
   (X2) + geocode waterfall; none for excluded area types (P9);
3. toot derivation (J3 hashtag map + F16 concat);
4. overlay inference of suburbs/wards (J5 + A1): the layer streams past the
   work set's footprints in one pass per layer; map-image links (X4);
5. union with the untouched cache and return the new gold DataFrame.

External services are injected (LLM clients, geocoder) and called serially
on the driver; defaults are the deterministic stubs so the whole plan runs
hermetically in tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from service_alerts_connector_spark.constants import (
    AUGMENTER_SALT,
    DATA_SIZE_LIMIT,
    DRAFT_LIMIT,
    ID_COL,
)
from service_alerts_connector_spark.enrichment.geocode import (
    Geocoder,
    StubGeocoder,
    full_geocode_waterfall,
    geocode_rows,
)
from service_alerts_connector_spark.enrichment.images import with_image_links
from service_alerts_connector_spark.enrichment.llm import (
    LLMClient,
    StubLLMClient,
    draft_rows,
    locate_rows,
    location_prompt_builder,
    summary_prompt_builder,
)
from service_alerts_connector_spark.functions.cleaning import toot_from_tweet
from service_alerts_connector_spark.operators.incremental import (
    backfill_sample,
    merge_processed,
    split_incremental,
    with_checksum,
)
from service_alerts_connector_spark.operators.joins import map_lookup
from service_alerts_connector_spark.operators.spatial import (
    area_lookup_join,
    excluded_area_type,
    overlay_footprints,
)

# Hashtag per service area (J3; reference ServiceAlertAugmenter.py:52-62 —
# a representative subset; the mapping is config, not code).
SERVICE_AREA_HASHTAGS = {
    "Water & Sanitation": "#WaterAndSanitation",
    "Electricity": "#Electricity",
    "Roads & Transport": "#RoadsAndTransport",
    "Solid Waste": "#SolidWaste",
}


@dataclass
class AugmenterConfig:
    llm_clients: list[LLMClient] = field(
        default_factory=lambda: [StubLLMClient("draft")]
    )
    # X2 — location-extraction clients; when set (together with a street
    # layer passed to augment), unresolved footprints go through the full
    # suggestion waterfall instead of the plain geocode tail.
    location_clients: list[LLMClient] | None = None
    geocoder: Geocoder = field(default_factory=StubGeocoder)
    salt: str = AUGMENTER_SALT
    data_size_limit: int = DATA_SIZE_LIMIT
    draft_limit: int = DRAFT_LIMIT
    geocoder_delay_s: float = 0.0  # 2.0 in production (GEOCODER_DELAY)


def checksum_columns(silver: DataFrame) -> list[str]:
    """Checksum covers the upstream-owned silver columns only — enrichment
    outputs must not feed their own invalidation."""
    enrich = {
        "tweet_text", "toot_text", "geospatial_footprint", "inferred_suburbs",
        "inferred_wards", "image_filename", "llm_error", "geocode_error",
        "InputChecksum", "area_wkt",
    }
    return [c for c in silver.columns if c not in enrich]


def augment(
    silver: DataFrame,
    previous_gold: DataFrame | None = None,
    gis_areas: DataFrame | None = None,
    suburb_layer: DataFrame | None = None,
    ward_layer: DataFrame | None = None,
    street_layer: DataFrame | None = None,
    config: AugmenterConfig | None = None,
) -> DataFrame:
    """Run the full augmentation stage; returns the new gold DataFrame.
    The external services are called before it returns."""
    cfg = config or AugmenterConfig()
    spark = silver.sparkSession

    # 1 — incremental admission (ST2-ST5) + area polygon lookup (J4), one
    # collect of the capped work set; its size sets the backfill budget
    stamped = with_checksum(
        silver, checksum_columns(silver), salt=cfg.salt
    )
    split = split_incremental(
        stamped,
        previous_gold,
        limit=cfg.data_size_limit,
        order_col="_ingest_seq",
    )
    kept = split.kept

    def located(df: DataFrame) -> DataFrame:
        return df if gis_areas is None else area_lookup_join(df, gis_areas)

    fields = list(split.new.schema.fields)
    frame = located(split.new).toPandas()
    budget = cfg.draft_limit - len(frame)
    if kept is not None and budget > 0:
        moved = located(
            backfill_sample(kept, "tweet_text IS NULL", budget)
        ).toPandas()
        if len(moved):
            kept = kept.where(~F.col(ID_COL).isin(moved[ID_COL].tolist()))
            fields += [
                f for f in kept.schema.fields if f.name not in split.new.columns
            ]
            frame = pd.concat(
                [p for p in (frame, moved) if len(p)], ignore_index=True
            )
    names = [f.name for f in fields]

    # 2 — enrich each admitted alert once: LLM drafts (X1) for the newest
    # draft_limit rows (packaged few-shot summary template), then footprints
    drafted = frame[ID_COL].nlargest(cfg.draft_limit).index
    texts, _ = draft_rows(
        frame.loc[drafted, names], cfg.llm_clients, summary_prompt_builder()
    )
    frame["tweet_text"] = None
    frame.loc[drafted, "tweet_text"] = texts
    if gis_areas is not None:
        spatial = ~excluded_area_type(frame["area_type"])
        tail = frame[spatial & frame["area_wkt"].isna()]
        footprint = frame["area_wkt"].where(spatial, None)
        footprint[tail.index] = _geocode(
            spark, tail, cfg, suburb_layer, street_layer
        )
        frame["geospatial_footprint"] = footprint
    schema = T.StructType(fields + [
        T.StructField(c, T.StringType())
        for c in ("tweet_text", "geospatial_footprint") if c not in names
    ])
    frame = frame.reindex(columns=schema.fieldNames())
    # one partition: the broadcast overlay joins keep the input's slicing,
    # and gold's file count follows it
    work = spark.createDataFrame(frame, schema).coalesce(1)

    # 3 — toot derivation (J3 + F16)
    work = work.withColumn(
        "toot_text",
        toot_from_tweet(
            F.col("tweet_text"),
            map_lookup(F.col("service_area"), SERVICE_AREA_HASHTAGS),
        ),
    )
    # 4 — overlay inference of suburbs / wards (J5 + A1) over the
    # footprints already on the driver, content-addressed map-image links
    # (X4 cache keys; rendering is an edge side effect driven separately
    # via images.missing_images)
    for layer, col in (
        (suburb_layer, "inferred_suburbs"),
        (ward_layer, "inferred_wards"),
    ):
        if layer is not None:
            work = overlay_footprints(
                work.drop(col), frame["geospatial_footprint"], layer, col
            )
        elif col not in work.columns:
            work = work.withColumn(col, F.lit(None).cast("array<string>"))
    work = with_image_links(work.drop("image_filename"))

    # 5 — merge with the untouched cache (ST3/ST4)
    return merge_processed(work, kept)


def _geocode(
    spark: SparkSession,
    tail: pd.DataFrame,
    cfg: AugmenterConfig,
    suburb_layer: DataFrame | None,
    street_layer: DataFrame | None,
) -> list[str | None]:
    """Footprints of the alerts no area polygon matched: the geocode tail
    (X3), or with location clients the suggestion waterfall (X2 + X3:
    suburb → street → geocoder tiers, unioned per alert, A6)."""
    if cfg.location_clients is None or tail.empty:
        wkts, _ = geocode_rows(
            tail, cfg.geocoder, min_delay_s=cfg.geocoder_delay_s
        )
        return wkts
    suggested, _ = locate_rows(
        tail[[ID_COL, "description", "area", "location"]],
        cfg.location_clients,
        location_prompt_builder(),
    )
    suggestions = spark.createDataFrame(
        tail[[ID_COL]].assign(suggested_locations=suggested),
        f"{ID_COL} long, suggested_locations array<array<string>>",
    )
    found = dict(
        full_geocode_waterfall(
            suggestions, suburb_layer, street_layer, cfg.geocoder,
            min_delay_s=cfg.geocoder_delay_s,
        ).collect()
    )
    return [found.get(i) for i in tail[ID_COL]]
