"""The Augmenter — silver → gold (incremental enrichment).

Re-expresses ServiceAlertAugmenter.py's lifecycle (SURVEY §3.2) as a
declarative pipeline:

1. checksum incremental split vs the previous gold (ST2/ST3), admission cap,
   backfill of unfinished drafts (ST5);
2. LLM post drafting (X1) on the capped work set → join-back (J9-as-join);
3. toot derivation (J3 hashtag map + F16 concat);
4. geospatial: area polygon lookup (J4), LLM location suggestions (X2) +
   geocode waterfall (X3) for footprint; overlay inference of suburbs/wards
   (J5 + A1);
5. union with the untouched cache and return the new gold DataFrame.

External services are injected (LLM clients, geocoder); defaults are the
deterministic stubs so the whole plan runs hermetically in tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from service_alerts_connector_spark.constants import (
    AUGMENTER_SALT,
    DATA_SIZE_LIMIT,
    DRAFT_LIMIT,
    ID_COL,
)
from service_alerts_connector_spark.enrichment.geocode import (
    Geocoder,
    StubGeocoder,
    geocode_tail,
)
from service_alerts_connector_spark.enrichment.llm import (
    LLMClient,
    StubLLMClient,
    draft_posts,
)
from service_alerts_connector_spark.functions.cleaning import toot_from_tweet
from service_alerts_connector_spark.operators.incremental import (
    backfill_unfinished,
    merge_processed,
    split_incremental,
    with_checksum,
)
from service_alerts_connector_spark.operators.joins import map_lookup
from service_alerts_connector_spark.operators.spatial import (
    area_lookup_join,
    exclude_area_types,
    overlay_inference,
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
    """Run the full augmentation stage; returns the new gold DataFrame."""
    cfg = config or AugmenterConfig()

    # 1 — incremental admission (ST2-ST5)
    stamped = with_checksum(
        silver, checksum_columns(silver), salt=cfg.salt
    )
    split = split_incremental(
        stamped,
        previous_gold,
        limit=cfg.data_size_limit,
        order_col="_ingest_seq",
    )
    split = backfill_unfinished(
        split.new,
        split.kept,
        "tweet_text IS NULL",
        limit=cfg.draft_limit,
        order_col="publish_date",
    )
    work, kept = split.new, split.kept

    # 2 — LLM drafting (X1) joined back (J9-as-join); packaged few-shot
    # summary template (resources/summary_prompt.yaml.jinja2)
    from service_alerts_connector_spark.enrichment.llm import (
        summary_prompt_builder,
    )

    drafts = draft_posts(
        work,
        cfg.llm_clients,
        summary_prompt_builder(),
        limit=cfg.draft_limit,
    ).drop("llm_error")
    work = work.drop("tweet_text").join(drafts, ID_COL, "left")

    # 3 — toot derivation (J3 + F16)
    work = work.withColumn(
        "toot_text",
        toot_from_tweet(
            F.col("tweet_text"),
            map_lookup(F.col("service_area"), SERVICE_AREA_HASHTAGS),
        ),
    )

    # 4 — geospatial footprint: area polygon lookup (J4), geocode tail (X3)
    if gis_areas is not None:
        spatial_work = exclude_area_types(work)
        located = area_lookup_join(spatial_work, gis_areas)
        resolved = located.where(F.col("area_wkt").isNotNull()).select(
            ID_COL, F.col("area_wkt").alias("geospatial_footprint")
        )
        unresolved = located.where(F.col("area_wkt").isNull())
        if cfg.location_clients is not None:
            # X2 + full waterfall: LLM suggests locations; each suggestion
            # resolves through suburb → street → geocoder tiers; per-alert
            # union into a MULTIPOLYGON (A6)
            from service_alerts_connector_spark.enrichment.geocode import (
                full_geocode_waterfall,
            )
            from service_alerts_connector_spark.enrichment.llm import (
                extract_locations,
            )

            from service_alerts_connector_spark.enrichment.llm import (
                location_prompt_builder,
            )

            suggestions = extract_locations(
                unresolved.select(ID_COL, "description", "area", "location"),
                cfg.location_clients,
                location_prompt_builder(),
            ).drop("llm_error")
            geocoded = full_geocode_waterfall(
                unresolved,
                suggestions,
                suburb_dim=suburb_layer,
                street_dim=street_layer,
                geocoder=cfg.geocoder,
                min_delay_s=cfg.geocoder_delay_s,
            )
        else:
            geocoded = geocode_tail(
                unresolved,
                cfg.geocoder,
                bounding_wkt_col=None,
                min_delay_s=cfg.geocoder_delay_s,
            ).select(
                ID_COL, F.col("geocoded_wkt").alias("geospatial_footprint")
            )
        footprints = resolved.unionByName(geocoded)
        work = work.drop("geospatial_footprint").join(
            footprints, ID_COL, "left"
        )
    elif "geospatial_footprint" not in work.columns:
        work = work.withColumn(
            "geospatial_footprint", F.lit(None).cast("string")
        )

    # 5 — overlay inference of suburbs / wards (J5 + A1)
    if suburb_layer is not None:
        work = work.drop("inferred_suburbs")
        work = overlay_inference(work, suburb_layer, "inferred_suburbs")
    elif "inferred_suburbs" not in work.columns:
        work = work.withColumn(
            "inferred_suburbs", F.lit(None).cast("array<string>")
        )
    if ward_layer is not None:
        work = work.drop("inferred_wards")
        work = overlay_inference(work, ward_layer, "inferred_wards")
    elif "inferred_wards" not in work.columns:
        work = work.withColumn(
            "inferred_wards", F.lit(None).cast("array<string>")
        )

    # 6 — content-addressed map-image links (X4 cache keys; rendering is an
    # edge side effect driven separately via images.missing_images)
    from service_alerts_connector_spark.enrichment.images import (
        with_image_links,
    )

    work = with_image_links(work.drop("image_filename"))

    # 7 — merge with the untouched cache (ST3/ST4)
    return merge_processed(work, kept)
