"""Catalog entries for enrichment/multimodal/planar-geometry operators.

The enrichment stages run with injectable deterministic stub clients
(X1/X2/X3); since r15 their md5-of-prompt transforms are fully oracled
in DuckDB (``SQL_X1/X2/X3_*``).  The remaining rows-only entries (no
``oracle_sql``) are genuinely non-SQL-expressible: trained k-means ANN
variants, pure-Python planar overlay geometry, and encoded-byte sha256
features — all deterministic, so row counts and schemas are stable
run-to-run under the driver's weaker check.

The multimodal decode/resize queries ARE oracled (``EXTRA_ORACLES``): the
BMP pixels are synthesized from a closed-form integer recipe
(``synth_bmp_media``), so while Spark round-trips genuine encoded bytes
through the stdlib codec, DuckDB reproduces every decoded stat (dims,
luma sum, histogram) from arithmetic alone — a real-decode differential
with no codec dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_alerts_connector_spark.enrichment.geocode import (
    StubGeocoder,
    geocode_tail,
)
from service_alerts_connector_spark.enrichment.llm import (
    StubLLMClient,
    draft_posts,
)
from service_alerts_connector_spark.operators.spatial import overlay_inference
from service_alerts_connector_spark.sources.multimodal import (
    media_decode_stats,
    media_features,
    resize_images,
    synth_bmp_media,
    synth_png_media,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from service_alerts_connector_spark.shipping import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_x1_stub_drafts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — LLM post drafting over pseudo-alerts built from documents,
    deterministic stub client, largest-Id cap into one partition."""
    alerts = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 40)
        .select(
            F.col("doc_id").alias("Id"),
            F.col("text").alias("description"),
            F.col("source").alias("service_area"),
        )
    )
    return draft_posts(
        alerts,
        [StubLLMClient("draft")],
        lambda rec: f"Draft a post for: {rec.get('description', '')[:200]}",
        limit=10,
    ).orderBy("Id")


def q_x3_stub_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — rate-limited geocoder tail with the deterministic stub."""
    queries = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 30)
        .select(
            F.col("doc_id").alias("Id"),
            F.concat(F.lit("location "), F.col("doc_id").cast("string")).alias(
                "location"
            ),
        )
    )
    return geocode_tail(
        queries, StubGeocoder(), bounding_wkt_col=None
    ).orderBy("Id")


def q_x2_stub_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — LLM location extraction (array<array<string>> output with
    JSON-shape repair) via the deterministic stub client."""
    from service_alerts_connector_spark.enrichment.llm import (
        extract_locations,
    )

    alerts = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 25)
        .select(
            F.col("doc_id").alias("Id"),
            F.col("text").alias("description"),
        )
    )
    out = extract_locations(
        alerts,
        [StubLLMClient("locations")],
        lambda rec: f"Extract locations from: {rec.get('description', '')[:150]}",
    )
    return out.select(
        "Id",
        F.size(F.flatten("suggested_locations")).alias("n_suggestions"),
        F.array_join(F.flatten("suggested_locations"), "|").alias("joined"),
    ).orderBy("Id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over REAL encoded images: synthesized
    BMP content through the Arrow-batched extractor's genuine decode path
    (histogram features), digests from the actual bytes.  Rows-only (the
    sha256 of the encoded stream has no SQL equivalent); the decode math
    itself is oracled by `multimodal_decode`/`multimodal_resize`."""
    out = media_features(
        _synth_media(spark, sf_dir).where(F.col("media_id") < 50)
    )
    return out.select(
        "media_id",
        F.size("feature").alias("feature_dim"),
        "content_sha256",
    ).orderBy("media_id")


def _synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_bmp_media(
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 64)
        .select(F.col("doc_id").alias("media_id"), F.col("n_chars").alias("seed")),
        seed_col="seed",
        width=16,
        height=16,
    )


def _decode_stats_csv(stats: DataFrame) -> DataFrame:
    # No final orderBy: the output is row-per-media (corpus-sized at scale),
    # the correctness gate canonicalizes order-insensitively, and the sort
    # was this plan's only Exchange (guide §2.4: an orderBy used only to
    # make output deterministic is a removable shuffle).
    return stats.select(
        "media_id",
        "width",
        "height",
        "gray_sum",
        F.array_join("hist", ",").alias("hist_csv"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, differentially tested: per doc a genuine 16×16
    BMP is encoded (pixel luma = (n_chars*31 + p*7) % 256), parsed back by
    the stdlib codec, and reduced to integer stats.  DuckDB reproduces the
    same stats closed-form from the pixel recipe — the decode itself is
    what's under test, since any header/stride/row-order bug skews every
    value."""
    return _decode_stats_csv(media_decode_stats(_synth_media(spark, sf_dir)))


SQL_MULTIMODAL_DECODE = """
WITH px AS (
  SELECT d.doc_id AS media_id,
         (d.n_chars * 31 + t.p * 7) % 256 AS gray
  FROM documents d, range(256) t(p)
  WHERE d.doc_id < 64
), cnt AS (
  SELECT media_id, gray // 16 AS bin, count(*) AS c
  FROM px GROUP BY media_id, bin
), grid AS (
  SELECT i.media_id, b.bin
  FROM (SELECT DISTINCT media_id FROM px) i, range(16) b(bin)
), hist AS (
  SELECT g.media_id,
         string_agg(CAST(coalesce(c.c, 0) AS VARCHAR), ',' ORDER BY g.bin)
           AS hist_csv
  FROM grid g
  LEFT JOIN cnt c ON c.media_id = g.media_id AND c.bin = g.bin
  GROUP BY g.media_id
)
SELECT s.media_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(sum(s.gray) AS BIGINT) AS gray_sum, h.hist_csv
FROM px s JOIN hist h USING (media_id)
GROUP BY s.media_id, h.hist_csv
ORDER BY s.media_id
"""


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL **compressed-format** decode, differentially tested: per doc a
    genuine 8-bit RGB PNG is encoded — zlib DEFLATE, CRC-framed chunks,
    scanline filters cycling None/Sub/Up/Average/Paeth — then parsed back
    by the stdlib codec (``media/png.py``) and reduced to integer stats.
    The oracle reproduces the stats closed-form from the pixel recipe, so
    any inflate/unfilter/channel-order bug skews every value.  Covers the
    format gap that kept compressed media behind a PIL gate."""
    return _decode_stats_csv(
        media_decode_stats(
            synth_png_media(
                _docs(spark, sf_dir)
                .where(F.col("doc_id") < 64)
                .select(
                    F.col("doc_id").alias("media_id"),
                    F.col("n_chars").alias("seed"),
                ),
                seed_col="seed",
                width=16,
                height=16,
            )
        )
    )


# identical stats recipe to SQL_MULTIMODAL_DECODE: the decoded pixels are
# the same closed-form lumas — what differs is the Spark-side byte path
# (PNG inflate+unfilter instead of BMP row parse), which is the point.
SQL_MULTIMODAL_DECODE_PNG = SQL_MULTIMODAL_DECODE


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize: the synthesized 16×16 BMPs run decode →
    nearest-neighbor 8×8 → re-encode → decode again, so the stats cover
    the full binary round trip.  The oracle maps each target pixel to its
    integer source index (p = 32*(tp//8) + 2*(tp%8)) and recomputes the
    same luma recipe."""
    small = resize_images(
        _synth_media(spark, sf_dir), target_w=8, target_h=8
    )
    return _decode_stats_csv(media_decode_stats(small))


SQL_MULTIMODAL_RESIZE = """
WITH px AS (
  SELECT d.doc_id AS media_id,
         (d.n_chars * 31 + (32 * (t.tp // 8) + 2 * (t.tp % 8)) * 7) % 256
           AS gray
  FROM documents d, range(64) t(tp)
  WHERE d.doc_id < 64
), cnt AS (
  SELECT media_id, gray // 16 AS bin, count(*) AS c
  FROM px GROUP BY media_id, bin
), grid AS (
  SELECT i.media_id, b.bin
  FROM (SELECT DISTINCT media_id FROM px) i, range(16) b(bin)
), hist AS (
  SELECT g.media_id,
         string_agg(CAST(coalesce(c.c, 0) AS VARCHAR), ',' ORDER BY g.bin)
           AS hist_csv
  FROM grid g
  LEFT JOIN cnt c ON c.media_id = g.media_id AND c.bin = g.bin
  GROUP BY g.media_id
)
SELECT s.media_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST(sum(s.gray) AS BIGINT) AS gray_sum, h.hist_csv
FROM px s JOIN hist h USING (media_id)
GROUP BY s.media_id, h.hist_csv
ORDER BY s.media_id
"""


def q_geo_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — proportional-overlap inference on synthesized footprints: each
    doc gets a deterministic 0.5°×0.5° box on a grid; the layer is four
    quadrant polygons.  Pure-Python planar geometry in Arrow batches."""
    alerts = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").alias("Id"),
            F.concat(
                F.lit("POLYGON (("),
                (F.col("doc_id") % 4).cast("string"), F.lit(" "),
                ((F.col("doc_id") / 4).cast("int") % 4).cast("string"),
                F.lit(", "),
                (F.col("doc_id") % 4 + 1).cast("string"), F.lit(" "),
                ((F.col("doc_id") / 4).cast("int") % 4).cast("string"),
                F.lit(", "),
                (F.col("doc_id") % 4 + 1).cast("string"), F.lit(" "),
                ((F.col("doc_id") / 4).cast("int") % 4 + 1).cast("string"),
                F.lit(", "),
                (F.col("doc_id") % 4).cast("string"), F.lit(" "),
                ((F.col("doc_id") / 4).cast("int") % 4 + 1).cast("string"),
                F.lit("))"),
            ).alias("geospatial_footprint"),
        )
    )
    layer = spark.createDataFrame(
        [
            ("SW", "POLYGON ((0 0, 2.5 0, 2.5 2.5, 0 2.5, 0 0))"),
            ("SE", "POLYGON ((2.5 0, 5 0, 5 2.5, 2.5 2.5, 2.5 0))"),
            ("NW", "POLYGON ((0 2.5, 2.5 2.5, 2.5 5, 0 5, 0 2.5))"),
            ("NE", "POLYGON ((2.5 2.5, 5 2.5, 5 5, 2.5 5, 2.5 2.5))"),
        ],
        "name string, WKT string",
    )
    return (
        overlay_inference(alerts, layer, "inferred_zones")
        # Flatten the array<string> to a scalar: the driver's rows-only
        # canonicalizer factorizes every column to sort, and raw arrays are
        # unhashable in pandas (round-10 driver red).  Same pattern as
        # q_x2_stub_locations' array_join flatten above.
        .select(
            "Id",
            F.array_join(F.array_sort("inferred_zones"), "|").alias(
                "inferred_zones"
            ),
        )
        .orderBy("Id")
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: deterministic per-subspace lite-kmeans
    codebooks (8×16, ~32× compression), NumPy encode, asymmetric-distance
    top-10 by pure LUT lookup.  Iterative codebook training is not
    SQL-expressible → rows-only check (same rationale as ann_ivf);
    recall and determinism pinned in tests/test_textdedup.py.  The
    encode+ADC kernels themselves ARE oracled via ``ann_pq_fixed``
    (catalog_text.py) with pinned integer codebooks."""
    from service_alerts_connector_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from service_alerts_connector_spark.shipping import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, n_sub=8, k_cent=16)
    enc = pq_encode(emb, books)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return pq_adc_topk(enc, books, q, k=10)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic lite-kmeans cells, probe the 2 nearest of 4
    cells with exact cosine top-k.  Iterative training (Lloyd steps) is not
    SQL-expressible → rows-only check."""
    from service_alerts_connector_spark.operators.similarity import (
        ivf_topk,
        train_centroids_kmeanspp_lite,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from service_alerts_connector_spark.shipping import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids_kmeanspp_lite(emb, k=4, sample=64, iterations=1)
    row = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0]
    q = [float(x) for x in row["embedding"]]
    return ivf_topk(emb, cents, q, k=10, n_probe=2)


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode, differentially tested: the same pixel recipe as
    `multimodal_decode`, but serialized as genuine LZW-compressed GIF87a
    (`media/gif.py`) — variable-width codes, dictionary growth, clear
    codes — and parsed back by the stdlib decoder.  The oracle is the
    SAME closed-form SQL as the BMP case (identical pixels), so any
    bit-reader/LZW/palette bug skews every value.  Second compressed
    family beside PNG's DEFLATE."""
    from service_alerts_connector_spark.sources.multimodal import (
        synth_gif_media,
    )

    return _decode_stats_csv(
        media_decode_stats(
            synth_gif_media(
                _docs(spark, sf_dir)
                .where(F.col("doc_id") < 64)
                .select(
                    F.col("doc_id").alias("media_id"),
                    F.col("n_chars").alias("seed"),
                ),
                seed_col="seed",
                width=16,
                height=16,
            )
        )
    )


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, differentially tested on the dominant
    crawl format: per doc a genuine single-component JPEG (standard
    Annex K Huffman tables, flat quant) with CONSTANT 8×8 blocks (value =
    (n_chars·31 + block·7) % 256) — the one configuration where a lossy
    codec is bit-exact end-to-end (DC-only blocks, DC/8 exact in IEEE; see
    media/jpeg.py) — is parsed back by the stdlib decoder and reduced to
    the shared integer stats.  Any Huffman/DC-prediction/zig-zag/IDCT bug
    skews every value."""
    from service_alerts_connector_spark.sources.multimodal import (
        synth_jpeg_media,
    )

    return _decode_stats_csv(
        media_decode_stats(
            synth_jpeg_media(
                _docs(spark, sf_dir)
                .where(F.col("doc_id") < 64)
                .select(
                    F.col("doc_id").alias("media_id"),
                    F.col("n_chars").alias("seed"),
                ),
                seed_col="seed",
                blocks=2,
            )
        )
    )


SQL_MULTIMODAL_DECODE_JPEG = """
WITH px AS (
  SELECT d.doc_id AS media_id,
         (d.n_chars * 31 + t.b * 7) % 256 AS gray
  FROM documents d, range(4) t(b), range(64) u(i)
  WHERE d.doc_id < 64
), cnt AS (
  SELECT media_id, gray // 16 AS bin, count(*) AS c
  FROM px GROUP BY media_id, bin
), grid AS (
  SELECT i.media_id, b.bin
  FROM (SELECT DISTINCT media_id FROM px) i, range(16) b(bin)
), hist AS (
  SELECT g.media_id,
         string_agg(CAST(coalesce(c.c, 0) AS VARCHAR), ',' ORDER BY g.bin)
           AS hist_csv
  FROM grid g
  LEFT JOIN cnt c ON c.media_id = g.media_id AND c.bin = g.bin
  GROUP BY g.media_id
)
SELECT s.media_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(sum(s.gray) AS BIGINT) AS gray_sum, h.hist_csv
FROM px s JOIN hist h USING (media_id)
GROUP BY s.media_id, h.hist_csv
ORDER BY s.media_id
"""


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, differentially tested: per doc a genuine
    MJPEG AVI (6 constant-block JPEG frames in a RIFF container) is built,
    every 2nd frame extracted by the container walker and JPEG-decoded,
    one row per sampled frame.  The oracle reproduces each frame's pixel
    sum closed-form from the recipe — container walking, frame indexing,
    and entropy decode are all under test.  Completes the modality set:
    image, audio, and video all have real decode paths."""
    from service_alerts_connector_spark.sources.multimodal import (
        synth_avi_media,
        video_frame_stats,
    )

    media = synth_avi_media(
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").alias("media_id"), F.col("n_chars").alias("seed")),
        seed_col="seed",
    )
    # row-per-frame output: no presentation sort (order-insensitive gate;
    # the orderBy was the plan's only Exchange — guide §2.4)
    return video_frame_stats(media, every_n=2)


SQL_MULTIMODAL_VIDEO = """
WITH m AS (
  SELECT doc_id AS media_id, n_chars AS seed
  FROM documents WHERE doc_id < 48
), fr AS (
  SELECT media_id, seed, CAST(f.f AS BIGINT) AS frame_idx
  FROM m, LATERAL unnest(range(0, 6, 2)) AS f(f)
)
SELECT media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(sum(64 * ((seed * 31 + frame_idx * 13 + CAST(b.b AS BIGINT) * 7)
                      % 256)) AS BIGINT) AS gray_sum
FROM fr, LATERAL unnest(range(4)) AS b(b)
GROUP BY media_id, frame_idx
ORDER BY media_id, frame_idx
"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, differentially tested like the image tier: per
    doc a genuine mono PCM16 WAV is serialized (sample i =
    ((n_chars·37 + i·11) % 4096) − 2048, 8 kHz, 2 048 samples), walked
    back by the stdlib RIFF chunk parser, and reduced to integer features
    (total/peak amplitude, loudest 256-sample energy frame).  DuckDB
    reproduces every value closed-form from the recipe — the DECODER is
    the thing under test; any chunk-walk/endianness/sign bug skews all of
    them."""
    from service_alerts_connector_spark.sources.multimodal import (
        audio_decode_stats,
        synth_wav_media,
    )

    media = synth_wav_media(
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 64)
        .select(F.col("doc_id").alias("media_id"), F.col("n_chars").alias("seed")),
        seed_col="seed",
    )
    # row-per-media output: no presentation sort (order-insensitive gate)
    return audio_decode_stats(media)


SQL_MULTIMODAL_AUDIO = """
WITH m AS (
  SELECT doc_id AS media_id, n_chars AS seed
  FROM documents WHERE doc_id < 64
), samples AS (
  SELECT media_id,
         CAST(t.i AS BIGINT) AS i,
         ((seed * 37 + CAST(t.i AS BIGINT) * 11) % 4096) - 2048 AS s
  FROM m, LATERAL unnest(range(2048)) AS t(i)
), frames AS (
  SELECT media_id, i // 256 AS fidx, sum(s * s) AS energy
  FROM samples GROUP BY media_id, i // 256
), best AS (
  SELECT media_id, fidx, energy,
         row_number() OVER (PARTITION BY media_id
                            ORDER BY energy DESC, fidx ASC) AS rn
  FROM frames
)
SELECT s.media_id,
       8000 AS sample_rate,
       CAST(2048 AS BIGINT) AS n_samples,
       CAST(2048 * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(sum(abs(s.s)) AS BIGINT) AS sum_abs,
       CAST(max(abs(s.s)) AS INTEGER) AS peak_abs,
       CAST(any_value(b.fidx) AS INTEGER) AS max_frame_idx,
       CAST(any_value(b.energy) AS BIGINT) AS max_frame_energy
FROM samples s
JOIN best b ON b.media_id = s.media_id AND b.rn = 1
GROUP BY s.media_id
ORDER BY s.media_id
"""


# ---------------------------------------------------------------------------
# Enrichment-stub oracles (r15): the stub clients are pure md5-of-prompt
# string transforms (enrichment/llm.py StubLLMClient, geocode.py
# StubGeocoder), so with draft_posts' admission cap made deterministic
# (explicit largest-Id top-k, the reference's positional-recency tail()
# semantics) all three X-tier catalog queries are ANSI-SQL-expressible.
# ---------------------------------------------------------------------------

# X1: tweet_text = 'Service alert update ' || md5(prompt)[:12] || ...,
# prompt = 'Draft a post for: ' || description[:200]; cap = 10 largest Ids
# of the <40 slice; stub drafts are ~56 chars, far under MAX_POST_LENGTH,
# so the shorten path never fires and llm_error is NULL.
SQL_X1_STUB_DRAFTS = """
SELECT Id, tweet_text, llm_error FROM (
  SELECT doc_id AS Id,
         'Service alert update '
           || substr(md5('Draft a post for: '
                         || substr(coalesce(text, ''), 1, 200)), 1, 12)
           || ': crews are attending.' AS tweet_text,
         CAST(NULL AS VARCHAR) AS llm_error
  FROM documents WHERE doc_id < 40
  ORDER BY doc_id DESC LIMIT 10
) ORDER BY Id
"""

# X2: the locations stub returns [["Street "||h[:6], "Suburb "||h[6:12]]]
# (h = md5 of the prompt), which the JSON-shape repair keeps verbatim —
# so n_suggestions is always 2 and the flattened join is pure md5 algebra.
SQL_X2_STUB_LOCATIONS = """
SELECT doc_id AS Id,
       2 AS n_suggestions,
       'Street ' || substr(h, 1, 6) || '|Suburb ' || substr(h, 7, 6)
         AS joined
FROM (
  SELECT doc_id,
         md5('Extract locations from: '
             || substr(coalesce(text, ''), 1, 150)) AS h
  FROM documents WHERE doc_id < 25
)
ORDER BY Id
"""

# X3: StubGeocoder derives a bbox from the 128-bit md5 integer of the
# lowercased query.  DuckDB's md5_number* reverse byte order vs Python's
# int(hexdigest, 16), so the mods are computed by a hex-digit fold
# ((acc*16 + d) mod m over the 32 hex chars — intermediates < 16m).
# h mod 17 == 0 → 'not found'; else x = 18.3 + (h%1000)/2000.0,
# y = -34.3 + ((h//1000)%1000)/2500.0 with (h//1000)%1000 = (h%1e6)//1000,
# and the WKT renders each coordinate via printf('%.6f') with trailing
# zeros stripped — byte-identical to geo/wkt.py _fmt (round-then-format
# equals direct correct rounding; no 6-dp binary ties in this range).
SQL_X3_STUB_GEOCODE = r"""
WITH q AS (
  SELECT doc_id AS Id, 'location ' || CAST(doc_id AS VARCHAR) AS loc
  FROM documents WHERE doc_id < 30
),
m AS (
  SELECT Id,
         list_reduce(dg, (a, x) -> (a*16 + x) % 17) AS h17,
         list_reduce(dg, (a, x) -> (a*16 + x) % 1000000) AS hm6
  FROM (
    SELECT Id,
           list_transform(string_split(md5(lower(loc)), ''),
             c -> CASE WHEN c BETWEEN '0' AND '9'
                       THEN ascii(c) - 48 ELSE ascii(c) - 87 END) AS dg
    FROM q
  )
),
f AS (
  SELECT Id, h17,
         regexp_replace(printf('%.6f', x), '\.?0+$', '') AS fx,
         regexp_replace(printf('%.6f', y), '\.?0+$', '') AS fy,
         regexp_replace(printf('%.6f', x + 0.01), '\.?0+$', '') AS fx2,
         regexp_replace(printf('%.6f', y + 0.01), '\.?0+$', '') AS fy2
  FROM (
    SELECT Id, h17,
           18.3 + (hm6 % 1000) / 2000.0 AS x,
           -34.3 + (hm6 // 1000) / 2500.0 AS y
    FROM m
  )
)
SELECT Id,
       CASE WHEN h17 = 0 THEN NULL ELSE
         'POLYGON ((' || fx || ' ' || fy || ', ' || fx2 || ' ' || fy
           || ', ' || fx2 || ' ' || fy2 || ', ' || fx || ' ' || fy2
           || ', ' || fx || ' ' || fy || '))'
       END AS geocoded_wkt,
       CASE WHEN h17 = 0 THEN 'not found' ELSE CAST(NULL AS VARCHAR) END
         AS geocode_error
FROM f
ORDER BY Id
"""


EXTRA_QUERIES = {
    "x1_stub_drafts": q_x1_stub_drafts,
    "x2_stub_locations": q_x2_stub_locations,
    "x3_stub_geocode": q_x3_stub_geocode,
    "multimodal_features": q_multimodal_features,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_decode_png": q_multimodal_decode_png,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_decode_gif": q_multimodal_decode_gif,
    "multimodal_decode_jpeg": q_multimodal_decode_jpeg,
    "multimodal_video_frames": q_multimodal_video_frames,
    "geo_overlay": q_geo_overlay,
    "ann_ivf": q_ann_ivf,
    "ann_pq": q_ann_pq,
}

# The decode/resize family is oracled (closed-form pixel recipes), and
# since r15 so are the X-tier enrichment stubs (md5-of-prompt algebra —
# see the SQL_X* comments).  The remaining EXTRA_QUERIES stay rows-only
# by design (trained k-means / planar geometry / encoded-byte digests).
EXTRA_ORACLES = {
    "x1_stub_drafts": SQL_X1_STUB_DRAFTS,
    "x2_stub_locations": SQL_X2_STUB_LOCATIONS,
    "x3_stub_geocode": SQL_X3_STUB_GEOCODE,
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
    "multimodal_decode_png": SQL_MULTIMODAL_DECODE_PNG,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "multimodal_audio": SQL_MULTIMODAL_AUDIO,
    "multimodal_decode_gif": SQL_MULTIMODAL_DECODE,
    "multimodal_decode_jpeg": SQL_MULTIMODAL_DECODE_JPEG,
    "multimodal_video_frames": SQL_MULTIMODAL_VIDEO,
}
