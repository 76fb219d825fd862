"""Structured Streaming wrappers over the engine's batch operators
(SURVEY.md §2.9).

pyresample is strictly batch; its scanline/segment micro-batching
(ewa/_fornav.pyx:163-190, kd_tree.py:343-366) maps naturally onto
Structured Streaming micro-batches. These wrappers expose the same
aggregations as the batch queries (q_events_tumbling / q_events_session
are the DuckDB-oracled batch twins) over a streaming source.

Scale notes: watermarks bound state; the bucket aggregation keyed by
(window, cell) is the streaming version of the bucket resampler — state
store size = #active windows × #cells, independent of input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Flavor-aware streaming scan of events parquet files.

    The generated events.parquet has shipped with two timestamp flavors
    (TIMESTAMP(NANOS) and TIMESTAMP(MICROS)); streaming sources need an
    explicit schema, so probe the footer with a one-file batch read and
    declare ``ts`` accordingly — the same flavor contract as the batch
    loader (operators/bucket.py load_events). Downstream the stream
    always carries ``ts`` = BIGINT epoch-ns and ``event_time`` =
    timestamp, identical across flavors.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = path if glob is None else f"{path.rstrip('/')}/{glob}"
    probe_type = spark.read.parquet(probe).schema["ts"].dataType
    reader = spark.readStream.format("parquet").schema(
        _events_schema(probe_type)
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    if isinstance(probe_type, (T.TimestampType, T.TimestampNTZType)):
        # MICROS flavor: native timestamp column; ns = µs × 1000 exactly
        # (session timezone pinned to UTC makes the NTZ cast exact).
        raw = raw.withColumn(
            "event_time", F.col("ts").cast("timestamp")
        ).withColumn("ts", F.unix_micros(F.col("event_time")) * F.lit(1000))
    else:
        # NANOS flavor read as raw int64 (nanosAsLong).
        raw = raw.withColumn(
            "event_time", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet (file-source micro-batches;
    on a real deployment this is the Kafka source with the same schema)."""
    return events_stream(spark, sf_dir, glob="events.parquet")


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — streaming twin of
    q_events_tumbling."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_bucket_average(stream: DataFrame, area, window: str = "1 hour") -> DataFrame:
    """Streaming bucket resampler: per-window per-cell average — the
    bucket operator (operators/bucket.py) under a watermark."""
    from pyresample_spark.functions.geo import derived_lat, derived_lon
    from pyresample_spark.operators.bucket import assign_cells

    pts = stream.withColumn("lon", derived_lon()).withColumn(
        "lat", derived_lat()
    )
    assigned = assign_cells(pts, area, x_col="lon", y_col="lat")
    return (
        assigned.withWatermark("event_time", "2 hours")
        .groupBy(F.window("event_time", window), "cell_id")
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"), "cell_id", "avg_value", "n"
        )
    )


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming query to completion on the static file source
    (test harness): memory sink + processAllAvailable."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-based) — streaming twin of the batch
    lag+cumsum sessionization (queries/events.py q_events_session)."""
    return (
        stream.withWatermark("event_time", "2 hours")
        .groupBy(F.session_window("event_time", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def _update_user_totals(key, pdfs, state):
    """:func:`running_user_totals`'s state update; module level, so a
    worker unpickles it by reference and imports this package."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-user event count + value sum across micro-batches — the
    streaming analog of the reference's RowAppendableArray accumulation
    (utils/row_appendable_array.py:23; SURVEY §2.9).

    State = (n, total) per user_id; each batch emits the updated row.
    """
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def streaming_cosine_topk(
    probe_stream: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """Stream-static similarity scoring: each arriving probe vector is
    scored against the STATIC corpus (the broadcast side of a
    stream-static join) and its exact top-k neighbours are emitted —
    the online twin of the batch ``q_cosine_topk`` and the shape of a
    production retrieval/online-dedup front end (query stream × frozen
    index snapshot).

    Scale: stateless between micro-batches — every probe completes
    within its own batch, so there is no state store growth at all; the
    corpus rides the broadcast (swap in the IVF/LSH bucketed variants
    for corpora beyond broadcast size). Top-k per probe is the same
    packed-key hash aggregate as batch (no window sort), legal in
    ``update`` output mode."""
    from pyresample_spark.operators.similarity import (
        dot,
        topk_by_cosine,
        with_norm,
    )

    c = with_norm(corpus).select(
        F.col("vec_id"),
        F.col("embedding").alias("c_vec"),
        F.col("vnorm").alias("c_norm"),
    )
    p = with_norm(probe_stream).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_vec"),
        F.col("vnorm").alias("p_norm"),
    )
    pairs = p.join(F.broadcast(c), F.col("vec_id") != F.col("probe_id"))
    cos = dot(F.col("c_vec"), F.col("p_vec")) / (
        F.col("c_norm") * F.col("p_norm")
    )
    return topk_by_cosine(
        pairs.withColumn("cos_raw", cos), k, cos_col="cos_raw"
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: tuple = ("event_id",),
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact deduplication — the ingestion-time twin of the
    batch ``q_dedup_exact`` (queries/textops.py): keep the FIRST
    occurrence of each key, where "ever seen" is bounded by the event-
    time watermark (``dropDuplicatesWithinWatermark``).

    Scale: state = one entry per distinct key inside the watermark
    horizon — the horizon, not total ingest volume, bounds the state
    store, which is what makes continuous dedup feasible on a
    100 TB/day feed (an unbounded ``dropDuplicates`` would grow state
    forever). Exactly the pattern a training-data ingestion pipeline
    needs in front of the batch dedup family."""
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_stream_interval_join(
    clicks: DataFrame,
    views: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INTERVAL join — the attribution shape (each
    'click' event joined to the same user's preceding 'view' within
    ``max_delay``): the one §2.9 streaming operator family the batch
    twins don't cover. Both sides are watermarked so Spark can bound
    the join state: a buffered view row is dropped once the click-side
    watermark passes view_time + max_delay — state is O(events inside
    the delay horizon), independent of stream length, which is what
    makes the join runnable on an unbounded feed.

    Returns (click_id, view_id, user_id, gap_us). The batch twin is a
    plain self-join with the same predicate (see
    test_stream_stream_join_matches_batch)."""
    c = (
        clicks.withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("click_time"),
            F.col("ts").alias("c_ts"),
        )
    )
    v = (
        views.withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("event_time").alias("view_time"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = c.join(
        v,
        F.expr(
            f"""
            c_user = v_user AND
            view_time <= click_time AND
            view_time >= click_time - INTERVAL {max_delay}
            """
        ),
    )
    return joined.select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        ((F.col("c_ts") - F.col("v_ts")) / F.lit(1000)).cast("long").alias(
            "gap_us"
        ),
    )


def streaming_gauss_resample(
    stream: DataFrame,
    tgt: DataFrame,
    radius_m: float,
    sigma: float,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static gaussian resample — live swath ingest onto a
    FIXED target grid (the online twin of ``q_gauss_agg``): each
    arriving point gets one 3-D geocentric cell key (stateless column
    math), joins against the STATIC 27-neighbourhood-exploded target
    grid riding a broadcast, is distance-filtered to ``radius_m``, and
    accumulates w = exp(−d²/σ²) weighted sums per (event-time window,
    target cell) under a watermark.

    Semantics vs batch: radius-bounded gauss with NO top-k cap — a
    k-nearest cut across micro-batches would need unbounded per-target
    candidate state; the all-neighbours-within-radius variant is the
    reference's ``gauss`` with k=∞ (kd_tree.py:741-818 accepts any
    neighbour count) and is exactly windowed-incremental: the weighted
    sums are associative, so per-batch partial aggregation + the state
    store give the same result as batch (asserted in
    test_streaming_gauss_resample_matches_batch).

    Scale: the stream side NEVER shuffles before the state store — the
    cell join is a broadcast hash join (the exploded grid is 27×|tgt|
    rows of five numbers), and the windowed agg is the only stateful
    stage, bounded by |windows in horizon| × |active cells|, not by
    ingest volume. The 27× explode rides the broadcast build side,
    never the stream."""
    from pyresample_spark.functions.geo import derived_lat, derived_lon
    from pyresample_spark.operators.knn import (
        chord_dist_m,
        chord_length,
        gauss_weight,
        with_cells,
        with_geocentric,
    )

    c = chord_length(radius_m)
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1,1), dx -> "
        "flatten(transform(sequence(-1,1), dy -> "
        "transform(sequence(-1,1), dz -> struct(dx, dy, dz)))))))"
    )
    t = (
        with_cells(with_geocentric(tgt), c)
        .select(
            "tgt_id",
            F.col("gx").alias("t_gx"),
            F.col("gy").alias("t_gy"),
            F.col("gz").alias("t_gz"),
            "cx3",
            "cy3",
            "cz3",
            offsets.alias("o"),
        )
        .withColumn("cx3", F.col("cx3") + F.col("o.dx"))
        .withColumn("cy3", F.col("cy3") + F.col("o.dy"))
        .withColumn("cz3", F.col("cz3") + F.col("o.dz"))
        .drop("o")
    )
    pts = (
        stream.withWatermark("event_time", watermark)
        .withColumn("lon", derived_lon())
        .withColumn("lat", derived_lat())
    )
    s = with_cells(with_geocentric(pts), c).select(
        "event_time",
        "value",
        F.col("gx").alias("s_gx"),
        F.col("gy").alias("s_gy"),
        F.col("gz").alias("s_gz"),
        "cx3",
        "cy3",
        "cz3",
    )
    pairs = s.join(F.broadcast(t), ["cx3", "cy3", "cz3"])
    dist = chord_dist_m("t_", "s_")
    w = gauss_weight(dist, sigma)
    return (
        pairs.filter(dist <= c)
        .withColumn("w", w)
        .groupBy(F.window("event_time", window), "tgt_id")
        .agg(
            F.sum(F.col("w") * F.col("value")).alias("swv"),
            F.sum("w").alias("v1"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "tgt_id",
            (F.col("swv") / F.col("v1")).alias("gauss_value"),
            "n",
        )
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def streaming_decontaminate(
    doc_stream: DataFrame, eval_ngrams: DataFrame, n: int = 3
) -> DataFrame:
    """Online benchmark decontamination — the INGESTION-time twin of
    the batch ``q_bloom_decontaminate``: every arriving training
    document's n-grams are prefiltered MAP-SIDE by the eval set's
    Bloom bits embedded as plan literals (no join for clean shingles,
    which at 100 TB/day is almost all of them), and only Bloom hits
    reach the broadcast exact-verify join that drops false positives.
    Emits the verified distinct (doc_id, shingle) contamination hits;
    count per doc downstream (or per micro-batch).

    Scale: the eval set is static and KBs (benchmarks vs a corpus);
    its literals ship inside the serialized plan to every executor —
    the stream side never shuffles. The only stateful operator is the
    (doc_id, shingle) dropDuplicates, whose state is bounded by the
    TRUE contamination volume (tiny by construction), not ingest
    volume."""
    from pyresample_spark.operators.dedup import (
        bloom_literal_flag,
        md5_bigint,
        shingles,
    )

    hashes = [
        r.h0
        for r in eval_ngrams.select(
            md5_bigint(F.col("shingle")).alias("h0")
        ).collect()
    ]
    sh = shingles(doc_stream, n)
    flagged = sh.withColumn("h0", md5_bigint(F.col("shingle"))).filter(
        bloom_literal_flag(hashes)
    )
    return (
        flagged.join(F.broadcast(eval_ngrams), "shingle")
        .select("doc_id", "shingle")
        .dropDuplicates(["doc_id", "shingle"])
    )


def streaming_tile_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Live map-serving aggregation — the streaming twin of
    q_tile_assign: arriving points tile-assign in the map stage (pure
    column math, no join) and aggregate per (window, tile) under the
    event-time watermark. State is bounded by live windows × occupied
    tiles (≤ 4^z), never by ingest volume — the same bounded-keys
    argument as the streaming bucket resampler, applied to the
    serving-layer key."""
    from pyresample_spark.functions.geo import (
        derived_lat,
        derived_lon,
        tile_cols,
    )

    pts = stream.withColumn("lon", derived_lon()).withColumn(
        "lat", derived_lat()
    )
    tx, ty = tile_cols()
    return (
        pts.select("event_time", tx.alias("tx"), ty.alias("ty"), "value")
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.avg(F.round(F.col("value"), 6)).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "tx", "ty", "n_points", "avg_value",
        )
    )


def streaming_granule_ingest(
    spark: SparkSession, path: str, fmt: str = "netcdf3",
    target_resolution: float | None = None,
) -> DataFrame:
    """Streaming granule-file ingestion — the operational satellite
    feed: new files landing in a directory become micro-batches of a
    ``binaryFile`` file-stream source, decode in-plan through the SAME
    Arrow-batched parser as the batch path
    (sources/binary_raster.read_raster_pixels), and aggregate to a
    per-granule summary (pixel count + micro-quantized value sum —
    the integer-sum idiom, so batch and stream agree bit-for-bit).

    State is one row per granule file; the decode itself is stateless
    (one file per task), so an unbounded feed holds only the summary
    keys. The reference's nearest analog is satpy's granule-at-a-time
    processing loop — here it's the same declarative plan as batch
    with the source swapped. ``fmt="geotiff_multiband"`` ingests
    SamplesPerPixel>1 products (chunky or planar) and keys the
    summary by (file, channel). ``target_resolution`` enables the
    COG overview auto-select exactly like the batch reader — the
    operational pattern for a coarse-product stream over full-res
    archives (per-file level pick, stateless)."""
    from pyresample_spark.sources.binary_raster import (
        RASTER_MULTIBAND_SCHEMA,
        RASTER_PIXEL_SCHEMA,
        raster_decode_fn,
    )

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    src = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .load(path)
        .select("path", "content")
    )
    multi = fmt == "geotiff_multiband"
    px = src.mapInPandas(
        raster_decode_fn(fmt, target_resolution=target_resolution),
        RASTER_MULTIBAND_SCHEMA if multi else RASTER_PIXEL_SCHEMA,
    )
    keys = ["file", "channel"] if multi else ["file"]
    return px.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.sum(
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
        ).alias("value_sum_u"),
    )


def streaming_compound_calibrate(
    spark: SparkSession, path: str, cal_file: str
) -> DataFrame:
    """Streaming twin of q_compound_calibrate — the operational L1B
    calibration feed: granule files stream in through the same
    ``binaryFile`` + in-plan decode as
    :func:`streaming_granule_ingest`, and each micro-batch is
    broadcast-hash-joined against the STATIC calibration dim table
    (stream-static equi-joins are STATELESS in Structured Streaming —
    no watermark, no state store rows for the dim side). The dim is
    decoded once driver-side from ``cal_file``'s HDF5 COMPOUND
    ``cal`` dataset, exactly like the batch query: per-product
    calibration metadata is tiny and identical across granules.
    Output: per-granule calibrated checksum (count + micro-quantized
    sum of value·scale[band] + offset[band]), batch-equal
    bit-for-bit."""
    from pyresample_spark.sources.binary_raster import (
        RASTER_PIXEL_SCHEMA,
        raster_decode_fn,
    )
    from pyresample_spark.sources.hdf5 import parse_hdf5

    with open(cal_file, "rb") as f:
        cal = parse_hdf5(f.read())["cal"]["data"]
    dim = spark.createDataFrame(
        [(int(b), float(s), int(o))
         for b, s, o in zip(cal["band"], cal["scale"], cal["offset"])],
        "band long, scale double, cal_offset long",
    )
    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    src = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .load(path)
        .select("path", "content")
    )
    px = src.mapInPandas(raster_decode_fn("netcdf3"),
                         RASTER_PIXEL_SCHEMA)
    band = F.regexp_extract(
        F.col("file"), r"granule_(\d+)\.nc", 1).cast("long")
    cal_px = px.withColumn("band", band).join(F.broadcast(dim), "band")
    value_cal = (F.col("value") * F.col("scale")
                 + F.col("cal_offset"))
    return cal_px.groupBy("file").agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.sum(
            F.floor(value_cal * 1e6 + F.lit(0.5)).cast("bigint")
        ).alias("cal_sum_u"),
    )


def streaming_lsh_probe(
    docs_stream: DataFrame, index: DataFrame
) -> DataFrame:
    """Streaming incremental near-dedup — documents arriving on a
    stream are probed against the PERSISTED historical LSH band index
    (the q_dedup_incremental topology with the batch side live): the
    in-row signature pass (operators/dedup.py minhash_bands_inrow) is
    a pure map stage — legal and STATELESS in streaming — and the
    probe is a stream-static equi-join on (band, sig). Emits candidate
    rows (new_doc, matched_doc, band) in append mode; no watermark, no
    state store — per-batch cost is O(batch), independent of corpus
    history. Dedup-gating an ingest feed IS this plan."""
    from pyresample_spark.operators.dedup import (
        lsh_probe_pairs,
        minhash_bands_inrow,
    )

    return lsh_probe_pairs(minhash_bands_inrow(docs_stream, 3), index)
