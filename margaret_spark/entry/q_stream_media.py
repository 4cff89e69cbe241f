"""Graded contract queries: streaming at-ingest twins, multimodal, web curation, corpus mixing/packing and export families (split from __spark_entry__)."""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from margaret_spark.functions.numeric import dsum, pround
from margaret_spark.functions.vectors import cosine_sim
from margaret_spark.operators.dedup import (
    embedding_dedup_pairs,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from margaret_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk
from margaret_spark.operators.temporal import asof_join, range_join
from margaret_spark.operators.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from margaret_spark.qry import Gt, Gte, Limit, Lte, Reverse, build_plan, apply_plan
from margaret_spark.indexes import latest_by_key, fanout
from margaret_spark.entry.common import _DOCS_SCHEMA, _EVENTS_SCHEMA, _defer_cleanup, _t
from margaret_spark.entry.q_data import _dsir_model, _nb_model, _pii_salted_docs



def q_stream_dedup_exact(spark, sf_dir):
    """The stateful streaming ingest-dedup path END-TO-END on the
    graded surface: documents are appended to a real OffsetLog (one
    batched file write, dense seqs in doc_id order), then the
    streaming exact dedup (streaming/stateful.py,
    applyInPandasWithState keyed by sha2-256 content hash) drains the
    log's append stream and emits first-seen keepers. Delivery is the
    SCALE path: each micro-batch's keepers land executor-side as a
    batch=<id> parquet partition (streaming/sinks.py — no driver
    toPandas; the keeper stream is one row per unique document ever
    ingested), the sink is then COMPACTED (batch partials folded into
    a compacted=<hw> segment with a high-water manifest — the
    long-running-stream small-file answer), and the graded result is
    the compacted sink read back. Oracle-checked: keepers must be
    exactly min(seq) per distinct content, and the state key (sha2
    hex) is engine-identical to DuckDB's sha256."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import (
        compact_sink,
        read_keeper_sink,
        stream_dedup_exact,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        # distributed ingest: the corpus never transits the driver —
        # append_df range-partitions on doc_id so seqs follow doc_id
        # order exactly (the oracle's seq == doc_id assumption)
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_dedup_exact(
            log,
            F.col("value"),
            checkpoint_dir=os.path.join(base, "ckpt"),
            sink_dir=sink,
            available_now=True,
        )
        compact_sink(spark, sink)
        out = read_keeper_sink(
            spark, sink, "content_hash string, keep_seq long"
        )
        # the sink dir is deleted on return: materialize rows first
        return out
    finally:
        _defer_cleanup(base)


def q_stream_dedup_minhash(spark, sf_dir):
    """Streaming MinHash-LSH near-dup detection on the graded surface
    (streaming/stateful.py): documents stream out of a real log; each
    row's band buckets are matched against every bucket ever claimed
    (state keyed by (band, bucket), one long each); collisions emit
    (dup_seq → earliest keep_seq). Rows-only check (banding is not
    SQL-expressible — same status as the batch dedup_minhash, whose
    buckets this pipeline reproduces exactly; see
    tests/test_streaming.py). r11: candidates land executor-side
    (sink_dir keeper delivery) and the per-dup earliest-keeper
    reduction is one groupBy/min — the driver pandas loop this entry
    carried (O(candidates) driver rows, a scale ceiling) is gone;
    the reduced rows are identical (same min over the same
    candidate set)."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_dedup_minhash

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_mh_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        # distributed ingest (append_df): no driver-side materialization
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_dedup_minhash(
            log,
            F.col("value"),
            None,
            os.path.join(base, "ckpt"),
            num_hashes=32,
            bands=8,
            available_now=True,
            sink_dir=sink,
        )
        cands = read_keeper_sink(
            spark, sink, "dup_seq long, band int, keep_seq long"
        )
        return (
            cands.groupBy("dup_seq")
            .agg(F.min("keep_seq").alias("keep_seq"))
            .select("dup_seq", "keep_seq")
        )
    finally:
        _defer_cleanup(base)


def q_stream_dedup_window(spark, sf_dir):
    """Bounded-horizon streaming dedup (streaming/stateful.py,
    stream_dedup_window): a re-arrival is suppressed only while the
    same content was last seen within the trailing 40 log entries —
    the BOUNDED-STATE variant of stream_dedup_exact (one long per
    content, horizon rule instead of remember-forever). Content is a
    synthetic quadratic-residue stream ((doc_id² ) % 53 — irregular
    per-content gaps, 140 keepers / 360 suppressions at sf0.01), so
    both branches of the rule are exercised; the oracle states the
    same rule as ONE lag window. Hash-exact. r11: keepers land
    executor-side (sink_dir delivery) and the graded result is the
    sink read back — the driver pandas loop is gone; rows are
    identical (the keeper stream IS the result set)."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_dedup_window

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id")) % 53).cast("string").alias("content"),
    )
    base = tempfile.mkdtemp(prefix="stream_win_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="content", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_dedup_window(
            log,
            F.col("value"),
            None,
            os.path.join(base, "ckpt"),
            ttl_seqs=40,
            available_now=True,
            sink_dir=sink,
        )
        return read_keeper_sink(
            spark, sink, "content_hash string, keep_seq long"
        )
    finally:
        _defer_cleanup(base)


def q_stream_pii_redact(spark, sf_dir):
    """Streaming at-ingest PII scrub (streaming/scrub.py): the salted
    documents are appended to a real OffsetLog (distributed append_df,
    seq == doc_id), the scrub drains the log's append stream and
    writes (seq, redacted) to an append-mode parquet sink — scrubbed
    executor-side, no driver materialization, exactly-once via the
    checkpoint. The graded result is the SINK read back; the oracle
    is the batch redaction SQL, so ingest-time and batch scrubbing
    are pinned byte-identical."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import stream_scrub_pii

    docs = _pii_salted_docs(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_pii_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_scrub_pii(
            log,
            F.col("value"),
            sink,
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        out = spark.read.parquet(sink).select(
            F.col("seq").alias("doc_id"), "redacted"
        )
        # the sink dir is deleted on return: materialize rows first
        return out
    finally:
        _defer_cleanup(base)


def q_sample_weighted(spark, sf_dir):
    """Quality-weighted deterministic downsampling
    (operators.sampling.weighted_sample): each document survives with
    probability equal to its pround'ed quality score, decided by
    md5(doc_id) — the curation-grade sampler (high-quality docs kept
    more often) that still reproduces bit-for-bit on any engine."""
    from margaret_spark.operators.sampling import weighted_sample
    from margaret_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs, "doc_id", "text")
    return weighted_sample(scored, "doc_id", "quality")


def q_multimodal_image_meta(spark, sf_dir):
    """The multimodal binary plumbing END-TO-END on the graded
    surface: synthesize a fake image blob per document (dimensions
    derived from doc_id/n_chars), then parse it back with the
    Arrow-batched mapInPandas header reader
    (operators.multimodal.attach_fake_image_blobs →
    extract_image_meta). Both passes are partition-preserving — zero
    shuffles. Oracle-checkable because the fake wire format is
    arithmetic-deterministic: the SQL recomputes
    width/height/channels/n_bytes that the binary round-trip must
    reproduce."""
    from margaret_spark.operators.multimodal import (
        attach_fake_image_blobs,
        extract_image_meta,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 512 + 16).cast("int").alias("w"),
        (F.col("doc_id") % 256 + 16).cast("int").alias("h"),
    )
    blobs = attach_fake_image_blobs(docs, "doc_id", "w", "h", channels=3)
    return extract_image_meta(blobs, "doc_id", "blob")


def q_multimodal_decode_png(spark, sf_dir):
    """REAL image decode on the graded surface: each document gets an
    actual 8-bit greyscale PNG (stdlib zlib/struct encoder) whose
    pixel stream is the closed form (doc_id*31 + i) mod 256; the real
    PNG decoder (operators.media_codecs.decode_png — chunk walk,
    inflate, scanline unfilter) then recovers the pixels and the
    statistics are aggregated JVM-side from the decoded array. The
    oracle recomputes every statistic arithmetically from the closed
    form — any bug in either codec direction (CRC, filtering, stride,
    zlib framing) hash-mismatches. Both mapInPandas passes are
    partition-preserving; the aggregation is per-row array math in
    codegen — zero shuffles."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_png_blobs,
        decode_image,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 24 + 4).cast("int").alias("w"),
        (F.col("doc_id") % 16 + 4).cast("int").alias("h"),
    )
    blobs = attach_synthetic_png_blobs(docs, "doc_id", "w", "h")
    decoded = decode_image(blobs, "doc_id", "blob")
    px = F.col("pixels")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.size(px).cast("long").alias("n_pixels"),
        F.aggregate(
            px, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("px_sum"),
        # position-weighted checksum: catches right-values-wrong-order
        F.aggregate(
            F.zip_with(
                px,
                F.sequence(F.lit(1), F.size(px)),
                lambda x, i: x.cast("long") * i.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("px_checksum"),
    )


def q_multimodal_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode on the graded surface: a from-scratch
    stdlib+numpy JPEG codec (operators.jpeg — marker walk, canonical
    Huffman from DHT, dequantize, IDCT) round-trips a deterministic
    gradient per document. JPEG is lossy so decoded pixels are not
    closed-form; the oracle checks the structural surface (dims,
    decoded pixel count) while pixel fidelity is pinned in pytest
    (PSNR floor + bit-exact recovery of the encoder's quantized
    coefficient blocks — the lossless entropy layer). Zero shuffles."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_jpeg_blobs,
        decode_image,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("n_chars") % 24 + 8).cast("int").alias("w"),
        (F.col("doc_id") % 16 + 8).cast("int").alias("h"),
    )
    # single-file table → 1-2 scan tasks; spread the CPU-heavy
    # per-row JPEG encode/decode across the executor pool
    base = base.repartition(spark.sparkContext.defaultParallelism)
    blobs = attach_synthetic_jpeg_blobs(base, "doc_id", "w", "h")
    decoded = decode_image(blobs, "doc_id", "blob")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.size(F.col("pixels")).cast("long").alias("n_pixels"),
    )


def q_multimodal_decode_wav(spark, sf_dir):
    """REAL audio decode on the graded surface: a PCM16 WAV per
    document (stdlib RIFF encoder), samples s[i] = ((doc_id*7 +
    i*13) mod 4096) - 2048, decoded by the real RIFF/PCM parser and
    aggregated JVM-side. Oracle recomputes the closed form. Zero
    shuffles."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_wav_blobs,
        decode_audio,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8000) + (F.col("doc_id") % 8) * 1000).cast("int").alias("rate"),
        (F.col("n_chars") % 128 + 16).cast("int").alias("n"),
    )
    blobs = attach_synthetic_wav_blobs(docs, "doc_id", "rate", "n")
    decoded = decode_audio(blobs, "doc_id", "blob")
    s = F.col("samples")
    return decoded.select(
        "doc_id",
        "sample_rate",
        "channels",
        F.size(s).cast("long").alias("n_samples"),
        F.aggregate(
            s, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("sample_sum"),
        F.aggregate(
            s, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x.cast("long"))
        ).alias("sample_abs_sum"),
    )


def q_multimodal_video_meta(spark, sf_dir):
    """REAL video CONTAINER parsing on the graded surface
    (operators.video_containers): each document gets a deterministic
    MP4 (ISO BMFF box walk: mvhd timescale/duration, tkhd 16.16
    dimensions, hdlr track types), AVI (RIFF hdrl/avih MainAVIHeader),
    or garbage blob; extract_video_meta parses them back with the
    stdlib-only, fuzz-hardened parsers. The oracle recomputes every
    field arithmetically from the id closed form — duration division
    is IEEE-exact both engines, so the surface is hash-exact. Frame
    DECODE stays a documented stub (needs native codecs); container
    metadata covers the curation-filtering need. mapInPandas both
    directions, zero shuffles."""
    from margaret_spark.operators.video_containers import (
        attach_synthetic_video_blobs,
        extract_video_meta,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = attach_synthetic_video_blobs(docs, "doc_id")
    meta = extract_video_meta(blobs, "doc_id", "blob")
    return meta.select(
        "doc_id", "container", "duration_s", "n_tracks", "width", "height"
    )


def q_multimodal_decode_video(spark, sf_dir):
    """REAL video FRAME decode on the graded surface: each document
    gets an MJPEG-in-AVI (video_containers.encode_avi_mjpeg — avih +
    vids/MJPG strl + movi of 00dc chunks, each a REAL baseline JPEG
    of a deterministic gradient), sample_video_frames walks the RIFF
    container and emits every 2nd frame, and decode_image decodes the
    sampled JPEGs with the from-scratch stdlib+numpy codec. JPEG is
    lossy so pixel VALUES are pinned by PSNR in pytest
    (tests/test_video_containers.py); the oracle checks the full
    structural surface — the stride fan-out (which (doc, frame_idx)
    rows exist) and per-frame dims/pixel counts — arithmetically from
    the id closed form. mapInPandas end-to-end, zero shuffles."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_mjpeg_avi_blobs,
        decode_image,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("n_chars") % 24 + 8).cast("int").alias("w"),
        (F.col("doc_id") % 16 + 8).cast("int").alias("h"),
        (F.col("doc_id") % 5 + 2).cast("int").alias("nf"),
    )
    # the documents table is a single file (1-2 scan tasks); spread the
    # CPU-heavy per-row JPEG encode/decode across the executor pool
    base = base.repartition(spark.sparkContext.defaultParallelism)
    blobs = attach_synthetic_mjpeg_avi_blobs(base, "doc_id", "w", "h", "nf")
    frames = sample_video_frames(blobs, "doc_id", "blob", every_n=2)
    # fold (doc_id, frame_idx) into one key for decode_image, then
    # recover both (nf <= 6 so frame_idx < 16)
    keyed = frames.select(
        (F.col("doc_id") * 16 + F.col("frame_idx")).alias("fid"), "frame"
    )
    decoded = decode_image(keyed, "fid", "frame")
    return decoded.select(
        F.expr("fid div 16").cast("long").alias("doc_id"),
        (F.col("fid") % 16).cast("int").alias("frame_idx"),
        "width",
        "height",
        F.size(F.col("pixels")).cast("long").alias("n_pixels"),
    )


def _image_dedup_parts(spark, sf_dir):
    """(docs, blobs): the image-fixture pieces BEFORE the broadcast
    attach — docs is (doc_id, seed, w, h), blobs is the 25 distinct
    (seed, w, h, blob) PNGs encoded once."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_png_blobs_quad,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 25).alias("seed"),
        ((F.col("doc_id") % 25) % 5 + 16).cast("int").alias("w"),
        ((F.col("doc_id") % 25) % 3 + 12).cast("int").alias("h"),
    )
    groups = docs.select("seed", "w", "h").distinct()
    blobs = attach_synthetic_png_blobs_quad(groups, "seed", "w", "h")
    return docs, blobs


def _image_dedup_base(spark, sf_dir):
    """The shared fixture for the perceptual image-hash queries: 25
    image groups (seed = doc_id % 25) of REAL greyscale PNGs with the
    quadratic closed-form pixel stream (id*31 + j²) mod 256 — equal
    seeds are exact duplicate images, different seeds are perceptually
    distinct (cross-seed dHash Hamming ≥ 8 on this parameter grid).
    The 25 distinct (seed, w, h) images are encoded ONCE and broadcast
    back onto the corpus; decode then runs per document."""
    docs, blobs = _image_dedup_parts(spark, sf_dir)
    # single-file table → 1-2 scan tasks; spread the per-row PNG
    # decode across the pool before the Arrow stage
    return docs.join(F.broadcast(blobs), "seed").repartition(
        spark.sparkContext.defaultParallelism
    )


def _image_group_hashes(spark, sf_dir, hash_op, hash_col):
    """(doc_id, ``hash_col``): per-document perceptual image hash with
    the decode+hash pushed THROUGH the fixture's broadcast group join
    (r11 optimization round, guide §2.4/§8 decide-on-small): the hash
    is a pure function of the blob, and the join attaches each of the
    25 distinct blobs onto ~N/25 documents — hashing the DISTINCT
    blobs first decodes each image once instead of once per document.
    Projection pushdown the optimizer cannot perform itself (the
    decode is an opaque Arrow stage); values identical row-for-row."""
    docs, blobs = _image_dedup_parts(spark, sf_dir)
    h = hash_op(
        blobs.repartition(spark.sparkContext.defaultParallelism),
        "seed",
        "blob",
    )
    return docs.join(F.broadcast(h), "seed").select("doc_id", hash_col)


def q_multimodal_image_dhash(spark, sf_dir):
    """Perceptual image hashing (dHash) on the graded surface
    (operators.imagehash): REAL PNG decode (stdlib zlib/struct), then
    a 9×8 nearest-neighbor grey grid and 64 gradient-direction bits —
    pure integer math after decode, zero shuffles, zero extra UDFs.
    The oracle recomputes every bit arithmetically from the closed
    form (grid sampling floor-divs, quadratic pixel stream, two's-
    complement bit packing) — any bug in decode, sampling, luma, or
    packing hash-mismatches."""
    from margaret_spark.operators.imagehash import image_dhash

    # decode+hash once per distinct group blob (see _image_group_hashes)
    return _image_group_hashes(spark, sf_dir, image_dhash, "dhash")


def q_multimodal_image_dedup(spark, sf_dir):
    """Image-level near-dup detection (the LAION-style multimodal
    dedup stage): dHash each document's image, then all pairs within
    Hamming ≤ 6 via the LOSSLESS pigeonhole block join (7 blocks of 9
    bits; a pair within distance 6 agrees on ≥ 1 whole block — an
    equality-join bucket, never a cross join; the exact Hamming check
    rides inside the join condition). On this fixture the pairs are
    exactly the 25 planted duplicate groups (cross-group Hamming ≥ 8).
    The oracle re-derives the hashes arithmetically and takes the
    brute-force Hamming self-join — banding must find exactly those
    pairs (the pigeonhole guarantee, graded hash-exact, not
    rows-only)."""
    from margaret_spark.operators.imagehash import (
        hamming_pairs_grouped,
        image_dhash,
    )

    # image_dedup_pairs = dhash + hamming_pairs; the hash side decodes
    # once per distinct group blob (see _image_group_hashes), and the
    # pair join runs at the distinct-VALUE level (identical output —
    # hamming_pairs_grouped): the pigeonhole join compares 25 values,
    # not N documents, and the doc pairs come from output-bound
    # expansion joins
    sigs = _image_group_hashes(spark, sf_dir, image_dhash, "dhash")
    return hamming_pairs_grouped(sigs, "doc_id", "dhash", max_hamming=6)


def q_multimodal_image_phash(spark, sf_dir):
    """DCT perceptual hash (pHash) on the graded surface
    (operators.imagehash.image_phash): REAL PNG decode, 16×16 box
    floor-mean downsample + separable INTEGER DCT in one Arrow stage
    (hardcoded round(cos·4096) basis — protocol constants shared
    verbatim with this oracle), then the 64 low-frequency AC
    coefficients (DC excluded — brightness invariance) thresholded
    against their exact integer median pair (2·C > m32+m33) in
    codegen. The oracle re-derives every box mean, coefficient, and
    bit arithmetically from the closed-form pixel stream — any bug in
    decode, luma, the box means, the DCT passes, the median rule, or
    packing hash-mismatches. Robust where dHash is not: brightness
    shifts move only the excluded DC, and pixel jitter cancels in the
    box means (pinned in pytest on a JPEG re-encode)."""
    from margaret_spark.operators.imagehash import image_phash

    # decode+hash once per distinct group blob (see _image_group_hashes)
    return _image_group_hashes(spark, sf_dir, image_phash, "phash")


def q_multimodal_image_phash_dedup(spark, sf_dir):
    """Image near-dup pairs under pHash: hash + the lossless
    pigeonhole Hamming join at max_hamming=10 (11 blocks; pHash's
    frequency bits degrade more gracefully than dHash's spatial
    gradients, so the band is wider). On this fixture the pairs are
    exactly the 25 planted duplicate groups — cross-seed pHash
    Hamming is ≥ 16 on this parameter grid. The oracle is the
    brute-force Hamming self-join over the arithmetically re-derived
    hashes: banding must find exactly those pairs."""
    from margaret_spark.operators.imagehash import (
        hamming_pairs_grouped,
        image_phash,
    )

    # phash_dedup_pairs = phash + hamming_pairs; the hash side decodes
    # once per distinct group blob (see _image_group_hashes); the pair
    # join runs at the distinct-value level (hamming_pairs_grouped —
    # identical output, and the widest band here means the doc-level
    # join exploded 11 block rows per document)
    sigs = _image_group_hashes(spark, sf_dir, image_phash, "phash")
    return hamming_pairs_grouped(sigs, "doc_id", "phash", max_hamming=10)


def _audio_dedup_parts(spark, sf_dir):
    """(docs, blobs): the shared fixture for the perceptual audio-fingerprint
    queries: 25 audio groups (seed = doc_id % 25) × 3 noise variants
    (v = doc_id div 25 mod 3) of REAL PCM16 WAVs with the closed-form
    waveform s[j] = ((seed·997 + j²·29 + j·17) mod 4096) − 2048 +
    (32·v iff j mod 5 = 0) — same seed + same noise are exact
    duplicates, same
    seed + different noise are planted NEAR-duplicates (the additive
    perturbation flips only gradient bits near energy ties), and
    different seeds are perceptually distinct. The 75 distinct
    (seed, v) clips are encoded ONCE; the attached form is
    :func:`_audio_dedup_base`."""
    from margaret_spark.operators.multimodal import (
        attach_synthetic_wav_blobs_noisy,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 25).alias("seed"),
        (F.expr("doc_id DIV 25") % 3).alias("v"),
    ).withColumn("gid", F.col("seed") * 3 + F.col("v"))
    groups = (
        docs.select("gid", "seed", "v")
        .distinct()
        .select(
            "gid",
            "seed",
            "v",
            (F.lit(8000) + (F.col("seed") % 8) * 1000).cast("int").alias("rate"),
            ((F.col("seed") % 5) * 16 + 64).cast("int").alias("n"),
        )
    )
    blobs = attach_synthetic_wav_blobs_noisy(
        groups.withColumn("noise", F.col("v") * 32),
        "gid", "seed", "rate", "n", "noise",
    )
    return docs, blobs


def _audio_dedup_base(spark, sf_dir):
    """The attached form of :func:`_audio_dedup_parts` — every doc
    row carrying its group's WAV blob; decode then runs per
    document."""
    docs, blobs = _audio_dedup_parts(spark, sf_dir)
    # single-file table → 1-2 scan tasks; spread the per-row WAV
    # decode across the pool before the Arrow stage
    return docs.join(F.broadcast(blobs), "gid").repartition(
        spark.sparkContext.defaultParallelism
    )


def _audio_group_fps(spark, sf_dir):
    """(doc_id, afp): per-document audio fingerprint with decode+hash
    pushed through the fixture's broadcast group join — one decode
    per distinct (seed, v) clip instead of one per document (the
    image-side _image_group_hashes argument, same join-reorder
    identity)."""
    from margaret_spark.operators.audiohash import audio_fingerprint

    docs, blobs = _audio_dedup_parts(spark, sf_dir)
    h = audio_fingerprint(
        blobs.repartition(spark.sparkContext.defaultParallelism),
        "gid",
        "blob",
    )
    return docs.join(F.broadcast(h), "gid").select("doc_id", "afp")


def q_multimodal_audio_fp(spark, sf_dir):
    """Perceptual audio fingerprinting on the graded surface
    (operators.audiohash): REAL PCM16 WAV decode (stdlib RIFF walk),
    then 65 floor-div time frames, absolute-amplitude frame energies,
    and 64 energy-gradient bits — pure integer math after decode,
    zero shuffles, zero extra UDFs. The oracle recomputes every bit
    arithmetically from the closed form (per-sample frame assignment
    via the exact bucket inverse (65·(j+1)−1) div n, energy sums,
    two's-complement bit packing) — any bug in decode, framing,
    energy, or packing hash-mismatches."""
    # decode+fingerprint once per distinct clip (see _audio_group_fps)
    return _audio_group_fps(spark, sf_dir)


def q_multimodal_audio_dedup(spark, sf_dir):
    """Audio-level near-dup detection (the audio leg of multimodal
    corpus dedup): energy-gradient fingerprint per document, then all
    pairs within Hamming ≤ 6 via the LOSSLESS pigeonhole block join
    (imagehash.hamming_pairs — the construction is modality-
    agnostic). On this fixture the pairs are exactly the 25 planted
    same-seed groups (exact dups at distance 0, noise variants within
    ≤ 4 bits; cross-seed Hamming ≥ 9 on this parameter grid); the
    oracle re-derives the fingerprints arithmetically and takes the
    brute-force Hamming self-join — banding must find exactly those
    pairs (the pigeonhole guarantee, graded hash-exact, not
    rows-only)."""
    from margaret_spark.operators.imagehash import hamming_pairs_grouped

    # audio_dedup_pairs = fingerprint + hamming_pairs; the fingerprint
    # side decodes once per distinct clip (see _audio_group_fps), and
    # the pair join runs at the distinct-value level
    # (hamming_pairs_grouped — identical output over 75 values)
    sigs = _audio_group_fps(spark, sf_dir)
    return hamming_pairs_grouped(sigs, "doc_id", "afp", max_hamming=6)


def q_multimodal_dedup_clusters(spark, sf_dir):
    """The decision stage of multimodal dedup, composed from the
    library's own parts: audio energy-gradient fingerprints → lossless
    pigeonhole Hamming pairs → connected components (dedup_clusters —
    the SAME min-label-propagation operator the text jaccard family
    uses; pair generators and the cluster step compose across
    modalities). Every document gets cluster_id = min doc_id of its
    near-dup component; keep-one-per-group is then a doc_id ==
    cluster_id filter. The oracle re-derives the fingerprints
    arithmetically, takes the brute-force Hamming self-join, and runs
    a recursive reachability CTE — graded hash-exact."""
    from margaret_spark.operators.dedup import dedup_clusters
    from margaret_spark.operators.imagehash import hamming_pairs

    # Decide on the small rows (guide §8): the doc-level near-dup
    # relation is a pure function of the fingerprint VALUES, so the
    # components run over one node per DISTINCT value (node id = the
    # min doc_id holding it) instead of one per document. Docs sharing
    # a value are always one component (Hamming 0 ≤ 6 emits their
    # pairs), so doc components == value components, and the component
    # min over value reps IS the min doc_id (the component's min doc
    # is the rep of its own value). Identical output, with the
    # pointer-jumping rounds and the pigeonhole join running over ~75
    # value rows rather than the corpus.
    # sigs feeds both the rep table and the final join-back —
    # checkpoint so the decode+attach pipeline runs once
    sigs = _audio_group_fps(spark, sf_dir).localCheckpoint(eager=False)
    vreps = (
        sigs.groupBy("afp")
        .agg(F.min("doc_id").alias("vid"))
        .localCheckpoint(eager=False)
    )
    vpairs = hamming_pairs(vreps, "vid", "afp", max_hamming=6)
    comp = dedup_clusters(vreps.select("vid"), vpairs, "vid")
    return (
        sigs.join(vreps, "afp")
        .join(comp, "vid")
        .select("doc_id", "cluster_id")
    )


def q_multimodal_dedup_clusters_all(spark, sf_dir):
    """CROSS-MODAL dedup clusters: the union of the image pHash pair
    set (Hamming ≤ 10) and the audio fingerprint pair set (≤ 6) feeds
    ONE connected-components pass — the composition a multimodal
    pipeline actually runs (a document is a duplicate if ANY of its
    modalities says so). Pair generators are modality-agnostic
    (id_a, id_b) tables, so the union is free; the oracle re-derives
    both hash families arithmetically, takes both brute-force Hamming
    joins, unions, and runs the recursive reachability CTE — graded
    hash-exact."""
    from margaret_spark.operators.dedup import dedup_clusters
    from margaret_spark.operators.imagehash import hamming_pairs, image_phash

    # Decide on the small rows (guide §8), cross-modal form: the
    # near-dup relation depends only on the hash VALUES, so components
    # run over one node per distinct image hash plus one per distinct
    # audio fingerprint (node id = min doc_id holding the value).
    # Edges: within-modality value pairs from the pigeonhole join,
    # plus one edge per distinct (image value, audio value) DOC
    # combination — a document belongs to both of its value groups,
    # which is exactly what merged them in the doc-level graph (docs
    # sharing a value are one component via the Hamming-0 pairs).
    # Component min over value reps == min doc_id of the doc
    # component (the min doc is the rep of its own values), so the
    # per-doc output is identical; the pointer jumping and both
    # pigeonhole joins run over ~100 value rows, not the corpus.
    # the (doc_id, hash) maps feed the rep tables, the cross-modal
    # edges AND the final join-back — checkpoint so the decode+attach
    # pipelines run once, not once per consumer
    img = _image_group_hashes(spark, sf_dir, image_phash, "phash").localCheckpoint(
        eager=False
    )
    aud = _audio_group_fps(spark, sf_dir).localCheckpoint(eager=False)
    iv = (
        img.groupBy("phash")
        .agg(F.min("doc_id").alias("ivid"))
        .localCheckpoint(eager=False)
    )
    av = (
        aud.groupBy("afp")
        .agg(F.min("doc_id").alias("avid"))
        .localCheckpoint(eager=False)
    )
    xmodal = (
        img.join(aud, "doc_id")
        .join(iv, "phash")
        .join(av, "afp")
        .select(F.col("ivid").alias("id_a"), F.col("avid").alias("id_b"))
        .distinct()
    )
    pairs = (
        hamming_pairs(iv, "ivid", "phash", max_hamming=10)
        .select("id_a", "id_b")
        .unionByName(
            hamming_pairs(av, "avid", "afp", max_hamming=6)
            .select("id_a", "id_b")
        )
        .unionByName(xmodal)
    )
    nodes = (
        iv.select(F.col("ivid").alias("vid"))
        .unionByName(av.select(F.col("avid").alias("vid")))
        .distinct()
    )
    comp = dedup_clusters(nodes, pairs, "vid")
    return (
        img.join(iv, "phash")
        .join(comp, F.col("ivid") == F.col("vid"))
        .select("doc_id", "cluster_id")
    )


def q_text_bpe_tokens(spark, sf_dir):
    """REAL byte-level BPE tokenization on the graded surface
    (operators.bpe): a GPT-2-style pre-tokenizer (Python∩Java∩RE2
    dialect, no lookahead), byte-level base vocabulary (ids 0-255 =
    UTF-8 bytes, merge r → 256+r), and the deterministic DEFAULT
    merge table derived from the embedded seed corpus (a pytest
    retrains it from the seed and asserts equality — the table is a
    pure function of public algorithm + seed, not a magic constant).
    The oracle re-runs the ENTIRE encoder independently in SQL: a
    recursive CTE applies one (lowest-rank, leftmost) merge per step
    over the distinct pre-token vocabulary — equivalent to the
    sweep implementation because pairs created by a merge always
    involve the new, strictly-later-ranked token. Hash-exact on
    count, checksum, and the first 8 token ids per document.
    Arrow-batched pandas UDF, map-only; the merge loop is memoized
    per distinct pre-token."""
    from margaret_spark.operators.bpe import bpe_tokenize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # single-file table → spread the CPU-heavy merge loop
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t = bpe_tokenize(docs, "doc_id", "text")
    a = F.col("token_ids")
    return t.select(
        "doc_id",
        F.coalesce(F.size(a), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(
            F.aggregate(
                a, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("token_sum"),
        *[
            F.element_at(a, i).cast("int").alias(f"t{i}")
            for i in range(1, 9)
        ],
    )


def q_text_bpe_wordcounts(spark, sf_dir):
    """The distributed half of BPE TRAINING, graded: the top-50
    pre-token frequency table (count desc, token asc — the exact
    bounded word-frequency input train_bpe's driver merge loop
    consumes). JVM-side regexp_extract_all + explode + map-side-
    combined groupBy; TakeOrdered top-k, no full sort. Hash-exact —
    the oracle re-runs the same pre-tokenizer in RE2."""
    from margaret_spark.operators.bpe import PRETOKEN_RE

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(PRETOKEN_RE), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(50)
    )
    return wc


def q_pack_sequences_bpe(spark, sf_dir):
    """Sequence packing driven by REAL BPE token counts — the
    production shape of the pretraining-loader layout query
    (pack_sequences is tokens_col-agnostic; here the column comes
    from operators.bpe rather than the regex proxy). The oracle
    recomputes the ENTIRE pipeline in SQL: the recursive-CTE BPE
    encoder supplies per-doc token counts, then the same integer
    window cumsum / div arithmetic lays out the packs. Hash-exact."""
    from margaret_spark.operators.bpe import bpe_token_count
    from margaret_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    counted = bpe_token_count(docs, "doc_id", "text")
    return pack_sequences(
        counted, "doc_id", "n_tokens", seq_len=512, order_col="doc_id"
    )


def q_stream_token_budget(spark, sf_dir):
    """At-ingest token-budget gating BY THE STREAMING ENGINE
    (streaming/stateful.stream_token_budget, applyInPandasWithState
    keyed by source): documents stream in seq order and each source
    admits documents until 500 cumulative tokens, then closes — per
    source the state is ONE long forever. The admitted set (the whole
    training corpus's key set at scale) is delivered executor-side
    into a batch=<id> parquet sink and read back — no driver pandas
    funnel. The oracle states the kept set as a per-source window
    cumsum over doc_id order (keep iff tokens-before-it < budget) —
    hash-exact including the cumulative sums."""
    import tempfile

    from margaret_spark.functions.shingling import words
    from margaret_spark.streaming import read_keeper_sink, stream_token_budget

    sdf = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    tagged = sdf.select(
        F.col("source").alias("stratum"),
        F.col("doc_id").alias("seq"),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    base = tempfile.mkdtemp(prefix="stream_budget_")
    try:
        sink = os.path.join(base, "sink")
        stream_token_budget(
            tagged, 500, os.path.join(base, "ckpt"), sink_dir=sink
        )
        out = read_keeper_sink(
            spark,
            sink,
            "stratum string, seq long, n_tokens long, cum_tokens long",
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_lm_filter(spark, sf_dir):
    """At-ingest LM quality gating (streaming/quality.py): a pruned
    bigram LM is fitted ONCE on the even-doc reference corpus
    (operators.lm.fit_bigram_lm, top-512 cut), then every document
    streaming out of the log is scored inside foreachBatch (explode +
    broadcast LM joins + per-doc agg — per-batch scoring of disjoint
    seqs equals batch scoring of the whole log, since the model is
    fixed) and kept iff surprise <= 190; keepers land executor-side
    under batch=<id> partitions. The oracle re-fits and re-scores the
    same recipe in SQL — hash-exact including the surprise values."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.lm import fit_bigram_lm
    from margaret_spark.streaming import read_keeper_sink, stream_lm_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lm = fit_bigram_lm(
        docs.where(F.col("doc_id") % 2 == 0), "doc_id", "text", max_ngrams=512
    )
    base = tempfile.mkdtemp(prefix="stream_lmf_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_lm_filter(
            log,
            F.col("value"),
            lm,
            190.0,
            sink,
            os.path.join(base, "ckpt"),
        )
        out = read_keeper_sink(
            spark, sink, "seq long, n_bigrams long, surprise double"
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_nb_filter(spark, sf_dir):
    """At-ingest TRAINED-classifier gating (streaming/quality.py):
    the multinomial NB model is fitted ONCE on the doc_id % 3 labeled
    slice (the q_text_nb_* recipe: length-derived long/short labels,
    top-16 vocab cut), then every document streaming out of the log
    is scored inside foreachBatch (explode + broadcast model joins +
    keyed agg — per-batch scoring of disjoint seqs equals batch
    scoring of the whole log, since the model is fixed) and kept iff
    its score under the 'long' class is <= 3000 (~the corpus median —
    the published GPT-3 recipe: threshold on the quality class's
    classifier score; the gate demonstrably drops, not rubber-stamps);
    zero-token docs (score NULL) drop conservatively. Keepers land
    executor-side under batch=<id> partitions. The oracle re-fits and
    re-scores the same recipe in SQL — hash-exact including the
    scores. Completes the curation chain (rules → LM gate → trained
    classifier) in streaming form."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_nb_filter

    docs, model = _nb_model(spark, sf_dir)
    docs = docs.select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_nbf_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_nb_filter(
            log,
            F.col("value"),
            model,
            sink,
            os.path.join(base, "ckpt"),
            score_label="long",
            max_score=3000.0,
        )
        out = read_keeper_sink(spark, sink, "seq long, pred string, score double")
        return out
    finally:
        _defer_cleanup(base)


def q_stream_dsir_filter(spark, sf_dir):
    """At-ingest DSIR distribution matching (streaming/quality.py):
    the hashed-bigram models are fitted ONCE (even docs = target, odd
    = raw, the corpus_dsir_* recipe), then every document streaming
    out of the log is weighted inside foreachBatch (explode + bucket
    + broadcast count join + keyed agg — per-batch scoring of
    disjoint seqs equals batch scoring of the whole log, since the
    model is fixed) and kept iff weight >= 1.0 (~the corpus median —
    the gate demonstrably drops); no-feature docs (weight NULL) drop
    conservatively. Keepers land executor-side under batch=<id>
    partitions. The oracle re-fits and re-weights the same recipe in
    SQL — hash-exact including the weights. Completes the curation
    chain's fourth leg in streaming form."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_dsir_filter

    docs, model = _dsir_model(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_dsir_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_dsir_filter(
            log,
            F.col("value"),
            model,
            1.0,
            sink,
            os.path.join(base, "ckpt"),
            n=2,
            n_buckets=64,
        )
        out = read_keeper_sink(
            spark, sink, "seq long, n_grams long, weight double"
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_hash_embed(spark, sf_dir):
    """Streaming at-ingest document vectorization
    (streaming/annintake.stream_hash_embed): every text streaming out
    of the log becomes its 64-dim hashed signed-bucket vector on
    arrival — the front stage of the streaming vector chain (text ->
    vector -> IVF cell -> PQ codes, each an at-ingest operator here).
    Stateless per document, so per-batch embedding of disjoint seqs
    equals batch embedding of the corpus — exactly what the oracle
    (the hashembed CTE chain keyed by seq) states. Hash-exact."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_hash_embed

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_hembed_")
    try:
        log = OffsetLog(
            spark, os.path.join(base, "log"), value_type=T.StringType()
        )
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_hash_embed(
            log, F.col("value"), sink, os.path.join(base, "ckpt"), dim=64
        )
        out = read_keeper_sink(spark, sink, "seq long, pos long, val double")
        return out
    finally:
        _defer_cleanup(base)


def q_stream_image_phash(spark, sf_dir):
    """Streaming at-ingest perceptual image hashing
    (streaming/mediaintake.stream_image_phash): every image blob
    streaming out of the log is pHash'd on arrival — the multimodal
    leg of the at-ingest family (a LAION-style pipeline dedups
    arrivals against the corpus signature table without re-scanning
    it). Stateless per row, so per-batch hashing of disjoint seqs
    equals batch hashing of the corpus — exactly what the oracle (the
    pHash arithmetic chain keyed by the append rank) states.
    Hash-exact."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_image_phash

    blobs = _image_dedup_base(spark, sf_dir).select("doc_id", "blob")
    base = tempfile.mkdtemp(prefix="stream_iphash_")
    try:
        log = OffsetLog(
            spark, os.path.join(base, "log"), value_type=T.BinaryType()
        )
        log.append_df(blobs, value_col="blob", order_by="doc_id")
        sink = os.path.join(base, "sink")
        # the fixture is re-upload-heavy (25 distinct blobs over the
        # corpus): decode each distinct blob once per micro-batch and
        # attach the hashes by blob equality — value-identical
        stream_image_phash(
            log, F.col("value"), sink, os.path.join(base, "ckpt"),
            dedup_blobs=True,
        )
        out = read_keeper_sink(spark, sink, "seq long, phash long")
        return out
    finally:
        _defer_cleanup(base)


def q_stream_pq_assign(spark, sf_dir):
    """Streaming PQ intake (streaming/annintake.stream_pq_assign):
    every embedding streaming out of the log is compressed at ingest
    to its m=4 nearest-code ids under a FROZEN codebook
    (operators.pq.pq_train on the reference corpus — fit once, the
    at-ingest-model house rule). Stateless broadcast ranking, so
    per-batch encoding of disjoint seqs equals batch encoding of the
    whole corpus — which is exactly what the oracle states: the PQ
    CTE chain's enc table keyed by seq. Keepers (seq, sub, code_id,
    dist2) land executor-side as batch=<id> partials; the serving
    code table IVFADC reads is their fold."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.pq import pq_train
    from margaret_spark.streaming import read_keeper_sink, stream_pq_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq_train(emb, m=4, codes=8, iters=1)
    base = tempfile.mkdtemp(prefix="stream_pq_")
    try:
        log = OffsetLog(
            spark,
            os.path.join(base, "log"),
            value_type=T.ArrayType(T.FloatType()),
        )
        log.append_df(emb, value_col="embedding", order_by="vec_id")
        sink = os.path.join(base, "sink")
        stream_pq_assign(
            log,
            F.col("value"),
            cb,
            sink,
            os.path.join(base, "ckpt"),
        )
        out = read_keeper_sink(
            spark, sink, "seq long, sub long, code_id long, dist2 double"
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_ivf_assign(spark, sf_dir):
    """Streaming ANN intake (streaming/annintake.py): every embedding
    streaming out of the log is routed to its nearest IVF cell under
    FROZEN centroids (the 16 lowest-id vectors — the same seeding as
    ann_ivf/dedup_embedding, so assignment is oracle-expressible)
    inside foreachBatch — stateless broadcast ranking, per-batch
    assignment of disjoint seqs equals batch assignment of the whole
    log. Keepers (seq, cell, cos) land executor-side under batch=<id>
    partitions; operators.similarity.ivf_index_append is the batch
    fold into the persisted index. The oracle re-derives the ranking
    with the house (rounded cosine desc, cent_id asc) tiebreak —
    hash-exact including the cosines."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_ivf_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(16)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
    )
    base = tempfile.mkdtemp(prefix="stream_ivf_")
    try:
        log = OffsetLog(
            spark,
            os.path.join(base, "log"),
            value_type=T.ArrayType(T.FloatType()),
        )
        log.append_df(emb, value_col="embedding", order_by="vec_id")
        sink = os.path.join(base, "sink")
        stream_ivf_assign(
            log,
            F.col("value"),
            cents,
            sink,
            os.path.join(base, "ckpt"),
        )
        out = read_keeper_sink(spark, sink, "seq long, cell long, cos double")
        return out
    finally:
        _defer_cleanup(base)


def q_stream_token_budget_bpe(spark, sf_dir):
    """The token-budget gate fed by REAL byte-level BPE counts —
    production token accounting end-to-end: the ingest projection tags
    each arriving document with operators.bpe's Arrow-batched
    tokenizer count (no whitespace proxy), the stateful gate admits
    per-source prefixes until 800 cumulative tokens, and the admitted
    set lands executor-side in a batch=<id> parquet sink. The oracle
    re-derives n_tokens with the recursive-CTE SQL BPE encoder (one
    lowest-rank-leftmost merge per step) and restates the gate as a
    per-source window cumsum — hash-exact across tokenizer AND gate."""
    import tempfile

    from margaret_spark.operators.bpe import bpe_token_count_col
    from margaret_spark.streaming import read_keeper_sink, stream_token_budget

    sdf = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    tagged = sdf.select(
        F.col("source").alias("stratum"),
        F.col("doc_id").alias("seq"),
        bpe_token_count_col(F.col("text")).alias("n_tokens"),
    )
    base = tempfile.mkdtemp(prefix="stream_budget_bpe_")
    try:
        sink = os.path.join(base, "sink")
        stream_token_budget(
            tagged, 800, os.path.join(base, "ckpt"), sink_dir=sink
        )
        out = read_keeper_sink(
            spark,
            sink,
            "stratum string, seq long, n_tokens long, cum_tokens long",
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_events_sessions(spark, sf_dir):
    """Gap-based session windows computed BY THE STREAMING ENGINE
    (F.session_window, 30-min gap) and drained with availableNow —
    the streaming twin of q_events_sessions, oracle-checked: session
    bounds and counts must equal the batch gap-sessionization exactly
    (Spark merges an event into a session iff it lands strictly
    before last_event + gap, so the oracle breaks sessions on
    gap >= 30 min). Complete output mode is the DRAIN-GRADING HARNESS
    only (the final micro-batch must hold every closed-and-merged
    session regardless of how the file source batched the input so
    the oracle can compare full snapshots); the library operator
    (streaming/windows.py session_windows) is watermarked and
    append-safe — production sinks should use append mode, not copy
    this."""
    import tempfile

    from margaret_spark.streaming import session_windows
    from margaret_spark.streaming.sinks import start_stream

    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = sdf.select(F.col("ts").alias("ets"), "user_id")
    sess = session_windows(ev, "ets", keys=["user_id"], gap="30 minutes")

    base = tempfile.mkdtemp(prefix="stream_sessions_")
    out = os.path.join(base, "out")

    def on_batch(bdf, bid):
        # each complete-mode batch is a full snapshot; OVERWRITE the
        # parquet sink so the last batch leaves the final session set —
        # rows flow executor→disk, never through a driver collect
        # (whose memory would grow with total session count)
        bdf.select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            F.col("n_events").cast("long").alias("n_events"),
        ).write.mode("overwrite").parquet(out)

    try:
        start_stream(
            sess.writeStream.foreachBatch(on_batch).outputMode("complete"),
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        final = spark.read.parquet(out)
    finally:
        _defer_cleanup(base)
    return final


def q_codec_roundtrip(spark, sf_dir):
    """The msgpack + CBOR codecs (SURVEY §2.5 ops 38/39) exercised
    DISTRIBUTED, in both the schemaless AND the typed (schema-bound)
    modes: each document's payload is marshalled and unmarshalled by
    all four codecs inside an Arrow-batched pandas UDF — the typed
    mode binds a StructType (the reference's "tipe" binding,
    codec.go:12-31) with nested struct/array fields, CBOR in
    struct-to-array layout. ``ok`` is the per-row equality verdict;
    the oracle expects every row TRUE — any canonicalization, framing,
    field-order, or coercion bug hash-mismatches."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from margaret_spark.codec import (
        CborCodec,
        MsgpackCodec,
        TypedCborCodec,
        TypedMsgpackCodec,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("n", T.LongType()),
                        T.StructField("score", T.DoubleType()),
                        T.StructField("ok", T.BooleanType()),
                    ]
                ),
            ),
        ]
    )
    mp, cb = MsgpackCodec(), CborCodec()
    tmp, tcb = TypedMsgpackCodec(schema), TypedCborCodec(schema)

    @pandas_udf("boolean")
    def rt(ids: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(ids, texts):
            v = {"id": int(i), "text": t}
            tv = {
                "id": int(i),
                "text": t,
                "tags": [t[:3], str(int(i) % 7)],
                "meta": {"n": len(t), "score": float(int(i)) / 8.0, "ok": int(i) % 2 == 0},
            }
            ok = (
                mp.unmarshal(mp.marshal(v)) == v
                and cb.unmarshal(cb.marshal(v)) == v
                and tmp.unmarshal(tmp.marshal(tv)) == tv
                and tcb.unmarshal(tcb.marshal(tv)) == tv
                # struct-to-array really is positional: the CBOR wire
                # value must be a 4-element array, not a map
                and isinstance(cb.unmarshal(tcb.marshal(tv)), list)
            )
            out.append(ok)
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rt(F.col("doc_id"), F.col("text")).alias("ok"))


def q_embedding_label_stats(spark, sf_dir):
    """Per-class embedding QA (degenerate-class detection): count and
    norm statistics per label. Per-row norms are the same sequential
    fold as the oracle's list_reduce (order-deterministic), rounded,
    then aggregated with exact decimal sums — so even the mean is
    bit-reproducible. One narrow shuffle on label."""
    from margaret_spark.functions.vectors import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    nr = pround(l2_norm(F.col("embedding")), 6)
    return (
        emb.select("label", nr.alias("nr"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.min("nr").alias("min_norm"),
            F.max("nr").alias("max_norm"),
            pround(dsum("nr", scale=6) / F.count("*"), 6).alias("avg_norm"),
        )
    )


def q_sample_docs(spark, sf_dir):
    """Deterministic hash sample (operators.sampling.hash_sample):
    membership is a pure function of md5(doc_id), so the oracle
    reproduces the exact row set. Narrow filter — no shuffle."""
    from margaret_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2).select("doc_id", "lang", "source", "n_chars")


def q_sample_split(spark, sf_dir):
    """Three-way train/val/test split by hashed id ranges
    (operators.sampling.hash_split) — aggregated per (source, split)
    so the oracle checks every assignment without hauling text."""
    from margaret_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"), F.sum("doc_id").alias("id_sum"))
    )


def q_sample_stratified(spark, sf_dir):
    """Per-source quota (operators.sampling.stratified_sample), run in
    the salted two-phase mode: phase 1 keeps each (source, salt)
    subgroup's top 10 by (md5(doc_id), doc_id) — a hot source spreads
    across 8 reducers and leaks at most 8·10 candidates — phase 2
    ranks the candidates. Salt-stable: the rank key is a total order,
    so results are identical to the unsalted window (the oracle IS the
    unsalted form)."""
    from margaret_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", "doc_id", 10, salt=8).select(
        "doc_id", "source", "n_chars"
    )


def q_stream_decontaminate(spark, sf_dir):
    """Streaming at-ingest decontamination (streaming/contamination.py):
    the 95% corpus remainder streams out of a real log and is scored
    against the 5% hash-sample eval set's trigram universe as it
    arrives — same split, same shingling expressions, and the same
    pround arithmetic as the batch `decontaminate` query, so the
    keeper sink is hash-exact against the SAME SQL oracle. Since r11
    each micro-batch runs the batch operator's whole-stage-codegen
    chain (broadcast-hash probe of the checkpointed eval universe)
    through foreachBatch — zero Python-interpreter scoring
    (stateless — no state store, no watermark)."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.sampling import hash_sample, hex_threshold
    from margaret_spark.streaming import stream_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_df = hash_sample(docs, "doc_id", 0.05)
    thr = hex_threshold(0.05)
    rest = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) >= thr
    ).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_decon_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        # seq != doc_id here (the 5% sample is removed), so the true
        # id is recovered by rank: seqs follow doc_id order densely
        log.append_df(rest, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_decontaminate(
            log,
            F.col("value"),
            eval_df,
            "text",
            sink,
            os.path.join(base, "ckpt"),
            mode="word",
            n=3,
            available_now=True,
        )
        # seq recovery via the SAME distributed prefix-sum append_df
        # uses (range partition on doc_id + partition offsets) — no
        # single-partition global window anywhere on this surface
        from margaret_spark.functions.seqassign import with_dense_seq

        n_par = spark.sparkContext.defaultParallelism
        ids = with_dense_seq(
            rest.select("doc_id")
            .repartitionByRange(n_par, F.col("doc_id"))
            .sortWithinPartitions("doc_id"),
            seq_col="seq",
        )
        from margaret_spark.streaming import read_keeper_sink

        out = (
            read_keeper_sink(
                spark,
                sink,
                "seq long, n_shingles int, n_matched long, "
                "contamination double",
            )
            .join(ids, "seq")
            .select("doc_id", "n_shingles", "n_matched", "contamination")
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_decontaminate_spans(spark, sf_dir):
    """Streaming span-level decontamination
    (streaming/contamination.stream_decontaminate_spans): the 95%
    corpus remainder streams out of a real log and every eval-set
    trigram run is CUT as it arrives — same split, same JVM-side
    tokenization, same islands merge as the batch
    `decontaminate_spans`, so the keeper sink is hash-exact against
    the SAME SQL oracle. Since r11 each micro-batch runs the batch
    operator itself (dedup.cut_contaminated_spans) through
    foreachBatch — identical codegen expressions, zero
    Python-interpreter scoring. Stateless."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.sampling import hash_sample, hex_threshold
    from margaret_spark.streaming import stream_decontaminate_spans

    docs = _t(spark, sf_dir, "documents")
    eval_df = hash_sample(docs, "doc_id", 0.05)
    thr = hex_threshold(0.05)
    rest = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) >= thr
    ).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_decon_spans_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(rest, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_decontaminate_spans(
            log,
            F.col("value"),
            eval_df,
            "text",
            sink,
            os.path.join(base, "ckpt"),
            n=3,
            available_now=True,
        )
        from margaret_spark.functions.seqassign import with_dense_seq

        n_par = spark.sparkContext.defaultParallelism
        ids = with_dense_seq(
            rest.select("doc_id")
            .repartitionByRange(n_par, F.col("doc_id"))
            .sortWithinPartitions("doc_id"),
            seq_col="seq",
        )
        from margaret_spark.streaming import read_keeper_sink

        out = (
            read_keeper_sink(
                spark,
                sink,
                "seq long, clean_text string, n_tokens long, "
                "removed_tokens long",
            )
            .join(ids, "seq")
            .select("doc_id", "clean_text", "n_tokens", "removed_tokens")
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_semantic_decontaminate(spark, sf_dir):
    """At-ingest SEMANTIC decontamination (streaming/contamination
    .stream_semantic_decontaminate — VERDICT r9 ask #4, completing the
    at-ingest gate matrix exact / n-gram / bloom / semantic): the 90%
    train split streams out of a real log as TEXT; each arrival is
    hashing-trick embedded, assigned to its nearest cell under a model
    fitted once on the 10% test split and FROZEN, and flagged
    contaminated by the cell-scoped threshold-cosine check — the same
    split, embedding, frozen fit, and pround arithmetic as the batch
    `decontaminate_semantic` query, so the keeper sink is hash-exact
    against the SAME generated oracle."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.hashembed import hash_doc_embeddings
    from margaret_spark.operators.semdedup import scaled_k
    from margaret_spark.streaming import (
        read_keeper_sink,
        stream_semantic_decontaminate,
    )

    docs = _t(spark, sf_dir, "documents")
    test = hash_doc_embeddings(
        docs.where(F.col("doc_id") % 10 == 0), "doc_id", "text", dim=64
    ).localCheckpoint(eager=False)
    train = docs.where(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_semdecon_")
    try:
        log = OffsetLog(
            spark, os.path.join(base, "log"), value_type=T.StringType()
        )
        log.append_df(train, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_semantic_decontaminate(
            log,
            F.col("value"),
            test,
            sink,
            os.path.join(base, "ckpt"),
            dim=64,
            k=scaled_k(test.count(), 8),
            iters=1,
            threshold=0.88,
            id_col="doc_id",
        )
        from margaret_spark.functions.seqassign import with_dense_seq

        n_par = spark.sparkContext.defaultParallelism
        ids = with_dense_seq(
            train.select("doc_id")
            .repartitionByRange(n_par, F.col("doc_id"))
            .sortWithinPartitions("doc_id"),
            seq_col="seq",
        )
        out = (
            read_keeper_sink(
                spark, sink, "seq long, cell long, contaminated boolean"
            )
            .join(ids, "seq")
            .select(
                "doc_id",
                F.col("cell").alias("cent_id"),
                "contaminated",
            )
        )
        return out
    finally:
        _defer_cleanup(base)


def q_sample_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (operators.sampling.
    deterministic_shuffle): every document's position in the seed-7
    pseudo-random permutation — reproducible training order on any
    engine or cluster size. The position is assigned WITHOUT a
    single-partition window: range-partition on the shuffle key,
    narrow in-partition sort, then the partition-offset prefix sum
    (counts to the driver, never rows). The oracle is the naive
    global row_number, so the distributed assignment must reproduce
    it exactly."""
    from margaret_spark.operators.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed=7)


# --- web curation (operators.web) ------------------------------------------
# The documents table has no URL column, so each doc gets a synthetic
# messy URL that is a closed-form function of (doc_id, source) — mixed
# case, default and non-default ports, tracking params, fragments —
# and the oracle re-derives both the raw URL and the whole RFC 3986
# canonicalization + registered-domain pipeline in SQL, so every
# string branch of the operator is hash-checked.

_WEB_HOSTS = [
    "Example.COM",
    "news.example.com",
    "Blog.example.co.uk",
    "tracker.ads.net",
    "WWW.Wiki.org",
    "cdn.media.io",
    "shop.example.com",
    "docs.python.org",
]

_WEB_BLOCKLIST = ["ads.net", "media.io"]

#: embedded public-suffix fixture (a faithful subset of the
#: publicsuffix.org format: plain rules, one wildcard, one exception)
_PSL_FIXTURE = [
    "com", "net", "org", "io", "uk", "co.uk", "org.uk", "ac.uk",
    "jp", "co.jp", "br", "com.br", "nom.br", "us", "k12.ca.us",
    "*.ck", "!www.ck", "blogspot.com",
]

#: hosts exercising every PSL branch: plain TLD, multi-label suffix,
#: suffix-is-the-host (NULL), wildcard, wildcard-exception, private
#: suffix (blogspot), unknown TLD (implicit '*'), single label
_PSL_HOSTS = [
    "example.com",
    "www.example.com",
    "blog.example.co.uk",
    "example.co.uk",
    "co.uk",
    "foo.nom.br",
    "a.b.k12.ca.us",
    "www.town.ck",
    "town.ck",
    "www.ck",
    "myblog.blogspot.com",
    "internal",
    "server.internal",
]


def _synth_url() -> "F.Column":
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
    host = F.element_at(F.array(*[F.lit(h) for h in _WEB_HOSTS]), (did % 8).cast("int") + 1)
    port = (
        F.when(did % 3 == 0, F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .when(did % 5 == 0, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/"), F.col("source"), F.lit("/item-"), did.cast("string"))
    query = (
        F.when(did % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), (did % 100).cast("string")))
        .when(did % 4 == 1, F.lit("?b=2&a=1&utm_campaign=x"))
        .when(did % 4 == 2, F.lit("?gclid=abc"))
        .otherwise(F.lit(""))
    )
    frag = F.when(did % 2 == 1, F.lit("#section-2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


def q_web_canonical_urls(spark, sf_dir):
    """URL canonicalization (operators.web.canonicalize_url +
    registered_domain): per document, the raw synthetic URL and its
    canonical form / host / registered domain. Pure codegen string
    work — zero shuffles; the oracle recomputes every component."""
    from margaret_spark.operators.web import with_url_columns

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url")
    )
    return with_url_columns(docs, "url").select(
        "doc_id", "url", "url_canonical", "url_host_name", "url_domain"
    )


def q_web_domain_stats(spark, sf_dir):
    """Per registered domain: docs, chars, distinct hosts, distinct
    langs (operators.web.domain_stats) — the quota table of a
    domain-level curation pass. One algebraic aggregation."""
    from margaret_spark.operators.web import domain_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", _synth_url().alias("url")
    )
    return domain_stats(docs, "url", "n_chars", group_col="lang")


def q_web_blocklist(spark, sf_dir):
    """Blocklist filtering (operators.web.filter_blocked_domains):
    drop documents whose registered domain is blocklisted, then
    per-source survivor counts. The domain predicate is a scan-level
    filter (broadcast literal isin)."""
    from margaret_spark.operators.web import filter_blocked_domains

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", _synth_url().alias("url")
    )
    kept = filter_blocked_domains(docs, "url", _WEB_BLOCKLIST)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_chars").alias("kept_chars"),
    )


def _synth_dup_url() -> "F.Column":
    """Collision-prone variant: the path keys on doc_id % 50, so
    distinct raw URLs (differing in case, default port, and a
    per-doc tracking param) canonicalize onto shared targets —
    the URL-dedup fixture."""
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    host = F.element_at(
        F.array(*[F.lit(h) for h in _WEB_HOSTS]), (did % 8).cast("int") + 1
    )
    port = F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        port,
        F.lit("/item-"),
        (did % 50).cast("string"),
        F.lit("?utm_ref="),
        did.cast("string"),
    )


def q_web_domain_psl(spark, sf_dir):
    """Registered domains resolved against a REAL public-suffix list
    (operators.web.with_registered_domain_psl): the rule set collapses
    to one row per match key, splits by key depth, and each depth is a
    broadcast LEFT join on the host's last-d-labels string — zero
    shuffles, no explode; exceptions beat wildcards beat plain rules
    beat the implicit '*'. The oracle re-derives the per-depth joins
    and the greatest/coalesce resolution in SQL over the same embedded
    fixture — every branch (wildcard *.ck, exception !www.ck,
    private-suffix blogspot.com, unknown TLD) is hash-checked."""
    from margaret_spark.operators.web import with_registered_domain_psl

    hosts = F.array(*[F.lit(h) for h in _PSL_HOSTS])
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(
            hosts, (F.col("doc_id") % len(_PSL_HOSTS)).cast("int") + 1
        ).alias("host"),
    )
    return with_registered_domain_psl(
        docs, "host", _PSL_FIXTURE, out_col="domain_psl", ps_len_col="psl_len"
    )


def q_web_url_dedup(spark, sf_dir):
    """URL-level dedup keyed on the CANONICAL form
    (operators.web.canonicalize_url): raw URLs differing only in
    scheme/host case, the default :443 port, and tracking params
    collapse to one target; keep the minimum doc_id per canonical
    URL. The oracle states the canonical key as a CLOSED FORM of
    doc_id (not a SQL re-derivation), so any canonicalization branch
    that misfires splits or merges a group and hash-mismatches."""
    from margaret_spark.operators.web import canonicalize_url

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_dup_url().alias("url")
    )
    return (
        docs.select(
            "doc_id", canonicalize_url(F.col("url")).alias("url_canonical")
        )
        .groupBy("url_canonical")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def q_corpus_mixture(spark, sf_dir):
    """Temperature-scaled corpus mixing weights
    (operators.sampling.mixture_weights, T=2): per-source sampling
    weight ∝ sqrt(total tokens) — the standard multi-source recipe
    that up-samples small sources. sqrt and the pround/DECIMAL-sum
    tree are IEEE-portable, so the whole table is hash-exact."""
    from margaret_spark.operators.sampling import mixture_weights
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    base = docs.select("doc_id", "source").join(toks, "doc_id")
    return mixture_weights(base, "source", "n_tokens", temperature=2.0)


def q_corpus_mixture_materialize(spark, sf_dir):
    """The training mix MATERIALIZED (operators.sampling.
    materialize_mixture): temperature-2 weights turn into per-source
    token budgets (floor(weight · 20000)) and each source admits its
    deterministic (md5(id), id) prefix until the budget fills — the
    end-to-end corpus-assembly step. sqrt weights + one IEEE multiply
    + integer floor/cumsums: hash-exact, including every cumulative
    sum and budget. Budget table broadcast; one shuffle on source."""
    from margaret_spark.operators.sampling import materialize_mixture
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    base = docs.select("doc_id", "source").join(toks, "doc_id")
    return materialize_mixture(
        base, "source", "doc_id", "n_tokens", total_tokens=20_000
    )


def q_corpus_unimax(spark, sf_dir):
    """UniMax corpus mixing (operators.sampling.unimax_allocation;
    Chung et al. 2023, public algorithm): distribute a 26,000-token
    budget as uniformly as possible across sources with a 1-epoch cap
    per source — the published fairness alternative to temperature
    scaling. At sf0.01 the budget sits between L·min(cap) and Σcap, so
    the waterfill transition BINDS mid-list (small sources capped at
    their epoch limit, the rest sharing θ equally — both branches
    graded). Exactness: pround'd caps/shares, DECIMAL prefix sums, one
    IEEE division per rank — the oracle replays the identical window
    program. Scale shape: one aggregation; windows run over ≤|sources|
    rows."""
    from margaret_spark.operators.sampling import unimax_allocation
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    base = docs.select("doc_id", "source").join(toks, "doc_id")
    return unimax_allocation(base, "source", "n_tokens", budget=26_000)


def q_corpus_unimax_materialize(spark, sf_dir):
    """The UniMax mix MATERIALIZED (operators.sampling.
    materialize_unimax): floor(alloc) per-source budgets feed the
    same deterministic (md5(id), id) admission cumsum as the
    temperature mix — end-to-end "build a fair N-token corpus".
    Hash-exact: integer floors and cumsums over the unimax_allocation
    tree. Budget table broadcast; one shuffle on source."""
    from margaret_spark.operators.sampling import materialize_unimax
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    base = docs.select("doc_id", "source").join(toks, "doc_id")
    return materialize_unimax(
        base, "source", "doc_id", "n_tokens", budget=26_000
    )


def q_pack_length_batches(spark, sf_dir):
    """Length-bucketed batch assembly (operators.packing.
    length_bucketed_batches): the padding-aware SFT/inference batching
    — global (n_tokens, md5(id), id) order, fixed-rows batches, so
    similar lengths share a batch. The global position uses the
    two-pass partition-offset assignment (NO corpus-wide
    single-partition window); the oracle replays the order with
    row_number. Hash-exact integer arithmetic."""
    from margaret_spark.operators.packing import length_bucketed_batches
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return length_bucketed_batches(toks, "doc_id", "n_tokens", batch_rows=16)


def q_pack_padding_report(spark, sf_dir):
    """The per-batch padding audit (operators.packing.padding_report)
    over the length-bucketed batches: padded_tokens = n_docs·max,
    padding_waste = pround(1 − sum/padded) — what fraction of the
    accelerator tensor the bucketing saves vs wastes. One keyed
    aggregation; hash-exact."""
    from margaret_spark.operators.packing import (
        length_bucketed_batches,
        padding_report,
    )
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return padding_report(
        length_bucketed_batches(toks, "doc_id", "n_tokens", batch_rows=16)
    )


def q_pack_bfd(spark, sf_dir):
    """Whole-document best-fit-decreasing packing
    (operators.packing.pack_best_fit): the published SFT-efficiency
    recipe (Ding et al. 2024 — pack whole docs into fixed seq_len bins
    instead of splitting at boundaries). Chunk-local BFD over the
    global (n_tokens DESC, md5, id) order; the oracle replays the
    identical deterministic algorithm with a recursive CTE carrying
    the open-bin state as an encoded rem·1e5+idx list. Oversize docs
    get dedicated negative pack ids. Hash-exact integers."""
    from margaret_spark.operators.packing import pack_best_fit
    from margaret_spark.operators.text import token_stats

    docs = _t(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return pack_best_fit(toks, "doc_id", "n_tokens", seq_len=2048, chunk_docs=256)


def q_pack_bfd_report(spark, sf_dir):
    """The per-pack capacity audit (operators.packing.capacity_report)
    over the best-fit packing: every pack is one fixed seq_len
    training sequence, padding_waste = pround(1 − least(sum, cap)/cap)
    (oversize single-doc packs clamp to 0 — the consumer truncates).
    One keyed aggregation; hash-exact."""
    from margaret_spark.operators.packing import capacity_report

    return capacity_report(q_pack_bfd(spark, sf_dir), seq_len=2048)


def q_stream_pack_bfd(spark, sf_dir):
    """At-ingest sequence packing (streaming/packing.stream_pack_bfd):
    documents stream out of the log in two chunk-aligned micro-batches
    and land in fixed-2048-token training packs ON ARRIVAL — online
    best-fit (Johnson 1974), open bins reset every 125-doc chunk
    (chunk = seq div 125, a pure seq function, so chunk-aligned
    per-batch packing ≡ whole-log packing). Oversize docs take the
    window-free pack_id = −(seq+1). The oracle replays the identical
    arrival-order best-fit with the recursive open-bin CTE, reset on
    chunk change. doc_id is dense from 0 in the testdata, so the log
    seq IS doc_id. Hash-exact."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_pack_bfd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_pack_")
    try:
        n = docs.count()
        split = max(125, (n // 2) // 125 * 125)
        log = OffsetLog(
            spark, os.path.join(base, "log"), value_type=T.StringType()
        )
        # ONE data file per append: append_df(order_by=...) would
        # re-repartition to defaultParallelism (a file per partition),
        # and maxFilesPerTrigger counts FILES — batches would be
        # partition-sized, not chunk-aligned. Pre-sorting into a
        # single partition keeps seq = doc_id order AND one file, so
        # each append IS one chunk-aligned micro-batch.
        for half in (
            docs.where(F.col("doc_id") < split),
            docs.where(F.col("doc_id") >= split),
        ):
            log.append_df(
                half.repartition(1).sortWithinPartitions("doc_id"),
                value_col="text",
            )
        stream_pack_bfd(
            log,
            F.col("value"),
            os.path.join(base, "sink"),
            os.path.join(base, "ckpt"),
            seq_len=2048,
            chunk_docs=125,
            max_files_per_trigger=1,
        )
        return read_keeper_sink(
            spark,
            os.path.join(base, "sink"),
            "seq long, n_tokens long, pack_id long, pack_pos long",
        )
    finally:
        _defer_cleanup(base)


def q_stream_web_filter(spark, sf_dir):
    """Streaming at-ingest web curation (streaming/webfilter.py): the
    synthetic messy URLs are appended to a real OffsetLog, the filter
    drains the append stream, drops blocklisted registered domains and
    writes (seq, url_canonical, url_domain) to an append-mode parquet
    sink — the expressions are SHARED with operators.web, so ingest
    and batch canonicalization cannot drift. Stateless map+filter:
    no state store, no shuffle. The graded result is the sink read
    back; the oracle is the batch canonicalization SQL."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import stream_web_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url")
    )
    base = tempfile.mkdtemp(prefix="stream_web_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="url", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_web_filter(
            log,
            F.col("value"),
            _WEB_BLOCKLIST,
            sink,
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        out = spark.read.parquet(sink).select(
            F.col("seq").alias("doc_id"), "url_canonical", "url_domain"
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_cms(spark, sf_dir):
    """Streaming Count-Min sketch (streaming/cms.py): sketch the log's
    append stream of document sources — each micro-batch writes its
    own bounded partial sketch (overwrite per batch=<id> partition, so
    a crash-replayed batch lands identically instead of double
    counting), the global sketch is the re-sum. Counters are additive,
    so the merged result equals the batch sketch of the whole corpus —
    which is exactly what the oracle states."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_cms, stream_cms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    base = tempfile.mkdtemp(prefix="stream_cms_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="source", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_cms(
            log,
            F.col("value"),
            sink,
            os.path.join(base, "ckpt"),
            depth=4,
            width=16,
            available_now=True,
        )
        out = read_cms(spark, sink).select(
            F.col("row").cast("long").alias("row"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        return out
    finally:
        _defer_cleanup(base)


def q_export_shards(spark, sf_dir):
    """Deterministic hash-sharded export manifest
    (operators.sharding.shard_manifest): md5-mod-64 shard per doc,
    per-shard row and byte totals — the balance table of the final
    training-data write. Assignment is a narrow projection; the
    aggregation carries 64 rows."""
    from margaret_spark.operators.sharding import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(docs, "doc_id", 64, size_col="n_chars")


def q_stream_gopher_filter(spark, sf_dir):
    """At-ingest Gopher repetition gating (streaming/quality
    .stream_gopher_filter): every document streaming out of the log is
    scored by the repetition battery inside foreachBatch (a stateless
    per-document codegen projection — no model, no cross-batch state)
    and kept iff top-bigram char coverage <= 0.09 AND duplicated-
    trigram char mass <= 0.02 (both cuts bind at every graded SF:
    378/500 kept at sf0.01). Keepers land executor-side under
    batch=<id> partitions. The oracle restates the battery + cut over
    the batch table — per-batch gating of disjoint seqs equals batch
    gating of the whole log. Hash-exact including the fractions."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_gopher_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_gopherf_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="text", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_gopher_filter(
            log,
            F.col("value"),
            sink,
            os.path.join(base, "ckpt"),
            max_top2=0.09,
            max_dup3=0.02,
        )
        out = read_keeper_sink(
            spark, sink, "seq long, top_2gram_frac double, dup_3gram_frac double"
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_hier_assign(spark, sf_dir):
    """Streaming hierarchical ANN intake (streaming/annintake
    .stream_hier_assign): every embedding streaming out of the log is
    routed to its final (coarse, sub) pair-stage cell under a FROZEN
    two-level quantizer (semdedup.hier_centroids, icbrt branching,
    iters=2 — the N^(4/3) SemDeDup family's arrival-side feed) inside
    foreachBatch. Stateless two-stage ranking; per-batch assignment of
    disjoint seqs equals batch assignment of the whole log. The oracle
    replays the full two-level Lloyd fit + assignment chain —
    hash-exact including the sub-centroid cosines."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.operators.semdedup import hier_centroids, icbrt_ceil
    from margaret_spark.streaming import read_keeper_sink, stream_hier_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b = icbrt_ceil(emb.count(), 4)
    cents, subc = hier_centroids(emb, k1=b, k2=b, iters=2)
    base = tempfile.mkdtemp(prefix="stream_hier_")
    try:
        log = OffsetLog(
            spark,
            os.path.join(base, "log"),
            value_type=T.ArrayType(T.FloatType()),
        )
        log.append_df(emb, value_col="embedding", order_by="vec_id")
        sink = os.path.join(base, "sink")
        stream_hier_assign(
            log,
            F.col("value").cast("array<double>"),
            cents,
            subc,
            sink,
            os.path.join(base, "ckpt"),
        )
        out = read_keeper_sink(
            spark, sink, "seq long, cell long, sub int, cos double"
        )
        return out
    finally:
        _defer_cleanup(base)
