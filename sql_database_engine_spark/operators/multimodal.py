"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats images/audio/video as ``binary`` columns with a
metadata struct, processed by Arrow-batched pandas functions via
``mapInPandas``. The container has no image/audio codecs, so the
decode kernel is a clearly-marked STUB (deterministic fake features);
everything Spark-side — schema, batch iteration, partitioning, UDF
signatures — is real and tested (tests/test_multimodal.py).

The testdata ships no binary table, so ``multimodal_features``
manufactures blobs from ``documents.text`` (utf-8 bytes) — which also
makes the *plumbing* oracle-checkable: byte length and sha256 of the
blob are string-derivable in DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Catalog
from . import query

#: Output schema of the feature-extraction stage.
FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "content_hash string, feat_mean double, feat_dim int"
)


def decode_and_featurize(blob: bytes, media_type: str) -> dict:
    """STUB decode kernel.

    A real deployment plugs Pillow/torchaudio/pyav in here; this
    container has none of them, so we compute a deterministic fake
    feature (mean byte value) and keep the exact I/O contract a real
    decoder would have. Raises on unknown media types like a real
    decoder would.
    """
    if media_type not in {"image", "audio", "video", "text"}:
        raise NotImplementedError(f"no decoder for media_type={media_type!r}")
    if not blob:
        return {"feat_mean": 0.0, "feat_dim": 0}
    # Deterministic fake "embedding" statistic over raw bytes.
    return {"feat_mean": float(sum(blob)) / len(blob), "feat_dim": 8}


def featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch in → feature rows out.

    Batch-at-a-time (never row-at-a-time serde); each batch stays
    executor-local, so the stage scales with partition count and the
    decode library's throughput, not with driver anything.
    """
    import hashlib

    for pdf in batches:
        # Assets with no payload (null binary — a failed fetch) have
        # nothing to featurize; skip them rather than crash len(None)
        # (null_sweep audit).
        pdf = pdf[pdf["payload"].notna()]
        feats = [decode_and_featurize(b, m)
                 for b, m in zip(pdf["payload"], pdf["media_type"])]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].values,
            "media_type": pdf["media_type"].values,
            "n_bytes": [len(b) for b in pdf["payload"]],
            "content_hash": [hashlib.sha256(b).hexdigest() for b in pdf["payload"]],
            "feat_mean": [f["feat_mean"] for f in feats],
            "feat_dim": [f["feat_dim"] for f in feats],
        })


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-materialized as an opaque binary column with
    typed metadata — the canonical multimodal table shape."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text").alias("media_type"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").alias("declared_size"),
        ).alias("meta"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_hash,
           'text' AS media_type
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction (length + content hash) —
    pure JVM expressions over the blob, no decode needed. This is the
    oracle-checkable half of the multimodal path."""
    b = binary_table(spark, sf_dir)
    return b.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("content_hash"),
        F.col("media_type"),
    )


@query(
    "multimodal_byte_features",
    # Full replay oracle (round 7, ending this query's rows-only
    # tier): the stub feature is the mean BYTE value of the utf-8
    # payload, and DuckDB can recover the exact byte stream from
    # hex(encode(text)) — each hex pair parsed back to its byte via
    # strpos arithmetic (this DuckDB build has no blob subscript /
    # blob sha256, so hex is the byte-level lens). sha256(VARCHAR)
    # hashes the string's utf-8 bytes, which IS the payload.
    oracle="""
    WITH h AS (
        SELECT doc_id, text, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT h.doc_id,
               CAST(SUM((strpos('0123456789ABCDEF',
                                substr(h.hx, 2 * t.i - 1, 1)) - 1) * 16
                        + strpos('0123456789ABCDEF',
                                 substr(h.hx, 2 * t.i, 1)) - 1)
                    AS BIGINT) AS byte_sum
        FROM h, LATERAL unnest(generate_series(1, h.n)) AS t(i)
        GROUP BY h.doc_id
    )
    SELECT h.doc_id, 'text' AS media_type,
           CAST(h.n AS BIGINT) AS n_bytes,
           sha256(h.text) AS content_hash,
           CASE WHEN h.n = 0 THEN 0.0e0
                ELSE CAST(s.byte_sum AS DOUBLE) / CAST(h.n AS DOUBLE)
           END AS feat_mean,
           CAST(CASE WHEN h.n = 0 THEN 0 ELSE 8 END AS INT) AS feat_dim
    FROM h LEFT JOIN s USING (doc_id)
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic multimodal pipeline shape: binary table → mapInPandas
    decode/featurize (Arrow batches) → typed feature rows. The decode
    here is the byte-stat stub (module docstring) standing in for
    codec-bound media types; ``multimodal_features`` below is the REAL
    decode over a codec-free format. The stub's arithmetic is still a
    deterministic function of the payload bytes, so since round 7 the
    oracle replays it exactly (hex-pair byte parse + IEEE division) —
    the mapInPandas plumbing this query exists to exercise is now
    hash-verified end to end instead of rows-only.
    """
    b = binary_table(spark, sf_dir).select("doc_id", "payload", "media_type")
    return b.mapInPandas(featurize_batches, schema=FEATURE_SCHEMA)


def wav_pcm_bytes(doc_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV blob for a doc id — a REAL,
    spec-complete RIFF/WAVE file (44-byte canonical header + LE int16
    frames), built from pure byte math so no codec library is needed.
    Sample i of doc d is ``(d*31 + i*17) % 4096 - 2048``."""
    import struct

    n = 100 + doc_id % 50
    rate = 8000 + (doc_id % 3) * 4000
    samples = [(doc_id * 31 + i * 17) % 4096 - 2048 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data))
    return hdr + data


def _parse_wav16(doc_id, blob: bytes):
    """Parse a canonical 16-bit mono PCM WAV blob -> (rate, frames).

    The single container contract both WAV kernels share — magic,
    fmt-chunk, PCM tag, channel/bit-depth gates, data chunk — so a
    future format change (stereo, other fmt_len) lands in one place.
    """
    import struct

    import numpy as np

    riff, _size, wave = struct.unpack("<4sI4s", blob[:12])
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a RIFF/WAVE blob")
    (fmt_tag, fmt_len, audio_fmt, n_ch, rate, _br, _ba,
     bits) = struct.unpack("<4sIHHIIHH", blob[12:36])
    if fmt_tag != b"fmt " or fmt_len != 16 or audio_fmt != 1:
        raise ValueError(f"doc {doc_id}: not canonical PCM")
    if n_ch != 1 or bits != 16:
        raise NotImplementedError("kernel handles 16-bit mono")
    data_tag, data_len = struct.unpack("<4sI", blob[36:44])
    if data_tag != b"data":
        raise ValueError(f"doc {doc_id}: missing data chunk")
    frames = np.frombuffer(blob, dtype="<i2", count=data_len // 2,
                           offset=44).astype(np.int64)
    return rate, frames


def decode_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL WAV-PCM decode, Arrow batch at a time.

    Parses the RIFF container (magic, fmt chunk, PCM format tag,
    channel count, sample rate, bit depth, data chunk length) and
    decodes the int16 frames with numpy — the same shape a
    torchaudio-backed kernel has, with the codec replaced by the one
    format raw bytes can carry. Emits pure-integer statistics so the
    DuckDB oracle can predict every value exactly."""
    for pdf in batches:
        out = {"doc_id": [], "n_samples": [], "sample_rate": [],
               "sum_samples": [], "min_sample": [], "max_sample": [],
               "sum_sq": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            rate, frames = _parse_wav16(doc_id, bytes(blob))
            out["doc_id"].append(doc_id)
            out["n_samples"].append(len(frames))
            out["sample_rate"].append(rate)
            out["sum_samples"].append(int(frames.sum()))
            out["min_sample"].append(int(frames.min()))
            out["max_sample"].append(int(frames.max()))
            out["sum_sq"].append(int((frames * frames).sum()))
        yield pd.DataFrame(out)


@query(
    "multimodal_features",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               100 + doc_id % 50 AS n,
               8000 + (doc_id % 3) * 4000 AS rate
        FROM documents WHERE doc_id < 200
    ), vals AS (
        SELECT doc_id, n, rate,
               (doc_id * 31 + i * 17) % 4096 - 2048 AS v
        FROM params, LATERAL unnest(generate_series(0, n - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           CAST(any_value(rate) AS INT) AS sample_rate,
           CAST(SUM(v) AS BIGINT) AS sum_samples,
           CAST(MIN(v) AS BIGINT) AS min_sample,
           CAST(MAX(v) AS BIGINT) AS max_sample,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM vals GROUP BY doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode, end to end and oracle-checked: build
    WAV-PCM audio blobs (one per document id, Arrow-batched pandas
    UDF), ship them through the binary-column contract, and decode
    them in a ``mapInPandas`` kernel that actually parses the RIFF
    header and the int16 frames. The oracle predicts every statistic
    from the generation parameters with integer arithmetic — a header
    mis-parse, endianness slip, or off-by-one in the frame math
    produces a hash mismatch, so the DECODE itself is what the driver
    verifies (codec-bound formats stay stubbed in
    ``multimodal_byte_features``; WAV is the format raw bytes can
    carry honestly).

    Scale shape: generation and decode are both executor-local batch
    kernels over a doc_id-pruned scan — no shuffle at all until the
    (absent) downstream aggregation; at 100 TB payloads stream
    through Arrow batches and nothing driver-side ever sees a blob.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_wav(ids: pd.Series) -> pd.Series:
        return ids.map(wav_pcm_bytes)

    audio = d.select("doc_id", make_wav(F.col("doc_id")).alias("payload"),
                     F.lit("audio").alias("media_type"))
    return (audio.select("doc_id", "payload")
            .mapInPandas(decode_wav_batches,
                         schema=("doc_id bigint, n_samples bigint, "
                                 "sample_rate int, sum_samples bigint, "
                                 "min_sample bigint, max_sample bigint, "
                                 "sum_sq bigint")))


def typed_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A mixed-modality table: documents' bytes re-labeled round-robin
    as image/audio/video/text with per-type metadata, standing in for
    a real multimodal corpus (no codecs ship in this container). The
    schema — binary payload + discriminator + typed meta struct — is
    the real contract a production pipeline would use."""
    d = Catalog(spark, sf_dir).documents
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video"), F.lit("text")),
        (F.col("doc_id") % 4 + 1).cast("int"))
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        mt.alias("media_type"),
        F.struct(
            F.col("n_chars").alias("declared_size"),
            (F.col("doc_id") % 30 + 1).cast("int").alias("duration_s"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )


def sample_frames(batches):
    """mapInPandas kernel: video frame sampling STUB.

    Real implementation would pyav-decode and keep 1 frame/sec; the
    stub slices the payload into `duration_s` pseudo-frames and keeps
    every 5th — the batch shapes, explode-like fan-out, and schema are
    exactly what the real kernel produces.

    The frame fingerprint hashes the chunk's lowercase-HEX form, not
    the raw bytes: byte-identical content, but expressible on the
    oracle side (DuckDB's sha256 takes VARCHAR only, and hex is the
    one byte-exact VARCHAR encoding both engines share) — which is
    what moved this query off the rows-only tier in round 7.
    """
    import hashlib
    for pdf in batches:
        rows = {"doc_id": [], "frame_idx": [], "frame_hash": []}
        for doc_id, payload, duration in zip(
                pdf["doc_id"], pdf["payload"], pdf["duration_s"]):
            if payload is None:  # failed fetch: no frames to sample
                continue
            n_frames = max(int(duration), 1)
            step = max(len(payload) // n_frames, 1)
            for idx in range(0, n_frames, 5):  # sample every 5th frame
                chunk = bytes(payload[idx * step:(idx + 1) * step])
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(idx)
                rows["frame_hash"].append(
                    hashlib.sha256(chunk.hex().encode()).hexdigest()[:16])
        yield pd.DataFrame(rows)


@query(
    "multimodal_frame_stub_sample",
    # Full replay oracle (round 7): the video rows are doc_id%4==2
    # (typed_media_table's 1-based element_at over [image, audio,
    # video, text]), the pseudo-frame step is byte arithmetic over
    # octet_length, and the chunk fingerprint is sha256 of the
    # chunk's lowercase-hex form — all byte-exact through
    # hex(encode(text)) + substr. Out-of-range slices are '' on both
    # engines (python slice past len / substr past length).
    oracle="""
    WITH v AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n,
               doc_id % 30 + 1 AS duration_s
        FROM documents
        WHERE doc_id % 4 = 2 AND text IS NOT NULL
    ), f AS (
        SELECT doc_id, hx,
               greatest(n // duration_s, 1) AS step,
               CAST(t.i AS INT) AS frame_idx
        FROM v, LATERAL unnest(generate_series(0, duration_s - 1, 5))
                    AS t(i)
    )
    SELECT doc_id, frame_idx,
           left(sha256(substr(hx, frame_idx * step * 2 + 1, step * 2)),
                16) AS frame_hash
    FROM f
    """,
)
def multimodal_frame_stub_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline over the codec-bound stub: filter to video rows
    (pushed-down discriminator predicate), repartition by doc_id so
    one worker owns one asset's frames, then Arrow-batched frame
    sampling. The REAL frame decode lives in
    ``multimodal_frame_sample`` below over the raw-frame format; this
    query's distinct value is the MIXED-modality table contract
    (discriminator predicate + typed meta struct) feeding the kernel,
    now hash-verified end to end via the hex-replay oracle."""
    media = typed_media_table(spark, sf_dir)
    videos = (media.filter(F.col("media_type") == "video")
              .select("doc_id", "payload", F.col("meta.duration_s").alias("duration_s")))
    return videos.repartition("doc_id").mapInPandas(
        sample_frames, schema="doc_id bigint, frame_idx int, frame_hash string")


#: Raw-video geometry: fixed tiny frames keep the contract readable;
#: the kernel reads W/H from the header, never from these constants.
_RV_W, _RV_H = 8, 6
_RV_FRAME_BYTES = _RV_W * _RV_H * 3
_RV_SAMPLE_EVERY = 5


def rvid_bytes(doc_id: int) -> bytes:
    """Deterministic raw-video blob: 16-byte header (magic 'RVID',
    frame count, width, height as LE uint32) + n_frames frames of
    W*H*3 RGB24 bytes. Pixel j of frame f in doc d is
    ``(d*7 + f*13 + j*5) % 256`` — pure byte math, no codec, so the
    oracle can predict every decoded statistic exactly."""
    import struct

    n_frames = 10 + doc_id % 20
    hdr = struct.pack("<4sIII", b"RVID", n_frames, _RV_W, _RV_H)
    body = bytes(
        (doc_id * 7 + f * 13 + j * 5) % 256
        for f in range(n_frames) for j in range(_RV_FRAME_BYTES))
    return hdr + body


def decode_rvid_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL raw-video decode. Parses the RVID
    header, strides the frame array, keeps every
    ``_RV_SAMPLE_EVERY``-th frame (the 1-frame-per-interval sampling a
    pyav kernel would do), and emits per-frame integer pixel stats."""
    import struct

    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "px_sum": [],
               "px_min": [], "px_max": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            blob = bytes(blob)
            magic, n_frames, w, h = struct.unpack("<4sIII", blob[:16])
            if magic != b"RVID":
                raise ValueError(f"doc {doc_id}: not an RVID blob")
            fb = w * h * 3
            if len(blob) != 16 + n_frames * fb:
                raise ValueError(f"doc {doc_id}: truncated frame data")
            frames = np.frombuffer(blob, dtype=np.uint8, offset=16)
            frames = frames.reshape(n_frames, fb).astype(np.int64)
            for idx in range(0, n_frames, _RV_SAMPLE_EVERY):
                fr = frames[idx]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["px_sum"].append(int(fr.sum()))
                out["px_min"].append(int(fr.min()))
                out["px_max"].append(int(fr.max()))
        yield pd.DataFrame(out)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH params AS (
        SELECT doc_id, 10 + doc_id % 20 AS n_frames
        FROM documents WHERE doc_id < 200
    ), sampled AS (
        SELECT doc_id, n_frames, unnest(generate_series(0, n_frames - 1,
                                                        {_RV_SAMPLE_EVERY}))
                   AS frame_idx
        FROM params
    ), px AS (
        SELECT doc_id, frame_idx,
               (doc_id * 7 + frame_idx * 13 + j * 5) % 256 AS v
        FROM sampled,
             LATERAL unnest(generate_series(0, {_RV_FRAME_BYTES} - 1))
                 AS t(j)
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame-sampling decode, oracle-checked end to end: build
    raw-video blobs (RVID: counted header + RGB24 frame array — the
    one video format raw bytes can carry without a codec), ship them
    through the binary-column contract, repartition by doc_id so one
    worker owns one asset, and decode in a ``mapInPandas`` kernel that
    parses the header, strides the frame array, samples every 5th
    frame, and emits integer pixel statistics. The DuckDB oracle
    predicts every value from the generation parameters — a header
    mis-parse, stride error, or wrong sampling phase is a hash
    mismatch (same predicted-decode pattern as the WAV path in
    ``multimodal_features``).

    Scale shape: one row per kept frame — the fan-out that feeds
    frame-level dedup/embedding; payloads stay in executor-local Arrow
    batches, the only shuffle is the doc_id repartition that pins
    asset locality.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_rvid(ids: pd.Series) -> pd.Series:
        return ids.map(rvid_bytes)

    videos = d.select("doc_id", make_rvid(F.col("doc_id")).alias("payload"))
    return videos.repartition("doc_id").mapInPandas(
        decode_rvid_batches,
        schema=("doc_id bigint, frame_idx int, px_sum bigint, "
                "px_min bigint, px_max bigint"))


@query(
    "multimodal_asset_dedup",
    oracle="""
    WITH h AS (
        SELECT 'text' AS media_type, sha256(text) AS hash,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), per AS (
        SELECT media_type, hash, COUNT(*) AS n, any_value(n_bytes) AS nb
        FROM h GROUP BY media_type, hash
    )
    SELECT media_type,
           CAST(SUM(n) AS BIGINT) AS n_assets,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(n - 1) AS BIGINT) AS n_dup_losers,
           CAST(SUM(n * nb) AS BIGINT) AS bytes_total,
           CAST(SUM((n - 1) * nb) AS BIGINT) AS bytes_dedupable
    FROM per
    GROUP BY media_type
    """,
)
def multimodal_asset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset dedup census: per media type, how many payloads
    are byte-identical (sha256 over the raw blob) and how many bytes
    content-addressed storage would reclaim. THE first pass over any
    crawled image/video corpus — duplicate assets dominate crawl
    volume — and the binary twin of text's ``dedup_exact_stats``.

    Everything is JVM-side: sha2 works directly on the binary column
    (no decode, no Python — hashing never needs the codec), and the
    shuffle carries 32-byte digests + a length, never payloads. Two
    partial-aggregated exchanges: (media_type, hash) then media_type
    — at 100 TB the first is the only real shuffle and its rows are
    ~50 bytes regardless of asset size. Oracle derives the same
    digest from the text the payload was encoded from.
    """
    b = binary_table(spark, sf_dir)
    h = b.select("media_type",
                 F.sha2(F.col("payload"), 256).alias("hash"),
                 F.length(F.col("payload")).cast("long").alias("n_bytes"))
    per = h.groupBy("media_type", "hash").agg(
        F.count(F.lit(1)).alias("n"), F.first("n_bytes").alias("nb"))
    return per.groupBy("media_type").agg(
        F.sum("n").alias("n_assets"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("n") - 1).alias("n_dup_losers"),
        F.sum(F.col("n") * F.col("nb")).alias("bytes_total"),
        F.sum((F.col("n") - 1) * F.col("nb")).alias("bytes_dedupable"),
    )


def _stage_wav_dir(sf_dir: str, doc_ids: list[int]) -> str:
    """Idempotently stage a directory of standalone .wav files (the
    raw-asset-lake layout: one object per asset) under scratch — the
    read-only testdata must not be touched. Fixture staging, not the
    measured operator; same convention as the bucketed/clustered
    layout builders in sources/.

    The directory name keys on BOTH the source dir and a version hash
    of (asset ids, generator parameters): regenerated testdata or an
    edited ``wav_pcm_bytes`` gets a fresh directory instead of
    silently reusing stale files, and the expected-filename check
    (not just a count) re-stages after partial writes."""
    import hashlib
    import os

    from ..scratch import scratch_dir

    version = hashlib.md5(
        (os.path.abspath(sf_dir) + "|" + ",".join(map(str, doc_ids))
         + "|" + wav_pcm_bytes(max(doc_ids, default=0)).hex())
        .encode()).hexdigest()[:16]
    d = scratch_dir("media", sf_dir, version=version)
    expected = {f"doc_{i:06d}.wav" for i in doc_ids}
    existing = {f for f in os.listdir(d) if f.endswith(".wav")}
    if existing != expected:
        for f in existing:
            os.unlink(os.path.join(d, f))
        for doc_id in doc_ids:
            tmp = os.path.join(d, f".doc_{doc_id:06d}.wav.tmp")
            with open(tmp, "wb") as fh:
                fh.write(wav_pcm_bytes(doc_id))
            os.replace(tmp, os.path.join(d, f"doc_{doc_id:06d}.wav"))
    return d


@query(
    "binaryfile_wav_ingest",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               100 + doc_id % 50 AS n,
               8000 + (doc_id % 3) * 4000 AS rate
        FROM documents WHERE doc_id < 50
    ), vals AS (
        SELECT doc_id, n, rate,
               (doc_id * 31 + i * 17) % 4096 - 2048 AS v
        FROM params, LATERAL unnest(generate_series(0, n - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(44 + 2 * any_value(n) AS BIGINT) AS n_bytes,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           CAST(any_value(rate) AS INT) AS sample_rate,
           CAST(SUM(v) AS BIGINT) AS sum_samples,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq
    FROM vals GROUP BY doc_id
    """,
)
def binaryfile_wav_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset-lake ingest: standalone .wav FILES (one object per
    asset — how crawled media actually lands) read with Spark's
    ``binaryFile`` source, asset id parsed from the file path, payload
    decoded by the same RIFF kernel as ``multimodal_features``. The
    oracle predicts byte length and every decoded statistic from the
    generation parameters, so this checks the whole path: source →
    path parse → header parse → frame decode.

    Scale shape: binaryFile splits by file (one asset per task row,
    content never exceeds one partition), the path regexp and length
    projection are JVM-side, and the decode is executor-local Arrow
    batches. At 100 TB this is THE pattern for the first hop from an
    object store into columnar form; its output (id + stats + digest)
    is what lands in parquet, payloads stay in the lake.
    """
    from ..session import tune
    tune(spark)
    # The staged asset set derives from the documents TABLE (not a
    # bare range) so Spark and oracle describe the same ids even if
    # the driver regenerates testdata with different doc_id domains.
    doc_ids = sorted(
        r.doc_id for r in Catalog(spark, sf_dir).documents
        .filter(F.col("doc_id") < 50).select("doc_id").collect())
    media_dir = _stage_wav_dir(sf_dir, doc_ids)
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.wav").load(media_dir))
    parsed = raw.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.wav$", 1)
        .cast("long").alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").alias("payload"))
    decoded = (parsed.select("doc_id", "payload")
               .mapInPandas(decode_wav_batches,
                            schema=("doc_id bigint, n_samples bigint, "
                                    "sample_rate int, sum_samples bigint, "
                                    "min_sample bigint, max_sample bigint, "
                                    "sum_sq bigint")))
    return (parsed.select("doc_id", "n_bytes")
            .join(decoded, "doc_id")
            .select("doc_id", "n_bytes", "n_samples", "sample_rate",
                    "sum_samples", "sum_sq"))


def decimate_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: WAV decode + decimate-by-2 resample. The
    TRANSFORM tier above ``decode_wav_batches``' parse-and-summarize:
    real audio pipelines decode, then resample/trim/normalize before
    featurizing — this kernel keeps every stage the container can do
    honestly (integer stride resample; a polyphase filter would need
    float DSP the oracle can't replay bit-for-bit)."""
    for pdf in batches:
        out = {"doc_id": [], "n_out": [], "out_rate": [],
               "sum_out": [], "min_out": [], "max_out": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            rate, frames = _parse_wav16(doc_id, bytes(blob))
            deci = frames[::2]
            out["doc_id"].append(doc_id)
            out["n_out"].append(len(deci))
            out["out_rate"].append(rate // 2)
            out["sum_out"].append(int(deci.sum()))
            out["min_out"].append(int(deci.min()))
            out["max_out"].append(int(deci.max()))
        yield pd.DataFrame(out)


@query(
    "multimodal_audio_decimate",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               100 + doc_id % 50 AS n,
               8000 + (doc_id % 3) * 4000 AS rate
        FROM documents WHERE doc_id < 200
    ), vals AS (
        SELECT doc_id, n, rate, i,
               (doc_id * 31 + i * 17) % 4096 - 2048 AS v
        FROM params, LATERAL unnest(generate_series(0, n - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(any_value(rate) // 2 AS INT) AS out_rate,
           CAST(SUM(v) AS BIGINT) AS sum_out,
           CAST(MIN(v) AS BIGINT) AS min_out,
           CAST(MAX(v) AS BIGINT) AS max_out
    FROM vals WHERE i % 2 = 0
    GROUP BY doc_id
    """,
)
def multimodal_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLING in the decode kernel, oracle-checked:
    generate the WAV-PCM blobs, decode the RIFF container, decimate
    to half rate by integer stride, and emit exact statistics of the
    DECIMATED stream — the oracle replays the generator's arithmetic
    through the same stride, so a wrong stride phase, a
    header-recompute slip, or an off-by-one in the resample produces
    a hash mismatch. Proves the kernel tier can TRANSFORM payloads,
    not just summarize them (``multimodal_features`` pins the parse;
    this pins parse -> transform -> featurize).

    Same scale shape as every kernel here: executor-local Arrow
    batches over a doc_id-pruned scan, zero shuffles, payloads never
    reach the driver.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_wav(ids: pd.Series) -> pd.Series:
        return ids.map(wav_pcm_bytes)

    audio = d.select("doc_id", make_wav(F.col("doc_id")).alias("payload"))
    return audio.mapInPandas(
        decimate_wav_batches,
        schema=("doc_id bigint, n_out bigint, out_rate int, "
                "sum_out bigint, min_out bigint, max_out bigint"))


def ppm_bytes(doc_id: int) -> bytes:
    """Deterministic P6 PPM image: ASCII header ``P6\\n{w} {h}\\n255\\n``
    + w*h RGB24 pixels. Byte j of doc d is ``(d*11 + j*3) % 256`` —
    pure byte math so the oracle predicts every decoded statistic."""
    w = 8 + doc_id % 9
    h = 6 + doc_id % 7
    hdr = f"P6\n{w} {h}\n255\n".encode("ascii")
    body = bytes((doc_id * 11 + j * 3) % 256 for j in range(w * h * 3))
    return hdr + body


def _parse_ppm(doc_id, blob: bytes):
    """Shared P6 parser for both image kernels: tokenize the ASCII
    header (bounds-checked), validate maxval and raster length,
    return (w, h, raster ndarray)."""
    import numpy as np

    blob = bytes(blob)
    if blob[:2] != b"P6":
        raise ValueError(f"doc {doc_id}: not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos:pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(blob) and not blob[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError(f"doc {doc_id}: truncated PPM header")
        fields.append(int(blob[start:pos]))
    pos += 1
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"doc {doc_id}: unsupported maxval {maxval}")
    raster = np.frombuffer(blob, dtype=np.uint8, offset=pos)
    if raster.size != w * h * 3:
        raise ValueError(f"doc {doc_id}: raster size mismatch")
    return w, h, raster



def _ppm_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared P6 fixture relation for both image kernels: doc_id < 200
    blobs synthesized executor-side AFTER the doc_id repartition, so
    payloads never cross an exchange (the locality contract both
    payload plan tests pin)."""
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_ppm(ids: pd.Series) -> pd.Series:
        return ids.map(ppm_bytes)

    return (d.repartition("doc_id")
            .select("doc_id", make_ppm(F.col("doc_id")).alias("payload")))


def decode_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL NetPBM P6 decode. Unlike WAV/RVID
    (fixed-offset binary headers) the PPM header is ASCII with
    variable-width fields, so the kernel genuinely tokenizes it:
    magic, dimensions, maxval, then exactly one whitespace byte
    before the raster. Emits per-image per-channel integer stats."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "width": [], "height": [],
               "r_sum": [], "g_sum": [], "b_sum": [],
               "px_min": [], "px_max": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, raster = _parse_ppm(doc_id, blob)
            px = raster.astype(np.int64).reshape(-1, 3)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["r_sum"].append(int(px[:, 0].sum()))
            out["g_sum"].append(int(px[:, 1].sum()))
            out["b_sum"].append(int(px[:, 2].sum()))
            out["px_min"].append(int(px.min()))
            out["px_max"].append(int(px.max()))
        yield pd.DataFrame(out)


@query(
    "multimodal_image_ppm_decode",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 200
    ), px AS (
        SELECT doc_id, w, h, j % 3 AS channel,
               (doc_id * 11 + j * 3) % 256 AS v
        FROM params,
             LATERAL unnest(generate_series(0, w * h * 3 - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(SUM(v) FILTER (channel = 0) AS BIGINT) AS r_sum,
           CAST(SUM(v) FILTER (channel = 1) AS BIGINT) AS g_sum,
           CAST(SUM(v) FILTER (channel = 2) AS BIGINT) AS b_sum,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px GROUP BY doc_id
    """,
)
def multimodal_image_ppm_decode(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end to end — the image
    modality's counterpart to the WAV (audio) and RVID (video)
    kernels: NetPBM P6 is the one image container raw bytes can carry
    without a codec library, and its ASCII header (variable-width
    dimension fields + exactly one whitespace before the raster)
    exercises a genuinely different parse than the fixed-offset
    binary headers. The kernel tokenizes the header, validates
    maxval and raster length, and emits per-channel integer sums +
    global min/max; the DuckDB oracle predicts every value from the
    generation parameters, so a tokenizer slip, a channel-interleave
    error, or an off-by-one raster offset hash-fails.

    Scale shape: one row per image; payloads stay in executor-local
    Arrow batches (the binary column never shuffles — the doc_id
    repartition moves ids before blob synthesis, mirroring how a
    production pipeline reads assets node-locally).
    """
    return _ppm_assets(spark, sf_dir).mapInPandas(
        decode_ppm_batches,
        schema=("doc_id bigint, width int, height int, r_sum bigint, "
                "g_sum bigint, b_sum bigint, px_min bigint, "
                "px_max bigint"))


def downsample_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode P6 -> nearest-neighbor 2x
    downsample (keep every even row/column) -> per-channel stats of
    the RESAMPLED raster. The image sibling of the audio decimation
    kernel: decode -> TRANSFORM -> featurize, all integer."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "out_w": [], "out_h": [],
               "r_sum": [], "g_sum": [], "b_sum": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            w, h, raster = _parse_ppm(doc_id, blob)
            img = raster.astype(np.int64).reshape(h, w, 3)
            small = img[::2, ::2, :]
            out["doc_id"].append(doc_id)
            out["out_h"].append(small.shape[0])
            out["out_w"].append(small.shape[1])
            out["r_sum"].append(int(small[:, :, 0].sum()))
            out["g_sum"].append(int(small[:, :, 1].sum()))
            out["b_sum"].append(int(small[:, :, 2].sum()))
        yield pd.DataFrame(out)


@query(
    "multimodal_image_downsample",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 200
    ), px AS (
        SELECT doc_id, w, h, r.y, c.x, ch.c AS channel,
               (doc_id * 11 + ((r.y * w + c.x) * 3 + ch.c) * 3) % 256
                   AS v
        FROM params,
             LATERAL unnest(generate_series(0, h - 1)) AS r(y),
             LATERAL unnest(generate_series(0, w - 1)) AS c(x),
             LATERAL unnest([0, 1, 2]) AS ch(c)
        WHERE r.y % 2 = 0 AND c.x % 2 = 0
    )
    SELECT doc_id,
           CAST(any_value((w + 1) // 2) AS INT) AS out_w,
           CAST(any_value((h + 1) // 2) AS INT) AS out_h,
           CAST(SUM(v) FILTER (channel = 0) AS BIGINT) AS r_sum,
           CAST(SUM(v) FILTER (channel = 1) AS BIGINT) AS g_sum,
           CAST(SUM(v) FILTER (channel = 2) AS BIGINT) AS b_sum
    FROM px GROUP BY doc_id
    """,
)
def multimodal_image_downsample(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Image decode → RESIZE → featurize — the transform tier for the
    image modality (the audio sibling is
    ``multimodal_audio_decimate``): the kernel parses the P6 header,
    reshapes the raster to (h, w, 3), keeps every even row and
    column (nearest-neighbor 2× downsample — the stride semantics a
    thumbnail pipeline uses before embedding), and emits per-channel
    integer sums of the RESAMPLED image. The oracle replays the
    generator arithmetic through the same (row, col) stride — pixel
    (y, x) channel c is byte (y·w + x)·3 + c — so a stride phase
    error, a row/column-major mix-up, or an off-by-one in the
    output dimensions hash-fails.

    Payloads stay executor-local (ids repartition before blob
    synthesis); one row per image.
    """
    return _ppm_assets(spark, sf_dir).mapInPandas(
        downsample_ppm_batches,
        schema=("doc_id bigint, out_w int, out_h int, r_sum bigint, "
                "g_sum bigint, b_sum bigint"))


#: Scene-structured raw video: scenes are runs of 6 identical frames,
#: so consecutive-frame L1 is 0 inside a scene and large at a cut.
_RV_SCENE_LEN = 6
#: Cut threshold: within-scene delta is exactly 0, a scene boundary
#: shifts every pixel by +31 mod 256 (per-pixel |delta| 31 or 225),
#: so any positive threshold below 31 * frame_bytes separates them;
#: 16/px leaves headroom against generator changes.
_RV_CUT_THRESHOLD = _RV_FRAME_BYTES * 16


def rvid_scene_bytes(doc_id: int) -> bytes:
    """Deterministic scene-structured RVID blob: same counted header
    as :func:`rvid_bytes`, but pixel j of frame f in doc d is
    ``(d*7 + (f // SCENE_LEN)*31 + j*5) % 256`` — piecewise constant
    in f, so the video has real temporal structure (scenes) while
    staying pure byte math the oracle can replay."""
    import struct

    n_frames = 12 + doc_id % 12
    hdr = struct.pack("<4sIII", b"RVID", n_frames, _RV_W, _RV_H)
    body = bytes(
        (doc_id * 7 + (f // _RV_SCENE_LEN) * 31 + j * 5) % 256
        for f in range(n_frames) for j in range(_RV_FRAME_BYTES))
    return hdr + body


def detect_scene_cuts_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode the RVID frame array (same header
    parse as :func:`decode_rvid_batches`) and run TEMPORAL analysis —
    consecutive-frame L1 distance via one vectorized np.diff, cuts
    where the distance clears the threshold. This is the shape of
    every real scene detector (pyav decode → frame-pair metric →
    threshold); only the codec is substituted."""
    import struct

    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "n_frames": [], "n_cuts": [],
               "first_cut_frame": [], "total_cut_l1": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            blob = bytes(blob)
            magic, n_frames, w, h = struct.unpack("<4sIII", blob[:16])
            if magic != b"RVID":
                raise ValueError(f"doc {doc_id}: not an RVID blob")
            fb = w * h * 3
            if len(blob) != 16 + n_frames * fb:
                raise ValueError(f"doc {doc_id}: truncated frame data")
            frames = (np.frombuffer(blob, dtype=np.uint8, offset=16)
                      .reshape(n_frames, fb).astype(np.int64))
            l1 = np.abs(np.diff(frames, axis=0)).sum(axis=1)
            cuts = np.nonzero(l1 > _RV_CUT_THRESHOLD)[0]
            out["doc_id"].append(doc_id)
            out["n_frames"].append(int(n_frames))
            out["n_cuts"].append(int(len(cuts)))
            out["first_cut_frame"].append(
                int(cuts[0] + 1) if len(cuts) else -1)
            out["total_cut_l1"].append(int(l1[cuts].sum()))
        yield pd.DataFrame(out)


@query(
    "multimodal_scene_cut_detect",
    oracle=f"""
    WITH params AS (
        SELECT doc_id, 12 + doc_id % 12 AS n_frames
        FROM documents WHERE doc_id < 200
    ), bounds AS (
        SELECT doc_id, n_frames,
               unnest(generate_series(0, n_frames - 2)) AS f
        FROM params
    ), px AS (
        SELECT doc_id, n_frames, f,
               abs(((doc_id * 7 + ((f + 1) // {_RV_SCENE_LEN}) * 31
                     + j * 5) % 256)
                   - ((doc_id * 7 + (f // {_RV_SCENE_LEN}) * 31
                       + j * 5) % 256)) AS d
        FROM bounds,
             LATERAL unnest(generate_series(0, {_RV_FRAME_BYTES} - 1))
                 AS t(j)
    ), l1 AS (
        SELECT doc_id, n_frames, f, SUM(d) AS l1
        FROM px GROUP BY doc_id, n_frames, f
    )
    SELECT doc_id,
           CAST(any_value(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN l1 > {_RV_CUT_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           CAST(COALESCE(MIN(CASE WHEN l1 > {_RV_CUT_THRESHOLD}
                                  THEN f + 1 END), -1) AS BIGINT)
               AS first_cut_frame,
           CAST(SUM(CASE WHEN l1 > {_RV_CUT_THRESHOLD}
                         THEN l1 ELSE 0 END) AS BIGINT) AS total_cut_l1
    FROM l1
    GROUP BY doc_id
    """,
)
def multimodal_scene_cut_detect(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Scene-cut detection on raw video — the temporal-analysis rung
    of the decode-kernel ladder (``multimodal_frame_sample`` samples
    frames independently; this kernel reasons about CONSECUTIVE
    frames): decode the RVID frame array, compute each adjacent
    frame pair's L1 pixel distance with one vectorized np.diff, and
    report per-asset cut count, first cut position, and total cut
    magnitude. The blobs are scene-structured (runs of 6 identical
    frames, every pixel shifting +31 mod 256 at a boundary), so the
    DuckDB oracle predicts every L1 value — and
    therefore every detected cut — from the generation parameters
    per pixel; a stride error, a wrong diff axis, or an off-by-one
    at the boundary index all hash-fail.

    Scale: payloads decode executor-locally in Arrow batches (one
    doc_id repartition pins asset locality, nothing else shuffles);
    output is one row per ASSET, so the reduce after the kernel is
    metadata-sized. Swapping the byte-math decode for pyav keeps the
    whole plan shape.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_scene_rvid(ids: pd.Series) -> pd.Series:
        return ids.map(rvid_scene_bytes)

    videos = d.select("doc_id",
                      make_scene_rvid(F.col("doc_id")).alias("payload"))
    return videos.repartition("doc_id").mapInPandas(
        detect_scene_cuts_batches,
        schema=("doc_id bigint, n_frames bigint, n_cuts bigint, "
                "first_cut_frame bigint, total_cut_l1 bigint"))



#: Speech-structured audio: fixed-length windows alternate silence
#: (amplitude 100) and speech (amplitude 2000), so windowed energy
#: cleanly separates the two regimes.
_VAD_WIN = 25
_VAD_QUIET_AMP, _VAD_LOUD_AMP = 100, 2000
#: Energy threshold per window: a silence window's sum of squares is
#: at most WIN * QUIET_AMP^2 = 250k; speech windows land ~33M.
_VAD_THRESHOLD = 1_000_000


def wav_speech_bytes(doc_id: int) -> bytes:
    """Deterministic speech-structured 16-bit mono PCM WAV: same
    spec-complete RIFF header as :func:`wav_pcm_bytes`, but sample i
    of doc d draws from an alternating amplitude regime —
    amp = 2000 when (i // 25) is odd (speech), 100 when even
    (silence); sample = (d*31 + i*17) % (2*amp + 1) - amp. Pure byte
    math, so windowed energies are oracle-predictable exactly."""
    import struct

    n = 100 + doc_id % 50
    rate = 8000
    samples = []
    for i in range(n):
        amp = (_VAD_LOUD_AMP if (i // _VAD_WIN) % 2 == 1
               else _VAD_QUIET_AMP)
        samples.append((doc_id * 31 + i * 17) % (2 * amp + 1) - amp)
    data = struct.pack(f"<{n}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data))
    return hdr + data


def vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: voice-activity detection — parse the WAV
    (shared :func:`_parse_wav16`), compute per-window sum-of-squares
    energy over fixed 25-sample windows (vectorized reshape — only
    FULL windows count; the ragged tail is out of contract), and
    threshold into speech/silence. The decode→window→threshold shape
    is every real VAD front end; only the energy feature stands in
    for a learned one."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "n_windows": [], "n_speech": [],
               "first_speech_window": [], "speech_energy": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
            _, frames = _parse_wav16(doc_id, bytes(blob))
            n_full = len(frames) // _VAD_WIN
            w = (frames[:n_full * _VAD_WIN].astype(np.int64)
                 .reshape(n_full, _VAD_WIN))
            energy = (w * w).sum(axis=1)
            speech = np.nonzero(energy > _VAD_THRESHOLD)[0]
            out["doc_id"].append(doc_id)
            out["n_windows"].append(int(n_full))
            out["n_speech"].append(int(len(speech)))
            out["first_speech_window"].append(
                int(speech[0]) if len(speech) else -1)
            out["speech_energy"].append(int(energy[speech].sum()))
        yield pd.DataFrame(out)


@query(
    "multimodal_audio_vad",
    oracle=f"""
    WITH params AS (
        SELECT doc_id, 100 + doc_id % 50 AS n
        FROM documents WHERE doc_id < 200
    ), wins AS (
        SELECT doc_id, n,
               unnest(generate_series(0, n // {_VAD_WIN} - 1)) AS w
        FROM params
    ), samples AS (
        SELECT doc_id, n, w,
               (doc_id * 31 + (w * {_VAD_WIN} + j) * 17)
                   % (2 * amp + 1) - amp AS s
        FROM (SELECT doc_id, n, w,
                     CASE WHEN w % 2 = 1 THEN {_VAD_LOUD_AMP}
                          ELSE {_VAD_QUIET_AMP} END AS amp
              FROM wins),
             LATERAL unnest(generate_series(0, {_VAD_WIN} - 1)) AS t(j)
    ), energy AS (
        SELECT doc_id, n, w, SUM(s * s) AS e
        FROM samples GROUP BY doc_id, n, w
    )
    SELECT doc_id,
           CAST(any_value(n) // {_VAD_WIN} AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN e > {_VAD_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_speech,
           CAST(COALESCE(MIN(CASE WHEN e > {_VAD_THRESHOLD}
                                  THEN w END), -1) AS BIGINT)
               AS first_speech_window,
           CAST(SUM(CASE WHEN e > {_VAD_THRESHOLD}
                         THEN e ELSE 0 END) AS BIGINT) AS speech_energy
    FROM energy
    GROUP BY doc_id
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection on raw audio — the TEMPORAL
    segmentation rung of the audio kernel ladder (global stats →
    decimation → now windowed analysis; the audio sibling of
    ``multimodal_scene_cut_detect``): decode the WAV through the
    shared RIFF parser, window the samples (25 per window), compute
    exact integer sum-of-squares energy per window, and threshold
    into speech/silence. The blobs are speech-structured (alternating
    amplitude regimes per window), so the DuckDB oracle replays every
    sample and predicts every window's energy — and therefore every
    VAD decision — exactly; a window-phase error, a ragged-tail slip,
    or a reshape bug hash-fails.

    Scale: executor-local Arrow-batch decode, one output row per
    ASSET; this is the pre-ASR filter that decides which audio even
    reaches the expensive model, so its plan shape (decode once,
    reduce to segment metadata, never shuffle payloads) is the money
    shape of audio curation.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id") < 200).select("doc_id"))

    @F.pandas_udf("binary")
    def make_speech_wav(ids: pd.Series) -> pd.Series:
        return ids.map(wav_speech_bytes)

    audio = d.select("doc_id",
                     make_speech_wav(F.col("doc_id")).alias("payload"))
    return audio.repartition("doc_id").mapInPandas(
        vad_batches,
        schema=("doc_id bigint, n_windows bigint, n_speech bigint, "
                "first_speech_window bigint, speech_energy bigint"))


@query(
    "multimodal_asset_integrity_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_intact,
           CAST(MIN(CASE WHEN doc_id % 37 = 0 THEN doc_id END)
                AS BIGINT) AS first_corrupt_doc
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_asset_integrity_audit(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Asset-lake integrity audit — the fixity check every binary
    corpus runs on ingest and on schedule: each asset's payload is
    re-hashed and compared against its DECLARED checksum (computed at
    ingest time); mismatches mean bit rot, truncated uploads, or
    tampering. Corruption is injected deterministically (doc_id % 37
    gets one byte flipped AFTER the declared hash is taken), so the
    oracle predicts exactly which assets fail — a kernel that forgets
    to re-hash, hashes the wrong column, or compares case-sensitively
    against a normalized digest all hash-fail. Payloads never
    shuffle: the hash comparison is a scan-level JVM expression
    (sha2 over binary), and the audit reduces to counts + the first
    offender for the triage queue. Fixity is defined over PRESENT
    payloads — assets whose payload is missing entirely are a
    different failure class (ingest, not bit rot) and are excluded
    on both engines (null_sweep audit).
    """
    d = Catalog(spark, sf_dir).documents.filter(
        F.col("text").isNotNull())
    payload = F.encode(F.col("text"), "utf-8")
    declared = F.sha2(payload, 256)
    # Corruption AFTER the declared hash: flip the first byte for the
    # doc_id % 37 cohort (overlay with a different character).
    corrupted = F.when(
        F.col("doc_id") % 37 == 0,
        F.encode(F.concat(F.lit("\x00"),
                          F.substring(F.col("text"), 2, 1 << 30)),
                 "utf-8")).otherwise(payload)
    audited = d.select(
        "doc_id",
        (F.sha2(corrupted, 256) != declared).cast("long")
        .alias("is_corrupt"))
    return audited.agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("is_corrupt").alias("n_corrupt"),
        F.sum(1 - F.col("is_corrupt")).alias("n_intact"),
        F.min(F.when(F.col("is_corrupt") == 1, F.col("doc_id")))
        .alias("first_corrupt_doc"))
