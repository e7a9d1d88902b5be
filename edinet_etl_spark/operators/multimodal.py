"""M6 multimodal column pattern: opaque binary payloads + typed metadata.

The engine's convention for image/audio/video at 100 TB:

    payload: binary            -- the encoded media bytes
    meta:    struct<mime string, width int, height int, n_bytes long>

Payloads travel as parquet binary columns (or as pointers to object
storage, fetched inside the batch fn); decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages so
bytes cross the JVM↔Python boundary in columnar batches, never row by
row.

Decode is REAL for PNG (round 6): ``edinet_etl_spark.png`` is a
stdlib zlib+struct codec for 8-bit grayscale, and
``png_roundtrip_decode_stats`` proves encode→decode end-to-end
against an independent DuckDB recomputation of the pixels.  Other
formats (JPEG etc. — codecs genuinely absent from this container)
fall back to a deterministic byte-histogram feature so the plumbing
stays exercised on any payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.tables import load

FEATURE_DIM = 8

_DECODE_SCHEMA = (
    "doc_id long, mime string, width int, height int, n_bytes long, "
    "feature array<float>, feature_md5 string"
)


def _byte_counts(payload: bytes) -> list[int]:
    """Histogram of byte values mod FEATURE_DIM — the integer core of
    the stub feature (exact, engine-portable; see feature_md5)."""
    counts = [0] * FEATURE_DIM
    for b in payload:
        counts[b % FEATURE_DIM] += 1
    return counts


def decode_image_stub(payload: bytes, counts: list[int] | None = None) -> list[float]:
    """Decode + feature-extract one image payload.

    REAL path (round 6): payloads carrying the PNG signature decode
    through the engine's own stdlib codec (`edinet_etl_spark.png`,
    zlib+struct, all five scanline filters) and the feature is the
    normalized histogram of actual PIXEL values mod FEATURE_DIM —
    no Pillow needed.  Payloads in any other format fall back to the
    original deterministic byte-histogram stand-in so the plumbing
    stays testable on non-image bytes (the documents-as-payload
    queries).  ``counts`` lets a caller that already histogrammed the
    payload (the batch kernel shares one pass with the fingerprint)
    skip re-reading every byte on the fallback path.
    """
    from edinet_etl_spark.png import PNG_SIGNATURE, decode_png_gray

    if payload[:8] == PNG_SIGNATURE:
        _, _, pixels = decode_png_gray(bytes(payload))
        pc = [0] * FEATURE_DIM
        for v in pixels:
            pc[v % FEATURE_DIM] += 1
        total = max(1, len(pixels))
        return [c / total for c in pc]
    # Non-PNG fallback: normalized counts of byte values mod FEATURE_DIM.
    if counts is None:
        counts = _byte_counts(payload)
    total = max(1, len(payload))
    return [c / total for c in counts]


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch in → Arrow batch out.

    Per-batch vectorized work; only the per-payload decode is a Python
    loop (it wraps a C library in the real path).

    feature_md5 fingerprints the INTEGER count vector the feature is
    normalized from — exact in any engine, so the oracle can verify
    the Python feature path content byte-for-byte without comparing
    float renderings.
    """
    import hashlib

    for pdf in batches:
        # one histogram pass per payload, feeding BOTH outputs (the
        # per-byte loop is the stage's dominant Python cost)
        all_counts = [_byte_counts(p) for p in pdf["payload"]]
        feats = [
            decode_image_stub(p, counts)
            for counts, p in zip(all_counts, pdf["payload"])
        ]
        fps = [
            hashlib.md5(",".join(map(str, counts)).encode()).hexdigest()
            for counts in all_counts
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "width": pdf["width"],
                "height": pdf["height"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "feature": feats,
                "feature_md5": fps,
            }
        )


def with_media_columns(docs: DataFrame) -> DataFrame:
    """Synthesize the multimodal column convention from the documents
    table: payload = utf-8 bytes of the text (standing in for encoded
    media), metadata derived deterministically."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("n_chars") % 480).cast("int").alias("height"),
    )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id, 'image/fake' AS mime,
           CAST(n_chars % 640 AS INT) AS width,
           CAST(n_chars % 480 AS INT) AS height,
           n_chars AS n_bytes
    FROM documents
    """,
    covers=["M6-multimodal", "X1", "X2"],
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline end-to-end: binary payload column →
    ``mapInPandas`` decode stage → typed features.  The oracle checks
    the metadata/byte-length path (texts are ascii, so utf-8 bytes ==
    n_chars); the float feature column is exercised by unit tests."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    decoded = media.mapInPandas(_decode_batches, schema=_DECODE_SCHEMA)
    return decoded.select("doc_id", "mime", "width", "height", "n_bytes")


_FEATURE_MD5_SQL = "md5(" + " || ',' || ".join(
    f"CAST(SUM(CASE WHEN ascii(ch) % {FEATURE_DIM} = {j} THEN 1 ELSE 0 END) AS BIGINT)"
    for j in range(FEATURE_DIM)
) + ")"


@query(
    "multimodal_features",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), fps AS (
      SELECT doc_id, {_FEATURE_MD5_SQL} AS feature_md5
      FROM chars GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars AS n_bytes, fps.feature_md5
    FROM documents d JOIN fps ON d.doc_id = fps.doc_id
    """,
    covers=["M6-multimodal"],
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction leg of the multimodal pipeline, verified END
    TO END: the Python kernel fingerprints the integer count vector
    its float feature is normalized from, and the oracle recomputes
    the same histogram character-wise in SQL (payloads are the ascii
    text bytes, so byte % 8 == ascii(char) % 8).  This closes the loop
    the frame-sample query proved for fan-out — here for per-doc
    feature CONTENT — so the stubbed decode's plumbing is checked
    byte-for-byte, not rows-only.  The float normalization itself
    (count / n_bytes) is covered by unit tests; the array<float>
    column rides the same kernel (multimodal_decode schema)."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    decoded = media.mapInPandas(_decode_batches, schema=_DECODE_SCHEMA)
    return decoded.select("doc_id", "n_bytes", "feature_md5")


_FRAME_SIZE = 256
_FRAME_STRIDE = 2  # sample every 2nd frame


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """UDTF-shape kernel: 1 media row → N sampled-frame rows.

    The real path would seek keyframes with a codec; the stub slices
    fixed windows off the payload and fingerprints each — identical
    plumbing (per-row fan-out inside an Arrow batch)."""
    import hashlib

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "frame_offset": [],
               "frame_len": [], "frame_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            n_frames = (n + _FRAME_SIZE - 1) // _FRAME_SIZE
            for i in range(0, n_frames, _FRAME_STRIDE):
                off = i * _FRAME_SIZE
                chunk = payload[off : off + _FRAME_SIZE]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_offset"].append(off)
                out["frame_len"].append(len(chunk))
                out["frame_md5"].append(hashlib.md5(bytes(chunk)).hexdigest())
        yield pd.DataFrame(out)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * {_FRAME_SIZE} AS INT) AS frame_offset,
           CAST(least({_FRAME_SIZE}, n_chars - i * {_FRAME_SIZE}) AS INT) AS frame_len,
           md5(substr(text, CAST(i * {_FRAME_SIZE} + 1 AS INT), {_FRAME_SIZE})) AS frame_md5
    FROM (
      SELECT doc_id, text, n_chars,
             unnest(generate_series(0, CAST(ceil(n_chars / {_FRAME_SIZE}.0) - 1 AS BIGINT))) AS i
      FROM documents
    )
    WHERE i % {_FRAME_STRIDE} = 0
    """,
    covers=["M6-multimodal", "X1"],
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over media payloads: every {stride}-th fixed-size
    window, one output row per sampled frame (the video/audio
    frame-extraction shape).  Payloads are ascii here, so the oracle
    replays the identical slicing+md5 on the text column — proving the
    Python fan-out stage byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    return media.mapInPandas(
        _frame_batches,
        schema=(
            "doc_id long, frame_idx int, frame_offset int, "
            "frame_len int, frame_md5 string"
        ),
    )


# Audio leg: payload bytes read as 8-bit PCM samples, framed without
# overlap; per-frame energy = Σ (sample − _AUDIO_BIAS)² — pure integer
# math, so the mapInPandas kernel and the SQL oracle agree bit-exactly.
_AUDIO_FRAME = 256
_AUDIO_BIAS = 64


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            if not b:  # oracle emits no row for an empty payload
                continue
            n_frames = -(-len(b) // _AUDIO_FRAME)
            total = 0
            peak = -1
            peak_frame = -1
            for i in range(n_frames):
                frame = b[i * _AUDIO_FRAME : (i + 1) * _AUDIO_FRAME]
                e = sum((s - _AUDIO_BIAS) ** 2 for s in frame)
                total += e
                if e > peak:
                    peak, peak_frame = e, i
            out.append((doc_id, n_frames, total, peak, peak_frame))
        yield pd.DataFrame(
            out,
            columns=["doc_id", "n_frames", "total_energy", "peak_energy", "peak_frame"],
        )


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id,
             (i - 1) // {_AUDIO_FRAME} AS frame_idx,
             (ascii(substr(text, CAST(i AS INT), 1)) - {_AUDIO_BIAS})
               * (ascii(substr(text, CAST(i AS INT), 1)) - {_AUDIO_BIAS}) AS sq
      FROM documents, UNNEST(generate_series(1, length(text))) t(i)
    ), frames AS (
      SELECT doc_id, frame_idx, SUM(sq) AS energy
      FROM samples GROUP BY doc_id, frame_idx
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(MAX(energy) AS BIGINT) AS peak_energy,
           CAST(MIN(CASE WHEN energy = me THEN frame_idx END) AS BIGINT)
             AS peak_frame
    FROM (SELECT *, MAX(energy) OVER (PARTITION BY doc_id) AS me FROM frames)
    GROUP BY doc_id
    """,
    covers=["M6-multimodal", "X1"],
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over binary payloads: bytes as 8-bit
    PCM samples, non-overlapping {frame}-sample windows, per-frame
    energy Σ(s−bias)², reduced to the per-doc summary (frame count,
    total and peak energy, earliest peak frame — the VAD/loudness
    screening pass an audio curation pipeline runs first).

    Same discipline as the image/frame stubs: payloads are ascii text
    bytes standing in for PCM, so the SQL oracle replays the identical
    integer math per character and the Arrow-batched ``mapInPandas``
    kernel is proven bit-for-bit, not just shape-checked.  Plan: one
    Python island, per-doc work linear in payload bytes, no shuffle
    (summaries computed inside the kernel)."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    return media.mapInPandas(
        _audio_batches,
        schema=(
            "doc_id long, n_frames bigint, total_energy bigint, "
            "peak_energy bigint, peak_frame bigint"
        ),
    )


_THUMB_BLOCKS = 8


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the resize stage: block-average pooling
    of each payload's byte signal down to `_THUMB_BLOCKS` buckets —
    the 1-D stand-in for thumbnail downsampling (the real path swaps
    the pooling line for PIL's Image.resize; batch shape, schema and
    boundary math are identical).  Block sums stay int64 so the
    fingerprint compares exactly in any engine."""
    import hashlib

    import numpy as np

    for pdf in batches:
        n_bytes, b0, fps = [], [], []
        for p in pdf["payload"]:
            arr = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
            n = len(arr)
            if n == 0:
                sums = [0] * _THUMB_BLOCKS
            else:
                # byte i lands in block (i * B) // n — same integer
                # boundary rule the SQL oracle states
                blocks = (np.arange(n, dtype=np.int64) * _THUMB_BLOCKS) // n
                sums_arr = np.zeros(_THUMB_BLOCKS, dtype=np.int64)
                np.add.at(sums_arr, blocks, arr)
                sums = sums_arr.tolist()
            n_bytes.append(n)
            b0.append(sums[0])
            fps.append(hashlib.md5(",".join(map(str, sums)).encode()).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "block0_sum": b0,
                "thumb_md5": fps,
            }
        )


_THUMB_MD5_SQL = "md5(" + " || ',' || ".join(
    f"CAST(SUM(CASE WHEN ((i - 1) * {_THUMB_BLOCKS}) // length(text) = {j} "
    f"THEN ascii(substr(text, CAST(i AS INT), 1)) ELSE 0 END) AS BIGINT)"
    for j in range(_THUMB_BLOCKS)
) + ")"


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(SUM(CASE WHEN ((i - 1) * {_THUMB_BLOCKS}) // length(text) = 0
                    THEN ascii(substr(text, CAST(i AS INT), 1)) ELSE 0 END)
                AS BIGINT) AS block0_sum,
           {_THUMB_MD5_SQL} AS thumb_md5
    FROM documents, UNNEST(generate_series(1, length(text))) t(i)
    GROUP BY doc_id, length(text)
    """,
    covers=["M6-multimodal"],
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIZE stage of the multimodal ladder (decode → resize →
    feature-extract → frame-sample): block-average pooling of each
    payload to a fixed {B}-bucket thumbnail, run as an Arrow-batched
    ``mapInPandas`` island.  Byte i of an n-byte payload lands in
    block (i*B) div n — the exact integer boundary rule a real
    downsampler uses per axis, so swapping the stub for PIL changes
    one line, not the plumbing.

    The oracle replays the identical integer math per character
    (payloads are ascii text bytes) and compares the md5 of the
    ordered block-sum vector — the pooled content verified
    byte-for-byte, not shape-checked.

    Scale: one Python island, per-doc work linear in payload bytes,
    zero shuffle (pooling is payload-local); Arrow batches amortize
    the JVM<->Python hop exactly as in `multimodal_decode`."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    return media.mapInPandas(
        _resize_batches,
        schema="doc_id long, n_bytes bigint, block0_sum bigint, thumb_md5 string",
    )


def _png_roundtrip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the PNG roundtrip: per doc, synthesize a
    deterministic grayscale image, encode it with the stdlib codec
    (cycling the per-row filter through all five predictor types so
    every unfilter branch runs), decode it back, and report stats
    computed FROM THE DECODED PIXELS — any codec defect lands in the
    compared columns."""
    import hashlib

    from edinet_etl_spark.png import decode_png_gray, encode_png_gray

    for pdf in batches:
        out = {"doc_id": [], "width": [], "height": [],
               "pixel_sum": [], "pixel_md5": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 8 + d % 9, 8 + d % 7
            px = bytes(
                (d * 7 + x * 13 + y * 31) % 256
                for y in range(h)
                for x in range(w)
            )
            data = encode_png_gray(w, h, px, [(d + y) % 5 for y in range(h)])
            dw, dh, dpx = decode_png_gray(data)
            out["doc_id"].append(d)
            out["width"].append(dw)
            out["height"].append(dh)
            out["pixel_sum"].append(sum(dpx))
            out["pixel_md5"].append(
                hashlib.md5(",".join(map(str, dpx)).encode()).hexdigest()
            )
        yield pd.DataFrame(out)


@query(
    "png_roundtrip_decode_stats",
    oracle="""
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS INT) AS width,
           CAST(8 + doc_id % 7 AS INT) AS height,
           CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS BIGINT)
             AS pixel_sum,
           md5(string_agg(CAST((doc_id * 7 + x * 13 + y * 31) % 256
                               AS VARCHAR),
                          ',' ORDER BY y, x)) AS pixel_md5
    FROM documents,
         UNNEST(generate_series(0, CAST(8 + doc_id % 7 AS BIGINT) - 1)) t1(y),
         UNNEST(generate_series(0, CAST(8 + doc_id % 9 AS BIGINT) - 1)) t2(x)
    GROUP BY doc_id
    """,
    covers=["M6-multimodal", "X1"],
)
def png_roundtrip_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, proven end-to-end (round-6 graduation of the
    multimodal ladder's last stub): per document, a deterministic
    grayscale image pixel(x,y) = (doc_id·7 + x·13 + y·31) mod 256 is
    encoded to an actual PNG byte stream by `edinet_etl_spark.png`
    (stdlib zlib+struct; per-row filter (doc_id+y) mod 5 cycles all
    five predictor filters), then DECODED by the same module's
    spec-complete reader (signature, CRC-verified chunks, DEFLATE,
    unfiltering).  Every output column is computed from the decoded
    pixels; the DuckDB oracle recomputes the ground truth directly
    from the generation formula — so a wrong filter inverse, CRC slip,
    or dimension bug hash-mismatches instead of hiding.

    Scale: one Arrow-batched Python island, per-doc work O(pixels),
    zero shuffle (the group-by lives in the oracle only; the kernel
    emits one row per doc).  Swapping the synthetic payload for a real
    binary column changes the input select, not the plumbing."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _png_roundtrip_batches,
        schema=(
            "doc_id long, width int, height int, "
            "pixel_sum bigint, pixel_md5 string"
        ),
    )


# Perceptual-hash near-duplicate detection over DECODED images.
# Dials prefixed per CLAUDE.md.
_AHASH_GROUPS = 50  # docs per near-dup family = |docs| / groups
_AHASH_BANDS = 4  # 64-bit hash split into 4 x 16-bit LSH bands
_AHASH_MAXHAM = 8  # verified Hamming radius


def _ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synthesize each doc's grayscale image (the
    group pattern + a single per-doc +1 pixel perturbation), round-trip
    it through the REAL stdlib PNG codec, and compute the 8x8 average
    hash FROM THE DECODED PIXELS — bit k set iff its block mean >= the
    global mean, compared as exact integers (blocksum * w*h >= total *
    block_area).  Emitted as four 16-bit band values (BIGINT-safe; the
    bands are also the LSH candidate keys)."""
    from edinet_etl_spark.png import decode_png_gray, encode_png_gray

    for pdf in batches:
        out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            g = d % _AHASH_GROUPS
            w, h = 8 + g % 9, 8 + g % 7
            idx = (d // _AHASH_GROUPS) % (w * h)
            px = bytes(
                (g * 7 + x * 13 + y * 31 + (1 if y * w + x == idx else 0))
                % 256
                for y in range(h)
                for x in range(w)
            )
            data = encode_png_gray(w, h, px, [(g + y) % 5 for y in range(h)])
            dw, dh, dpx = decode_png_gray(data)
            bs = [[0] * 8 for _ in range(8)]
            area = [[0] * 8 for _ in range(8)]
            for y in range(dh):
                for x in range(dw):
                    bs[(y * 8) // dh][(x * 8) // dw] += dpx[y * dw + x]
                    area[(y * 8) // dh][(x * 8) // dw] += 1
            total = sum(dpx)
            bands = [0] * _AHASH_BANDS
            for by in range(8):
                for bx in range(8):
                    k = by * 8 + bx
                    if bs[by][bx] * (dw * dh) >= total * area[by][bx]:
                        bands[k // 16] |= 1 << (k % 16)
            out["doc_id"].append(d)
            for i in range(_AHASH_BANDS):
                out[f"b{i}"].append(bands[i])
        yield pd.DataFrame(out)


@query(
    "image_ahash_neardup",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id % {_AHASH_GROUPS} AS g,
             8 + (doc_id % {_AHASH_GROUPS}) % 9 AS w,
             8 + (doc_id % {_AHASH_GROUPS}) % 7 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, w, h, x, y,
             (g*7 + x*13 + y*31
              + CASE WHEN y*w + x = (doc_id // {_AHASH_GROUPS}) % (w*h)
                     THEN 1 ELSE 0 END) % 256 AS p
      FROM dims,
           UNNEST(generate_series(0, h - 1)) t1(y),
           UNNEST(generate_series(0, w - 1)) t2(x)
    ), blocks AS (
      SELECT doc_id, (y*8)//h AS by, (x*8)//w AS bx,
             CAST(SUM(p) AS BIGINT) AS bs,
             CAST(COUNT(*) AS BIGINT) AS area,
             CAST(MAX(w*h) AS BIGINT) AS wh
      FROM px GROUP BY 1, 2, 3
    ), tot AS (
      SELECT doc_id, CAST(SUM(bs) AS BIGINT) AS total, MAX(wh) AS wh
      FROM blocks GROUP BY 1
    ), bits AS (
      SELECT b.doc_id, b.by*8 + b.bx AS k,
             CASE WHEN b.bs * t.wh >= t.total * b.area
                  THEN 1 ELSE 0 END AS bit
      FROM blocks b JOIN tot t USING (doc_id)
    ), bands AS (
      SELECT doc_id, k // 16 AS bi,
             CAST(SUM(bit * (1::BIGINT << (k % 16))) AS BIGINT) AS bv
      FROM bits GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             MAX(CASE WHEN bi = 0 THEN bv END) AS b0,
             MAX(CASE WHEN bi = 1 THEN bv END) AS b1,
             MAX(CASE WHEN bi = 2 THEN bv END) AS b2,
             MAX(CASE WHEN bi = 3 THEN bv END) AS b3
      FROM bands GROUP BY doc_id
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
              + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
                AS BIGINT) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
        <= {_AHASH_MAXHAM}
    ORDER BY c.doc_a, c.doc_b
    """,
    covers=["M6-multimodal", "M6-dedup", "X1"],
)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection via the 8x8 AVERAGE HASH (aHash)
    over REAL decoded pixels — the multimodal twin of the text dedup
    ladder: every doc's image (a per-group pattern plus a one-pixel
    per-doc perturbation, so each group of {_AHASH_GROUPS}-strided
    docs is a true near-dup family) is encoded to an actual PNG byte
    stream and DECODED back by `edinet_etl_spark.png`; the hash is
    computed from the decoded pixels, so a codec defect corrupts the
    pairs and the driver row goes red.  Blocks use the exact integer
    boundary rule ((i*8) div n — `multimodal_resize`'s downsampler)
    and each bit compares block mean vs global mean as cross-
    multiplied INTEGERS — no float touches the hash.

    Candidates are LSH-banded, never all-pairs: the 64-bit hash splits
    into {_AHASH_BANDS} x 16-bit bands and only pairs sharing an EXACT
    band are verified (guaranteed recall at Hamming < {_AHASH_BANDS},
    the standard banding trade above that), with verification a
    constant-time popcount over the band XORs — `bit_count` both
    engines compute identically.

    Scale: one Arrow-batched Python island (O(pixels) per doc), one
    groupBy on (band, value) for buckets, pair fan-out bounded by real
    near-dup families (the within-bucket quadratic IS the workload),
    O(1) verify per pair.  Swapping the synthetic image for a real
    binary payload column changes the kernel's input line only."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    sig = materialize(docs.mapInPandas(
        _ahash_batches,
        schema="doc_id long, b0 long, b1 long, b2 long, b3 long",
    ))  # feeds the bucket explode AND both sides of the verify join
    # (also caps the Python island at one run)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"), F.col(f"b{i}").alias("bv")
                )
                for i in range(_AHASH_BANDS)
            ])
        ).alias("s"),
    ).select("doc_id", "s.bi", "s.bv")
    a = bands.select(F.col("doc_id").alias("doc_a"), "bi", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"), "bi", "bv")
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(_AHASH_BANDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(_AHASH_BANDS)],
    )
    ham = None
    for i in range(_AHASH_BANDS):
        term = F.bit_count(
            F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))
        )
        ham = term if ham is None else ham + term
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", ham.cast("bigint").alias("hamming")
        )
        .filter(F.col("hamming") <= _AHASH_MAXHAM)
        .orderBy("doc_a", "doc_b")
    )


_VAD_FRAME = 32  # samples per VAD frame (finer than _AUDIO_FRAME)
_VAD_THRESH = 50000  # frame energy below this = silence


def _silence_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-doc VAD pass: frame energies at ``_VAD_FRAME`` granularity,
    threshold at ``_VAD_THRESH``, consecutive silent frames merged into
    segments.  Energies are vectorized int64 numpy (exact — squares
    ≤ 191² and frame sums ≤ 1.2M are far inside int64); only the
    run-length walk over FRAME flags stays in Python (bytes/32
    iterations, not bytes).  The per-byte Python first cut probed
    12.7× at the 100× rung; this form is the vectorized-island rule
    from the repo's UDF discipline."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            if not b:  # oracle emits no row for an empty payload
                continue
            n_frames = -(-len(b) // _VAD_FRAME)
            sq = (
                np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                - _AUDIO_BIAS
            ) ** 2
            # pad AFTER squaring so the tail frame sums only real samples
            pad = n_frames * _VAD_FRAME - len(sq)
            if pad:
                sq = np.concatenate([sq, np.zeros(pad, dtype=np.int64)])
            energies = sq.reshape(n_frames, _VAD_FRAME).sum(axis=1)
            silent = (energies < _VAD_THRESH).tolist()
            segs = []
            run = 0
            for flag in silent:
                if flag:
                    run += 1
                elif run:
                    segs.append(run)
                    run = 0
            if run:
                segs.append(run)
            lead = 0
            while lead < n_frames and silent[lead]:
                lead += 1
            n_sil = sum(segs)
            out.append(
                (
                    doc_id,
                    n_frames,
                    n_sil,
                    len(segs),
                    max(segs) if segs else 0,
                    lead,
                    n_sil / n_frames,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "n_frames",
                "silent_frames",
                "n_silence_segments",
                "longest_silence",
                "leading_silence",
                "silence_ratio",
            ],
        )


@query(
    "audio_silence_segments",
    oracle=f"""
    WITH samples AS (
      SELECT doc_id,
             (i - 1) // {_VAD_FRAME} AS frame_idx,
             (ascii(substr(text, CAST(i AS INT), 1)) - {_AUDIO_BIAS})
               * (ascii(substr(text, CAST(i AS INT), 1)) - {_AUDIO_BIAS})
               AS sq
      FROM documents, UNNEST(generate_series(1, length(text))) t(i)
    ), frames AS (
      SELECT doc_id, frame_idx, SUM(sq) AS energy
      FROM samples GROUP BY doc_id, frame_idx
    ), sil AS (
      SELECT doc_id, frame_idx,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS grp
      FROM frames WHERE energy < {_VAD_THRESH}
    ), seg AS (
      SELECT doc_id, grp, COUNT(*) AS len, MIN(frame_idx) AS seg_start
      FROM sil GROUP BY doc_id, grp
    ), per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
      FROM frames GROUP BY doc_id
    ), silagg AS (
      SELECT doc_id,
             CAST(SUM(len) AS BIGINT) AS silent_frames,
             CAST(COUNT(*) AS BIGINT) AS n_silence_segments,
             CAST(MAX(len) AS BIGINT) AS longest_silence,
             CAST(MAX(CASE WHEN seg_start = 0 THEN len ELSE 0 END)
                  AS BIGINT) AS leading_silence
      FROM seg GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_frames,
           CAST(COALESCE(s.silent_frames, 0) AS BIGINT) AS silent_frames,
           CAST(COALESCE(s.n_silence_segments, 0) AS BIGINT)
             AS n_silence_segments,
           CAST(COALESCE(s.longest_silence, 0) AS BIGINT)
             AS longest_silence,
           CAST(COALESCE(s.leading_silence, 0) AS BIGINT)
             AS leading_silence,
           CAST(COALESCE(s.silent_frames, 0) AS DOUBLE) / p.n_frames
             AS silence_ratio
    FROM per_doc p LEFT JOIN silagg s ON s.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
    covers=["M6-multimodal", "X1"],
)
def audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style silence segmentation per audio payload — the curation
    pass that strips dead air before transcription (leading-silence
    trim point, longest pause, silence ratio): frame energies at
    ``_VAD_FRAME``(=32)-sample granularity, frames under
    ``_VAD_THRESH``(=50000) are silence, consecutive silent frames
    merge into segments — the
    gaps-and-islands sweep run INSIDE the Arrow kernel where the
    samples live, so the cluster never shuffles frame rows at all.

    Same bit-exact discipline as `multimodal_audio_energy` (reference
    has no audio surface; extends SURVEY.md M6): payload bytes are
    ascii stand-ins for 8-bit PCM, the SQL oracle replays the identical
    integer math per character and re-derives the segment merge
    relationally (frame_idx − ROW_NUMBER gaps-and-islands), so the
    kernel's per-doc Python loop is PROVEN against a fully relational
    formulation, zeros-for-no-silence included.  silence_ratio is one
    correctly-rounded division (Python / == IEEE /).

    Scale: one mapInPandas island, per-doc work linear in payload
    bytes, output one row per doc, NO shuffle anywhere — at 100 TB of
    audio the plan is a pure scan→kernel→write pipeline that scales
    with executors; the relational alternative would explode
    samples×rows through a shuffle first (what the ORACLE does,
    fine at sf0.01, fatal at scale)."""
    docs = load(spark, sf_dir, "documents")
    media = with_media_columns(docs)
    return media.mapInPandas(
        _silence_batches,
        schema=(
            "doc_id long, n_frames bigint, silent_frames bigint, "
            "n_silence_segments bigint, longest_silence bigint, "
            "leading_silence bigint, silence_ratio double"
        ),
    )
