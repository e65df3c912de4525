"""Multimodal column operators: opaque ``binary`` payloads + typed metadata,
with decode / feature-extract / frame-sample as Arrow-batched ``mapInPandas``
stages.

Design (engine extension beyond the reference — the reference is text-only):

- Media rides in a DataFrame as an opaque ``binary`` column plus typed
  metadata (``schemas.MEDIA_SCHEMA``): modality, mime, dims, duration. Spark
  never interprets the bytes except inside explicit decode stages, so scans,
  filters, joins and shuffles on metadata stay JVM-side and columnar.
- Decode / feature-extraction run as ``mapInPandas`` over Arrow record
  batches: bytes cross into Python once per batch (not per row), and the
  output schema is declared up front so downstream planning is unaffected.
- Real codec work (PIL/libav/ffmpeg) is NOT available in this environment;
  ``decode_payload`` is therefore a clearly-marked stub. The *deterministic
  fake* decoder (`_fake_decode_stats`) interprets the payload's raw bytes —
  shape-compatible with a real decoder's output, so swapping in a real
  implementation changes no plan, schema, or test plumbing.

Scale notes: payload batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — for multi-MB payloads set
it low (e.g. 64) so an Arrow batch stays within executor memory. Feature
extraction is embarrassingly parallel; no shuffle is introduced until the
caller aggregates.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MODALITIES = ("image", "audio", "video")
_MIME = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}

MEDIA_FEATURE_SCHEMA = (
    "media_id string, modality string, n_bytes bigint, "
    "byte_mean double, byte_std double, byte_min long, byte_max long, "
    "n_frames bigint"
)


def _spread_for_python(df: DataFrame) -> DataFrame:
    """Ensure an Arrow/mapInPandas crossing runs with cluster-wide
    parallelism. A small parquet table scans as ONE partition (file <
    maxPartitionBytes), which would serialize the whole Python stage
    through a single worker — measured as the dominant cost of media_phash
    at sf0.1 (5000 rows, 1 partition, 32 idle cores; SCALE.md, round-4
    ``media_phash`` A/B).
    Repartition round-robin only when the scan is under-parallel; at real
    scale (100 TB ⇒ ~10^5-10^6 input splits) the branch never fires and no
    shuffle is added.

    Target is HALF the core count: each Python-crossing task pays a fixed
    Arrow/worker round-trip overhead, so on the small-scan path full fan-out
    overshoots — the sf0.1 sweep measured 1-partition 1.61 s, 8 → 1.18 s,
    16 → 1.16 s, 32 → 1.39 s end-to-end for media_phash (SCALE.md §8)."""
    target = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def attach_media(docs: DataFrame) -> DataFrame:
    """Derive a MEDIA_SCHEMA-shaped table from the ``documents`` testdata
    table: payload = UTF-8 bytes of the text (a stand-in for encoded media),
    modality assigned deterministically by doc_id, dims derived from length.

    Pure Column expressions — stays in whole-stage codegen.
    """
    modality = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    mime = (
        F.when(modality == "image", F.lit(_MIME["image"]))
        .when(modality == "audio", F.lit(_MIME["audio"]))
        .otherwise(F.lit(_MIME["video"]))
    )
    n = F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long")
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        mime.alias("mime_type"),
        F.when(modality == "image", (n % 64) + 16).alias("width"),
        F.when(modality == "image", (n % 48) + 16).alias("height"),
        F.when(modality != "image", n * 10).alias("duration_ms"),
        F.when(modality == "audio", F.lit(16000).cast("long")).alias("sample_rate"),
    )


def decode_payload(payload: bytes, mime_type: str):
    """Decode encoded media bytes into a numpy array.

    STUB — real decoders (PIL for image, soundfile/libav for audio, ffmpeg
    frame extraction for video) are not installed in this environment. The
    Spark-side plumbing is exercised end-to-end with `_fake_decode_stats`;
    swap this function's body for the real thing in production.
    """
    raise NotImplementedError(
        f"real codec decode for {mime_type!r} requires PIL/libav/ffmpeg; "
        "use extract_media_features (deterministic byte-level fake) in tests"
    )


def _fake_decode_stats(payload: bytes, modality: str) -> tuple:
    """Deterministic stand-in for decode→stats: interpret raw payload bytes
    as the 'signal'. Same output shape as a real decoder's pixel/sample
    stats, so the mapInPandas contract is fully real."""
    import numpy as np

    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    # 'frame sampling': fixed 256-byte frames, matching a real video
    # frame-sample stage's output cardinality contract
    n_frames = int(np.ceil(arr.size / 256)) if modality == "video" else 1
    return (
        int(arr.size),
        float(arr.mean()),
        float(arr.std()),
        int(arr.min()),
        int(arr.max()),
        n_frames,
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction over MEDIA_SCHEMA rows.

    One Python crossing per Arrow batch; output schema declared so Catalyst
    plans downstream ops normally. Columns pruned to exactly what the stage
    needs before the Python boundary.
    """

    def features(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = [
                (mid, mod, *_fake_decode_stats(payload, mod))
                for mid, mod, payload in zip(
                    pdf["media_id"], pdf["modality"], pdf["payload"])
            ]
            yield pd.DataFrame(
                out,
                columns=["media_id", "modality", "n_bytes", "byte_mean",
                         "byte_std", "byte_min", "byte_max", "n_frames"],
            )

    return _spread_for_python(
        media.select("media_id", "modality", "payload")
    ).mapInPandas(features, schema=MEDIA_FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "media_id string, frame_idx long, frame_ts_ms long, frame_bytes binary"
)

_FRAME_BYTES = 256  # fake codec: fixed-size byte frames (see _fake_decode_stats)


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling: one output row per kept frame (every ``every_n``-th),
    the row-expanding multimodal stage (video → frame table).

    mapInPandas is the right Spark shape here because the expansion factor
    is data-dependent (duration) and the payload must be sliced in Python —
    a generator yielding more rows than it consumes, still one Arrow
    crossing per batch. Real ffmpeg keyframe extraction drops into the
    same loop body; the fake slices fixed 256-byte 'frames'.
    """

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload, dur in zip(
                    pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                raw = payload or b""
                n_frames = max(1, -(-len(raw) // _FRAME_BYTES))
                # NULL duration arrives as NaN (truthy!) through Arrow;
                # `or 0` alone would propagate it into int() and crash
                step_ms = (0 if pd.isna(dur) else dur or 0) / n_frames
                for i in range(0, n_frames, every_n):
                    out.append((mid, i, int(i * step_ms),
                                raw[i * _FRAME_BYTES:(i + 1) * _FRAME_BYTES]))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "frame_ts_ms",
                              "frame_bytes"])

    return _spread_for_python(
        media.filter(F.col("modality") == "video")
        .select("media_id", "payload", "duration_ms")
    ).mapInPandas(frames, schema=FRAME_SCHEMA)


def resize_images(media: DataFrame, width: int = 16,
                  height: int = 16) -> DataFrame:
    """Resize: re-encode each image payload at fixed target dims — the
    normalize-before-training stage. Fake codec downsamples the raw byte
    'signal' by striding to exactly width*height bytes (padding with zeros),
    preserving the real operator's contract: output payload size is a
    function of target dims only, metadata updated in place.
    """

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        target = width * height
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
                idx = np.linspace(0, arr.size - 1, num=min(target, arr.size),
                                  dtype=np.int64)
                out = np.zeros(target, dtype=np.uint8)
                out[:idx.size] = arr[idx]
                payloads.append(out.tobytes())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "mime_type": pdf["mime_type"],
                "payload": payloads,
                "width": width, "height": height,
            })

    return _spread_for_python(
        media.filter(F.col("modality") == "image")
        .select("media_id", "mime_type", "payload")
    ).mapInPandas(
        resize,
        schema="media_id string, mime_type string, payload binary, "
               "width int, height int")


SEGMENT_SCHEMA = (
    "media_id string, segment_idx int, start_ms bigint, end_ms bigint, "
    "segment_bytes binary"
)


def segment_audio(media: DataFrame, segment_ms: int = 1000,
                  hop_ms: int | None = None) -> DataFrame:
    """Audio segmentation: split each audio payload into fixed-duration
    windows (optionally overlapping via ``hop_ms`` < ``segment_ms``) — the
    ASR/audio-embedding preprocessing stage (one row per segment).

    Same mapInPandas shape as frame sampling: data-dependent expansion with
    Python-side payload slicing, one Arrow crossing per batch. The fake
    codec maps time to bytes linearly (true for constant-bitrate PCM — a
    real decoder drops into the same loop body); the Spark-side contract —
    schema, windowing arithmetic, hop/overlap semantics, binary slicing —
    is the real plumbing.
    """
    hop = hop_ms or segment_ms

    def segments(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, payload, dur in zip(
                    pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                raw = payload or b""
                # NaN (null duration) is truthy — pd.isna first, then int
                dur = 0 if pd.isna(dur) else int(dur or 0)
                if dur <= 0 or not raw:
                    continue
                bytes_per_ms = len(raw) / dur
                idx = 0
                for start in range(0, dur, hop):
                    end = min(start + segment_ms, dur)
                    b0 = int(start * bytes_per_ms)
                    b1 = max(b0 + 1, int(end * bytes_per_ms))
                    out.append((mid, idx, start, end, raw[b0:b1]))
                    idx += 1
                    if end >= dur:
                        break
            yield pd.DataFrame(
                out, columns=["media_id", "segment_idx", "start_ms",
                              "end_ms", "segment_bytes"])

    return _spread_for_python(
        media.filter(F.col("modality") == "audio")
        .select("media_id", "payload", "duration_ms")
    ).mapInPandas(segments, schema=SEGMENT_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicates (dHash + banded LSH join)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = "media_id string, modality string, phash long"

_PHASH_CELLS = 64  # 8x8 gradient grid → 64-bit hash


def _fake_decode_phash(payload: bytes) -> int:
    """Deterministic dHash stand-in: resample the raw payload bytes into 65
    equal-width buckets (a real dHash resizes pixels to a 9x8 grid), take
    each bucket's mean 'brightness', and emit bit i = bucket[i] > bucket[i+1].
    Gradient-based, so it is stable under small payload perturbations —
    exactly the property a real perceptual hash has for re-encoded media.
    A real decoder (PIL grayscale resize) drops in without changing the
    schema, the banding, or the verify join.
    """
    import numpy as np

    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float64)
    k = _PHASH_CELLS + 1
    n = arr.size
    if n < k:
        # tiny payload: some buckets are empty (mean 0.0) — keep the exact
        # array_split semantics on the rare path
        buckets = np.array_split(arr, k)
        means = np.array([b.mean() if b.size else 0.0 for b in buckets])
    else:
        # vectorized equivalent of np.array_split + per-bucket mean: the
        # first n%k buckets get n//k+1 elements (identical boundaries), and
        # add.reduceat sums each bucket in ONE ufunc call instead of 65
        # python-level slices per row — ~4x on the decode-bound hot path
        div, mod = divmod(n, k)
        sizes = np.full(k, div, dtype=np.int64)
        sizes[:mod] += 1
        edges = np.zeros(k, dtype=np.int64)
        np.cumsum(sizes[:-1], out=edges[1:])
        means = np.add.reduceat(arr, edges) / sizes
    bits = means[:-1] > means[1:]
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    # two's-complement into signed 64-bit so it rides a Spark LongType
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def _phash_batch(payloads) -> "np.ndarray":
    """Whole-batch dHash: bit-identical to ``_fake_decode_phash`` per row,
    but the bucket sums for EVERY row in the Arrow batch run in ONE
    ``np.add.reduceat`` over the concatenated payload bytes, and the 64-bit
    packing is one matrix-vector product — no per-row Python loop. Rows
    shorter than the bucket count (empty buckets — reduceat can't express
    those) fall back to the scalar path; they are rare and tiny by
    definition. Measured 0.65 s → ~0.25 s on the sf0.1 decode stage
    (SCALE.md, round-4 ``media_phash`` A/B)."""
    import numpy as np

    k = _PHASH_CELLS + 1
    raw = [(p if p else b"\x00") for p in payloads]
    lengths = np.fromiter((len(b) for b in raw), dtype=np.int64,
                          count=len(raw))
    out = np.zeros(len(raw), dtype=np.int64)
    small = lengths < k
    if small.any():
        for i in np.flatnonzero(small):
            out[i] = _fake_decode_phash(raw[i])
    big_rows = np.flatnonzero(~small)
    if big_rows.size:
        big = np.frombuffer(b"".join(raw[i] for i in big_rows),
                            dtype=np.uint8).astype(np.float64)
        n_arr = lengths[big_rows]
        div, mod = n_arr // k, n_arr % k
        # per-row bucket sizes: first n%k buckets take n//k+1 (identical
        # boundaries to np.array_split, matching the scalar path exactly)
        sizes = div[:, None] + (np.arange(k)[None, :] < mod[:, None])
        starts = np.zeros(big_rows.size, dtype=np.int64)
        np.cumsum(n_arr[:-1], out=starts[1:])
        inner = np.zeros((big_rows.size, k), dtype=np.int64)
        np.cumsum(sizes[:, :-1], axis=1, out=inner[:, 1:])
        edges = (starts[:, None] + inner).ravel()
        means = np.add.reduceat(big, edges).reshape(-1, k) / sizes
        bits = means[:, :-1] > means[:, 1:]
        weights = (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64))
        packed = (bits.astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64)
        out[big_rows] = packed.view(np.int64)  # two's-complement into long
    return out


def phash_media(media: DataFrame) -> DataFrame:
    """Perceptual hash per media row: Arrow-batched decode→hash crossing
    (one per batch), output pruned to (media_id, modality, phash)."""

    def hashes(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "phash": _phash_batch(list(pdf["payload"])),
            })

    return _spread_for_python(
        media.select("media_id", "modality", "payload")
    ).mapInPandas(hashes, schema=PHASH_SCHEMA)


def phash_near_duplicates(media: DataFrame,
                          band_bits: int = 16,
                          max_hamming: int = 6) -> DataFrame:
    """Near-duplicate media by perceptual hash: candidates collide on any
    ``band_bits``-wide band of the 64-bit dHash (4 bands of 16 bits
    guarantee recall up to hamming 3 and catch hamming ≲ 8 with high
    probability), then verify exact hamming ≤ ``max_hamming``.

    The image-side twin of text SimHash dedup (operators/dedup.py): the
    only Python crossing is the per-batch decode→hash; banding, the
    candidate equi-join, and the bit_count verify all stay JVM-side. Pairs
    are blocked within modality — an image never pairs with an audio clip.
    At 100 TB the band join shuffles (band, band_val, modality) keys whose
    group sizes are the bucket occupancies — skew shows up only if many
    payloads share a hash band, which is the duplicate mass itself.
    """
    from .dedup import banded_hamming_pairs

    # localCheckpoint the (tiny) hash table: the banded self-join reads it
    # twice, and without a materialization barrier each side would re-run
    # the Python decode stage over the full payload column. Checkpoint (not
    # persist) so the blocks free themselves when the result is GC'd.
    fp = phash_media(media).localCheckpoint()
    return banded_hamming_pairs(
        fp, "media_id", "phash", band_bits, max_hamming,
        block_cols=("modality",))


# ---------------------------------------------------------------------------
# Caption↔media alignment scoring (CLIP-score-style pair filter, stub encoder)
# ---------------------------------------------------------------------------

MEDIA_VEC_DIM = 16
MEDIA_VEC_SCHEMA = "media_id string, modality string, media_vec array<double>"


def _fake_media_encoder(payload: bytes, dim: int = MEDIA_VEC_DIM):
    """Deterministic stand-in for a vision/audio encoder: hash overlapping
    byte 4-grams into a ``dim``-bucket histogram, L2-normalized. Same
    output contract as a real encoder (fixed-dim unit float vector from
    raw bytes), so swapping in CLIP/CLAP weights changes no plumbing."""
    import numpy as np

    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    if arr.size < 4:
        arr = np.pad(arr, (0, 4 - arr.size))
    # rolling 4-gram key: base-257 polynomial of each byte window
    windows = (arr[:-3].astype(np.int64) * 257 ** 3
               + arr[1:-2].astype(np.int64) * 257 ** 2
               + arr[2:-1].astype(np.int64) * 257
               + arr[3:].astype(np.int64))
    vec = np.bincount(windows % dim, minlength=dim).astype(np.float64)
    n = np.linalg.norm(vec)
    return (vec / n if n else vec).tolist()


def encode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched bytes→vector encoding (the 'run the vision tower'
    stage). One Python crossing per batch; output is a plain
    array<double> column any downstream Column-algebra similarity op
    consumes — the encoder is the ONLY non-JVM stage in the pair-filter
    pipeline."""

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "media_vec": [_fake_media_encoder(p) for p in pdf["payload"]],
            })

    return _spread_for_python(
        media.select("media_id", "modality", "payload")
    ).mapInPandas(encode, schema=MEDIA_VEC_SCHEMA)


# ---------------------------------------------------------------------------
# Video near-duplicates: frame-level perceptual hashing
# ---------------------------------------------------------------------------

FRAME_HASH_SCHEMA = "media_id string, frame_idx long, fhash long"


def frame_hashes(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Per-frame perceptual hash table for video rows: sample frames
    (``sample_frames``) then dHash each frame's bytes — one Arrow crossing
    per batch, output pruned to (media_id, frame_idx, fhash). This is the
    video fingerprint artifact a dedup pipeline persists next to the
    corpus."""

    def hashes(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "fhash": _phash_batch(list(pdf["frame_bytes"])),
            })

    return (
        sample_frames(media, every_n=every_n)
        .select("media_id", "frame_idx", "frame_bytes")
        .mapInPandas(hashes, schema=FRAME_HASH_SCHEMA)
    )


def video_near_duplicates(media: DataFrame, band_bits: int = 16,
                          max_hamming: int = 6,
                          min_frame_match: float = 0.6,
                          every_n: int = 1) -> DataFrame:
    """Video near-duplicate pairs by frame-majority perceptual match: two
    videos pair when ≥ ``min_frame_match`` of the shorter video's sampled
    frames collide at the same frame index with hamming ≤ ``max_hamming``.

    The temporal extension of ``phash_near_duplicates``: candidates block
    on (frame_idx, band, band_val) so only same-position frames sharing a
    16-bit hash band ever meet — the join never goes |videos|² and decode
    cost is one pass over the frame table. Re-encoded/bit-rotted copies
    survive (dHash is gradient-stable); trimmed or re-cut videos need an
    alignment pass (as-of join on frame timestamps) that composes on top
    of the same frame-hash artifact.

    Scale: the shuffled key space is bucket occupancies of
    (frame_idx, band, band_val); skew concentrates exactly on duplicated
    content, which is the mass being removed.
    """
    fh = frame_hashes(media, every_n=every_n)
    out = _positional_near_duplicates(
        fh, pos_col="frame_idx", hash_col="fhash",
        band_bits=band_bits, max_hamming=max_hamming,
        min_match=min_frame_match)
    return out.select("a_id", "b_id", "n_matched",
                      F.col("a_units").alias("a_frames"),
                      F.col("b_units").alias("b_frames"),
                      "match_frac")


def _positional_near_duplicates(hashes_df: DataFrame, pos_col: str,
                                hash_col: str, band_bits: int,
                                max_hamming: int,
                                min_match: float) -> DataFrame:
    """Shared core of video/audio near-dup: pairs of media whose per-unit
    (frame/segment) 64-bit hashes collide at the same position on a
    ``band_bits`` band and verify at hamming ≤ ``max_hamming`` for at
    least ``min_match`` of the shorter side's units.

    ``hashes_df``: (media_id, <pos_col>, <hash_col>) — localCheckpointed
    here (two consumers: the banded self-join and the per-media counts).
    """
    from .dedup import banded_hamming_pairs

    fh = hashes_df.localCheckpoint()
    verified = banded_hamming_pairs(
        fh, "media_id", hash_col, band_bits, max_hamming,
        block_cols=(pos_col,))
    matches = (
        verified
        .groupBy("a_id", "b_id")
        .agg(F.count_distinct(pos_col).alias("n_matched"))
    )
    counts = fh.groupBy("media_id").agg(
        F.count_distinct(pos_col).alias("n_units"))
    # no broadcast hints on the counts table: it has one row per media,
    # which grows with the corpus — a forced broadcast is driver-memory-
    # bounded at scale. AQE broadcasts it while it fits and falls back to
    # a shuffled join beyond that.
    return (
        matches
        .join(counts.withColumnRenamed("media_id", "a_id")
                    .withColumnRenamed("n_units", "a_units"), "a_id")
        .join(counts.withColumnRenamed("media_id", "b_id")
                    .withColumnRenamed("n_units", "b_units"), "b_id")
        .withColumn(
            "match_frac",
            F.round(F.col("n_matched")
                    / F.least("a_units", "b_units"), 4))
        .filter(F.col("match_frac") >= min_match)
        .select("a_id", "b_id", "n_matched", "a_units", "b_units",
                "match_frac")
    )


SEGMENT_HASH_SCHEMA = "media_id string, segment_idx int, shash long"


def segment_hashes(media: DataFrame, segment_ms: int = 1000) -> DataFrame:
    """Per-segment perceptual hash table for audio rows (``segment_audio``
    windows, non-overlapping by default) — the audio fingerprint artifact,
    one Arrow crossing per batch."""

    def hashes(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "segment_idx": pdf["segment_idx"],
                "shash": _phash_batch(list(pdf["segment_bytes"])),
            })

    return (
        segment_audio(media, segment_ms=segment_ms)
        .select("media_id", "segment_idx", "segment_bytes")
        .mapInPandas(hashes, schema=SEGMENT_HASH_SCHEMA)
    )


def audio_near_duplicates(media: DataFrame, band_bits: int = 16,
                          max_hamming: int = 6,
                          min_segment_match: float = 0.6,
                          segment_ms: int = 1000) -> DataFrame:
    """Audio near-duplicate pairs by segment-majority perceptual match —
    the audio twin of ``video_near_duplicates`` over ``segment_audio``
    windows (a Chromaprint-style fingerprint pipeline has the same shape:
    per-window spectral hash → positional collision blocking → majority
    verify; the fake byte-level hash swaps for the real one without
    touching the join)."""
    sh = segment_hashes(media, segment_ms=segment_ms)
    out = _positional_near_duplicates(
        sh, pos_col="segment_idx", hash_col="shash",
        band_bits=band_bits, max_hamming=max_hamming,
        min_match=min_segment_match)
    return out.select("a_id", "b_id", "n_matched",
                      F.col("a_units").alias("a_segments"),
                      F.col("b_units").alias("b_segments"),
                      "match_frac")
