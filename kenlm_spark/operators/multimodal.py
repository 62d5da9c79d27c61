"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so only ``fmt='raw'`` (RGB24) is
decoded for real; PIL formats are attempted behind an import guard and
otherwise produce a deterministic fake decode (seeded from the content
hash) with ``decoded_real=false`` — the Spark-side plumbing (schema,
partitioning, UDF signature, Arrow batch shape) is real and tested either
way, which is the contract this module owns.

Scale notes: binary columns ride along untouched (never shuffled by the
filter pipeline); decode fan-out is map-only; per-batch memory is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch`` times max image size —
size that config to the largest expected decoded frame, not the average.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "image_id string, decoded_real boolean, dec_w int, dec_h int, "
    "mean_r double, mean_g double, mean_b double, thumb array<double>"
)


def _decode_one(data: bytes, w: int, h: int, fmt: str):
    """bytes -> (HxWx3 uint8 array, decoded_real)."""
    if fmt == "raw" and data is not None and len(data) == w * h * 3:
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3), True
    if fmt in ("png", "jpeg", "jpg"):
        try:
            import io

            from PIL import Image  # noqa: F401  (absent in this container)

            img = Image.open(io.BytesIO(data)).convert("RGB")
            return np.asarray(img), True
        except ImportError:
            pass
    # Deterministic fake: content-hash-seeded gradient (keeps the pipeline
    # exercisable end-to-end without codecs).
    seed = int(hashlib.md5(data or b"").hexdigest()[:8], 16)
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(max(h, 1), max(w, 1), 3), dtype=np.uint8), False


def _block_sums(arr: np.ndarray, out_h: int, out_w: int):
    """Vectorized block sums + pixel counts for block-mean downsampling.

    One ``np.add.reduceat`` per axis replaces the per-block Python loop
    (~out_h*out_w iterations per image). Edge semantics match the loop it
    replaced: a zero-height/width block (upsampling) falls back to the
    single row/column at its start index, and sums of integer-valued
    float64 inputs are exact, so downstream means are bit-identical to the
    loop version.
    """
    h, w = arr.shape[:2]
    ys = np.linspace(0, h, out_h + 1).astype(int)
    xs = np.linspace(0, w, out_w + 1).astype(int)
    yi = np.minimum(ys[:-1], h - 1)
    xi = np.minimum(xs[:-1], w - 1)
    s = np.add.reduceat(arr.astype(np.float64), yi, axis=0)
    s = np.add.reduceat(s, xi, axis=1)
    cnt = (
        np.maximum(np.diff(ys), 1)[:, None] * np.maximum(np.diff(xs), 1)[None, :]
    ).astype(np.float64)
    return s, cnt


def _thumb(img: np.ndarray, side: int = 4) -> np.ndarray:
    """Block-mean downsample to side x side grayscale."""
    s, cnt = _block_sums(img.mean(axis=2), side, side)
    return (s / cnt).ravel()


def image_features(images: DataFrame) -> DataFrame:
    """Decode + feature-extract: mean channel values and a 4x4 thumbnail.

    Input needs columns (image_id, bytes, w, h, fmt).
    """

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img, real = _decode_one(
                    bytes(r.bytes) if r.bytes is not None else None,
                    int(r.w), int(r.h), str(r.fmt),
                )
                means = img.reshape(-1, 3).mean(axis=0)
                rows.append(
                    {
                        "image_id": r.image_id,
                        "decoded_real": real,
                        "dec_w": img.shape[1],
                        "dec_h": img.shape[0],
                        "mean_r": float(means[0]),
                        "mean_g": float(means[1]),
                        "mean_b": float(means[2]),
                        "thumb": _thumb(img).tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(run, FEATURE_SCHEMA)


def resize_images(
    images: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Deterministic block-mean resize of decoded images to out_w x out_h,
    returning raw RGB24 bytes — map-only mapInPandas over binary columns.

    Input (image_id, bytes, w, h, fmt); output (image_id, decoded_real,
    w, h, bytes) with the SAME schema shape, so resized tables compose
    with every other image operator. Uses the shared decode hook
    (_decode_one): raw RGB is decoded for real; codec formats fall back
    to the deterministic fake unless PIL is available.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img, real = _decode_one(
                    bytes(r.bytes) if r.bytes is not None else None,
                    int(r.w), int(r.h), str(r.fmt),
                )
                s, cnt = _block_sums(img, out_h, out_w)
                out = (s / cnt[:, :, None]).astype(np.uint8)
                rows.append(
                    {
                        "image_id": r.image_id,
                        "decoded_real": real,
                        "w": out_w,
                        "h": out_h,
                        "bytes": out.tobytes(),
                    }
                )
            yield pd.DataFrame(rows)

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(
        run,
        "image_id string, decoded_real boolean, w int, h int, bytes binary",
    )


FRAME_SCHEMA = (
    "video_id string, frame_idx long, decoded_real boolean, frame_bytes binary"
)


def _default_frame_decoder(data: bytes, fmt: str, n_frames: int):
    """Codec hook. Real video codecs are absent from this container, so
    the default decoder yields DETERMINISTIC FAKE frames — equal byte
    slices of the blob (content-faithful, reproducible) marked
    decoded_real=False. Supply a real decoder (same signature: yields
    (frame_idx, bytes) per frame) to decode actual video."""
    if not data or n_frames <= 0:
        return
    step = max(len(data) // n_frames, 1)
    for idx in range(n_frames):
        lo = min(idx * step, len(data))
        hi = min(lo + step, len(data))
        yield idx, data[lo:hi]


def frame_sample(
    video: DataFrame, every_n: int = 30, decode_fn=_default_frame_decoder
) -> DataFrame:
    """Video frame sampling: one output row per SAMPLED frame (every
    ``every_n``-th), map-only fan-out via mapInPandas.

    Input (video_id, bytes, fmt, n_frames); output
    (video_id, frame_idx, decoded_real, frame_bytes). The decode step is
    pluggable (``decode_fn``); the default is a deterministic fake (no
    codecs in this container, decoded_real=False) so the Spark plumbing —
    schema, Arrow batch shape, fan-out row explosion, partitioning — is
    real and tested either way.
    """
    real = decode_fn is not _default_frame_decoder

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, reals, frames = [], [], [], []
            for r in pdf.itertuples():
                data = bytes(r.bytes) if r.bytes is not None else b""
                for idx, frame in decode_fn(data, str(r.fmt), int(r.n_frames)):
                    if idx % every_n:
                        continue
                    ids.append(r.video_id)
                    idxs.append(idx)
                    reals.append(real)
                    frames.append(frame)
            yield pd.DataFrame(
                {
                    "video_id": ids,
                    "frame_idx": idxs,
                    "decoded_real": reals,
                    "frame_bytes": frames,
                }
            )

    cols = ["video_id", "bytes", "fmt", "n_frames"]
    return video.select(*cols).mapInPandas(run, FRAME_SCHEMA)


def binary_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Catalyst-only metadata over a binary column (no Python)."""
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.conv(F.substring(F.hex(F.col(bin_col)), 1, 2), 16, 10)
        .cast("long")
        .alias("first_byte"),
    )


def audio_features(
    df: DataFrame, id_col: str = "doc_id", bytes_col: str = "audio",
    window: int = 16,
) -> DataFrame:
    """Audio-column plumbing: REAL PCM16 little-endian decode (no codec
    needed — raw PCM is bytes), fixed-size windowing, and per-window
    features (RMS, zero crossings) — the audio twin of the image ops:
    map-only mapInPandas over an opaque binary column, vectorized numpy
    inside, one output row per (clip, window).

    Output: (id, win_idx, n_samples, rms, zero_cross). RMS is
    round(sqrt(mean(v^2)), 3); zero_cross counts sign products < 0
    between consecutive samples within the window — both exact-integer
    computations up to the final sqrt, so the DuckDB twin matches
    bitwise after the shared round().
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, widx, ns, rms, zc = [], [], [], [], []
            for rid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                samples = np.frombuffer(bytes(blob), dtype="<i2")
                n_win = len(samples) // window
                for w in range(n_win):
                    v = samples[w * window : (w + 1) * window].astype(
                        np.int64
                    )
                    ids.append(rid)
                    widx.append(w)
                    ns.append(len(v))
                    rms.append(
                        round(float(np.sqrt((v * v).sum() / len(v))), 3)
                    )
                    zc.append(int(((v[:-1] * v[1:]) < 0).sum()))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "win_idx": pd.Series(widx, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "zero_cross": pd.Series(zc, dtype="int64"),
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(
        run,
        "id long, win_idx long, n_samples long, rms double, zero_cross long",
    )


# ------------------------------------------------------------- phash


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (the classic pHash transform)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_matrix(32)


def phash64_one(img: "np.ndarray") -> int:
    """64-bit DCT perceptual hash of an RGB image (the `phash` column of
    the north-rule input schema, computed rather than trusted):
    grayscale → 32×32 area resample → 2-D DCT-II → sign-vs-median of the
    top-left 8×8 low-frequency block (DC excluded from the median, the
    standard pHash recipe). Deterministic, pure numpy."""
    gray = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    # block MEANS, not sums: uneven block sizes (h or w not divisible by
    # 32) would otherwise imprint a fixed sampling comb that dominates
    # the DCT across all images
    sums, cnt = _block_sums(gray, 32, 32)
    small = sums / cnt
    freq = _DCT32 @ small @ _DCT32.T
    block = freq[:8, :8].ravel()
    med = np.median(block[1:])
    bits = block > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # int64 view (the schema stores phash as a signed 64-bit column)
    return out - (1 << 64) if out >= 1 << 63 else out


def with_phash(
    images: DataFrame, out_col: str = "phash_computed"
) -> DataFrame:
    """Append the computed 64-bit perceptual hash per image (map-only
    Arrow pass over (bytes, w, h, fmt))."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            vals = []
            for data, w, h, fmt in zip(
                pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                img, _real = _decode_one(data, int(w), int(h), fmt)
                vals.append(
                    phash64_one(img) if img is not None else None
                )
            pdf = pdf.copy()
            pdf[out_col] = pd.array(vals, dtype="Int64")
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in images.schema.fields
    ) + f", {out_col} bigint"
    return images.mapInPandas(run, schema)


def phash_near_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int = 2000,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(phash) <= max_hamming —
    visually-near-duplicate images. Exact recall by pigeonhole: the
    64-bit hash splits into max_hamming+1 bands, any qualifying pair
    agrees on >= 1 whole band; band-bucket join + exact popcount verify
    (the simhash banding argument on the image modality). Buckets over
    ``max_bucket`` are dropped (flat-color boilerplate guard).

    Band-saturation constraint (the scale knob): each band has
    ``64 // (max_hamming+1)`` bits, so a corpus of N images fills a
    band's ``2^width`` buckets with ~``N / 2^width`` members each —
    once that exceeds ``max_bucket`` the guard starts dropping WHOLE
    buckets and recall collapses. max_hamming=6 (9-10-bit bands)
    saturates beyond ~1M images; the production 64-bit-pHash near-dup
    threshold max_hamming=2 gives 3 bands x 21 bits (2M buckets/band)
    and holds to ~10^9 images per shard — beyond that, shard by a
    coarse key (e.g. phash's top byte) or move to a longer hash.
    ``scripts/bench_scaling.py --workload phash`` measures the N->4N
    scaling of this operator at max_hamming=2."""
    return _phash_pair_emissions(
        df, id_col, phash_col, max_hamming, max_bucket
    ).distinct()


def phash_dropped_ids(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int = 2000,
) -> DataFrame:
    """DISTINCT ``id_b`` of :func:`phash_near_pairs` — the dropped-id
    set of the greedy smaller-id-wins dedup rule, WITHOUT the pair-level
    distinct (r8, guide §2.3): a dense near-dup cluster emits each pair
    from up to ``max_hamming + 1`` bands, and ``distinct`` over those
    multi-band pair emissions is a pair-scale 4-column shuffle.  The
    labels path only needs the distinct losers, and
    ``distinct(id_b over emissions) == distinct(id_b over distinct
    pairs)`` by set algebra, so deduping the single id column instead
    lets the partial (map-side) aggregate collapse the pair fan-out to
    at most #distinct-ids rows per task before the exchange.  The
    hamming verify runs per EMISSION (cheap codegen popcount) — the
    qualifying-pair set is unchanged."""
    return (
        _phash_pair_emissions(df, id_col, phash_col, max_hamming, max_bucket)
        .select("id_b")
        .distinct()
    )


def _phash_pair_emissions(
    df: DataFrame,
    id_col: str,
    phash_col: str,
    max_hamming: int,
    max_bucket: int,
) -> DataFrame:
    """(id_a, id_b, hamming) candidate-pair EMISSIONS, hamming-verified
    but NOT dedup'd across bands: a qualifying pair appears once per
    band whose bucket both members share (and survived the size guard).
    ``phash_near_pairs`` dedups the pairs; ``phash_dropped_ids`` dedups
    only ``id_b``.  The popcount verify runs before either distinct so
    non-qualifying candidates never reach an exchange."""
    if not 1 <= max_hamming <= 63:
        # 0 would make the single band's mask 2^64-1 (exceeds BIGINT in
        # both engines) — and Hamming-0 IS exact dedup: groupBy(phash)
        raise ValueError(
            "max_hamming must be in [1, 63]; for exact phash matches "
            "use an exact groupBy-dedup on the phash column"
        )
    n_bands = max_hamming + 1
    width = 64 // n_bands
    band_structs = []
    for b in range(n_bands):
        shift = b * width
        w = width if b < n_bands - 1 else 64 - shift
        # bands are built over the renamed "ph" column (the projection
        # below), not phash_col — referencing the caller's name here
        # breaks for any phash_col != "ph"
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(
                    F.col("ph"), shift
                ).bitwiseAND(F.lit((1 << w) - 1)).alias("bucket"),
            )
        )
    base = df.select(
        F.col(id_col).alias("id"), F.col(phash_col).alias("ph")
    )
    bands = base.select(
        "id", "ph", F.explode(F.array(*band_structs)).alias("_bb")
    ).select("id", "ph", F.col("_bb.band").alias("band"),
             F.col("_bb.bucket").alias("bucket"))
    # Size-filter via a window count BEFORE any pairing (r5 guard,
    # mirrors minhash_lsh_pairs): a flat-color bucket never reaches the
    # pair stage; WindowExec's row buffer spills.
    w_bucket = Window.partitionBy("band", "bucket")
    kept = (
        bands.withColumn("_n", F.count(F.lit(1)).over(w_bucket))
        .filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
        .select("id", "ph", "band", "bucket")
    )
    # Bucket SELF-JOIN pair expansion (r8): the r5 collect_list +
    # flatten(transform(slice(...))) fan-out allocated O(m²) interpreted
    # HOF structs per bucket (~90M at 50k docs with dense clusters) and
    # dominated every phash query; the equi-join form generates the
    # identical i<j-by-id pair set through whole-stage codegen, with the
    # popcount verify inlined as a cheap intrinsic in the join filter
    # (the simhash_near_pairs shape).  The window's (band, bucket) hash
    # partitioning satisfies the join's distribution, so both sides
    # reuse one exchange shape and no per-bucket array is ever
    # materialized (also deleting the r5 collect_list memory concern).
    a = kept.select(
        "band", "bucket",
        F.col("id").alias("id_a"), F.col("ph").alias("ph_a"),
    )
    b = kept.select(
        "band", "bucket",
        F.col("id").alias("id_b"), F.col("ph").alias("ph_b"),
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_near_pairs_sql(
    table: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int = 2000,
) -> str:
    """DuckDB twin of :func:`phash_near_pairs` — identical banding
    (``max_hamming + 1`` bands, remainder bits in the LAST band), the
    same ``2 <= bucket size <= max_bucket`` guard, and the same exact
    popcount verify.  ``table`` may be a CTE name.  Assumes non-negative
    phash values (arithmetic ``>>`` == the Spark side's unsigned shift);
    the engine's synthesized 60-bit hashes satisfy this by construction.
    """
    if not 1 <= max_hamming <= 63:
        raise ValueError(
            "max_hamming must be in [1, 63]; for exact phash matches "
            "use an exact groupBy-dedup on the phash column"
        )
    n_bands = max_hamming + 1
    width = 64 // n_bands
    band_rows = []
    for b in range(n_bands):
        shift = b * width
        w = width if b < n_bands - 1 else 64 - shift
        band_rows.append(
            f"SELECT {id_col} AS id, {phash_col} AS ph, {b} AS band, "
            f"({phash_col} >> {shift}) & {(1 << w) - 1} AS bucket "
            f"FROM {table}"
        )
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH _pb AS ({bands}),
_ps AS (
  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS _n FROM _pb
),
_pf AS (SELECT * FROM _ps WHERE _n > 1 AND _n <= {max_bucket})
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
FROM _pf a JOIN _pf b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
WHERE bit_count(xor(a.ph, b.ph)) <= {max_hamming}
"""


def phash_dedup_labels(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int = 2000,
    broadcast_drops: bool = True,
) -> DataFrame:
    """Per-image keep/drop labels from phash Hamming near-duplicates:
    drop every image that has a near-duplicate with a smaller id (the
    standard greedy LSH-dedup rule — deterministic, one pass; in a chain
    a<b<c with b~a, c~b, c!~a it over-drops c, which is the accepted
    trade-off vs an iterative connected-components pass, available
    separately as ``dedup.dedup_components``).

    Scale shape: the banded self-join is the only unavoidable
    corpus-size shuffle (band buckets are bounded by ``max_bucket``).
    The dropped-id set is DUPLICATE-bounded, not constant: at low dup
    rates it broadcasts back onto the spine (``broadcast_drops=True``,
    label join exchange-free on the corpus side), but a dedup-heavy
    corpus (a real crawl runs 30-80% near-dups) makes it corpus-scale —
    pass ``broadcast_drops=False`` there and the labels come from an
    id-keyed shuffle join instead (measured: the forced broadcast OOMs
    the driver at a 6.4M-id dropped set; ``scripts/bench_scaling.py
    --workload phash`` runs the shuffle path).
    """
    dropped = (
        phash_dropped_ids(df, id_col, phash_col, max_hamming, max_bucket)
        .select(F.col("id_b").alias(id_col))
        .withColumn("_dup", F.lit(True))
    )
    if broadcast_drops:
        dropped = F.broadcast(dropped)
    return df.join(dropped, id_col, "left").select(
        id_col,
        phash_col,
        F.col("_dup").isNull().alias("keep"),
    )
