"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns; the Spark-side plumbing
(schema, Arrow batch shape, mapInPandas iterator discipline, partition
sizing) is real and tested. Round 5 makes the codec itself real within
the sandbox (functions/imagecodec.py, dependency-free):

- metadata (``decode_image_meta``): REAL header parsing for PNG, GIF,
  JPEG, BMP and PPM/PGM, plus the deterministic fake wire format;
- pixels (``extract_features``/``decode_channel_sums``/``image_dhash``):
  REAL decode for every container — BMP 24/32-bit BI_RGB, PPM/PGM
  (binary and ASCII), PNG (stdlib-zlib inflate + spec un-filtering),
  GIF (pure-Python LZW) and baseline/extended-sequential JPEG
  (pure-Python ITU-T.81 Huffman + IDCT, 4:4:4/4:2:2/4:2:0, restart
  markers).

No library seam remains for the mainstream web-image path. The only
shapes that still raise by name are genuinely rarer container variants
(progressive SOF2 / arithmetic-coded / 12-bit / CMYK JPEG, interlaced
or 16-bit PNG, 16-bit netpbm) — each raises ``NotImplementedError``
naming itself, and each is a drop-in extension point.

Audio and video are real too (functions/audiocodec.py): RIFF PCM WAV
header parse + full 8/16-bit sample decode with integer amplitude
features (``decode_audio_meta`` / ``audio_features``), and ISO-BMFF
(MP4/MOV) box-tree metadata (``decode_video_meta``). Video FRAME
pixels are real for AVI/MJPEG (``sample_video_frames``: RIFF walk →
every-Nth frame select → the pure-Python JPEG decoder). Compressed
audio (MP3/AAC) and modern video codecs (H.264/VP9/AV1) raise by name
— the explicit GPU-stage seam; their container metadata works.

Fake wire format (deterministic, oracle-reproducible):
    b"IMG|<width>|<height>|<fmt>|" + payload-bytes
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.functions import imagecodec
from dss_plugin_nlp_analysis_spark.operators.dedup import _bucket_pairs

__all__ = [
    "fake_image_binary", "decode_image_meta",
    "extract_features", "decode_channel_sums",
    "decode_audio_meta", "audio_features", "decode_video_meta",
    "sample_video_frames",
    "image_dhash",
    "dhash_candidate_pairs",
    "audio_fingerprint",
    "video_scene_changes",
]

META_SCHEMA = "id long, width int, height int, fmt string, payload_bytes int"


def fake_image_binary(width: Column, height: Column, payload: Column) -> Column:
    """Build the deterministic fake image bytes from typed columns."""
    header = F.concat_ws("|", F.lit("IMG"), width.cast("string"), height.cast("string"), F.lit("raw"))
    return F.encode(F.concat(header, F.lit("|"), payload), "utf-8")


def _decode_header(buf: bytes) -> tuple[int, int, str, int]:
    """The metadata decode seam: fake wire format, else a REAL container
    header parse (PNG/GIF/JPEG/BMP/PPM/PGM — imagecodec.sniff). For real
    containers ``payload_bytes`` is the stored object size (the column a
    crawl-pipeline filter actually wants); for the fake format it is the
    fake payload length (oracle-pinned)."""
    if buf is None:
        raise NotImplementedError("cannot decode NULL image bytes")
    b = bytes(buf)
    head = b.split(b"|", 4)
    if head[0] == b"IMG" and len(head) == 5:
        return int(head[1]), int(head[2]), head[3].decode(), len(head[4])
    meta = imagecodec.sniff(b)
    if meta is None:
        raise NotImplementedError(
            "unrecognized image container (PNG/GIF/JPEG/BMP/PPM/PGM and "
            "the IMG|w|h|fmt|payload fake format are supported)"
        )
    fmt, w, h = meta
    return w, h, fmt, len(b)


def decode_image_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas decode: binary column → typed metadata rows.

    Arrow batches stream through Python once; output schema is fixed so
    downstream stays native. Per-batch vectorization is the real plumbing
    being exercised; only ``_decode_header`` is a stub seam.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_header(b) for b in pdf[bin_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "fmt": [m[2] for m in metas],
                    "payload_bytes": [m[3] for m in metas],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(decode, META_SCHEMA)


def extract_features(
    df: DataFrame, id_col: str, bin_col: str, dim: int = 16
) -> DataFrame:
    """mapInPandas feature extraction: binary → ``array<float>`` embedding.

    The model forward pass is the stub seam — here a deterministic
    md5-derived featurizer (same construction as the LSH hyperplanes, so
    it is engine-reproducible); a real encoder (CLIP/torchvision) plugs in
    at ``_featurize``. Output plugs directly into the embedding ops
    (``cosine_topk`` / ``lsh_ann_topk`` / ``cosine_dup_pairs``): the
    multimodal dedup path is decode → extract_features → LSH dup pairs.
    """
    import hashlib

    def _featurize(buf: bytes) -> list[float]:
        if buf is None:
            raise NotImplementedError("cannot featurize NULL image bytes")
        b = bytes(buf)
        if not b.startswith(b"IMG|"):
            # REAL pixel features for decodable containers: per-column-strip
            # luma means in [-1, 1] — deterministic integer pooling, no
            # model. A learned encoder (CLIP/torchvision) plugs in here
            # for richer semantics; compressed formats raise inside
            # decode_rgb (the library seam).
            arr = imagecodec.decode_rgb(b)
            luma = arr.astype("int64").sum(axis=2) // 3
            w = luma.shape[1]
            vals = []
            for d in range(dim):
                lo = min(d * w // dim, w - 1)
                hi = max((d + 1) * w // dim, lo + 1)
                strip = luma[:, lo:hi]
                vals.append(int(strip.sum()) // strip.size)
            return [v / 255.0 * 2.0 - 1.0 for v in vals]
        out = []
        for d in range(dim):
            h = int(hashlib.md5(b + b"|%d" % d).hexdigest()[:15], 16)
            out.append(h / float(2 ** 60) * 2.0 - 1.0)
        return out

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].values,
                    "embedding": [_featurize(b) for b in pdf[bin_col]],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(
        featurize, "id long, embedding array<float>"
    )


CHANNEL_SUMS_SCHEMA = (
    "id long, width int, height int, sum_r long, sum_g long, sum_b long"
)


def decode_channel_sums(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL pixel decode, oracle-exact: per-image integer channel sums
    over the decoded RGB array (BMP/PPM/PGM). Integer outputs make the
    result value-hash-comparable across engines — the correctness gate
    for the real decode path (a DuckDB oracle can reconstruct the same
    PPM bytes and sum ASCII pixel codes positionally)."""

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dss_plugin_nlp_analysis_spark.functions.imagecodec import decode_rgb

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                arr = decode_rgb(b).astype("int64")
                rows.append(
                    (
                        i,
                        arr.shape[1],
                        arr.shape[0],
                        int(arr[:, :, 0].sum()),
                        int(arr[:, :, 1].sum()),
                        int(arr[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "sum_r", "sum_g", "sum_b"]
            )

    return df.select(id_col, bin_col).mapInPandas(sums, CHANNEL_SUMS_SCHEMA)


# ------------------------------------------------------------ audio/video

AUDIO_META_SCHEMA = (
    "id long, channels int, sample_rate int, bits int, n_samples long, "
    "duration_ms long"
)
AUDIO_FEATURES_SCHEMA = (
    "id long, n_samples long, sum_abs long, max_abs long, zero_crossings long"
)
VIDEO_META_SCHEMA = (
    "id long, brand string, timescale long, duration long, width int, "
    "height int, duration_ms long"
)


def decode_audio_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas audio-metadata decode: RIFF PCM WAV headers →
    (channels, sample_rate, bits, n_samples, duration_ms). Real header
    parse (functions/audiocodec.sniff_wav); compressed audio raises by
    name at the codec. duration_ms = n_samples * 1000 // sample_rate
    (integer floor — oracle-replicable)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dss_plugin_nlp_analysis_spark.functions.audiocodec import sniff_wav

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                meta = sniff_wav(b)
                if meta is None:
                    raise NotImplementedError(
                        "unrecognized audio container (RIFF PCM WAV supported)"
                    )
                nch, rate, bits, n = meta
                rows.append((i, nch, rate, bits, n, n * 1000 // rate))
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "channels", "sample_rate", "bits", "n_samples",
                    "duration_ms",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(decode, AUDIO_META_SCHEMA)


def audio_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """REAL PCM decode, oracle-exact: integer amplitude features over the
    decoded channel-0 samples — sum of absolute amplitudes, peak, and
    sign-change (zero-crossing) count, where a crossing is counted at
    index i>0 iff (s[i-1] < 0) != (s[i] < 0). All-integer outputs
    value-hash across engines, the same gate design as
    ``decode_channel_sums`` for images."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import decode_pcm

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                s = decode_pcm(b)[:, 0].astype(np.int64)
                neg = s < 0
                rows.append(
                    (
                        i,
                        len(s),
                        int(np.abs(s).sum()),
                        int(np.abs(s).max()) if len(s) else 0,
                        int((neg[1:] != neg[:-1]).sum()) if len(s) > 1 else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "n_samples", "sum_abs", "max_abs", "zero_crossings"],
            )

    return df.select(id_col, bin_col).mapInPandas(feats, AUDIO_FEATURES_SCHEMA)


def decode_video_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas video-metadata decode: ISO-BMFF (MP4/MOV) box-tree
    walk → (brand, timescale, duration, width, height, duration_ms).
    Frame pixel decode (H.264/VP9/AV1) is the explicit GPU-stage seam;
    the metadata here is what the pipeline filters/partitions on before
    that stage. duration_ms = duration * 1000 // timescale."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dss_plugin_nlp_analysis_spark.functions.audiocodec import sniff_mp4

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                meta = sniff_mp4(b)
                if meta is None:
                    raise NotImplementedError(
                        "unrecognized video container (ISO-BMFF supported)"
                    )
                brand, ts, dur, w, h = meta
                rows.append((i, brand, ts, dur, w, h, dur * 1000 // ts))
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "brand", "timescale", "duration", "width", "height",
                    "duration_ms",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(decode, VIDEO_META_SCHEMA)


FRAME_SUMS_SCHEMA = (
    "id long, frame_idx int, width int, height int, sum_r long, sum_g long, "
    "sum_b long"
)


def sample_video_frames(
    df: DataFrame, id_col: str, bin_col: str, every: int = 10
) -> DataFrame:
    """REAL video frame sampling: walk the AVI container to the 'movi'
    stream (functions/audiocodec.iter_avi_frames), keep every
    ``every``-th frame, entropy-decode its MJPEG payload with the
    pure-Python JPEG decoder and emit integer per-channel pixel sums —
    one output row per sampled frame. Container walk → frame select
    → pixel decode run inside one mapInPandas pass (decode cost stays
    on the executors, proportional to frames KEPT, not frames stored —
    the property that matters when the stored stream is hours long).
    Non-MJPEG payloads raise inside decode_rgb, by name."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import (
            iter_avi_frames,
        )
        from dss_plugin_nlp_analysis_spark.functions.imagecodec import decode_rgb

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                for idx, payload in enumerate(iter_avi_frames(b)):
                    if idx % every:
                        continue
                    arr = decode_rgb(payload).astype(np.int64)
                    rows.append(
                        (
                            i,
                            idx,
                            arr.shape[1],
                            arr.shape[0],
                            int(arr[:, :, 0].sum()),
                            int(arr[:, :, 1].sum()),
                            int(arr[:, :, 2].sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame_idx", "width", "height", "sum_r", "sum_g",
                    "sum_b",
                ],
            )

    return df.select(id_col, bin_col).mapInPandas(sample, FRAME_SUMS_SCHEMA)


DHASH_SCHEMA = "id long, width int, height int, dhash long"


def image_dhash(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL decoded pixels — the
    image near-dup signal completing the multimodal dedup story: decode
    (any supported container), nearest-neighbor resample to 9x8, integer
    luma ``(299R + 587G + 114B) div 1000``, then 64 bits of
    left-vs-right luma comparison (bit ``y*8+x`` set iff
    ``luma[y][x] > luma[y][x+1]``). Identical images — and re-encodes /
    mild recompressions of them — collide; group by ``dhash`` for exact
    perceptual dedup, or band the 64 bits (``dhash_candidate_pairs``)
    for Hamming-tolerant candidates.

    Every stage is deterministic integer arithmetic over the decoded
    array (the resize index map is ``min(floor((dst+0.5)·src/size),
    src-1)`` = ``min(((2·dst+1)·src) div (2·size), src-1)`` exactly), so
    a SQL oracle can replay the hash from reconstructed pixel bytes.

    Scale shape: Arrow-batched ``mapInPandas`` over the binary column —
    embarrassingly parallel, zero shuffle; the downstream groupBy ships
    (id, 8-byte hash) rows only.
    """

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dss_plugin_nlp_analysis_spark.functions.imagecodec import (
            decode_rgb,
            resize_nearest,
        )

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                arr = decode_rgb(b)
                small = resize_nearest(arr, 9, 8).astype(np.int64)
                luma = (
                    299 * small[:, :, 0]
                    + 587 * small[:, :, 1]
                    + 114 * small[:, :, 2]
                ) // 1000
                # packed as SIGNED int64 two's complement: bit 63's
                # contribution is -2^63, so the 64-bit hash fits the
                # long column exactly (and SQL can sum the same terms
                # without overflowing BIGINT)
                h = 0
                for y in range(8):
                    for x in range(8):
                        if luma[y, x] > luma[y, x + 1]:
                            pos = y * 8 + x
                            h += -(1 << 63) if pos == 63 else 1 << pos
                rows.append((i, arr.shape[1], arr.shape[0], h))
            yield pd.DataFrame(rows, columns=["id", "width", "height", "dhash"])

    return df.select(id_col, bin_col).mapInPandas(hashes, DHASH_SCHEMA)


def dhash_candidate_pairs(
    hashes: DataFrame,
    id_col: str = "id",
    dhash_col: str = "dhash",
    *,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Hamming-tolerant image near-dup candidates from dHash values —
    the LSH step after ``image_dhash``: the 64-bit hash splits into
    ``bands`` equal bit slices; images agreeing on ANY whole slice become
    a candidate pair (with 4 bands, any pair within Hamming distance 3 is
    guaranteed caught; verify candidates downstream if exactness
    matters).

    Band keys are ``b|(dhash >> width·b) & mask`` — the mask makes
    arithmetic and logical shifts agree even though the packed hash is
    signed, so the keys are engine-portable. The keys then go through
    the MinHash operators' bucket step (``dedup._bucket_pairs``): one
    groupBy(band_key), ``max_bucket_size`` dropping degenerate buckets
    (solid-color web graphics all hash to 0; a bucket's size counts its
    hash rows) before the quadratic pair step. Returns ``(id_a, id_b)``
    with ``id_a < id_b``, distinct; equal and NULL ids never pair. A row
    with a NULL ``dhash`` has no band keys: it neither pairs nor counts
    toward ``max_bucket_size``.
    """
    if bands < 1 or 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.where(F.col(dhash_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(b),
                        F.expr(
                            f"shiftright({dhash_col}, {b * width}) & {mask}"
                        ).cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    return _bucket_pairs(banded, max_bucket_size)


AUDIO_FP_SCHEMA = "id long, n_samples long, fingerprint long"


def audio_fingerprint(
    df: DataFrame, id_col: str, bin_col: str, *, windows: int = 16
) -> DataFrame:
    """Time-domain audio energy fingerprint over REAL decoded PCM — the
    audio member of the perceptual-dedup family (images: ``image_dhash``):
    channel-0 samples split into ``windows`` chunks (sample j lands in
    chunk ``(j·W) div n`` — the monotone integer partition both engines
    replay), per-chunk energy ``Σ s²`` in exact int64, and bit ``i`` of
    the fingerprint set iff ``energy[i+1] > energy[i]`` — the
    adjacent-energy-contour comparison that survives volume scaling
    direction and is robust to small offsets, the spirit of
    Haitsma-Kalker binary fingerprints without the float FFT (a
    deliberate trade: deterministic integer math the oracle can replay
    beats spectral precision here; a production spectral front-end drops
    in before the comparison stage).

    Returns ``(id, n_samples, fingerprint)`` — ``windows-1`` bits, so
    ``windows <= 64``. Empty chunks (n < windows) have energy 0. Group
    by fingerprint, or band the bits (``dhash_candidate_pairs`` accepts
    any packed hash), for near-dup candidates.

    Scale shape: Arrow-batched ``mapInPandas``, zero shuffle.
    """
    if not 2 <= windows <= 64:
        raise ValueError(f"windows must be in [2, 64], got {windows}")

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import decode_pcm

        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[bin_col]):
                s = decode_pcm(b)[:, 0].astype(np.int64)
                n = len(s)
                h = 0
                if n:
                    idx = (np.arange(n, dtype=np.int64) * windows) // n
                    en = np.zeros(windows, dtype=np.int64)
                    np.add.at(en, idx, s * s)
                    for w in range(windows - 1):
                        if en[w + 1] > en[w]:
                            h |= 1 << w
                rows.append((i, n, h))
            yield pd.DataFrame(rows, columns=["id", "n_samples", "fingerprint"])

    return df.select(id_col, bin_col).mapInPandas(fp, AUDIO_FP_SCHEMA)


def video_scene_changes(
    frames: DataFrame, *, min_delta_ppm: int = 100_000
) -> DataFrame:
    """Scene-cut detection over sampled-frame statistics — the shot
    segmentation a video training pipeline runs after
    ``sample_video_frames``: consecutive sampled frames whose mean
    intensity jumps by more than ``min_delta_ppm`` of full scale mark a
    cut (solid-color/graphics intros, slide changes, hard cuts; a
    content-aware histogram comparator drops in on the same lag shape).

    Per frame (with a predecessor): intensity ``I = (299·sum_r +
    587·sum_g + 114·sum_b) div 1000`` (the luma weights over per-frame
    channel sums), ``delta_ppm = |I − I_prev| · 10^6 div (255·w·h)``
    (fraction of the frame's full-scale intensity range), ``is_change =
    delta_ppm >= min_delta_ppm``. First sampled frame of each video
    emits no row (no predecessor).

    Scale shape: one window partitioned BY VIDEO over the sampled-frame
    rows — per-key width is frames-kept-per-video (the ``every``-th
    sampling already bounded it), never the corpus.
    """
    if not 0 <= min_delta_ppm <= 1_000_000:
        raise ValueError(
            f"min_delta_ppm must be in [0, 10^6], got {min_delta_ppm}"
        )
    from pyspark.sql import Window

    intensity = F.floor(
        (
            299 * F.col("sum_r")
            + 587 * F.col("sum_g")
            + 114 * F.col("sum_b")
        )
        / 1000
    )
    w = Window.partitionBy("id").orderBy("frame_idx")
    cur = frames.select(
        "id", "frame_idx", "width", "height", intensity.alias("_i")
    )
    lagged = cur.select(
        "*",
        F.lag("_i").over(w).alias("_pi"),
        F.lag("frame_idx").over(w).alias("prev_idx"),
    ).where(F.col("_pi").isNotNull())
    delta = F.floor(
        F.abs(F.col("_i") - F.col("_pi"))
        * 1_000_000
        / (255 * F.col("width") * F.col("height"))
    ).cast("long")
    return lagged.select(
        "id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("prev_idx").cast("int").alias("prev_idx"),
        delta.alias("delta_ppm"),
        (delta >= min_delta_ppm).cast("int").alias("is_change"),
    )
