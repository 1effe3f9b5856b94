"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Decode tiers (all three modalities have a REAL dependency-free path):
* **image: netpbm (P5/P6)** — pure-Python decoder below: exact integer
  arithmetic (deterministic across platforms, safe to feed hash-gated
  oracles). ``synth_media`` emits real P6 payloads so the full
  decode->feature pipeline is exercised end-to-end in-sandbox.
* **audio: RIFF/WAVE PCM16** — pure-Python chunk walker + struct
  unpacking; rms/peak/zero-crossing/mean/duration features.
* **video: YUV4MPEG2 (y4m)** — pure-Python header + frame parser with
  FRAME SAMPLING (only every k-th frame's luma plane is touched).
* **PIL** (optional import) — other image formats when an image library
  is present; resampling internals may differ across Pillow releases, so
  this tier must not feed cross-environment hash oracles.
* **fake=True** — deterministic byte-hash stub, kept for plumbing tests.
``extract_features`` dispatches the tier on the ``kind`` column.

Everything Spark-side is real and tested: the schema, the Arrow batch
shape through ``mapInPandas``, the partition-size control (media blobs
dominate partition bytes — repartition by blob size budget before the
UDF), and the metadata projection that lets Catalyst prune the binary
column when only metadata is queried.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("content", T.BinaryType()),     # opaque payload
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("mime", T.StringType()),
    ])),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
])


def synth_media(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from the docs table's media
    spans (the <img src=...> refs) — payload bytes are a reproducible
    function of the ref string."""
    refs = (docs.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                payload, w, h = synth_ppm(ref)
                rows.append({
                    "media_ref": ref, "doc_id": doc_id, "kind": "image",
                    "content": payload,
                    "meta": {"width": w, "height": h,
                             "n_bytes": len(payload),
                             "mime": "image/x-portable-pixmap"},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def synth_ppm(ref: str) -> tuple[bytes, int, int]:
    """Deterministic REAL P6 image for a media ref: geometry and raster
    derive from the ref's sha256, so the decode->feature pipeline runs a
    true parse end-to-end with no image library. Returns
    (payload, width, height)."""
    seed = hashlib.sha256(ref.encode()).digest()
    w, h = 8 + seed[0] % 9, 6 + seed[1] % 7
    header = f"P6\n# synth {w}x{h}\n{w} {h}\n255\n".encode()
    raster = (seed * ((w * h * 3) // len(seed) + 1))[:w * h * 3]
    return header + raster, w, h


try:  # optional: the operator upgrades itself the moment PIL lands
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - sandbox has no image library
    _PILImage = None


def _netpbm_decode(content: bytes) -> tuple[int, int, int, list[int]]:
    """Dependency-free binary netpbm (P5 gray / P6 RGB, maxval <= 255)
    decode -> (width, height, maxval, grayscale pixel list, row-major).
    P6 RGB collapses to gray via the integer ITU-R 601 luma
    (299R + 587G + 114B) // 1000 — exact, platform-independent."""
    if content[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    rgb = content[:2] == b"P6"
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(content):
            raise ValueError("truncated netpbm header")
        c = content[pos:pos + 1]
        if c == b"#":  # comment to end of line
            nl = content.find(b"\n", pos)
            pos = len(content) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(content) and not content[end:end + 1].isspace():
                end += 1
            fields.append(int(content[pos:end]))
            pos = end
    w, h, maxval = fields
    if not (0 < maxval <= 255) or w <= 0 or h <= 0:
        raise ValueError(f"unsupported netpbm geometry {w}x{h}/{maxval}")
    pos += 1  # the single whitespace byte after maxval
    need = w * h * (3 if rgb else 1)
    raster = content[pos:pos + need]
    if len(raster) < need:
        raise ValueError("truncated netpbm raster")
    if rgb:
        px = [(299 * raster[i] + 587 * raster[i + 1] + 114 * raster[i + 2])
              // 1000 for i in range(0, need, 3)]
    else:
        px = list(raster)
    return w, h, maxval, px


def _wav_decode(content: bytes) -> tuple[int, int, list[int]]:
    """Dependency-free RIFF/WAVE 16-bit PCM decode ->
    (sample_rate, n_channels, interleaved int16 samples). Chunk-walks the
    container (fmt / data; other chunks skipped), little-endian
    throughout — exact and platform-independent."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAVE encoding fmt={fmt} "
                                 f"bits={bits} (PCM16 only)")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("truncated WAVE: missing fmt or data chunk")
    n = len(data) // 2
    samples = list(struct.unpack(f"<{n}h", data[:2 * n]))
    return rate, channels, samples


def decode_audio(content: bytes, fake: bool = False) -> list[float]:
    """Audio decode -> 8-dim feature vector (same shape as the image
    features): [rms, peak, zero-crossing rate, mean, duration/3600s,
    rate/48kHz, channels/8, bytes/MiB] — all normalized to ~[0, 1],
    exact deterministic arithmetic (IEEE sqrt is correctly rounded)."""
    if fake:
        digest = hashlib.sha256(content or b"").digest()
        return [b / 255.0 for b in digest[:8]]
    rate, channels, s = _wav_decode(content)
    n = len(s)
    if n == 0:
        core = [0.0, 0.0, 0.0, 0.0]
    else:
        rms = (sum(v * v for v in s) / n) ** 0.5 / 32768.0
        peak = max(abs(v) for v in s) / 32768.0
        zc = sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0))
        zcr = zc / (n - 1) if n > 1 else 0.0
        mean = sum(s) / n / 32768.0
        core = [rms, peak, zcr, mean]
    frames = n // max(channels, 1)
    dur = frames / rate if rate else 0.0
    return core + [min(dur, 3600.0) / 3600.0, min(rate, 48000) / 48000.0,
                   min(channels, 8) / 8.0,
                   len(content or b"") / 1_048_576.0]


def synth_wav(ref: str) -> tuple[bytes, int, int]:
    """Deterministic REAL 16-bit PCM mono WAV for a media ref (geometry +
    samples from the ref's sha256). Returns (payload, rate, n_frames)."""
    import struct

    seed = hashlib.sha256(ref.encode()).digest()
    rate = 8000 + (seed[0] % 8) * 1000
    n = 400 + seed[1] * 3
    raw = (seed * ((2 * n) // len(seed) + 1))[:2 * n]
    data = bytes(raw)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    payload = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
               + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(data)) + data)
    return payload, rate, n


def synth_audio(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic audio media table: one REAL PCM16 WAV per doc media
    ref (kind=audio) — the audio twin of ``synth_media``."""
    refs = (docs.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                payload, _rate, _n = synth_wav(ref)
                rows.append({
                    "media_ref": ref, "doc_id": doc_id, "kind": "audio",
                    "content": payload,
                    # width/height are image-plane metadata: typed NULLs
                    "meta": {"width": None, "height": None,
                             "n_bytes": len(payload),
                             "mime": "audio/wav"},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def _y4m_decode(content: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """Dependency-free YUV4MPEG2 (y4m) decode ->
    (width, height, fps_num, fps_den, luma plane per frame). Handles
    Cmono (luma-only) and C420* (chroma skipped — features use luma)."""
    nl = content.find(b"\n")
    if nl < 0 or not content.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fn, fd, cs = 25, 1, "C420"
    for tok in content[:nl].decode("ascii", "replace").split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            fn, fd = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            cs = tok
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError("missing y4m geometry")
    frame_size = w * h if cs == "Cmono" else w * h + 2 * ((w // 2) * (h // 2))
    pos, frames = nl + 1, []
    while pos < len(content):
        fnl = content.find(b"\n", pos)
        if fnl < 0 or not content[pos:fnl].startswith(b"FRAME"):
            raise ValueError("malformed y4m frame marker")
        data = content[fnl + 1:fnl + 1 + frame_size]
        if len(data) < frame_size:
            raise ValueError("truncated y4m frame")
        frames.append(data[:w * h])  # luma plane only
        pos = fnl + 1 + frame_size
    return w, h, fn, fd, frames


def decode_video(content: bytes, fake: bool = False,
                 sample_every: int = 2) -> list[float]:
    """Video decode with FRAME SAMPLING -> 8-dim features: [mean sampled
    luma, first sampled frame luma, last sampled frame luma, mean
    inter-frame luma delta (motion proxy), frames/1000, fps/60, width/4096,
    bytes/MiB]. Only every ``sample_every``-th frame is touched — the
    production lever for not decoding 30 fps x hours. Exact integer sums,
    deterministic on any platform."""
    if fake:
        digest = hashlib.sha256(content or b"").digest()
        return [b / 255.0 for b in digest[:8]]
    w, h, fn, fd, frames = _y4m_decode(content)
    sampled = frames[::max(1, sample_every)]
    means = [sum(f) / len(f) / 255.0 for f in sampled]
    motion = (sum(abs(a - b) for a, b in zip(means, means[1:]))
              / (len(means) - 1) if len(means) > 1 else 0.0)
    avg = sum(means) / len(means) if means else 0.0
    fps = fn / fd if fd else 0.0
    return [avg, means[0] if means else 0.0, means[-1] if means else 0.0,
            motion, min(len(frames), 1000) / 1000.0,
            min(fps, 60.0) / 60.0, min(w, 4096) / 4096.0,
            len(content or b"") / 1_048_576.0]


def synth_y4m(ref: str) -> tuple[bytes, int, int, int]:
    """Deterministic REAL Cmono y4m clip for a media ref. Returns
    (payload, width, height, n_frames)."""
    seed = hashlib.sha256(ref.encode()).digest()
    w, h = 6 + seed[0] % 11, 4 + seed[1] % 9
    n_frames, fps = 4 + seed[2] % 7, 10 + seed[3] % 21
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 Cmono\n".encode()
    out = [header]
    for k in range(n_frames):
        luma = (seed[k % 32:] + seed) * ((w * h) // 32 + 2)
        out.append(b"FRAME\n" + bytes(luma[:w * h]))
    return b"".join(out), w, h, n_frames


def synth_video(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic video media table: one REAL Cmono y4m clip per doc
    media ref (kind=video) — the video twin of ``synth_media``."""
    refs = (docs.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                payload, w, h, _n = synth_y4m(ref)
                rows.append({
                    "media_ref": ref, "doc_id": doc_id, "kind": "video",
                    "content": payload,
                    "meta": {"width": w, "height": h,
                             "n_bytes": len(payload),
                             "mime": "video/x-yuv4mpeg"},
                })
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def _half(n: int, q: int) -> tuple[int, int]:
    """Integer bounds of half ``q`` (0/1) of ``n`` cells; a 1-cell axis
    contributes its single cell to both halves."""
    lo, hi = (n * q) // 2, (n * (q + 1)) // 2
    return (0, n) if lo == hi else (lo, hi)


def decode_image(content: bytes, fake: bool = False) -> list[float]:
    """Image decode -> 8-dim feature vector: 4 quadrant mean intensities
    (2x2 box downsample, normalized by maxval) + normalized
    width/height/aspect/fill.

    Decode tier selection (module docstring): netpbm payloads take the
    dependency-free exact pure-Python path; other formats need PIL
    (deterministic only within one Pillow release); ``fake=True`` selects
    the byte-hash stub. Without a usable decoder, ``fake=False`` raises
    so a silent no-op can never pose as a decode."""
    if fake:
        digest = hashlib.sha256(content or b"").digest()
        return [b / 255.0 for b in digest[:8]]
    tail = [0.0, 0.0, 0.0, len(content or b"") / 1_048_576.0]
    if content[:2] in (b"P5", b"P6"):
        w, h, maxval, px = _netpbm_decode(content)
        quads = []
        for qy in (0, 1):
            y0, y1 = _half(h, qy)
            for qx in (0, 1):
                x0, x1 = _half(w, qx)
                s = sum(px[y * w + x]
                        for y in range(y0, y1) for x in range(x0, x1))
                quads.append(s / ((y1 - y0) * (x1 - x0)) / maxval)
        tail[0] = min(w, 4096) / 4096.0
        tail[1] = min(h, 4096) / 4096.0
        tail[2] = w / max(h, 1) / 8.0
        return quads + tail
    if _PILImage is None:
        raise NotImplementedError(
            "non-netpbm image decoding requires an image library not "
            "present in this environment; pass fake=True for the "
            "deterministic stub")
    import io

    img = _PILImage.open(io.BytesIO(content)).convert("L")
    w, h = img.size
    # Resampling enum on Pillow >= 9.1, module constant before that
    small = img.resize(
        (2, 2), getattr(_PILImage, "Resampling", _PILImage).BOX)
    px = [p / 255.0 for p in small.getdata()]
    tail[0] = min(w, 4096) / 4096.0
    tail[1] = min(h, 4096) / 4096.0
    tail[2] = w / max(h, 1) / 8.0
    return px + tail


def extract_features(media: DataFrame, fake: bool = True,
                     partition_mb: int = 128,
                     total_bytes: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over the binary column. Real
    decode plugs into ``decode_image``; batch shape and schema are the
    production contract.

    Partitioning: media blobs dominate partition bytes, so the width is
    derived from the byte volume over a ``partition_mb`` budget. Pass
    ``total_bytes`` (e.g. from table stats / a prior metadata agg) to keep
    the operator fully lazy; when omitted, a metadata aggregation (prunes
    the binary column at the scan) sizes it — one extra cheap job. No RDD
    API involved."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, doc_id, kind, content in zip(
                    pdf["media_ref"], pdf["doc_id"], pdf["kind"],
                    pdf["content"]):
                blob = bytes(content) if content is not None else b""
                decode = {"audio": decode_audio,
                          "video": decode_video}.get(kind, decode_image)
                rows.append({
                    "media_ref": ref, "doc_id": doc_id,
                    "sha256": hashlib.sha256(blob).hexdigest(),
                    "n_bytes": len(blob),
                    "features": decode(blob, fake=fake),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    if total_bytes is None:
        total_bytes = (media.agg(F.sum("meta.n_bytes")).first()[0] or 0)
    width = max(4, int(total_bytes // (partition_mb * 1024 * 1024)) + 1)
    return media.repartition(width).mapInPandas(run, FEATURE_SCHEMA)


def metadata_only(media: DataFrame) -> DataFrame:
    """Metadata projection — selecting only ``meta``/ids lets Catalyst prune
    the binary column at the scan (verify via .explain ReadSchema)."""
    return media.select("doc_id", "media_ref", "kind", "meta.width",
                        "meta.height", "meta.n_bytes", "meta.mime")


def synth_ppm_pooled(ref: str, pool: int,
                     jitter: int = 0) -> tuple[bytes, int, int]:
    """Pooled payload rule, single-sourced for the Spark synthesizer AND
    the pinned twins: the base image is ``synth_ppm('pool:<k>')`` with
    ``k = sha256(ref) mod pool`` (so refs share payloads — exact-dup
    surface); with ``jitter > 0``, ``1 + sha256(ref)[8] mod jitter``
    raster bytes at ref-derived positions are overwritten (so same-pool
    refs become distinct NEAR-duplicates — the perceptual-dup
    surface)."""
    seed = hashlib.sha256(ref.encode()).digest()
    key = int.from_bytes(seed[:8], "big") % pool
    payload, w, h = synth_ppm(f"pool:{key}")
    if jitter > 0:
        raster_len = w * h * 3
        head = len(payload) - raster_len
        buf = bytearray(payload)
        for j in range(1 + seed[8] % jitter):
            js = hashlib.sha256(f"{ref}:{j}".encode()).digest()
            pos = head + int.from_bytes(js[:4], "big") % raster_len
            buf[pos] = js[4]
        payload = bytes(buf)
    return payload, w, h


def synth_media_pooled(spark: SparkSession, docs: DataFrame,
                       pool: int = 13, jitter: int = 0) -> DataFrame:
    """Like :func:`synth_media` but payload bytes come from a POOL of
    ``pool`` distinct contents (ref -> sha256(ref) mod pool), so the
    corpus carries real cross-document DUPLICATE media — the surface the
    media-dedup plane exists for; ``jitter`` perturbs raster bytes
    per ref (near-duplicates instead of exact ones — the perceptual
    plane's surface). Deterministic, no RNG state."""
    refs = (docs.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                payload, w, h = synth_ppm_pooled(ref, pool, jitter)
                rows.append({
                    "media_ref": ref, "doc_id": doc_id, "kind": "image",
                    "content": payload,
                    "meta": {"width": w, "height": h,
                             "n_bytes": len(payload),
                             "mime": "image/x-portable-pixmap"},
                })
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def media_dedup(media: DataFrame) -> DataFrame:
    """Exact content dedup over the interleaved doc store's media table:
    per-ref mapping to the canonical (min media_ref) holder of each
    distinct payload.

    100-TB shape: sha2 is computed in the SCAN projection, so the
    groupBy shuffle carries (ref, 64-hex hash, n_bytes) — never payload
    bytes; with media payloads ~MB and refs ~100 B that is a ~10^4x
    shuffle-volume cut, the whole point of hashing before moving. The
    mapping join is hash-to-hash (equi), no skew beyond genuinely viral
    payloads (AQE skew-join handles those)."""
    hashed = media.select(
        "media_ref",
        F.sha2("content", 256).alias("content_hash"),
        F.length("content").cast("long").alias("n_bytes"))
    canon = (hashed.groupBy("content_hash")
             .agg(F.min("media_ref").alias("canonical_ref"),
                  F.count(F.lit(1)).cast("long").alias("n_refs"),
                  F.min("n_bytes").alias("n_bytes")))
    return (hashed.select("media_ref", "content_hash")
            .join(canon, "content_hash")
            .select("media_ref", "canonical_ref", "content_hash",
                    "n_bytes", "n_refs"))


def media_dedup_stats(mapping: DataFrame) -> DataFrame:
    """One-row rollup of a :func:`media_dedup` mapping: total refs,
    distinct payloads, refs that would be rewritten, and the byte
    saving a deduplicated media store realizes."""
    uniq = mapping.filter(F.col("media_ref") == F.col("canonical_ref"))
    return (mapping.agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.countDistinct("content_hash").cast("long").alias("n_unique"),
        F.sum(F.when(F.col("media_ref") != F.col("canonical_ref"), 1)
              .otherwise(0)).cast("long").alias("n_rewritten"),
        F.sum("n_bytes").cast("long").alias("bytes_total"))
        .join(uniq.agg(F.sum("n_bytes").cast("long")
                       .alias("bytes_unique"))))


def rewrite_media_refs(docs: DataFrame, mapping: DataFrame) -> DataFrame:
    """Canonicalize ``media_ref`` INSIDE the spans arrays — without
    exploding the corpus: the non-identity slice of the mapping
    (ref != canonical) collapses to a one-row map column, cross-joined
    (broadcast) onto the docs, and each span rewrites via
    ``element_at`` + ``coalesce``. Span sequence (kind, text, offset,
    order) is untouched — the north-rule span invariant holds before and
    after (tested).

    Scale note: the broadcast side is |changed refs| entries, NOT the
    corpus — media dedup mappings are dominated by identity rows, which
    are filtered out first. If the changed slice ever outgrows broadcast
    (pathological near-total duplication), the fallback is the standard
    posexplode + equi-join + re-aggregate, one corpus shuffle."""
    return (docs.join(F.broadcast(_changed_ref_map(mapping)))
            .withColumn("spans", _rewritten_spans_expr())
            .drop("_remap"))


def _changed_ref_map(mapping: DataFrame) -> DataFrame:
    """One-row frame holding the NON-IDENTITY slice of a media_dedup
    mapping as a ``_remap`` map column — the broadcast side of the
    in-array rewrite (|changed refs| entries, not the corpus)."""
    changed = (mapping.filter(F.col("media_ref") != F.col("canonical_ref"))
               .select("media_ref", "canonical_ref")
               # media_dedup emits one mapping row per media OCCURRENCE
               # (doc x ref); a shared non-canonical ref therefore appears
               # once per referencing doc, and duplicate map keys throw
               # under the default spark.sql.mapKeyDedupPolicy=EXCEPTION
               # (ADVICE r6). The mapping is functional per media_ref, so
               # distinct() collapses the copies without changing the map.
               .distinct())
    return changed.agg(F.map_from_entries(F.collect_list(
        F.struct("media_ref", "canonical_ref"))).alias("_remap"))


def _rewritten_spans_expr(spans_col: str = "spans") -> "F.Column":
    """spans array with each media_ref routed through the ``_remap`` map
    (identity when absent); kind/text/offset untouched."""
    return F.transform(
        spans_col,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.coalesce(F.element_at(F.col("_remap"), s["media_ref"]),
                       s["media_ref"]).alias("media_ref"),
            s["offset"].alias("offset")))


def dhash64(content: bytes) -> int:
    """64-bit difference hash (dHash) of a netpbm payload —
    integer-exact and SINGLE-SOURCED: the Spark operator and the pinned
    twin both call this function. Luma comes from the shared
    ``_netpbm_decode``; the image is sampled (not averaged) onto a 9x8
    grid at ``(c*w//9, r*h//8)`` — total for any geometry, duplicates
    columns/rows when the image is smaller than the grid; bit (r, c) =
    1 iff sample[r][c+1] > sample[r][c], packed MSB-first row-major;
    returned as a SIGNED 64-bit int (what a BIGINT column stores)."""
    w, h, _mx, px = _netpbm_decode(content)
    return _grid_dhash(px, w, h)


def _grid_dhash(px: list[int], w: int, h: int) -> int:
    """The shared 9x8 sampled-grid difference-hash core (image dHash and
    the video keyframe hash)."""
    xs = [c * w // 9 for c in range(9)]
    ys = [r * h // 8 for r in range(8)]
    bits = 0
    for r in range(8):
        row = ys[r] * w
        for c in range(8):
            bits = (bits << 1) | (1 if px[row + xs[c + 1]]
                                  > px[row + xs[c]] else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def audio_dhash64(content: bytes) -> int:
    """64-bit energy-contour dHash of a PCM16 WAV — the audio analogue
    of the image grid hash, integer-exact: the sample stream is index-
    partitioned into 65 windows (``k*n//65`` bounds — total for any
    length), each window's energy is the exact integer sum of squared
    samples, and bit k = energy[k+1] > energy[k]. Signed 64-bit."""
    _rate, _ch, samples = _wav_decode(content)
    n = len(samples)
    ws = [k * n // 65 for k in range(66)]
    e = [sum(s * s for s in samples[ws[k]:ws[k + 1]]) for k in range(65)]
    bits = 0
    for k in range(64):
        bits = (bits << 1) | (1 if e[k + 1] > e[k] else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def video_dhash64(content: bytes) -> int:
    """64-bit dHash of the FIRST frame's luma plane (the keyframe
    identity — re-encodes and container edits keep it; a true
    shot-level signature would hash every k-th sampled frame and band
    per frame) — the image grid rule verbatim on the luma bytes."""
    w, h, _fn, _fd, frames = _y4m_decode(content)
    return _grid_dhash(list(frames[0]), w, h)


DHASH_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("dhash", T.LongType()),
])

_DHASHERS = {"image": dhash64, "audio": audio_dhash64,
             "video": video_dhash64}


def media_dhash(media: DataFrame) -> DataFrame:
    """Perceptual 64-bit dHash per media row, Arrow-batched (decode +
    hash run inside ``mapInPandas`` — the payload never leaves the
    executor; only (ref, kind, 8-byte hash) moves downstream, same
    hash-before-shuffle discipline as ``media_dedup``). The hasher
    dispatches on ``kind`` (the ``extract_features`` pattern): image ->
    grid dHash, audio -> energy-contour dHash, video -> keyframe
    dHash."""
    slim = media.select("media_ref", "kind", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for k, c in zip(pdf["kind"], pdf["content"]):
                try:
                    hasher = _DHASHERS[k]
                except KeyError:
                    raise ValueError(f"no perceptual hasher for kind {k!r}")
                hashes.append(hasher(bytes(c)))
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"],
                "kind": pdf["kind"],
                "dhash": hashes,
            })

    return slim.mapInPandas(run, DHASH_SCHEMA)


def media_near_dups(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate media pairs by dHash Hamming distance,
    candidate-bucketed on ``max_hamming + 1`` bands — the
    simhash_near_dups banding (``dedup.hamming_band_keys``; pigeonhole:
    distance <= max_hamming leaves at least one band intact, so the band
    equi-join loses NOTHING vs all-pairs; completeness asserted against
    the all-pairs twin in tests). Returns (ref_a, ref_b, kind, hamming),
    ref_a < ref_b.

    100-TB shape: decode+hash in the scan stage, band join on
    ``64 // (max_hamming + 1)``-bit keys (bounded fanout per bucket for natural images; a degenerate
    bucket — e.g. a constant-color internet-wide banner — is exact-dup
    territory and should be removed by media_dedup first)."""
    from .dedup import hamming_band_keys

    # the bucket key includes KIND: hash spaces of different modalities
    # are incomparable, so cross-kind candidates are never generated
    keys = hamming_band_keys("dhash", max_hamming,
                             prefix=F.concat(F.col("kind"), F.lit(":")))
    bands = media_dhash(media).select(
        "media_ref", "kind", "dhash", F.explode(keys).alias("bucket"))
    cand = (bands.alias("a").join(bands.alias("b"), "bucket")
            .filter(F.col("a.media_ref") < F.col("b.media_ref"))
            .select(F.col("a.media_ref").alias("ref_a"),
                    F.col("b.media_ref").alias("ref_b"),
                    F.col("a.kind").alias("kind"),
                    F.col("a.dhash").alias("dh_a"),
                    F.col("b.dhash").alias("dh_b"))
            .distinct())
    return (cand
            .withColumn("hamming", F.bit_count(
                F.col("dh_a").bitwiseXOR(F.col("dh_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("ref_a", "ref_b", "kind", "hamming"))


def synth_wav_pooled(ref: str, pool: int,
                     jitter: int = 0) -> tuple[bytes, int, int]:
    """Pooled WAV payload rule (the audio twin of
    :func:`synth_ppm_pooled`): base clip from the ref's pool key; with
    ``jitter > 0``, ``1 + sha256(ref)[8] mod jitter`` DATA-region bytes
    at ref-derived positions are overwritten (the container header is
    never touched, so the payload always parses)."""
    seed = hashlib.sha256(ref.encode()).digest()
    key = int.from_bytes(seed[:8], "big") % pool
    payload, rate, n = synth_wav(f"pool:{key}")
    if jitter > 0:
        data_len = 2 * n
        head = len(payload) - data_len
        buf = bytearray(payload)
        for j in range(1 + seed[8] % jitter):
            js = hashlib.sha256(f"{ref}:{j}".encode()).digest()
            buf[head + int.from_bytes(js[:4], "big") % data_len] = js[4]
        payload = bytes(buf)
    return payload, rate, n


def synth_y4m_pooled(ref: str, pool: int,
                     jitter: int = 0) -> tuple[bytes, int, int, int]:
    """Pooled y4m payload rule: base clip from the ref's pool key; with
    ``jitter > 0``, jittered bytes land INSIDE frame luma planes only
    (frame chosen per byte by hash mod n_frames, offset mod w*h — the
    stream header and the FRAME markers are never touched)."""
    seed = hashlib.sha256(ref.encode()).digest()
    key = int.from_bytes(seed[:8], "big") % pool
    payload, w, h, n_frames = synth_y4m(f"pool:{key}")
    if jitter > 0:
        head = payload.find(b"\n") + 1
        fsz = w * h
        buf = bytearray(payload)
        for j in range(1 + seed[8] % jitter):
            js = hashlib.sha256(f"{ref}:{j}".encode()).digest()
            fk = js[5] % n_frames
            off = int.from_bytes(js[:4], "big") % fsz
            buf[head + (6 + fsz) * fk + 6 + off] = js[4]
        payload = bytes(buf)
    return payload, w, h, n_frames


def synth_pooled_mixed_row(ref: str, pool: int, jitter: int = 0) -> dict:
    """One MEDIA_SCHEMA row for a ref in the MIXED pooled corpus,
    single-sourced for the Spark synthesizer and the pinned twins: the
    ref's modality is ``sha256(ref)[9] mod 3`` (image/audio/video), the
    payload the corresponding pooled rule."""
    seed = hashlib.sha256(ref.encode()).digest()
    kind = ("image", "audio", "video")[seed[9] % 3]
    if kind == "image":
        payload, w, h = synth_ppm_pooled(ref, pool, jitter)
        meta = {"width": w, "height": h, "n_bytes": len(payload),
                "mime": "image/x-portable-pixmap"}
    elif kind == "audio":
        payload, _rate, _n = synth_wav_pooled(ref, pool, jitter)
        meta = {"width": None, "height": None, "n_bytes": len(payload),
                "mime": "audio/wav"}
    else:
        payload, w, h, _n = synth_y4m_pooled(ref, pool, jitter)
        meta = {"width": w, "height": h, "n_bytes": len(payload),
                "mime": "video/x-yuv4mpeg"}
    return {"media_ref": ref, "kind": kind, "content": payload,
            "meta": meta}


def synth_media_pooled_mixed(spark: SparkSession, docs: DataFrame,
                             pool: int = 5, jitter: int = 0) -> DataFrame:
    """MIXED-modality pooled media table: each ref becomes an image,
    audio clip or video (ref-hash-assigned) drawn from a per-kind pool
    of ``pool`` base payloads, optionally jittered — the corpus the
    cross-modal perceptual plane (q115) runs on."""
    refs = (docs.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref")))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                row = synth_pooled_mixed_row(ref, pool, jitter)
                row["doc_id"] = doc_id
                rows.append(row)
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def curate_interleaved_store(docs: DataFrame, media: DataFrame) -> DataFrame:
    """The INTERLEAVED-STORE curation capstone: one composed pass over
    the (doc_id, spans) store and its media table —

    1. media plane: exact payload dedup (:func:`media_dedup`, hash in
       the scan projection) + in-array ref canonicalization (broadcast
       changed-ref map, span sequence untouched);
    2. text plane: doc text = newline-join of the text spans, the
       single-sourced quality gate (analytics.text.quality_gate_exprs)
       and exact text dedup (md5 of the normalized text, canonical =
       min doc_id — the analytics.dedup.exact_dedup rule).

    Returns one row per doc: span/media/rewrite counts, the quality
    signals, the dup group, and ``is_kept = quality_ok AND
    is_canonical`` — what a training-data export would keep.

    100-TB shape: the docs table is touched ONCE (the rewrite and every
    text signal are projections over the same scan); the only shuffles
    are the media-hash groupBy (slim rows), the text-fingerprint
    groupBy (16-byte keys), and the fingerprint rejoin — nothing moves
    payload bytes or span arrays."""
    from .dedup import _norm_text
    from .text import quality_gate_exprs

    mapping = media_dedup(media)
    g = quality_gate_exprs()
    enriched = (docs.join(F.broadcast(_changed_ref_map(mapping)))
                .select(
                    "doc_id",
                    F.size("spans").cast("int").alias("n_spans"),
                    F.size(F.filter("spans", lambda s: s["kind"] == "media"))
                    .cast("int").alias("n_media"),
                    F.size(F.filter("spans", lambda s: F.element_at(
                        F.col("_remap"), s["media_ref"]).isNotNull()))
                    .cast("int").alias("n_media_rewritten"),
                    _rewritten_spans_expr().alias("spans"),
                    F.array_join(F.transform(
                        F.filter("spans", lambda s: s["kind"] == "text"),
                        lambda s: s["text"]), "\n").alias("text")))
    scored = (enriched
              .withColumn("n_tokens", g["n_tokens"].cast("int"))
              .withColumn("punct_ratio", g["punct_ratio"])
              .withColumn("quality_ok", g["quality_ok"])
              .withColumn("fingerprint", F.md5(_norm_text())))
    groups = (scored.groupBy("fingerprint")
              .agg(F.min("doc_id").alias("_canon"),
                   F.count(F.lit(1)).cast("int").alias("dup_group_size")))
    return (scored.join(groups, "fingerprint")
            .withColumn("is_canonical", F.col("doc_id") == F.col("_canon"))
            .withColumn("is_kept",
                        F.col("quality_ok") & F.col("is_canonical"))
            .select("doc_id", "n_spans", "n_media", "n_media_rewritten",
                    "n_tokens", "punct_ratio", "quality_ok",
                    "dup_group_size", "is_canonical", "is_kept"))


def media_canonical(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Perceptual media dedup KEEP-LIST: near-dup pairs -> connected
    components (:func:`analytics.dedup.dup_clusters` — the exact
    pairwise->cluster machinery the text plane uses, type-agnostic on
    string refs) -> one kept copy per cluster. For media the best copy
    is the LARGEST payload (the least-recompressed / highest-resolution
    encounter of the same perceptual content), tie-broken by min ref —
    the media analogue of the text plane's quality-aware canonical
    (q106). Returns every media row with (cluster_id, cluster_size,
    n_bytes, is_kept); singletons are their own kept cluster.

    Scale shape: the pair graph is band-join-bounded, the component
    resolution never materializes clusters on the driver, and the
    keeper window partitions BY CLUSTER (cluster-bounded rank, not a
    corpus-wide sort)."""
    from pyspark.sql import Window

    from .dedup import dup_clusters

    pairs = media_near_dups(media, max_hamming)
    clusters = dup_clusters(pairs.select(F.col("ref_a").alias("doc_a"),
                                         F.col("ref_b").alias("doc_b")))
    base = media.select("media_ref", "kind",
                        F.length("content").cast("long").alias("n_bytes"))
    full = (base.join(clusters.select(F.col("doc_id").alias("media_ref"),
                                      "cluster_id", "cluster_size"),
                      "media_ref", "left")
            .withColumn("cluster_id",
                        F.coalesce("cluster_id", F.col("media_ref")))
            .withColumn("cluster_size",
                        F.coalesce("cluster_size",
                                   F.lit(1).cast("long"))))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_bytes"), F.asc("media_ref"))
    return (full.withColumn("is_kept", F.row_number().over(w) == 1)
            .select("media_ref", "kind", "cluster_id", "cluster_size",
                    "n_bytes", "is_kept"))
