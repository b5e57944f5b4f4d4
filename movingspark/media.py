"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north rule: interleaved text+media documents).

Image decode is REAL for the two uncompressed formats a pure-numpy
decoder can own with no codec libraries: PPM (P6 binary / P3 ascii) and
BMP (24-bit uncompressed BITMAPINFOHEADER) — `decode_image` parses the
actual header + pixel bytes. Payloads in any other format (JPEG/PNG/...,
audio, video) keep their row in `extract_image_features` with null
pixel features.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import gmap


def media_refs_from_docs(docs: DataFrame) -> DataFrame:
    """Extract the media spans of interleaved documents as a media table
    (doc_id, offset, media_ref). The payload bytes stay out-of-band
    (object store); this engine moves references, not blobs."""
    sp = docs.select("doc_id", F.explode("spans").alias("span"))
    return sp.filter(F.col("span.kind") == "media").select(
        "doc_id",
        F.col("span.offset").alias("offset"),
        F.col("span.media_ref").alias("media_ref"),
    )


def synth_media_bytes(media: DataFrame, n_bytes: int = 64) -> DataFrame:
    """Deterministic fake payloads for tests: ASCII bytes of the
    sha256 HEXDIGEST of the media_ref, repeated to n_bytes (stands in
    for an object-store fetch). ASCII (not raw digest) on purpose: the
    DuckDB oracle can then reproduce the downstream content_hash with
    md5(VARCHAR) — crypto functions there accept only strings."""

    def fetch(batch):
        out = []
        for r in batch.column("media_ref").to_pylist():
            h = hashlib.sha256(r.encode()).hexdigest().encode()
            out.append((h * (n_bytes // len(h) + 1))[:n_bytes])
        return [*batch.columns, out]

    return gmap.map_batches(media, fetch, _with_payload(media))


def _with_payload(media: DataFrame) -> T.StructType:
    return T.StructType([*media.schema.fields, T.StructField("payload", T.BinaryType())])


def decode_ppm(buf: bytes) -> np.ndarray:
    """Pure-numpy PPM decode (P6 binary or P3 ascii, maxval <= 255):
    returns (h, w, 3) uint8. Raises ValueError on anything else."""
    if buf[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens; '#' comments run to end-of-line
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(buf):
        c = buf[i : i + 1]
        if c == b"#":
            while i < len(buf) and buf[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(buf) and not buf[j : j + 1].isspace():
                j += 1
            tokens.append(buf[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255 or maxval <= 0 or w <= 0 or h <= 0:
        raise ValueError(f"unsupported PPM w={w} h={h} maxval={maxval}")
    if buf[:2] == b"P6":
        i += 1  # exactly one whitespace byte after maxval
        px = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=i)
    else:  # P3: ascii sample values
        vals = buf[i:].split()
        if len(vals) < w * h * 3:
            raise ValueError("truncated P3 samples")
        px = np.array([int(v) for v in vals[: w * h * 3]], dtype=np.uint8)
    return px.reshape(h, w, 3)


def decode_bmp(buf: bytes) -> np.ndarray:
    """Pure-numpy BMP decode (24-bit uncompressed BITMAPINFOHEADER):
    returns (h, w, 3) uint8 in RGB order, top-down. Handles the 4-byte
    row padding and the default bottom-up row order (negative height =
    top-down per the spec). Raises ValueError on anything else."""
    if buf[:2] != b"BM" or len(buf) < 54:
        raise ValueError("not a BMP")
    data_off = int.from_bytes(buf[10:14], "little")
    hdr_size = int.from_bytes(buf[14:18], "little")
    if hdr_size < 40:
        raise ValueError("not a BITMAPINFOHEADER BMP")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    compression = int.from_bytes(buf[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP bpp={bpp} compression={compression}")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + stride * h
    if len(buf) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=data_off)
    px = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR -> RGB


def decode_image(buf: bytes) -> np.ndarray:
    """Dispatch on magic bytes: PPM (P6/P3) or 24-bit BMP -> (h, w, 3)
    uint8 RGB. Anything else raises ValueError."""
    if buf[:2] in (b"P6", b"P3"):
        return decode_ppm(buf)
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    raise ValueError(f"unrecognized image magic {buf[:2]!r}")


def image_features(px: np.ndarray) -> list[float]:
    """Pixel-statistics feature vector from a decoded (h, w, 3) image:
    [mean_r, mean_g, mean_b, std_r, std_g, std_b, mean_all, w/h], means
    and stds normalized to [0, 1]. Deliberately computed from EXACT
    int64 pixel sums with a fixed floating-point operation order
    (s/n -> /255; sqrt(ssq/n - (s/n)^2) -> /255) so an SQL oracle doing
    the same correctly-rounded double ops reproduces every bit."""
    h, w, _ = px.shape
    n = h * w
    flat = px.reshape(-1, 3).astype(np.int64)
    s = flat.sum(axis=0)
    ssq = (flat * flat).sum(axis=0)
    feats = [float(s[c] / n) / 255.0 for c in range(3)]
    for c in range(3):
        mu = s[c] / n
        var = ssq[c] / n - mu * mu
        feats.append(math.sqrt(max(var, 0.0)) / 255.0)
    feats.append(float(int(s.sum()) / (3 * n)) / 255.0)
    feats.append(w / h)
    return feats


def synth_ppm_bytes(media: DataFrame, seed_col: str, w: int = 8, h: int = 8) -> DataFrame:
    """Deterministic REAL P6 images for tests/oracles: pixel byte j of a
    row with integer seed s is (s + 7*j) % 256 — closed form an SQL
    oracle can regenerate with a range() unnest. The payload is a real
    PPM file (header + binary samples), so downstream decode exercises
    actual header parsing, not a fake."""
    header = f"P6\n{w} {h}\n255\n".encode()
    npx = w * h * 3
    cols = media.columns

    def render(batch):
        j = np.arange(npx, dtype=np.int64)
        seeds = batch.column("__ppm_seed").to_pylist()
        payload = [header + ((s + 7 * j) % 256).astype(np.uint8).tobytes() for s in seeds]
        return [*(batch.column(c) for c in cols), payload]

    seeded = media.withColumn("__ppm_seed", F.col(seed_col).cast("long"))
    return gmap.map_batches(seeded, render, _with_payload(media))


def extract_image_features(media_with_payload: DataFrame) -> DataFrame:
    """REAL image decode + pixel-statistics features over Arrow batches:
    parses each payload with decode_image (PPM/BMP pure-numpy) and
    emits n_bytes, content_hash (md5 hex) and scalar feature columns
    (driver-hash friendly — no arrays): img_w, img_h, f0..f7 per
    image_features(). Payloads that fail to decode keep their row with
    NULL features (the undecodable-rate is a data-quality signal worth
    aggregating, not a reason to kill a 100 TB job)."""
    in_cols = [c for c in media_with_payload.columns if c != "payload"]
    out_schema = T.StructType(
        [media_with_payload.schema[c] for c in in_cols]
        + [
            T.StructField("n_bytes", T.LongType()),
            T.StructField("content_hash", T.StringType()),
            T.StructField("img_w", T.IntegerType()),
            T.StructField("img_h", T.IntegerType()),
        ]
        + [T.StructField(f"f{i}", T.DoubleType()) for i in range(8)]
    )

    def features(batch):
        nb, ch, ws, hs = [], [], [], []
        fcols: list[list] = [[] for _ in range(8)]
        for buf in batch.column("payload").to_pylist():
            nb.append(len(buf))
            ch.append(hashlib.md5(buf).hexdigest())
            try:
                px = decode_image(buf)
                feats = image_features(px)
                ws.append(px.shape[1])
                hs.append(px.shape[0])
                for i in range(8):
                    fcols[i].append(feats[i])
            except (ValueError, IndexError):
                ws.append(None)
                hs.append(None)
                for i in range(8):
                    fcols[i].append(None)
        return [*(batch.column(c) for c in in_cols), nb, ch, ws, hs, *fcols]

    return gmap.map_batches(media_with_payload, features, out_schema)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling PLAN: expands each video ref into frame-task
    rows (ref, frame_index) without decoding — the shuffle-able work
    list a real frame extractor consumes. Deterministic frame count
    stub: derived from the ref hash (stands in for container metadata)."""
    n_frames = (F.abs(F.hash("media_ref")) % 300 + 1).alias("n_frames")
    with_n = media.select("*", n_frames)
    return with_n.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_index"),
    ).drop("n_frames")
