"""Media-span operators over the interleaved documents table.

The docs table (BASELINE.json input_hint) interleaves text / geom / media
spans; media content is an opaque reference (``media://<source>/<id>``).
The FETCH stage is the only stand-in (``fetch_media_batches`` synthesizes
deterministic PPM/BMP bytes from the ref — in production it is the
object-store read); the DECODE stage is real: pure-numpy PPM (P6) and
24-bit BMP parsers feed exact channel statistics, and the whole pipeline —
span filtering, schema, binary column, two independent mapInPandas stages,
fingerprint dedup — is oracle-gated:

- ``media_stats``: per-doc media span counts + normalized-ref fingerprint
  (pure native expressions over the spans array — the span column is never
  exploded-and-regrouped, preserving the span-sequence invariant).
- ``media_dedup``: exact media-level dedup on the content fingerprint (the
  sandbox analog of perceptual-hash dedup; swap the fingerprint column for
  a pHash UDF output in production).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def media_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, span_idx, media_ref) for media spans — array filter before
    explode (only media spans materialize as rows)."""
    ex = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(spans, (s, i) -> "
                "struct(s.kind AS kind, s.media_ref AS media_ref, i AS idx)), "
                "x -> x.kind = 'media')"
            )
        ).alias("m"),
    )
    refs = ex.select(
        "doc_id", F.col("m.idx").alias("span_idx"), F.col("m.media_ref").alias("media_ref")
    )
    # widen the CPU-bound fetch/decode stage: the refs table is tiny rows
    # (a ref string per media span) but every downstream consumer does
    # real per-ref work in Python — a small source file otherwise funnels
    # the whole decode through 1-2 tasks (guide §2.5 input parallelism).
    # The repartition shuffles only the narrow ref rows, never image bytes,
    # and scales with the session's core count rather than a constant.
    sc = docs.sparkSession.sparkContext
    return refs.repartition(sc.defaultParallelism)


def media_stats(docs: DataFrame) -> DataFrame:
    """Per-doc media stats: span count, source host of the first ref, and a
    content fingerprint (md5 of the normalized ref — deterministic pHash
    stand-in). All JVM-side array expressions; spans stay untouched."""
    refs = F.expr("filter(spans, s -> s.kind = 'media')")
    first_ref = F.element_at(refs, 1)["media_ref"]
    host = F.regexp_extract(first_ref, r"^media://([^/]+)/", 1)
    return docs.select(
        "doc_id",
        F.size(refs).alias("n_media"),
        host.alias("media_src"),
        F.md5(F.lower(F.trim(first_ref))).alias("media_fp"),
    ).filter(F.col("n_media") > 0)


def dhash64(img: "np.ndarray") -> int:
    """64-bit difference hash over REAL decoded pixels: channel-sum
    luminance, 8×9 nearest-neighbour thumbnail (same gather as
    :func:`resize_nn`), bit = left pixel strictly brighter than its right
    neighbour, packed row-major MSB-first. Encoding-invariant (PPM and BMP
    of the same pixels hash identically); content perturbations that
    change local gradient direction flip bits."""
    import numpy as np

    h, w, _ = img.shape
    lum = img.sum(axis=2, dtype=np.int32)
    rows = (np.arange(8, dtype=np.int64) * h) // 8
    cols = (np.arange(9, dtype=np.int64) * w) // 9
    t = lum[rows[:, None], cols[None, :]]
    bits = (t[:, :-1] > t[:, 1:]).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v


def perceptual_fp(blob: bytes) -> str:
    """Perceptual fingerprint of an encoded image: decode (PPM or BMP),
    then ``<dhash64 hex>|<w>x<h>|<round(mean_blue)>`` — the dHash carries
    the luminance structure, the dims + blue-channel mean cut hash
    collisions between structurally-flat images (the standard
    pHash-plus-metadata dedup key). Identical pixels re-encoded PPM↔BMP
    produce the same fingerprint."""
    import numpy as np

    b = bytes(blob)
    img = decode_ppm(b) if b[:2] == b"P6" else decode_bmp(b)
    h, w, _ = img.shape
    mb = round(int(img[:, :, 2].sum(dtype=np.int64)) / (h * w))
    return f"{dhash64(img):016x}|{w}x{h}|{mb}"


def media_perceptual_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, media_fp) with media_fp the PERCEPTUAL fingerprint of each
    doc's first media span, computed from the real decoded pixels in one
    fused fetch→decode→dhash mapInPandas stage (the raw bytes never cross
    the Arrow boundary)."""
    refs = F.expr("filter(spans, s -> s.kind = 'media')")
    first = docs.select(
        "doc_id", F.element_at(refs, 1)["media_ref"].alias("media_ref")
    ).filter(F.col("media_ref").isNotNull())
    # widen the decode+dhash stage across the session's cores (same
    # narrow-rows repartition rationale as media_refs)
    first = first.repartition(docs.sparkSession.sparkContext.defaultParallelism)

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for ref in pdf["media_ref"]:
                fmt, w, h, seed = _ref_params(ref)
                img = _test_image(w, h, seed)
                blob = encode_ppm(img) if fmt == "ppm" else encode_bmp(img)
                fps.append(perceptual_fp(blob))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media_fp": fps})

    return first.mapInPandas(fp_batches, "doc_id string, media_fp string")


def media_dedup(docs: DataFrame) -> DataFrame:
    """Media-level perceptual dedup: group by the dHash-based fingerprint
    of the real decoded pixels (:func:`media_perceptual_stats`), keep the
    smallest doc id. On the deterministic gradient corpus the dHash term
    is provably 0 for every image (luminance strictly increases left to
    right, so no left>right bit fires) — the oracle exploits that closed
    form; the pytest suite exercises non-degenerate pixels where the dHash
    alone separates re-encoded identical from perturbed content."""
    stats = media_perceptual_stats(docs)
    return (
        stats.groupBy("media_fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .select("keep_id", "n_dups")
    )


MEDIA_FEATURE_SCHEMA = (
    "doc_id string, span_idx int, fmt string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, r_first int, r_last int"
)


def _ref_params(ref: str) -> tuple[str, int, int, int]:
    """(fmt, width, height, seed) derived from md5 of the media ref — the
    deterministic stand-in for the object-store FETCH (the only stubbed
    stage; everything downstream operates on real bytes). The same
    derivation is SQL-expressible (DuckDB md5 + hex-substring casts), which
    is what makes the decoded features oracle-checkable."""
    import hashlib

    hh = hashlib.md5(ref.encode()).hexdigest()
    w = 16 + int(hh[:6], 16) % 200
    h = 16 + int(hh[6:12], 16) % 200
    seed = int(hh[12:14], 16)
    fmt = "ppm" if int(hh[14], 16) % 2 == 0 else "bmp"
    return fmt, w, h, seed


def _test_image(w: int, h: int, seed: int) -> "np.ndarray":
    """(h, w, 3) uint8: R = row index, G = column index, B = seed — chosen
    so every decoded feature has an exact closed form (mean_r = (h-1)/2,
    mean_g = (w-1)/2, mean_b = seed) AND orientation bugs are visible
    (r_first = 0 at the top, r_last = h-1 at the bottom; a decoder that
    forgets BMP's bottom-up row order flips them)."""
    import numpy as np

    img = np.empty((h, w, 3), dtype=np.uint8)
    img[:, :, 0] = np.arange(h, dtype=np.uint8)[:, None]
    img[:, :, 1] = np.arange(w, dtype=np.uint8)[None, :]
    img[:, :, 2] = seed
    return img


def encode_ppm(img: "np.ndarray") -> bytes:
    """Binary PPM (P6, maxval 255)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_ppm(blob: bytes) -> "np.ndarray":
    """Parse binary PPM (P6): ASCII header (whitespace/comment tolerant),
    raw RGB payload → (h, w, 3) uint8. Pure numpy."""
    import numpy as np

    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    arr = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3)


def encode_bmp(img: "np.ndarray") -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER): BGR channel order,
    bottom-up rows, rows padded to 4 bytes."""
    import struct

    import numpy as np

    h, w, _ = img.shape
    row = (3 * w + 3) // 4 * 4
    payload = np.zeros((h, row), dtype=np.uint8)
    payload[:, : 3 * w] = img[::-1, :, ::-1].reshape(h, 3 * w)  # flip + BGR
    head = struct.pack("<2sIHHI", b"BM", 54 + row * h, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 2835, 2835, 0, 0)
    return head + dib + payload.tobytes()


def decode_bmp(blob: bytes) -> "np.ndarray":
    """Parse 24-bit uncompressed bottom-up BMP → (h, w, 3) uint8 RGB.
    Pure numpy (header struct + one strided reshape + flip)."""
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", blob, 10)[0]
    hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    if hdr_sz < 40 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
    flip = h > 0  # negative height = top-down per the spec
    h = abs(h)
    row = (3 * w + 3) // 4 * 4
    arr = np.frombuffer(blob, dtype=np.uint8, count=row * h, offset=offset)
    img = arr.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)
    if flip:
        img = img[::-1]
    return img[:, :, ::-1]  # BGR → RGB


def fetch_media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the FETCH stage: media_ref → raw bytes.

    In production this is the object-store read; here the bytes are
    synthesized deterministically from the ref (``_ref_params`` +
    ``_test_image``), alternating PPM/BMP so both decoders exercise. The
    blob column is a real ``binary`` column — schema, batching, and memory
    shape match the production operator."""
    for pdf in batches:
        blobs = []
        for ref in pdf["media_ref"]:
            fmt, w, h, seed = _ref_params(ref)
            img = _test_image(w, h, seed)
            blobs.append(encode_ppm(img) if fmt == "ppm" else encode_bmp(img))
        out = pdf[["doc_id", "span_idx"]].copy()
        out["span_idx"] = out["span_idx"].astype("int32")
        out["blob"] = blobs
        yield out


def decode_media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the decode → feature-extract stage: REAL
    pure-numpy PPM (P6) / BMP (24-bit) decoders over the blob column, then
    exact channel statistics (integer sums divided once — deterministic
    doubles any engine reproduces)."""
    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in ("fmt", "width", "height", "mean_r", "mean_g",
                                "mean_b", "r_first", "r_last")}
        for blob in pdf["blob"]:
            b = bytes(blob)
            if b[:2] == b"P6":
                fmt, img = "ppm", decode_ppm(b)
            else:
                fmt, img = "bmp", decode_bmp(b)
            h, w, _ = img.shape
            npx = w * h
            sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            rows["fmt"].append(fmt)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["mean_r"].append(float(sums[0]) / npx)
            rows["mean_g"].append(float(sums[1]) / npx)
            rows["mean_b"].append(float(sums[2]) / npx)
            rows["r_first"].append(int(img[0, 0, 0]))
            rows["r_last"].append(int(img[h - 1, 0, 0]))
        out = pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "span_idx": pdf["span_idx"].astype("int32"),
            **rows,
        })
        out["width"] = out["width"].astype("int32")
        out["height"] = out["height"].astype("int32")
        out["r_first"] = out["r_first"].astype("int32")
        out["r_last"] = out["r_last"].astype("int32")
        yield out


def media_features(docs: DataFrame) -> DataFrame:
    """Distributed fetch → decode → feature pipeline over media spans:
    refs → Arrow batches → synthesized bytes (fetch stand-in) → REAL
    PPM/BMP decode → typed feature rows.

    Fetch and decode run in ONE mapInPandas stage, so the raw image bytes
    never cross the Arrow boundary (measured ~2× over two stages at sf0.1:
    the blob column dominates the Arrow traffic)."""
    def fetch_decode(batches):
        yield from decode_media_batches(fetch_media_batches(batches))

    return media_refs(docs).mapInPandas(fetch_decode, MEDIA_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# resize + frame-sample (the remaining multimodal pipeline stages)
# ---------------------------------------------------------------------------

def resize_nn(img: "np.ndarray", rw: int, rh: int) -> "np.ndarray":
    """Nearest-neighbor resize to (rh, rw, 3) — one numpy fancy-index
    gather, the standard thumbnail pass before featurization."""
    import numpy as np

    h, w, _ = img.shape
    rows = (np.arange(rh, dtype=np.int64) * h) // rh
    cols = (np.arange(rw, dtype=np.int64) * w) // rw
    return img[rows[:, None], cols[None, :]]


MEDIA_RESIZE_SCHEMA = (
    "doc_id string, span_idx int, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def media_resized_features(docs: DataFrame, rw: int = 32, rh: int = 32) -> DataFrame:
    """fetch → decode → RESIZE (nearest-neighbor thumbnail) → channel
    stats. width/height report the SOURCE dims; the means are over the
    resized pixels — each has a closed form on the gradient test image
    (mean_r = Σ_i floor(i·h/rh)/rh etc.), which is what the oracle
    recomputes."""
    import numpy as np

    def fetch_decode_resize(batches):
        for pdf in batches:
            rows = {k: [] for k in ("width", "height", "mean_r", "mean_g", "mean_b")}
            for ref in pdf["media_ref"]:
                fmt, w, h, seed = _ref_params(ref)
                img = _test_image(w, h, seed)
                blob = encode_ppm(img) if fmt == "ppm" else encode_bmp(img)
                dec = decode_ppm(blob) if blob[:2] == b"P6" else decode_bmp(blob)
                small = resize_nn(dec, rw, rh)
                npx = rw * rh
                sums = small.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_r"].append(float(sums[0]) / npx)
                rows["mean_g"].append(float(sums[1]) / npx)
                rows["mean_b"].append(float(sums[2]) / npx)
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "span_idx": pdf["span_idx"].astype("int32"),
                **rows,
            })
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return media_refs(docs).mapInPandas(fetch_decode_resize, MEDIA_RESIZE_SCHEMA)


# -- deterministic multi-frame container ("video") --------------------------

_NTSV_MAGIC = b"NTSV"


def encode_video(frames: list["np.ndarray"]) -> bytes:
    """Toy deterministic video container: magic + u32 frame count + frames
    as length-prefixed PPM blobs (the fetch stand-in for real containers;
    the sampling/decode plumbing downstream is the production shape)."""
    import struct

    out = [_NTSV_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        blob = encode_ppm(f)
        out.append(struct.pack("<I", len(blob)))
        out.append(blob)
    return b"".join(out)


def iter_video_frames(blob: bytes, stride: int = 1):
    """(frame_idx, frame_bytes) for every stride-th frame — the container
    is length-prefixed, so sampling SKIPS unsampled frames without
    decoding them (the point of frame-sampling at scale)."""
    import struct

    if blob[:4] != _NTSV_MAGIC:
        raise ValueError("not an NTSV container")
    (nf,) = struct.unpack_from("<I", blob, 4)
    pos = 8
    for f in range(nf):
        (ln,) = struct.unpack_from("<I", blob, pos)
        pos += 4
        if f % stride == 0:
            yield f, blob[pos:pos + ln]
        pos += ln


MEDIA_FRAMES_SCHEMA = (
    "doc_id string, span_idx int, frame_idx int, n_frames int, "
    "width int, height int, mean_r double, mean_g double, mean_b double"
)


def media_frame_samples(docs: DataFrame, stride: int = 2) -> DataFrame:
    """fetch (synthesized multi-frame container) → FRAME-SAMPLE every
    ``stride``-th frame (skipping unsampled frames without decoding) →
    decode → per-frame channel stats. Frame f of a ref's video is the
    gradient image with seed (seed+f) % 256 and n_frames = 2 + h15 % 7,
    so every emitted row has a closed-form oracle."""
    import numpy as np

    def fetch_sample(batches):
        for pdf in batches:
            cols = {k: [] for k in ("doc_id", "span_idx", "frame_idx", "n_frames",
                                    "width", "height", "mean_r", "mean_g", "mean_b")}
            for doc_id, span_idx, ref in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["media_ref"]
            ):
                fmt, w, h, seed = _ref_params(ref)
                nf = 2 + _ref_nibble(ref, 15) % 7
                video = encode_video(
                    [_test_image(w, h, (seed + f) % 256) for f in range(nf)]
                )
                for f, fb in iter_video_frames(video, stride):
                    img = decode_ppm(fb)
                    fh, fw, _ = img.shape
                    sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                    npx = fw * fh
                    cols["doc_id"].append(doc_id)
                    cols["span_idx"].append(span_idx)
                    cols["frame_idx"].append(f)
                    cols["n_frames"].append(nf)
                    cols["width"].append(fw)
                    cols["height"].append(fh)
                    cols["mean_r"].append(float(sums[0]) / npx)
                    cols["mean_g"].append(float(sums[1]) / npx)
                    cols["mean_b"].append(float(sums[2]) / npx)
            out = pd.DataFrame(cols)
            for c in ("span_idx", "frame_idx", "n_frames", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return media_refs(docs).mapInPandas(fetch_sample, MEDIA_FRAMES_SCHEMA)


def _ref_nibble(ref: str, pos: int) -> int:
    import hashlib

    return int(hashlib.md5(ref.encode()).hexdigest()[pos], 16)
