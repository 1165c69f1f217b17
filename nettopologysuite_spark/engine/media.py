"""Media-span operators over the interleaved documents table.

The docs table (BASELINE.json input_hint) interleaves text / geom / media
spans; media content is an opaque reference (``media://<source>/<id>``).
Every decoding operator runs the same path, each step written once:

- FETCH (``_fetch``) is the only stand-in: it synthesizes deterministic
  PPM/BMP bytes (or a multi-frame container) from the ref — in production
  it is the object-store read;
- DECODE (``_decode``) is real: one format sniff in front of pure-numpy PPM
  (P6) and 24-bit BMP parsers;
- STATS (``_channel_means``) is the one exact channel-mean reduction
  (integer sums divided once — deterministic doubles any engine
  reproduces);
- ``_map_refs`` is the one mapInPandas stage: it widens the narrow
  (keys…, media_ref) rows across the session's cores and emits each
  ref's rows from a per-ref function, so fetched bytes never cross the
  Arrow boundary.

``media_features``, ``media_resized_features``, ``media_frame_samples`` and
``media_perceptual_stats`` (behind ``media_dedup``) are per-ref functions
handed to that stage; ``media_stats`` is pure native expressions over the
spans array. Every operator is oracle-gated:

- ``media_stats``: per-doc media span counts + normalized-ref fingerprint
  (the span column is never exploded-and-regrouped, preserving the
  span-sequence invariant).
- ``media_dedup``: media-level dedup on a perceptual fingerprint of the
  decoded pixels of each doc's first media span.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def media_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, span_idx, media_ref) for media spans with a ref — array
    filter before explode (only those spans materialize as rows), so
    span_idx keeps each span's position in the doc."""
    ex = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(spans, (s, i) -> "
                "struct(s.kind AS kind, s.media_ref AS media_ref, i AS idx)), "
                "x -> x.kind = 'media' AND x.media_ref IS NOT NULL)"
            )
        ).alias("m"),
    )
    return ex.select(
        "doc_id", F.col("m.idx").alias("span_idx"), F.col("m.media_ref").alias("media_ref")
    )


def _map_refs(refs: DataFrame, per_ref, schema: str) -> DataFrame:
    """The one Python stage behind the decoding operators. ``refs`` rows
    are (key columns…, media_ref); ``per_ref(ref)`` returns the rows
    (tuples of the schema's remaining columns) that ref contributes, each
    emitted after its row's keys. Python ints land as int64 and
    mapInPandas casts them to the declared ``int`` fields.

    The refs are widened first: they are tiny rows (a ref string per
    span) but every one costs real per-ref work in Python, and a small
    source file otherwise funnels the whole decode through 1-2 tasks
    (guide §2.5 input parallelism). The repartition shuffles only the
    narrow ref rows, never image bytes, and scales with the session's
    core count rather than a constant."""
    names = [f.split()[0] for f in schema.split(",")]

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(*keys, *row)
                 for *keys, ref in pdf.itertuples(index=False, name=None)
                 for row in per_ref(ref)],
                columns=names,
            )

    sc = refs.sparkSession.sparkContext
    return refs.repartition(sc.defaultParallelism).mapInPandas(run, schema)


_MEDIA_SPANS = "filter(spans, s -> s.kind = 'media')"


def _first_ref():
    """media_ref of a doc's first media span; NULL when the doc has no
    media span (``try_element_at``: an empty array is not an error)."""
    return F.try_element_at(F.expr(_MEDIA_SPANS), F.lit(1))["media_ref"]


def media_stats(docs: DataFrame) -> DataFrame:
    """Per-doc media stats: span count, source host of the first ref, and a
    content fingerprint (md5 of the normalized ref — deterministic pHash
    stand-in). All JVM-side array expressions; spans stay untouched. A
    media span without a ref still counts; a doc whose first media span
    has none gets NULL host and fingerprint."""
    first_ref = _first_ref()
    host = F.regexp_extract(first_ref, r"^media://([^/]+)/", 1)
    return docs.select(
        "doc_id",
        F.size(F.expr(_MEDIA_SPANS)).alias("n_media"),
        host.alias("media_src"),
        F.md5(F.lower(F.trim(first_ref))).alias("media_fp"),
    ).filter(F.col("n_media") > 0)


# ---------------------------------------------------------------------------
# fetch → decode → stats: each step once
# ---------------------------------------------------------------------------

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


def _fetch(ref: str, video: bool = False) -> bytes:
    """FETCH: media_ref → encoded bytes. In production the object-store
    read; here the bytes are synthesized deterministically from the ref's
    md5 (``_ref_params`` + ``_test_image``), PPM or BMP by the ref so both
    decoders exercise. ``video`` reads the ref as a multi-frame container
    instead: n_frames = 2 + h15 % 7 PPM frames, frame f the gradient image
    with seed (seed+f) % 256."""
    import hashlib

    fmt, w, h, seed = _ref_params(ref)
    if video:
        nf = 2 + int(hashlib.md5(ref.encode()).hexdigest()[15], 16) % 7
        return encode_video([_test_image(w, h, (seed + f) % 256) for f in range(nf)])
    img = _test_image(w, h, seed)
    return encode_ppm(img) if fmt == "ppm" else encode_bmp(img)


def _decode(blob: bytes) -> tuple[str, "np.ndarray"]:
    """DECODE: (fmt, (h, w, 3) uint8 RGB) from PPM (P6) or 24-bit BMP
    bytes — the one format sniff."""
    b = bytes(blob)
    if b[:2] == b"P6":
        return "ppm", decode_ppm(b)
    return "bmp", decode_bmp(b)


def _channel_means(img: "np.ndarray") -> tuple[float, float, float]:
    """Exact (mean_r, mean_g, mean_b): integer channel sums divided once,
    so the doubles match any engine's closed form. One strided sum per
    channel: summing a (pixels, 3) view along its long axis runs ~8×
    slower."""
    import numpy as np

    h, w, _ = img.shape
    return tuple(int(img[:, :, c].sum(dtype=np.int64)) / (w * h) for c in range(3))


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


# ---------------------------------------------------------------------------
# the operators: one per-ref function each
# ---------------------------------------------------------------------------

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, span_idx int, fmt string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, r_first int, r_last int"
)


def _features(ref: str) -> list[tuple]:
    fmt, img = _decode(_fetch(ref))
    h, w, _ = img.shape
    return [(fmt, w, h, *_channel_means(img), int(img[0, 0, 0]), int(img[h - 1, 0, 0]))]


def media_features(docs: DataFrame) -> DataFrame:
    """fetch → REAL PPM/BMP decode → exact channel stats, one row per media
    span with a ref: (doc_id, span_idx, fmt, width, height, mean_r/g/b,
    r_first, r_last), where r_first/r_last are the R values at the top-
    and bottom-left pixels (they expose a row-order decode bug)."""
    return _map_refs(media_refs(docs), _features, MEDIA_FEATURE_SCHEMA)


def dhash64(img: "np.ndarray") -> int:
    """64-bit difference hash over REAL decoded pixels: channel-sum
    luminance of the 8×9 :func:`resize_nn` thumbnail (taken before the
    channel sum, so only 72 pixels are summed), bit = left pixel strictly
    brighter than its right neighbour, packed row-major MSB-first.
    Encoding-invariant (PPM and BMP of the same pixels hash identically);
    content perturbations that change local gradient direction flip
    bits."""
    import numpy as np

    t = resize_nn(img, 9, 8).sum(axis=2, dtype=np.int32)
    bits = (t[:, :-1] > t[:, 1:]).ravel()
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def perceptual_fp(blob: bytes) -> str:
    """Perceptual fingerprint of an encoded image: decode (PPM or BMP),
    then ``<dhash64 hex>|<w>x<h>|<round(mean_blue)>`` — the dHash carries
    the luminance structure, the dims + blue-channel mean cut hash
    collisions between structurally-flat images (the standard
    pHash-plus-metadata dedup key). Identical pixels re-encoded PPM↔BMP
    produce the same fingerprint."""
    _, img = _decode(blob)
    h, w, _ = img.shape
    return f"{dhash64(img):016x}|{w}x{h}|{round(_channel_means(img)[2])}"


def _perceptual(ref: str) -> list[tuple]:
    return [(perceptual_fp(_fetch(ref)),)]


def media_perceptual_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, media_fp) with media_fp the PERCEPTUAL fingerprint of each
    doc's first media span, computed from the real decoded pixels. A doc
    whose first media span has no ref has no row."""
    first = docs.select("doc_id", _first_ref().alias("media_ref")) \
        .filter(F.col("media_ref").isNotNull())
    return _map_refs(first, _perceptual, "doc_id string, media_fp string")


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
    def resized(ref: str) -> list[tuple]:
        _, img = _decode(_fetch(ref))
        h, w, _ = img.shape
        return [(w, h, *_channel_means(resize_nn(img, rw, rh)))]

    return _map_refs(media_refs(docs), resized, MEDIA_RESIZE_SCHEMA)


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
    """fetch (a multi-frame container per ref) → FRAME-SAMPLE every
    ``stride``-th frame (skipping unsampled frames without decoding) →
    decode → per-frame channel stats, one row per sampled frame. The
    container's frames have closed forms (:func:`_fetch`), so every
    emitted row has an oracle."""
    import struct

    def frames(ref: str) -> list[tuple]:
        video = _fetch(ref, video=True)
        (nf,) = struct.unpack_from("<I", video, len(_NTSV_MAGIC))
        rows = []
        for f, fb in iter_video_frames(video, stride):
            _, img = _decode(fb)
            h, w, _ = img.shape
            rows.append((f, nf, w, h, *_channel_means(img)))
        return rows

    return _map_refs(media_refs(docs), frames, MEDIA_FRAMES_SCHEMA)
