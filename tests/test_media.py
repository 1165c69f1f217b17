"""Media-span operators: stubbed decode plumbing + span-sequence invariant."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from nettopologysuite_spark.engine.docs import check_span_invariant, synthesize_docs  # noqa: E402
from nettopologysuite_spark.engine.media import media_features, media_refs  # noqa: E402


def test_media_features_schema_and_determinism(spark, sf_dir):
    docs = synthesize_docs(spark, sf_dir)
    feats = media_features(docs)
    assert feats.schema.simpleString() == (
        "struct<doc_id:string,span_idx:int,fmt:string,width:int,height:int,"
        "mean_r:double,mean_g:double,mean_b:double,r_first:int,r_last:int>"
    )
    rows = {r["doc_id"]: tuple(r)[2:] for r in feats.collect()}
    assert len(rows) == docs.count()
    # deterministic: re-run yields identical values
    rows2 = {r["doc_id"]: tuple(r)[2:] for r in feats.collect()}
    assert rows == rows2
    fmts = {v[0] for v in rows.values()}
    assert fmts == {"ppm", "bmp"}  # both decoders exercised
    for fmt, w, h, mr, mg, mb, rf, rl in rows.values():
        assert 16 <= w <= 215 and 16 <= h <= 215
        assert mr == (h - 1) / 2.0 and mg == (w - 1) / 2.0
        assert 0 <= mb <= 255 and rf == 0 and rl == h - 1


def test_media_codecs_roundtrip():
    import numpy as np

    from nettopologysuite_spark.engine.media import (
        _test_image,
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(5)
    for _ in range(40):
        w, h = int(rng.integers(1, 220)), int(rng.integers(1, 220))
        img = _test_image(w, h, int(rng.integers(0, 256)))
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    # header tolerance: PPM comments; BMP top-down (negative height)
    img = _test_image(7, 5, 9)
    blob = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(blob), img)
    import struct

    bmp = bytearray(encode_bmp(img))
    # flip to top-down: negate height, reverse stored rows
    w, h = 7, 5
    row = (3 * w + 3) // 4 * 4
    struct.pack_into("<i", bmp, 22, -h)
    body = bytes(bmp[54:])
    rows = [body[i * row:(i + 1) * row] for i in range(h)]
    bmp[54:] = b"".join(reversed(rows))
    assert np.array_equal(decode_bmp(bytes(bmp)), img)


def test_media_pipeline_preserves_span_invariant(spark, sf_dir):
    docs = synthesize_docs(spark, sf_dir)
    # joining media stats back onto docs must not disturb the spans column
    stats = E.q_media_stats(spark, sf_dir)
    joined = docs.join(stats, "doc_id")
    assert check_span_invariant(docs, joined.select("doc_id", "spans")) == 0
    # media span extraction sees exactly one media span per doc at idx 1
    refs = media_refs(docs)
    assert refs.count() == docs.count()
    assert {r["span_idx"] for r in refs.select("span_idx").distinct().collect()} == {1}


def test_resize_nn_semantics():
    import numpy as np

    from nettopologysuite_spark.engine.media import _test_image, resize_nn

    img = _test_image(100, 60, 7)
    small = resize_nn(img, 32, 32)
    assert small.shape == (32, 32, 3)
    # nearest-neighbor: pixel (i, j) = source (floor(i*60/32), floor(j*100/32))
    for i, j in [(0, 0), (31, 31), (5, 17)]:
        si, sj = (i * 60) // 32, (j * 100) // 32
        assert (small[i, j] == img[si, sj]).all(), (i, j)
    # upscale path too
    up = resize_nn(_test_image(4, 3, 0), 8, 9)
    assert up.shape == (9, 8, 3)


def test_video_container_sampling_skips_frames():
    import numpy as np

    from nettopologysuite_spark.engine.media import (
        _test_image,
        decode_ppm,
        encode_video,
        iter_video_frames,
    )

    frames = [_test_image(10, 8, s) for s in (3, 4, 5, 6, 7)]
    blob = encode_video(frames)
    sampled = list(iter_video_frames(blob, stride=2))
    assert [f for f, _ in sampled] == [0, 2, 4]
    for f, fb in sampled:
        assert np.array_equal(decode_ppm(fb), frames[f])
    # stride=1 returns all frames in order
    assert [f for f, _ in iter_video_frames(blob, stride=1)] == [0, 1, 2, 3, 4]


def test_perceptual_fp_reencode_and_perturb():
    """dHash over REAL decoded pixels: the same image re-encoded PPM↔BMP
    fingerprints identically; a content perturbation with identical dims
    and blue channel separates SOLELY through the dHash bits."""
    import numpy as np

    from nettopologysuite_spark.engine.media import (
        _test_image,
        dhash64,
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
        perceptual_fp,
    )

    img = _test_image(40, 30, seed=77)
    fp_ppm = perceptual_fp(encode_ppm(img))
    fp_bmp = perceptual_fp(encode_bmp(img))
    assert fp_ppm == fp_bmp                       # encoding-invariant
    assert fp_ppm.endswith("|40x30|77")

    # perturb: blast a bright block into R on the left half of the top
    # rows — creates left>right luminance transitions; B untouched
    pert = img.copy()
    pert[:15, :20, 0] = 255
    fp_pert = perceptual_fp(encode_ppm(pert))
    assert fp_pert != fp_ppm
    assert fp_pert.endswith("|40x30|77")          # dims + mean_b identical
    assert dhash64(pert) != 0 and dhash64(img) == 0
    # dhash is computed from decoded pixels, not the blob container
    assert dhash64(decode_ppm(encode_ppm(pert))) == dhash64(decode_bmp(encode_bmp(pert)))


def test_media_dedup_perceptual_groups(spark):
    """Docs whose first media refs decode to the same pixels dedup into one
    group through the REAL decode → dhash path."""
    from nettopologysuite_spark.engine.media import _ref_params, media_dedup

    # find two refs with equal derived (w, h, seed) → identical pixels
    # (format may differ: the fingerprint must not care)
    seen: dict = {}
    pair = None
    i = 0
    while pair is None:
        ref = f"media://host/{i}"
        fmt, w, h, seed = _ref_params(ref)
        key = (w, h, seed)
        if key in seen:
            pair = (seen[key], i, key)
        else:
            seen[key] = i
        i += 1
    a, b, _ = pair
    rows = [
        (f"doc-{j:012d}", [{"kind": "media", "media_ref": f"media://host/{j}",
                            "text": None}])
        for j in (a, b)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind string, media_ref string, text string>>",
    )
    got = media_dedup(docs).collect()
    assert len(got) == 1 and got[0]["n_dups"] == 2
    assert got[0]["keep_id"] == f"doc-{min(a, b):012d}"
