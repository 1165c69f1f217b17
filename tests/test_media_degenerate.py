"""Degenerate inputs to the media operators: no docs, NULL ``spans``, a doc
without a media span, a media span with a NULL ref before a real one, and
the same ref in two spans must neither crash ``media_stats``,
``media_features``, ``media_resized_features``, ``media_frame_samples`` or
``media_dedup`` nor change their documented rows.

A media span without a ref has no content: the decoding operators skip it
(the real span keeps its own ``span_idx``), ``media_stats`` still counts
it, and ``media_dedup`` (keyed on each doc's FIRST media span) drops a doc
whose first media span has none. The expected rows are the closed forms of
the synthesized gradient images (``media._ref_params``)."""

import hashlib

import pytest

from nettopologysuite_spark.engine import media

A, B = "media://a/1", "media://b/2"


def _span(kind, ref=None, text=None):
    return {"kind": kind, "media_ref": ref, "text": text}


# name → docs rows (doc_id, spans)
CASES = {
    "no_docs": [],
    "null_spans": [("d1", None)],
    "no_media": [("d1", [_span("text", text="hi"), _span("geom", text="POINT (1 2)")])],
    "null_ref_first": [("d1", [_span("media"), _span("media", A)])],
    # d1 holds A twice, d2 holds A once: dedup groups the docs, the
    # decoding operators emit one row set per span
    "same_ref_twice": [("d1", [_span("media", A), _span("text", text="x"),
                               _span("media", A)]),
                       ("d2", [_span("media", A)]),
                       ("d3", [_span("media", B)])],
}


def _docs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind string, media_ref string, text string>>",
    )


def _media_spans(rows):
    """(doc_id, span_idx, ref) of every media span, ref possibly None."""
    return [(d, i, s["media_ref"]) for d, spans in rows for i, s in enumerate(spans or [])
            if s["kind"] == "media"]


def _want_stats(rows):
    out = []
    for d, spans in rows:
        refs = [s["media_ref"] for s in spans or [] if s["kind"] == "media"]
        if refs:
            first = refs[0]
            src = first.split("/")[2] if first is not None else None
            fp = hashlib.md5(first.lower().strip().encode()).hexdigest() \
                if first is not None else None
            out.append((d, len(refs), src, fp))
    return out


def _want_features(rows):
    out = []
    for d, i, ref in _media_spans(rows):
        if ref is not None:
            fmt, w, h, seed = media._ref_params(ref)
            out.append((d, i, fmt, w, h, (h - 1) / 2.0, (w - 1) / 2.0,
                        float(seed), 0, h - 1))
    return out


def _want_resize(rows):
    out = []
    for d, i, ref in _media_spans(rows):
        if ref is not None:
            _, w, h, seed = media._ref_params(ref)
            out.append((d, i, w, h, sum((r * h) // 32 for r in range(32)) / 32.0,
                        sum((c * w) // 32 for c in range(32)) / 32.0, float(seed)))
    return out


def _want_frames(rows):
    out = []
    for d, i, ref in _media_spans(rows):
        if ref is not None:
            _, w, h, seed = media._ref_params(ref)
            nf = 2 + int(hashlib.md5(ref.encode()).hexdigest()[15], 16) % 7
            out += [(d, i, f, nf, w, h, (h - 1) / 2.0, (w - 1) / 2.0,
                     float((seed + f) % 256)) for f in range(0, nf, 2)]
    return out


def _want_dedup(rows):
    groups = {}
    for d, spans in rows:
        refs = [s["media_ref"] for s in spans or [] if s["kind"] == "media"]
        if refs and refs[0] is not None:
            groups.setdefault(media._ref_params(refs[0])[1:], []).append(d)
    return [(min(ds), len(ds)) for ds in groups.values()]


OPERATORS = {
    "media_stats": (media.media_stats, _want_stats),
    "media_features": (media.media_features, _want_features),
    "media_resized_features": (media.media_resized_features, _want_resize),
    "media_frame_samples": (media.media_frame_samples, _want_frames),
    "media_dedup": (media.media_dedup, _want_dedup),
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
@pytest.mark.parametrize("name", sorted(CASES))
def test_media_degenerate(spark, name, op):
    fn, want = OPERATORS[op]
    rows = CASES[name]
    got = sorted((tuple(r) for r in fn(_docs(spark, rows)).collect()), key=repr)
    assert got == sorted(want(rows), key=repr)


def test_media_degenerate_pins():
    """The documented rows of the two cases the module docstring names."""
    assert _want_stats(CASES["null_ref_first"]) == [("d1", 2, None, None)]
    assert _want_dedup(CASES["null_ref_first"]) == []
    assert [r[:2] for r in _want_features(CASES["null_ref_first"])] == [("d1", 1)]
    assert [r[:2] for r in _want_features(CASES["same_ref_twice"])] == [
        ("d1", 0), ("d1", 2), ("d2", 0), ("d3", 0)]
