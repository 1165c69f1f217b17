"""Geometry object model + WKT/WKB codecs (pure numpy).

Mirrors the OGC Simple Features model of the reference
(``src/NetTopologySuite/Geometries/Geometry.cs``, ``IO/WKTReader.cs``,
``IO/WKBReader.cs:184-269``, ``IO/WKBWriter.cs``) but with a columnar bias:
coordinates are always numpy ``(n, 2) float64`` arrays (the analog of the
reference's ``PackedDoubleCoordinateSequence``,
``Geometries/Implementation/PackedCoordinateSequence.cs:139``).

Only 2-D (XY) is modelled: the reference's own topology ops ignore Z/M
("RelateNG operates in 2D only", ``Operation/RelateNG/RelateNG.cs:34``).
WKB Z/M inputs are accepted on read and projected to XY.

``uniform_wkb_coords`` / ``uniform_wkb`` are the one batch codec for
same-layout simple WKB (points, linestrings, single-ring polygons of one
vertex count): a whole Arrow batch decodes or encodes as one numpy buffer,
with no per-row Python. The envelope and ``GeomBatch`` decoders and the
entry's rect/segment builders use it; everything else, and every batch it
declines, goes through ``wkb_loads`` / ``wkb_dumps``.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

# WKB geometry type codes (IO/WKBReader.cs dispatch table)
POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7

_TYPE_NAMES = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
}
_NAME_TYPES = {v: k for k, v in _TYPE_NAMES.items()}


@dataclass
class Geom:
    """A single geometry.

    - POINT / LINESTRING: ``coords`` is the (n, 2) vertex array
      (n == 0 → EMPTY, n == 1 for POINT).
    - POLYGON: ``rings`` is [shell, hole1, ...], each a closed (n, 2) array.
    - MULTI* / GEOMETRYCOLLECTION: ``parts`` is the child list.
    """

    gtype: int
    coords: np.ndarray | None = None
    rings: list[np.ndarray] = field(default_factory=list)
    parts: list["Geom"] = field(default_factory=list)
    srid: int = 0
    # Z ordinates ride ALONGSIDE the 2-D arrays (``zs`` for point/line
    # vertices, ``ring_zs`` per polygon ring) and are ignored by every
    # topology kernel — the reference's own 2-D topology stance
    # (``Geometries/CoordinateSequence.cs`` keeps Z but relate/overlay use
    # XY) — while WKB/GML/KML round-trip them losslessly.
    zs: np.ndarray | None = None
    ring_zs: list[np.ndarray] | None = None

    @property
    def has_z(self) -> bool:
        if self.zs is not None or self.ring_zs is not None:
            return True
        return any(p.has_z for p in self.parts)

    # -- basic accessors ------------------------------------------------
    @property
    def is_empty(self) -> bool:
        if self.gtype in (POINT, LINESTRING):
            return self.coords is None or len(self.coords) == 0
        if self.gtype == POLYGON:
            return not self.rings
        return all(p.is_empty for p in self.parts) if self.parts else True

    @property
    def type_name(self) -> str:
        return _TYPE_NAMES[self.gtype]

    def dimension(self) -> int:
        """Topological dimension (Geometry.cs:561): 0 point, 1 line, 2 area."""
        if self.gtype == POINT or self.gtype == MULTIPOINT:
            return 0
        if self.gtype in (LINESTRING, MULTILINESTRING):
            return 1
        if self.gtype in (POLYGON, MULTIPOLYGON):
            return 2
        dims = [p.dimension() for p in self.parts if not p.is_empty]
        return max(dims) if dims else -1

    def flatten(self) -> list["Geom"]:
        """Leaf geometries (points / linestrings / polygons)."""
        if self.gtype in (POINT, LINESTRING, POLYGON):
            return [] if self.is_empty else [self]
        out: list[Geom] = []
        for p in self.parts:
            out.extend(p.flatten())
        return out

    def all_coords(self) -> np.ndarray:
        """All vertices as one (n, 2) array (for envelopes / hulls)."""
        chunks: list[np.ndarray] = []
        if self.gtype in (POINT, LINESTRING):
            if self.coords is not None and len(self.coords):
                chunks.append(self.coords)
        elif self.gtype == POLYGON:
            chunks.extend(self.rings)
        else:
            for p in self.parts:
                c = p.all_coords()
                if len(c):
                    chunks.append(c)
        if not chunks:
            return np.empty((0, 2), dtype=np.float64)
        return np.concatenate(chunks, axis=0)

    def envelope(self) -> tuple[float, float, float, float]:
        """(minx, miny, maxx, maxy); (nan,)*4 when empty (Envelope.cs null env)."""
        c = self.all_coords()
        if len(c) == 0:
            return (math.nan, math.nan, math.nan, math.nan)
        return (
            float(c[:, 0].min()),
            float(c[:, 1].min()),
            float(c[:, 0].max()),
            float(c[:, 1].max()),
        )


def point(x: float, y: float) -> Geom:
    return Geom(POINT, coords=np.array([[x, y]], dtype=np.float64))


def linestring(coords) -> Geom:
    return Geom(LINESTRING, coords=np.asarray(coords, dtype=np.float64).reshape(-1, 2))


def polygon(shell, holes=()) -> Geom:
    rings = [_close_ring(np.asarray(shell, dtype=np.float64).reshape(-1, 2))]
    rings.extend(_close_ring(np.asarray(h, dtype=np.float64).reshape(-1, 2)) for h in holes)
    return Geom(POLYGON, rings=rings)


def multi(gtype: int, parts: list[Geom]) -> Geom:
    return Geom(gtype, parts=list(parts))


def _close_ring(r: np.ndarray) -> np.ndarray:
    if len(r) and (r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]):
        r = np.concatenate([r, r[:1]], axis=0)
    return r


# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

class _WktScanner:
    """Tokenizer + recursive descent (IO/WKTReader.cs:198-360 semantics)."""

    def __init__(self, text: str):
        self.text = text
        self.pos = 0
        self.n = len(text)

    def _skip_ws(self):
        while self.pos < self.n and self.text[self.pos] in " \t\r\n,":
            self.pos += 1

    def peek(self) -> str:
        self._skip_ws()
        return self.text[self.pos] if self.pos < self.n else ""

    def take_word(self) -> str:
        self._skip_ws()
        start = self.pos
        while self.pos < self.n and (self.text[self.pos].isalpha() or self.text[self.pos] in "_"):
            self.pos += 1
        return self.text[start : self.pos].upper()

    def expect(self, ch: str):
        self._skip_ws()
        if self.pos >= self.n or self.text[self.pos] != ch:
            raise ValueError(f"WKT parse error at {self.pos}: expected {ch!r} in {self.text[:80]!r}")
        self.pos += 1

    def take_number(self) -> float:
        self._skip_ws()
        start = self.pos
        while self.pos < self.n and self.text[self.pos] not in " \t\r\n,()":
            self.pos += 1
        return float(self.text[start : self.pos])


def wkt_loads(text: str) -> Geom:
    sc = _WktScanner(text)
    g = _read_geom(sc)
    return g


def _read_dim_flags(sc: _WktScanner) -> int:
    """Consume optional Z/M/ZM flag; return number of extra ordinates."""
    save = sc.pos
    w = sc.take_word()
    if w in ("Z", "M"):
        return 1
    if w == "ZM":
        return 2
    sc.pos = save
    return 0


def _read_coords(sc: _WktScanner, extra: int) -> np.ndarray:
    sc.expect("(")
    pts = []
    while True:
        x = sc.take_number()
        y = sc.take_number()
        for _ in range(extra):
            sc.take_number()  # drop Z/M
        pts.append((x, y))
        if sc.peek() == ")":
            sc.expect(")")
            break
    return np.array(pts, dtype=np.float64)


def _maybe_empty(sc: _WktScanner) -> bool:
    save = sc.pos
    w = sc.take_word()
    if w == "EMPTY":
        return True
    sc.pos = save
    # quirky variant seen in reference fixtures: 'POLYGON( EMPTY)'
    if sc.peek() == "(":
        save = sc.pos
        sc.expect("(")
        w = sc.take_word()
        if w == "EMPTY" and sc.peek() == ")":
            sc.expect(")")
            return True
        sc.pos = save
    return False


def _read_geom(sc: _WktScanner) -> Geom:
    kw = sc.take_word()
    is_ring = kw == "LINEARRING"
    if is_ring:
        kw = "LINESTRING"
    if kw not in _NAME_TYPES:
        raise ValueError(f"unknown WKT keyword {kw!r}")
    gtype = _NAME_TYPES[kw]
    if is_ring:
        extra = _read_dim_flags(sc)
        if _maybe_empty(sc):
            g = Geom(LINESTRING, coords=np.empty((0, 2), dtype=np.float64))
        else:
            g = Geom(LINESTRING, coords=_read_coords(sc, extra))
        g.is_ring = True  # validity rules differ for LinearRing
        return g
    extra = _read_dim_flags(sc)
    if _maybe_empty(sc):
        if gtype in (POINT, LINESTRING):
            return Geom(gtype, coords=np.empty((0, 2), dtype=np.float64))
        return Geom(gtype)

    if gtype == POINT:
        c = _read_coords(sc, extra)
        return Geom(POINT, coords=c)
    if gtype == LINESTRING:
        return Geom(LINESTRING, coords=_read_coords(sc, extra))
    if gtype == POLYGON:
        return _read_polygon_body(sc, extra)
    if gtype == MULTIPOINT:
        sc.expect("(")
        parts = []
        while True:
            if sc.peek() == "(":
                c = _read_coords(sc, extra)
            else:
                if _maybe_empty(sc):
                    c = np.empty((0, 2), dtype=np.float64)
                else:
                    x = sc.take_number()
                    y = sc.take_number()
                    for _ in range(extra):
                        sc.take_number()
                    c = np.array([[x, y]], dtype=np.float64)
            parts.append(Geom(POINT, coords=c))
            if sc.peek() == ")":
                sc.expect(")")
                break
        return Geom(MULTIPOINT, parts=parts)
    if gtype == MULTILINESTRING:
        sc.expect("(")
        parts = []
        while True:
            if _maybe_empty(sc):  # EMPTY element inside a MULTI (WKTReader.cs)
                parts.append(Geom(LINESTRING, coords=np.empty((0, 2))))
            else:
                parts.append(Geom(LINESTRING, coords=_read_coords(sc, extra)))
            if sc.peek() == ")":
                sc.expect(")")
                break
        return Geom(MULTILINESTRING, parts=parts)
    if gtype == MULTIPOLYGON:
        sc.expect("(")
        parts = []
        while True:
            parts.append(_read_polygon_body(sc, extra))
            if sc.peek() == ")":
                sc.expect(")")
                break
        return Geom(MULTIPOLYGON, parts=parts)
    # GEOMETRYCOLLECTION
    sc.expect("(")
    parts = []
    while True:
        parts.append(_read_geom(sc))
        if sc.peek() == ")":
            sc.expect(")")
            break
    return Geom(GEOMETRYCOLLECTION, parts=parts)


def _read_polygon_body(sc: _WktScanner, extra: int) -> Geom:
    if _maybe_empty(sc):
        return Geom(POLYGON)
    sc.expect("(")
    rings = []
    while True:
        rings.append(_close_ring(_read_coords(sc, extra)))
        if sc.peek() == ")":
            sc.expect(")")
            break
    return Geom(POLYGON, rings=rings)


def _fmt_num(v: float, decimals: int | None = None) -> str:
    """Number formatting per the reference's OrdinateFormat
    (``IO/OrdinateFormat.cs:104-204``): default is shortest round-trip
    expanded to plain positional notation (the reference rewrites any
    E-notation into digits — WKT never carries an exponent), integral
    values without '.0'; NaN/±Inf use the reference's spellings. With
    ``decimals`` < 16, fixed rounding to at most that many fraction digits
    with trailing zeros trimmed (.NET ``0.##`` custom-format semantics,
    ``OrdinateFormat.cs:78-83``); >= 16 falls back to round-trip exactly as
    the reference does."""
    v = float(v)
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Inf" if v > 0 else "-Inf"
    if decimals is not None and decimals < 16:
        s = f"{v:.{max(decimals, 0)}f}"
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "0" if s in ("", "-", "-0") else s
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    s = repr(v)
    if "e" in s or "E" in s:
        s = np.format_float_positional(v, trim="-")
    return s


def _fmt_coords(c: np.ndarray, decimals: int | None = None) -> str:
    return ", ".join(
        f"{_fmt_num(x, decimals)} {_fmt_num(y, decimals)}" for x, y in c
    )


def wkt_dumps(g: Geom, decimals: int | None = None) -> str:
    """WKT text; ``decimals`` is the optional maximum-fraction-digits
    control (WKTWriter's PrecisionModel→OrdinateFormat path,
    ``IO/WKTWriter.cs:136-143``)."""
    name = g.type_name
    if g.is_empty:
        return f"{name} EMPTY"
    if g.gtype == POINT:
        return f"POINT ({_fmt_coords(g.coords, decimals)})"
    if g.gtype == LINESTRING:
        return f"LINESTRING ({_fmt_coords(g.coords, decimals)})"
    if g.gtype == POLYGON:
        body = ", ".join(f"({_fmt_coords(r, decimals)})" for r in g.rings)
        return f"POLYGON ({body})"
    if g.gtype == MULTIPOINT:
        body = ", ".join(f"({_fmt_coords(p.coords, decimals)})" for p in g.parts)
        return f"MULTIPOINT ({body})"
    if g.gtype == MULTILINESTRING:
        body = ", ".join(f"({_fmt_coords(p.coords, decimals)})" for p in g.parts)
        return f"MULTILINESTRING ({body})"
    if g.gtype == MULTIPOLYGON:
        body = ", ".join(
            "(" + ", ".join(f"({_fmt_coords(r, decimals)})" for r in p.rings) + ")"
            for p in g.parts
        )
        return f"MULTIPOLYGON ({body})"
    body = ", ".join(wkt_dumps(p, decimals) for p in g.parts)
    return f"GEOMETRYCOLLECTION ({body})"


# ---------------------------------------------------------------------------
# WKB (little-endian, 2-D; reads big-endian + Z/M/SRID flags too)
# ---------------------------------------------------------------------------

_Z_FLAG = 0x80000000
_M_FLAG = 0x40000000
_SRID_FLAG = 0x20000000
_ISO_Z = 1000
_ISO_M = 2000


def wkb_dumps(g: Geom) -> bytes:
    out = bytearray()
    _write_wkb(g, out)
    return bytes(out)


def _with_z(xy: np.ndarray, z: np.ndarray | None) -> np.ndarray:
    """(n, 2) + aligned z → (n, 3) for serialization (no topology use)."""
    out = np.empty((len(xy), 3), dtype=np.float64)
    out[:, :2] = xy
    out[:, 2] = z if z is not None and len(z) == len(xy) else math.nan
    return out


def _write_wkb(g: Geom, out: bytearray):
    # Z-bearing geometries write ISO Z type codes (1000 + type, the
    # WKBWriter.cs Strict=true flavor); 2-D geometries are byte-identical
    # to before. Topology never reads Z back — passthrough only.
    z = g.has_z
    out += b"\x01"
    out += struct.pack("<I", g.gtype + (1000 if z else 0))
    if g.gtype == POINT:
        if g.is_empty:
            out += struct.pack("<ddd" if z else "<dd",
                               *([math.nan] * (3 if z else 2)))
        elif z:
            c = _with_z(g.coords[:1], g.zs)
            out += struct.pack("<ddd", c[0, 0], c[0, 1], c[0, 2])
        else:
            out += struct.pack("<dd", g.coords[0, 0], g.coords[0, 1])
    elif g.gtype == LINESTRING:
        c = g.coords if g.coords is not None else np.empty((0, 2))
        if z:
            c = _with_z(c, g.zs)
        out += struct.pack("<I", len(c))
        out += np.ascontiguousarray(c, dtype="<f8").tobytes()
    elif g.gtype == POLYGON:
        out += struct.pack("<I", len(g.rings))
        for i, r in enumerate(g.rings):
            if z:
                r = _with_z(r, g.ring_zs[i] if g.ring_zs and i < len(g.ring_zs)
                            else None)
            out += struct.pack("<I", len(r))
            out += np.ascontiguousarray(r, dtype="<f8").tobytes()
    else:
        out += struct.pack("<I", len(g.parts))
        for p in g.parts:
            _write_wkb(p, out)


class _WkbScanner:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def geom(self) -> Geom:
        bo = self.buf[self.pos]
        self.pos += 1
        end = "<" if bo == 1 else ">"
        (raw_type,) = struct.unpack_from(end + "I", self.buf, self.pos)
        self.pos += 4
        has_z = bool(raw_type & _Z_FLAG)
        has_m = bool(raw_type & _M_FLAG)
        has_srid = bool(raw_type & _SRID_FLAG)
        t = raw_type & 0x0FFFFFFF
        # ISO WKB: 1001=PointZ, 2001=PointM, 3001=PointZM
        iso = t // 1000
        if iso in (1, 3):
            has_z = True
        if iso in (2, 3):
            has_m = True
        t = t % 1000
        srid = 0
        if has_srid:
            (srid,) = struct.unpack_from(end + "i", self.buf, self.pos)
            self.pos += 4
        ncoord = 2 + int(has_z) + int(has_m)

        def read_pts(n: int) -> tuple[np.ndarray, np.ndarray | None]:
            nbytes = 8 * ncoord * n
            a = np.frombuffer(self.buf, dtype=end + "f8", count=ncoord * n, offset=self.pos)
            self.pos += nbytes
            full = a.astype(np.float64, copy=True).reshape(n, ncoord)
            # Z rides through (column 2 when the Z flag is set); M is dropped
            return full[:, :2], (full[:, 2].copy() if has_z else None)

        def read_count() -> int:
            (n,) = struct.unpack_from(end + "I", self.buf, self.pos)
            self.pos += 4
            return n

        if t == POINT:
            c, z = read_pts(1)
            if np.isnan(c).all():
                c = np.empty((0, 2), dtype=np.float64)
                z = None
            return Geom(POINT, coords=c, srid=srid, zs=z)
        if t == LINESTRING:
            c, z = read_pts(read_count())
            return Geom(LINESTRING, coords=c, srid=srid, zs=z)
        if t == POLYGON:
            rings, ring_zs = [], []
            for _ in range(read_count()):
                r, z = read_pts(read_count())
                rings.append(r)
                ring_zs.append(z)
            return Geom(POLYGON, rings=rings, srid=srid,
                        ring_zs=(ring_zs if has_z else None))
        if t in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
            parts = [self.geom() for _ in range(read_count())]
            return Geom(t, parts=parts, srid=srid)
        raise ValueError(f"unsupported WKB type {raw_type}")


def wkb_loads(buf: bytes) -> Geom:
    return _WkbScanner(buf).geom()


# ---------------------------------------------------------------------------
# Uniform-layout batch codec: one numpy buffer per batch, no per-row parse
# ---------------------------------------------------------------------------

_UNIFORM_MIN_ROWS = 16  # smaller batches take the per-row parser


def _uniform_header(gtype: int, npts: int) -> bytes:
    """Little-endian WKB header of a simple geometry with ``npts`` vertices:
    byte order and type, then the ring count (polygon) and vertex count."""
    if gtype == POINT:
        return struct.pack("<BI", 1, POINT)
    if gtype == LINESTRING:
        return struct.pack("<BII", 1, LINESTRING, npts)
    return struct.pack("<BIII", 1, POLYGON, 1, npts)


def uniform_wkb_coords(blobs) -> tuple[int, np.ndarray] | None:
    """(gtype, xy (n, npts, 2)) for a batch of at least 16 blobs that share
    one little-endian layout: all 2-D POINTs, or all LINESTRINGs or all
    single-ring POLYGONs of one vertex count. The batch is joined into one
    buffer and reinterpreted as float64. Anything else — small, mixed or
    big-endian batches, other types, NULL rows, a NaN point (POINT EMPTY) —
    returns None and takes the per-row parser."""
    n = len(blobs)
    if n < _UNIFORM_MIN_ROWS or not blobs[0]:
        return None
    first = blobs[0]
    size = len(first)
    if size < 5 or any(b is None or len(b) != size for b in blobs):
        return None
    gtype = int.from_bytes(bytes(first[1:5]), "little")
    if gtype == POINT:
        npts = 1
    elif gtype in (LINESTRING, POLYGON) and size >= 13:
        at = 5 if gtype == LINESTRING else 9  # the vertex count
        npts = int.from_bytes(bytes(first[at:at + 4]), "little")
    else:
        return None
    head = np.frombuffer(_uniform_header(gtype, npts), dtype=np.uint8)
    if npts < 1 or size != len(head) + 16 * npts:
        return None
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(n, size)
    if not (buf[:, :len(head)] == head).all():
        return None
    xy = buf[:, len(head):].copy().view("<f8").reshape(n, npts, 2)
    if gtype == POINT and np.isnan(xy).any():
        return None
    return gtype, xy


def uniform_wkb(gtype: int, xy: np.ndarray) -> list[bytes]:
    """Inverse of ``uniform_wkb_coords``: one little-endian blob per row of
    ``xy`` (n, npts, 2) — a POINT (npts 1), LINESTRING or single-ring
    POLYGON — assembled in one numpy buffer."""
    xy = np.ascontiguousarray(xy, dtype="<f8")
    n, npts, _ = xy.shape
    head = np.frombuffer(_uniform_header(gtype, npts), dtype=np.uint8)
    size = len(head) + 16 * npts
    buf = np.empty((n, size), dtype=np.uint8)
    buf[:, :len(head)] = head
    buf[:, len(head):] = xy.reshape(n, 2 * npts).view(np.uint8)
    b = buf.tobytes()
    return [b[i * size:(i + 1) * size] for i in range(n)]
