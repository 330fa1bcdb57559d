"""Vectorized exact pre-classifier for convex single-ring polygon pairs.

Scale-hardening of the Python exact-relate path: the general verifier
(`relate_general.with_general_relations`) calls `relate_pair` once per
candidate row — exact, but ~100 us/pair of interpreter work dominated by
`relate_poly.classify_boundary`. At tile-join candidate mixes the
overwhelming majority of polygon pairs are either cleanly disjoint or
cleanly nested/overlapping with NO boundary contact, and for convex
polygons those cases are decidable from one orientation-sign tensor —
a handful of numpy einsum-sized products over the whole Arrow batch,
~100x less interpreter work per pair.

Exactness argument (no epsilons anywhere):
- Eligible coordinates must be integers after scaling by 512 (covers the
  testdata 1/16-dyadic contract and the 1/512 decomposition lattice) and
  bounded by 2^24. Then every cross product used here is a difference of
  products of integers bounded by 2^25, i.e. < 2^51 — exactly
  representable in float64, so every sign this module reads is the true
  integer sign. Anything that fails the integrality/bound probe falls
  back to the scaled-integer exact path (`relate_poly`), which handles
  arbitrary dyadic floats.
- Separating-axis reasoning is only applied to pairs verified strictly
  convex (all consecutive-edge cross signs identical and nonzero), where
  SAT over edge normals is an exact theorem, and only STRICT sign
  configurations are classified:
    * strict separation on some edge axis        -> DISJOINT
    * every B vertex strictly inside every A half-plane -> B in interior(A)
    * symmetric                                  -> A in interior(B)
    * no weak separating axis on either side and each polygon has a
      vertex strictly outside the other          -> proper OVERLAPS
  If interiors were disjoint a weak separating axis parallel to an edge
  of A or B would exist (the extreme line of the separating cone lies
  along an adjacent edge), so "no weak axis" proves interiors intersect.
  Every configuration involving a zero sign that matters (boundary
  contact, touches, covers-with-contact, equals) returns UNDECIDED and
  takes the per-pair exact path. The two paths therefore never disagree;
  the fast path only skips work, never changes a flag.

At 100 TB this is the difference between the verifier being a Python
loop and being a batched Arrow kernel for ~90% of candidates; the
remaining contact cases stay O(|A|.|B|) per pair but are a small
minority of any tile-join candidate stream (measured below in
tests/test_relate_fast.py and PLANS.md round-4 notes).
"""

from __future__ import annotations

import numpy as np

SCALE = 512.0
MAX_SCALED = float(1 << 24)
MAX_VERTS = 8  # ring size (without closure); larger rings -> slow path

UNDECIDED, DISJOINT, A_IN_B, B_IN_A, OVERLAP = 0, 1, 2, 3, 4

_ALL = (
    "intersects", "contains", "within", "covers", "coveredby",
    "equals", "touches", "overlaps", "crosses", "disjoint",
)


def _code_dict(**true_flags) -> dict[str, bool]:
    d = {k: False for k in _ALL}
    d.update(true_flags)
    return d


CODE_DICTS = {
    DISJOINT: _code_dict(disjoint=True),
    A_IN_B: _code_dict(intersects=True, within=True, coveredby=True),
    B_IN_A: _code_dict(intersects=True, contains=True, covers=True),
    OVERLAP: _code_dict(intersects=True, overlaps=True),
}

# CODE_FLAGS[rel][code] -> bool; lets the verifier assemble whole result
# columns as one numpy gather per relation instead of per-row appends
CODE_FLAGS = {
    rel: np.array(
        [False] + [CODE_DICTS[c][rel] for c in (DISJOINT, A_IN_B, B_IN_A, OVERLAP)]
    )
    for rel in _ALL
}


def _orient_tensor(A, sa, B):
    """O[n, i, j]: sign of orient(a_i, a_{i+1}, b_j) normalized so that
    positive means 'strictly inside edge i's half-plane'."""
    E = np.roll(A, -1, axis=1) - A                  # [n, K, 2]
    rel = B[:, None, :, :] - A[:, :, None, :]       # [n, K(edges), J(verts), 2]
    O = E[:, :, None, 0] * rel[:, :, :, 1] - E[:, :, None, 1] * rel[:, :, :, 0]
    O *= sa[:, None, None]
    return O


def _dense_ring_checks(ring):
    """Scaling / integrality / convexity / closure checks over a dense
    batch of closed rings ``ring[n, P, 2]`` (first vertex repeated
    last). Returns (verts[n,k,2], sign[n], valid[n]) or None when the
    shared arity is outside the fast-path envelope; rows failing any
    PER-ROW probe (closure included) come back invalid, not batch-fatal."""
    k = ring.shape[1] - 1  # vertices sans closure
    if not 3 <= k <= MAX_VERTS:
        return None
    r = ring[:, :-1] * SCALE
    valid = (
        np.all(ring[:, 0] == ring[:, -1], axis=1)
        & np.all(np.abs(r) <= MAX_SCALED, axis=(1, 2))
        & np.all(r == np.rint(r), axis=(1, 2))
    )
    e = np.roll(r, -1, axis=1) - r
    e2 = np.roll(e, -1, axis=1)
    cr = e[:, :, 0] * e2[:, :, 1] - e[:, :, 1] * e2[:, :, 0]
    sign = np.where(
        np.all(cr > 0, axis=1), 1.0, np.where(np.all(cr < 0, axis=1), -1.0, 0.0)
    )
    return r, sign, valid & (sign != 0.0)


def preclassify_dense(ring_a, ring_b) -> np.ndarray | None:
    """Codes for a dense pair batch: ``ring_a``/``ring_b`` are float64
    arrays of shape (n, P, 2) holding CLOSED single rings (the layout the
    Arrow-native verifier gathers straight from the list-array buffers —
    no per-row objects anywhere). Rows failing the integrality/convexity
    probe come back UNDECIDED; a shared shape outside the envelope
    returns None (the caller leaves those rows UNDECIDED)."""
    ha = _dense_ring_checks(ring_a)
    if ha is None:
        return None
    hb = _dense_ring_checks(ring_b)
    if hb is None:
        return None
    A, sa, va = ha
    B, sb, vb = hb
    OA = _orient_tensor(A, sa, B)   # A's edge axes vs B's vertices
    OB = _orient_tensor(B, sb, A)   # B's edge axes vs A's vertices
    sep = np.any(np.all(OA < 0, axis=2), axis=1) | np.any(
        np.all(OB < 0, axis=2), axis=1
    )
    b_in_a = np.all(OA > 0, axis=(1, 2))
    a_in_b = np.all(OB > 0, axis=(1, 2))
    # no weak separating axis anywhere -> interiors intersect
    no_weak_axis = np.all(np.any(OA > 0, axis=2), axis=1) & np.all(
        np.any(OB > 0, axis=2), axis=1
    )
    b_out = np.any(OA < 0, axis=(1, 2))   # some B vertex strictly outside A
    a_out = np.any(OB < 0, axis=(1, 2))
    overlap = no_weak_axis & b_out & a_out & ~b_in_a & ~a_in_b

    out = np.zeros(OA.shape[0], dtype=np.int8)
    out[sep] = DISJOINT
    out[b_in_a] = B_IN_A
    out[a_in_b] = A_IN_B
    out[overlap] = OVERLAP
    out[~(va & vb)] = UNDECIDED
    return out


def _scaled_points(pts):
    """(scaled points, per-row lattice-validity) for a (n, K, 2) batch."""
    ps = pts * SCALE
    valid = (
        np.all(np.abs(ps) <= MAX_SCALED, axis=(1, 2))
        & np.all(ps == np.rint(ps), axis=(1, 2))
    )
    return ps, valid


def preclassify_points_vs_poly(pts, ring) -> np.ndarray | None:
    """Codes for point-set/polyline A vs convex single-ring polygon B.

    ``pts[n, K, 2]`` holds EVERY vertex of A (POINT / MULTIPOINT /
    LINESTRING / MULTILINESTRING — for dim < 2 geometries the vertex set
    is enough: on any linear axis the polyline's extremes are vertices,
    and a convex region containing all vertices contains every segment
    between them). ``ring[n, P, 2]`` is the closed ring. Claims are
    conservative and strict-sign only:
      * every vertex strictly inside every edge half-plane -> A_IN_B
        (intersects + within + coveredby; no boundary contact possible)
      * some edge axis with every vertex strictly outside -> DISJOINT
      * anything else (contact, degenerate, off-lattice) -> UNDECIDED.
    Exactness: same scaled-integer float64 argument as the polygon pair
    path. Swapped callers map A_IN_B -> B_IN_A themselves."""
    hb = _dense_ring_checks(ring)
    if hb is None:
        return None
    B, sb, vb = hb
    ps, va = _scaled_points(pts)
    OB = _orient_tensor(B, sb, ps)
    inside = np.all(OB > 0, axis=(1, 2))
    sep = np.any(np.all(OB < 0, axis=2), axis=1)
    out = np.zeros(ring.shape[0], dtype=np.int8)
    out[sep] = DISJOINT
    out[inside] = A_IN_B
    out[~(va & vb)] = UNDECIDED
    return out


def preclassify_pts_vs_pts(A, B) -> np.ndarray:
    """Codes for point-set x point-set (POINT/MULTIPOINT both sides —
    the vertex set IS the geometry). Pure set algebra on the equality
    tensor, exact on ANY float coordinates (no lattice probe needed):
    no common point -> DISJOINT; proper subset -> A_IN_B / B_IN_A;
    common + residue both sides -> OVERLAP (point sets never touch or
    cross); equal sets -> UNDECIDED (the code table carries no equals)."""
    eq = (A[:, :, None, 0] == B[:, None, :, 0]) & (
        A[:, :, None, 1] == B[:, None, :, 1]
    )
    common = eq.any(axis=(1, 2))
    a_in_b = eq.any(axis=2).all(axis=1)
    b_in_a = eq.any(axis=1).all(axis=1)
    out = np.zeros(A.shape[0], dtype=np.int8)
    out[~common] = DISJOINT
    out[common & a_in_b & ~b_in_a] = A_IN_B
    out[common & b_in_a & ~a_in_b] = B_IN_A
    out[common & ~a_in_b & ~b_in_a] = OVERLAP
    return out


def preclassify_pts_vs_line(P, L) -> np.ndarray:
    """Codes for point-set vs polyline: DISJOINT iff no point is
    incident to any segment of the vertex chain (orientation zero AND
    inside the segment bbox — integer-exact under the lattice probe),
    else UNDECIDED. Multi-part lines enter as their flat vertex chain:
    the phantom bridge segments can only ADD incidences, i.e. only
    withhold a DISJOINT claim — conservative, never wrong."""
    ps, va = _scaled_points(P)
    ls, vb = _scaled_points(L)
    a, b = ls[:, :-1, :], ls[:, 1:, :]
    e = b - a                                     # (n, S, 2)
    rel = ps[:, :, None, :] - a[:, None, :, :]    # (n, K, S, 2)
    o = e[:, None, :, 0] * rel[:, :, :, 1] - e[:, None, :, 1] * rel[:, :, :, 0]
    lox = np.minimum(a[:, None, :, 0], b[:, None, :, 0])
    hix = np.maximum(a[:, None, :, 0], b[:, None, :, 0])
    loy = np.minimum(a[:, None, :, 1], b[:, None, :, 1])
    hiy = np.maximum(a[:, None, :, 1], b[:, None, :, 1])
    px, py = ps[:, :, None, 0], ps[:, :, None, 1]
    incident = (
        (o == 0) & (px >= lox) & (px <= hix) & (py >= loy) & (py <= hiy)
    )
    out = np.zeros(P.shape[0], dtype=np.int8)
    out[~incident.any(axis=(1, 2))] = DISJOINT
    out[~(va & vb)] = UNDECIDED
    return out


def preclassify_line_vs_line(A, B) -> np.ndarray:
    """Codes for polyline vs polyline: DISJOINT iff every segment pair
    exhibits a strict straddle separation (one segment's endpoints
    strictly on one side of the other's line — sign tests only), else
    UNDECIDED. Same conservative flat-vertex-chain treatment for
    multi-part rows as preclassify_pts_vs_line."""
    sa, va = _scaled_points(A)
    sb, vb = _scaled_points(B)
    a0, a1 = sa[:, :-1, :], sa[:, 1:, :]
    b0, b1 = sb[:, :-1, :], sb[:, 1:, :]

    def orient(p0, p1, q):
        # p0/p1: (n, S, 2) broadcast vs q: (n, T, 2) -> (n, S, T)
        e = p1 - p0
        return (
            e[:, :, None, 0] * (q[:, None, :, 1] - p0[:, :, None, 1])
            - e[:, :, None, 1] * (q[:, None, :, 0] - p0[:, :, None, 0])
        )

    d1 = orient(b0, b1, a0)                      # (n, SB, SA)
    d2 = orient(b0, b1, a1)
    d3 = orient(a0, a1, b0)                      # (n, SA, SB)
    d4 = orient(a0, a1, b1)
    sep_b = ((d1 > 0) & (d2 > 0)) | ((d1 < 0) & (d2 < 0))
    sep_a = ((d3 > 0) & (d4 > 0)) | ((d3 < 0) & (d4 < 0))
    no_int = sep_b.transpose(0, 2, 1) | sep_a    # (n, SA, SB)
    out = np.zeros(A.shape[0], dtype=np.int8)
    out[no_int.all(axis=(1, 2))] = DISJOINT
    out[~(va & vb)] = UNDECIDED
    return out
