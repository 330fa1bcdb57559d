"""Cross-validation of the vectorized convex pre-classifier against the
exact per-pair path: on every decided row the two must agree flag-for-flag,
and every boundary-contact configuration must come back UNDECIDED-or-right
(the fast path may never change a relation, only skip work). Batches go
through the verifier's own classifier: Arrow coords columns flattened by
``_flatten3``, kinds from ``_row_kinds``, codes from
``_ragged_preclassify``."""

import random

import pyarrow as pa
import pytest

from ds_jedai_spark.operators.relate_fast import CODE_DICTS, UNDECIDED
from ds_jedai_spark.operators.relate_general import (
    _flatten3,
    _ragged_preclassify,
    _row_kinds,
    relate_pair,
)

_COORDS = pa.list_(pa.list_(pa.list_(pa.float64())))


def preclassify(gta, ca, gtb, cb):
    """Per-row codes of the production batch classifier for one batch of
    (gtype, coords) pairs."""
    return _ragged_preclassify(
        _flatten3(pa.array(ca, type=_COORDS)),
        _flatten3(pa.array(cb, type=_COORDS)),
        _row_kinds(pa.array(gta, type=pa.string())),
        _row_kinds(pa.array(gtb, type=pa.string())),
        len(ca),
    )


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _convex_poly(rng, maxr=48):
    while True:
        cx, cy = rng.randint(-800, 800) / 16, rng.randint(-800, 800) / 16
        pts = set()
        while len(pts) < rng.choice([3, 3, 4, 5, 6]):
            pts.add(
                (
                    cx + rng.randint(-maxr, maxr) / 16,
                    cy + rng.randint(-maxr, maxr) / 16,
                )
            )
        pts = sorted(pts)
        lower = []
        for p in pts:
            while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
                lower.pop()
            lower.append(p)
        upper = []
        for p in reversed(pts):
            while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
                upper.pop()
            upper.append(p)
        hull = lower[:-1] + upper[:-1]
        if len(hull) >= 3:
            hull.append(hull[0])
            return [[list(p) for p in hull]]


def _check_agreement(ca, cb):
    n = len(ca)
    codes = preclassify(["POLYGON"] * n, ca, ["POLYGON"] * n, cb)
    decided = 0
    for i in range(n):
        if codes[i] == UNDECIDED:
            continue
        decided += 1
        exact = relate_pair("POLYGON", ca[i], "POLYGON", cb[i])
        fast = CODE_DICTS[int(codes[i])]
        assert fast == {k: exact[k] for k in fast}, (
            f"row {i}: fast={fast} exact={exact}"
        )
    return decided


def test_random_convex_pairs_agree_with_exact_path():
    rng = random.Random(991)
    ca, cb = [], []
    for i in range(3000):
        a, b = _convex_poly(rng), _convex_poly(rng)
        if i % 2 == 0:
            # overlap-biased: translate B near A's first vertex
            ax, ay = a[0][0]
            dx, dy = rng.randint(-16, 16) / 16, rng.randint(-16, 16) / 16
            b = [
                [
                    [p[0] - b[0][0][0] + ax + dx, p[1] - b[0][0][1] + ay + dy]
                    for p in b[0]
                ]
            ]
        ca.append(a)
        cb.append(b)
    decided = _check_agreement(ca, cb)
    assert decided > 2500  # the point of the fast path is deciding most rows


@pytest.mark.parametrize(
    "a,b",
    [
        # shared-edge neighbours (touches): must not be classified
        ([[[0, 0], [2, 0], [1, 2], [0, 0]]], [[[0, 0], [2, 0], [1, -2], [0, 0]]]),
        # vertex-on-edge touch
        ([[[0, 0], [4, 0], [2, 3], [0, 0]]], [[[2, 0], [5, -2], [3, -4], [2, 0]]]),
        # identical triangles (equals)
        ([[[0, 0], [2, 0], [1, 2], [0, 0]]], [[[0, 0], [2, 0], [1, 2], [0, 0]]]),
        # covered with boundary contact (B inside A, one vertex on edge)
        ([[[0, 0], [8, 0], [4, 8], [0, 0]]], [[[2, 0], [6, 0], [4, 2], [2, 0]]]),
    ],
)
def test_contact_cases_fall_back(a, b):
    codes = preclassify(["POLYGON"], [a], ["POLYGON"], [b])
    assert codes[0] == UNDECIDED


def test_nonconvex_and_general_fall_back():
    # nonconvex quad -> slow path
    nc = [[[0, 0], [4, 0], [1, 1], [0, 4], [0, 0]]]
    tri = [[[10, 10], [12, 10], [11, 12], [10, 10]]]
    assert preclassify(["POLYGON"], [nc], ["POLYGON"], [tri])[0] == UNDECIDED
    # polygon with hole -> slow path
    holed = [
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
    ]
    assert preclassify(["POLYGON"], [holed], ["POLYGON"], [tri])[0] == UNDECIDED
    # non-dyadic-on-the-512-lattice coordinates -> slow path
    off = [[[0.001, 0], [2, 0], [1, 2], [0.001, 0]]]
    assert preclassify(["POLYGON"], [off], ["POLYGON"], [tri])[0] == UNDECIDED


def test_clean_cases_decide():
    tri_a = [[[0.0, 0.0], [2.0, 0.0], [1.0, 2.0], [0.0, 0.0]]]
    far = [[[100.0, 100.0], [102.0, 100.0], [101.0, 102.0], [100.0, 100.0]]]
    inner = [[[0.75, 0.25], [1.25, 0.25], [1.0, 0.75], [0.75, 0.25]]]
    outer = [[[-10.0, -10.0], [20.0, -10.0], [1.0, 20.0], [-10.0, -10.0]]]
    overlap = [[[1.0, -1.0], [3.0, -1.0], [1.0, 1.5], [1.0, -1.0]]]
    codes = preclassify(
        ["POLYGON"] * 4,
        [tri_a, tri_a, tri_a, tri_a],
        ["POLYGON"] * 4,
        [far, inner, outer, overlap],
    )
    assert list(codes) == [1, 3, 2, 4]  # DISJOINT, B_IN_A, A_IN_B, OVERLAP
    for code, b in zip(codes, [far, inner, outer, overlap]):
        exact = relate_pair("POLYGON", tri_a, "POLYGON", b)
        fast = CODE_DICTS[int(code)]
        assert fast == {k: exact[k] for k in fast}


def test_points_vs_poly_preclassifier_agrees_with_exact_path():
    """Dense point-set/polyline vs convex polygon codes must match
    relate_pair flags on every decided row (interior / separated /
    boundary-contact mixes)."""
    import numpy as np

    from ds_jedai_spark.operators.relate_fast import (
        A_IN_B,
        CODE_DICTS,
        DISJOINT,
        UNDECIDED,
        preclassify_points_vs_poly,
    )

    rng = random.Random(808)
    rows = []
    for i in range(600):
        poly = _convex_poly(rng)
        ring = poly[0]
        # point sets of 1..4 points: sometimes a polygon vertex (contact)
        pts = []
        for _ in range(rng.choice([1, 2, 3, 4])):
            if rng.random() < 0.2:
                pts.append(list(ring[rng.randrange(len(ring) - 1)]))
            else:
                pts.append(
                    [rng.randint(-900, 900) / 16, rng.randint(-900, 900) / 16]
                )
        rows.append((pts, poly))
    keys = sorted({(len(p), len(poly[0])) for p, poly in rows})
    n_decided_total = 0
    for npts, rlen in keys:
        sel = [r for r in rows if len(r[0]) == npts and len(r[1][0]) == rlen]
        if not sel:
            continue
        pts = np.array([r[0] for r in sel], dtype=float)
        rings = np.array([r[1][0] for r in sel], dtype=float)
        codes = preclassify_points_vs_poly(pts, rings)
        assert codes is not None
        decided = 0
        for i, (p, poly) in enumerate(sel):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            gtype = "POINT" if len(p) == 1 else "MULTIPOINT"
            parts = [[q] for q in p] if len(p) > 1 else [p]
            exact = relate_pair(gtype, parts, "POLYGON", poly)
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (p, poly, exact)
        n_decided_total += decided
    assert n_decided_total > 200


def test_pts_line_and_line_line_classifiers_agree_with_exact_path():
    """The proven-disjoint classifiers (point-set vs line, line vs line)
    and the point-set set-algebra codes must agree with relate_pair on
    every decided row."""
    import numpy as np

    from ds_jedai_spark.operators.relate_fast import (
        preclassify_line_vs_line,
        preclassify_pts_vs_line,
        preclassify_pts_vs_pts,
    )

    rng = random.Random(515)

    def rnd_pts(k):
        return [[rng.randint(-300, 300) / 16, rng.randint(-300, 300) / 16]
                for _ in range(k)]

    def rnd_chain(k):
        pts = [[rng.randint(-300, 300) / 16, rng.randint(-300, 300) / 16]]
        for _ in range(k - 1):
            pts.append([pts[-1][0] + rng.randint(-48, 48) / 16,
                        pts[-1][1] + rng.randint(-48, 48) / 16])
        return pts

    # point-set vs point-set (with forced shares for subset/overlap rows)
    A, B = [], []
    for i in range(400):
        a = rnd_pts(3)
        if i % 4 == 0:
            b = list(a)                    # equal sets -> UNDECIDED
        elif i % 4 == 1:
            b = a[:2] + rnd_pts(1)         # shared points -> overlap/subset
        elif i % 4 == 2:
            b = a[:1] + rnd_pts(2)         # one shared point
        else:
            b = rnd_pts(3)                 # usually disjoint
        B.append(b)
        A.append(a)
    An, Bn = np.array(A, float), np.array(B, float)
    codes = preclassify_pts_vs_pts(An, Bn)
    from ds_jedai_spark.operators.relate_fast import CODE_DICTS, UNDECIDED
    decided = 0
    for i in range(len(A)):
        if codes[i] == UNDECIDED:
            continue
        decided += 1
        exact = relate_pair("MULTIPOINT", [[p] for p in A[i]],
                            "MULTIPOINT", [[p] for p in B[i]])
        want = CODE_DICTS[int(codes[i])]
        assert {k: exact[k] for k in want} == want, (A[i], B[i], exact)
    assert decided > 100

    # point-set vs line
    decided = 0
    for _ in range(60):
        P = [rnd_pts(2) for _ in range(40)]
        L = [rnd_chain(3) for _ in range(40)]
        # force some incidences: put a point ON a segment midpoint
        for j in range(0, 40, 5):
            a, b = L[j][0], L[j][1]
            P[j][0] = [(a[0] + b[0]) / 2, (a[1] + b[1]) / 2]
        codes = preclassify_pts_vs_line(np.array(P, float), np.array(L, float))
        for i in range(40):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            exact = relate_pair("MULTIPOINT", [[p] for p in P[i]],
                                "LINESTRING", [L[i]])
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (P[i], L[i], exact)
    assert decided > 500

    # line vs line
    decided = 0
    for _ in range(60):
        LA = [rnd_chain(3) for _ in range(40)]
        LB = [rnd_chain(3) for _ in range(40)]
        for j in range(0, 40, 7):
            LB[j] = [list(p) for p in LA[j]]   # identical -> intersecting
        codes = preclassify_line_vs_line(np.array(LA, float), np.array(LB, float))
        for i in range(40):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            exact = relate_pair("LINESTRING", [LA[i]], "LINESTRING", [LB[i]])
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (LA[i], LB[i], exact)
    assert decided > 500
