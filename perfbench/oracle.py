"""Closed-form expected outputs, computed by DuckDB from the derived
geometry tables (``inputs.py``), and the checks that hold the engine's
outputs to them.

The relation text is the engine's own: box and point pairs use
``operators/relate.relation_predicates`` (the box/point algebra, exact for
axis-aligned boxes and points), segment x box pairs use
``operators/relate_lines.seg_box_predicates`` (the segment oracle of
``plans/giant.py``), and progressive scheduling uses
``operators/weights.weight_exprs``. Candidates are the envelope-
intersecting pairs, which is the tile join's contract.
"""

from __future__ import annotations

from ds_jedai_spark.operators.relate import RELATIONS, relation_predicates
from ds_jedai_spark.operators.relate_lines import seg_box_predicates
from ds_jedai_spark.operators.weights import weight_exprs

COUNT_RELATIONS = [r for r in RELATIONS if r != "disjoint"]
COUNT_KEYS = ["verifications", "qualifying_pairs"] + [
    f"n_{r}" for r in COUNT_RELATIONS
]

_ENV = (
    "s.minx <= t.maxx AND t.minx <= s.maxx AND "
    "s.miny <= t.maxy AND t.miny <= s.maxy"
)


def _relation_sql(rel: str) -> str:
    """Flag of one relation for a candidate row, by source kind."""
    box = relation_predicates("s_", "t_")
    seg = seg_box_predicates("s_", "t_")
    seg_rel = seg.get(rel, "false")
    return (
        f"(CASE WHEN s_kind = 'segment' THEN {seg_rel} "
        f"ELSE {box[rel]} END)"
    )


def build_candidates(con) -> int:
    """Materialise the candidate pairs with their relation flags; returns
    the candidate count."""
    cols = ", ".join(
        [f"s.{c} AS s_{c}" for c in
         ("id", "kind", "minx", "miny", "maxx", "maxy", "x1", "y1", "x2",
          "y2")]
        + [f"t.{c} AS t_{c}" for c in ("id", "minx", "miny", "maxx", "maxy")]
    )
    flags = ", ".join(
        f"{_relation_sql(r)} AS r_{r}" for r in COUNT_RELATIONS
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE cand AS SELECT *, {flags} FROM "
        f"(SELECT {cols} FROM src s JOIN tgt t ON {_ENV})"
    )
    return con.execute("SELECT count(*) FROM cand").fetchone()[0]


def expected_counts(con) -> dict[str, int]:
    """The GiantExp 11 counters over ``cand``."""
    sel = ["count(*)", "count(*) FILTER (WHERE r_intersects)"] + [
        f"count(*) FILTER (WHERE r_{r})" for r in COUNT_RELATIONS
    ]
    row = con.execute(f"SELECT {', '.join(sel)} FROM cand").fetchone()
    return dict(zip(COUNT_KEYS, (int(v) for v in row)))


class _DoubleLiteral(float):
    """A float that formats into SQL as a DOUBLE cast of its shortest
    repr, which DuckDB rounds exactly like the engine's SQL parser (a
    DECIMAL literal of 16+ digits could come out an ulp off)."""

    def __repr__(self) -> str:
        return f"CAST('{float.__repr__(self)}' AS DOUBLE)"


def theta(con) -> tuple[float, float]:
    """api.run's granularity: compute_theta('avg') on the source floored
    by floor_theta on the target. Every extent is a multiple of 1/16, so
    the sums are exact and the division rounds the same in any engine."""
    from ds_jedai_spark.model.tiles import GRID_CAP, MIN_THETA

    sw, sh, n, sdw, sdh = con.execute(
        "SELECT sum(maxx - minx), sum(maxy - miny), count(*), "
        "max(maxx) - min(minx), max(maxy) - min(miny) FROM src"
    ).fetchone()
    tdw, tdh = con.execute(
        "SELECT max(maxx) - min(minx), max(maxy) - min(miny) FROM tgt"
    ).fetchone()
    tx = max(sw / n, sdw / GRID_CAP, MIN_THETA)
    ty = max(sh / n, sdh / GRID_CAP, MIN_THETA)
    return max(tx, tdw / GRID_CAP), max(ty, tdh / GRID_CAP)


def expected_progressive(con, budget: int) -> set[tuple[str, str]]:
    """PROGRESSIVE_GIANT under JS: the top-``budget`` candidates by
    (weight DESC, s_id, t_id), kept when they intersect."""
    tx, ty = theta(con)
    js = weight_exprs("s_", "t_", _DoubleLiteral(tx),
                      _DoubleLiteral(ty))["js"]
    rows = con.execute(
        f"SELECT s_id, t_id FROM (SELECT s_id, t_id, r_intersects, {js} AS w "
        f"FROM cand ORDER BY w DESC, s_id, t_id LIMIT {int(budget)}) "
        f"WHERE r_intersects"
    ).fetchall()
    return {(s, t) for s, t in rows}


def check_counts(got: dict, want: dict[str, int]) -> list[str]:
    """Problems with a counts row (empty when it matches)."""
    return [
        f"{k}: got {got.get(k)} want {v}"
        for k, v in want.items() if got.get(k) != v
    ]


def read_pairs(con, export_dir: str) -> list[tuple[str, str]]:
    """Every (s_id, t_id) row of an ``export_csv_pairs`` directory."""
    return [
        (str(s), str(t)) for s, t in con.execute(
            f"SELECT s_id, t_id FROM read_csv('{export_dir}/part-*.csv', "
            "header = true, all_varchar = true)"
        ).fetchall()
    ]


def check_pairs(exported: list[tuple[str, str]], returned_total: int,
                returned_head: list[tuple[str, str]],
                want: set[tuple[str, str]]) -> list[str]:
    """Problems with a progressive pair output (empty when it is right):
    the exported pairs are distinct, agree with what the run returned,
    and are exactly the oracle's budget-bounded intersecting pairs."""
    problems = []
    got = set(exported)
    if len(got) != len(exported):
        problems.append(f"{len(exported) - len(got)} duplicate pairs")
    if returned_total != len(exported):
        problems.append(
            f"returned {returned_total} pairs, exported {len(exported)}"
        )
    if not set(returned_head) <= got:
        problems.append("returned pairs missing from the export")
    if got != want:
        problems.append(
            f"{len(got - want)} pairs not in the oracle, "
            f"{len(want - got)} oracle pairs missing"
        )
    return problems
