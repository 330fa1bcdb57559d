"""Seeded input files for the benchmark workloads.

Every geometry comes from the engine's own derivation SQL
(``ds_jedai_spark.io.synthetic``), evaluated by DuckDB over generated key
tables instead of the TPC-H tables: ``part``/``customer``/``orders`` hold
``n`` consecutive keys starting at a seed-dependent offset. All
coordinates stay multiples of 1/16, so the WKT text is exact and the
oracle (``oracle.py``) sees the very values the engine parses.

The same DuckDB connection keeps the derived geometry tables ``src`` and
``tgt`` for the oracle; the engine only ever sees the written files.
"""

from __future__ import annotations

import os
import shutil

from ds_jedai_spark.io.synthetic import (
    line_sql,
    point_sql,
    source_box_sql,
    target_box_sql,
)

# Source rows of each kind share one id space; the offsets keep the
# three kinds' ids disjoint (keys stay far below the first offset).
SEGMENT_ID_OFFSET = 1_000_000_000
POINT_ID_OFFSET = 2_000_000_000


def key_offset(seed: int) -> int:
    """Seed-dependent first key. Kept below 2**20 so every derivation
    product (key * 32-bit constant) stays far from BIGINT overflow."""
    return 1 + (seed * 7919) % (1 << 20)


def _keys(con, table: str, column: str, n: int, offset: int) -> None:
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {table} AS SELECT "
        f"CAST(range + {offset} AS BIGINT) AS {column} FROM range({n})"
    )


def _num(c: str) -> str:
    return f"CAST({c} AS VARCHAR)"


def _xy(x: str, y: str) -> str:
    return f"{_num(x)} || ' ' || {_num(y)}"


BOX_WKT = (
    f"'POLYGON ((' || {_xy('minx', 'miny')} || ', ' || {_xy('maxx', 'miny')}"
    f" || ', ' || {_xy('maxx', 'maxy')} || ', ' || {_xy('minx', 'maxy')}"
    f" || ', ' || {_xy('minx', 'miny')} || '))'"
)
BOX_COORDS = (
    "[[[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]]"
)


def _geometry_tables(con, sizes: dict, offset: int) -> dict[str, int]:
    """Create ``src``/``tgt`` with one row per geometry and the columns
    every consumer needs: id (string), kind, envelope, segment ends,
    WKT text and row-format coords. Returns the expected row counts."""
    _keys(con, "part", "p_partkey", sizes["boxes"], offset)
    _keys(con, "customer", "c_custkey", sizes["customers"], offset)
    _keys(con, "orders", "o_orderkey", sizes["orders"], offset)

    parts = [
        f"SELECT CAST(id AS VARCHAR) AS id, 'box' AS kind, minx, miny, maxx, "
        f"maxy, NULL::DOUBLE AS x1, NULL::DOUBLE AS y1, NULL::DOUBLE AS x2, "
        f"NULL::DOUBLE AS y2, {BOX_WKT} AS wkt, 'POLYGON' AS gtype, "
        f"{BOX_COORDS} AS coords FROM ({source_box_sql()}) b",
        f"SELECT CAST(id + {SEGMENT_ID_OFFSET} AS VARCHAR), 'segment', "
        f"minx, miny, maxx, maxy, x1, y1, x2, y2, "
        f"'LINESTRING (' || {_xy('x1', 'y1')} || ', ' || {_xy('x2', 'y2')}"
        f" || ')', 'LINESTRING', [[[x1, y1], [x2, y2]]] "
        f"FROM ({line_sql()}) l",
        f"SELECT CAST(id + {POINT_ID_OFFSET} AS VARCHAR), 'point', "
        f"minx, miny, maxx, maxy, NULL, NULL, NULL, NULL, "
        f"'POINT (' || {_xy('minx', 'miny')} || ')', 'POINT', "
        f"[[[minx, miny]]] FROM ({point_sql()}) p",
    ]
    con.execute(
        "CREATE OR REPLACE TEMP TABLE src AS " + " UNION ALL ".join(parts)
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE tgt AS SELECT CAST(id AS VARCHAR) AS "
        f"id, 'box' AS kind, minx, miny, maxx, maxy, {BOX_WKT} AS wkt, "
        f"'POLYGON' AS gtype, {BOX_COORDS} AS coords "
        f"FROM ({target_box_sql()}) o"
    )
    return expected_counts(sizes, offset)


def expected_counts(sizes: dict, offset: int) -> dict[str, int]:
    """Row counts the derivation must produce, computed independently of
    the SQL: line_sql drops a key only when both segment deltas are
    zero."""
    keys = range(offset, offset + sizes["customers"])
    segs = sum(1 for k in keys
               if not ((k * 13) % 49 == 24 and (k * 29) % 49 == 24))
    return {"src": sizes["boxes"] + segs + len(keys), "tgt": sizes["orders"]}


def _check_counts(con, want: dict[str, int]) -> None:
    for table, n in want.items():
        rows, ids = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM {table}"
        ).fetchone()
        if rows != n or ids != n:
            raise RuntimeError(
                f"{table}: {rows} rows / {ids} distinct ids, expected {n}"
            )


def _write(con, table: str, path: str, fmt: str) -> None:
    if fmt == "tsv":
        con.execute(
            f"COPY (SELECT id, wkt FROM {table}) TO '{path}' "
            "(FORMAT CSV, DELIMITER '\t', HEADER, QUOTE '')"
        )
    else:
        con.execute(
            f"COPY (SELECT id, gtype, coords, minx, miny, maxx, maxy "
            f"FROM {table}) TO '{path}' (FORMAT PARQUET)"
        )


def generate(con, out_dir: str, sizes: dict, fmt: str, seed: int) -> dict:
    """Write source/target files for one workload into ``out_dir`` and
    return their paths plus the expected row counts."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    want = _geometry_tables(con, sizes, key_offset(seed))
    _check_counts(con, want)
    ext = "tsv" if fmt == "tsv" else "parquet"
    paths = {}
    for side, table in (("source", "src"), ("target", "tgt")):
        paths[side] = os.path.join(out_dir, f"{side}.{ext}")
        _write(con, table, paths[side], fmt)
    return {"paths": paths, "rows": want}
