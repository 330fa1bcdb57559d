"""Dynamic tile grid (theta) + tile coverage as DataFrame expressions.

Re-expresses the reference's TileGranularities / SpatialIndex pair
(reference: src/main/scala/model/TileGranularities.scala:21-47,
src/main/scala/model/structures/SpatialIndex.scala:33-47) the Spark way:

- theta = one cheap aggregate over the SOURCE envelopes (avg extent),
  collected as two driver scalars and folded into the plan as literals,
  same as the reference. ``stats_pass`` is that aggregate; the extent
  and mean vertex count other callers need ride in the same pass.
- tile coverage = ``explode(sequence(floor(min/θ), floor(max/θ)))`` per
  axis. The per-partition hash-grid index of the reference is not needed:
  the exploded equi-join on (tx, ty) IS the index, and Catalyst picks
  broadcast vs shuffle hash join per side size (the reference has no
  broadcast path at all).

Scale notes (100 TB): the explode multiplies rows by the mean tile count
per geometry (~4 with avg-extent theta), but each exploded row carries only
(id, 4 doubles, tx, ty) — the wide payload stays behind until after the
join. The stats pass is one aggregate per side: ``api.run`` folds it into
the job that pins a side whose read has a Python parse step, and runs
it over the pruned ``minx..maxy`` columns of row-format parquet.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, functions as F

MIN_THETA = 1e-9


# Degenerate-theta guard: a point-dominated source has avg extent ~0,
# which would set theta near MIN_THETA and explode ANY positive-extent
# geometry into ~extent/1e-9 tiles per axis (measured: a 4-unit box ->
# 1.6e19 tiles -> executor OOM in the sequence/explode; found by the
# r11 end-to-end fuzz). Flooring theta at domain_extent/GRID_CAP bounds
# the global grid at GRID_CAP cells per axis — a coarser theta is
# always CORRECT (more candidates, never missed pairs), and on normal
# corpora (avg extent ~domain/125 in the testdata) the floor
# (domain/512) never binds, so existing plans and oracles are
# unchanged.
GRID_CAP = 512


class SideStats(NamedTuple):
    """What one aggregate pass over a side's rows yields (``side_stats``).
    A field that was not asked for, or that an empty side has no value
    for, is None."""

    tx: float | None = None  # theta-mode aggregate of envelope widths
    ty: float | None = None  # ... and heights
    minx: float | None = None  # the side's extent
    miny: float | None = None
    maxx: float | None = None
    maxy: float | None = None
    vertices: float | None = None  # mean vertex count per geometry


_THETA_AGG = {"avg": F.avg, "avg2": F.avg, "min": F.min, "max": F.max}


def side_stats(side, mode: str | None = None, extent: bool = True,
               vertices: bool = False) -> SideStats:
    """Every driver-side statistic one input needs, in ONE aggregate:
    the ``mode`` aggregate of envelope widths/heights (the theta input,
    when ``mode`` is given), the extent (``extent``) and the mean vertex
    count (``vertices``; envelope-only input counts as boxes, 5).

    ``compute_theta`` / ``floor_theta`` / ``api._total_blocks`` /
    ``loadbalance.estimate_pair_cost`` accept a DataFrame and run this
    pass themselves, or take the SideStats ``api.run`` already holds
    (``stats_pass``); a SideStats passed in is returned unchanged."""
    if isinstance(side, SideStats):
        return side
    return stats_pass(side, mode, extent, vertices)[1]


def stats_pass(df: DataFrame, mode: str | None = None, extent: bool = True,
               vertices: bool = False,
               pin: bool = False) -> tuple[DataFrame, SideStats]:
    """``side_stats`` of ``df``, and the frame later passes should read.

    With ``pin`` the one pass is the eager ``localCheckpoint`` that pins
    ``df``: the aggregate rides in it as observed metrics (the same
    expressions, so the same values) and the pinned frame is returned.
    Without, the aggregate is a query of its own and ``df`` comes back
    unchanged."""
    aggs = []
    if mode is not None:
        agg = _THETA_AGG[mode]
        aggs += [agg(F.col("maxx") - F.col("minx")).alias("tx"),
                 agg(F.col("maxy") - F.col("miny")).alias("ty")]
    if extent:
        aggs += [F.min("minx").alias("minx"), F.min("miny").alias("miny"),
                 F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy")]
    counted = vertices and "coords" in df.columns
    if counted:
        # a row-format geometry's vertices: its parts' point counts
        aggs.append(F.avg(F.expr(
            "aggregate(coords, 0, (a, p) -> a + size(p))"
        )).alias("vertices"))
    if pin:
        obs = Observation()
        df = df.observe(obs, *aggs).localCheckpoint()
        row = dict(obs.get)
    else:
        row = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    if vertices and not counted:
        row["vertices"] = 5.0
    return df, SideStats(**row)


def compute_theta(source, mode: str = "avg") -> tuple[float, float]:
    """Tile granularity from the source envelope extents. Modes mirror the
    reference ThetaOption enum (TileGranularities.scala:21-47):
    avg (recommended), min, max, avg2 (avg x 0.5) — floored at
    domain_extent/GRID_CAP (see the guard note above; the domain min/max
    ride in the same aggregate). ``source`` is a DataFrame or its
    ``side_stats(source, mode)``."""
    st = side_stats(source, mode)
    scale = 0.5 if mode == "avg2" else 1.0
    dw, dh = _domain(st)
    return (
        max((st.tx or MIN_THETA) * scale, dw / GRID_CAP, MIN_THETA),
        max((st.ty or MIN_THETA) * scale, dh / GRID_CAP, MIN_THETA),
    )


def floor_theta(theta: tuple[float, float], other) -> tuple[float, float]:
    """Floor an already-computed theta by ANOTHER dataset's domain
    extents (a DataFrame, or its ``side_stats``): the cross-dataset
    degenerate — a zero-extent source domain (all geometries stacked at
    one spot) joined against targets spanning a real domain — slips
    past the source-side floor, and the target side would still
    explode. Called by api.run with the target's stats; a coarser theta
    is always correct."""
    dw, dh = _domain(side_stats(other))
    return max(theta[0], dw / GRID_CAP), max(theta[1], dh / GRID_CAP)


def _domain(st: SideStats) -> tuple[float, float]:
    """Extent width and height; 0 for an empty side."""
    if st.minx is None:
        return 0.0, 0.0
    return st.maxx - st.minx, st.maxy - st.miny


def with_tiles(df: DataFrame, theta: tuple[float, float]) -> DataFrame:
    """Explode each envelope to every (tx, ty) grid cell it overlaps."""
    tx, ty = theta
    df = df.withColumn(
        "tx",
        F.explode(
            F.sequence(
                F.floor(F.col("minx") / F.lit(tx)), F.floor(F.col("maxx") / F.lit(tx))
            )
        ),
    )
    df = df.withColumn(
        "ty",
        F.explode(
            F.sequence(
                F.floor(F.col("miny") / F.lit(ty)), F.floor(F.col("maxy") / F.lit(ty))
            )
        ),
    )
    return df
