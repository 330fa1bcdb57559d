"""Traced run: spans around the calls ``api.run`` makes into each layer.

The tracer patches, for one operation, the names ``api.run`` resolves:

    io.readers               api.read_dataset
    model.tiles              api.compute_theta, model.tiles.floor_theta
    operators.spatial_join   api.tile_join
    operators.loadbalance    operators.loadbalance.auto_balance
    operators.progressive    api.weight_exprs, api._total_blocks,
                             operators.progressive.progressive_top_budget
    operators.relate_general api.with_general_relations
    io.writers               io.writers.export_rdf / export_csv_pairs

Every wrapper tags the jobs it starts with ``<workload>/<layer>``; jobs
started anywhere else during the operation land in ``api.other``.

Lazy layers return a DataFrame whose work runs later, inside a sink or
the consumer. For those the wrapper runs a ``noop`` write of the returned
frame as a timed *prefix* span (its own job group) and hands the original
frame on unchanged, so the replays a sink or consumer really performs
still happen. A lazy layer's self time is its call time plus its prefix
minus the costliest prefix among the frames it consumed (a join's two
inputs execute concurrently inside its prefix). The verifier's input is
prefixed too when no wrapped layer produced it (the progressive
semi-join); that increment belongs to the layer that ran last.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

from perfbench import sparkstats as ss

LAYERS = (
    "io.readers", "model.tiles", "operators.spatial_join",
    "operators.loadbalance", "operators.progressive",
    "operators.relate_general", "io.writers", "api.consume", "api.other",
)


class Tracer:
    """Spans and prefix records of one traced operation (op id 0)."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.prefixes: dict[int, dict] = {}  # id(frame) -> prefix record
        self._frames: list[DataFrame] = []  # keeps prefixed ids unique
        self._parent: int | None = None
        self.last_layer: str | None = None
        self.engaged = 0

    def group(self, layer: str) -> str:
        return f"{self.workload}/{layer}"

    def _tag(self, layer: str) -> None:
        self.sc.setJobGroup(self.group(layer), layer)

    @contextmanager
    def span(self, name: str, layer: str, kind: str):
        """A span around a block whose jobs belong to ``layer``; nested
        spans name it as their parent. Tagging falls back to api.other
        when the block ends."""
        t0 = time.perf_counter()
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "kind": kind, "start": t0, "end": t0,
                "parent": self._parent, "op": 0}
        self.spans.append(span)
        outer, self._parent = self._parent, span["id"]
        self._tag(layer)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._parent = outer
            self._tag(self.spans[outer]["layer"] if outer is not None
                      else "api.other")

    def _prefix(self, layer: str, frame: DataFrame,
                inputs: list[DataFrame]) -> None:
        if id(frame) in self.prefixes:
            return  # handed through unchanged: nothing new to run
        n = len(self._frames)
        group = f"prefix/{n}"
        with self.span(f"prefix:{layer}", group, "prefix") as sp:
            frame.write.format("noop").mode("overwrite").save()
        self._frames.append(frame)
        self.prefixes[id(frame)] = {
            "layer": layer, "group": group, "s": _dur(sp),
            "inputs": [self.prefixes[id(f)]["group"] for f in inputs
                       if id(f) in self.prefixes],
        }

    def wrap(self, layer: str, name: str, fn, inputs=None):
        """``fn`` traced as part of ``layer``. ``inputs`` picks the frames
        a lazy layer consumes from its arguments; None marks an eager
        layer, whose work all happens inside the call."""
        def traced(*args, **kwargs):
            with self.span(name, layer, "call"):
                consumed = list(inputs(args)) if inputs else []
                for frame in consumed:
                    self._prefix_unseen(frame)
                out = fn(*args, **kwargs)
                if isinstance(out, tuple):  # auto_balance: (frame, engaged)
                    self.engaged = int(bool(out[1]))
                if inputs:
                    frame = out[0] if isinstance(out, tuple) else out
                    self._prefix(layer, frame, consumed)
            self.last_layer = layer
            return out

        return traced

    def _prefix_unseen(self, frame: DataFrame) -> None:
        """Prefix an input no wrapped layer produced (the progressive
        semi-join), charging the increment to the layer that ran last."""
        if id(frame) in self.prefixes or not self._frames:
            return
        self._prefix(self.last_layer, frame, [self._frames[-1]])

    @contextmanager
    def installed(self):
        """Patch the layer entry points for the duration of one op."""
        from ds_jedai_spark import api
        from ds_jedai_spark.io import writers
        from ds_jedai_spark.model import tiles
        from ds_jedai_spark.operators import loadbalance, progressive

        def none(args):
            return ()

        def first(args):
            return args[:1]

        def first2(args):
            return args[:2]

        patches = [
            (api, "read_dataset", "io.readers", none),
            (api, "compute_theta", "model.tiles", None),
            (tiles, "floor_theta", "model.tiles", None),
            (api, "tile_join", "operators.spatial_join", first2),
            (loadbalance, "auto_balance", "operators.loadbalance", first),
            (api, "weight_exprs", "operators.progressive", None),
            (api, "_total_blocks", "operators.progressive", None),
            (progressive, "progressive_top_budget", "operators.progressive",
             None),
            (api, "with_general_relations", "operators.relate_general",
             first),
            (writers, "export_rdf", "io.writers", None),
            (writers, "export_csv_pairs", "io.writers", None),
        ]
        saved = []
        for mod, name, layer, inputs in patches:
            orig = getattr(mod, name)
            saved.append((mod, name, orig))
            setattr(mod, name, self.wrap(layer, name, orig, inputs))
        self._tag("api.other")
        try:
            yield self
        finally:
            for mod, name, orig in saved:
                setattr(mod, name, orig)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def layer_metrics(tr: Tracer, reader: ss.StatusReader, op_wall: float,
                  wall_s: float, qualifying: int,
                  export_dir: str | None) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced operation: name -> (value, unit)."""
    by_group = reader.jobs_by_group()

    def jobs(layer: str) -> list[dict]:
        return by_group.get(tr.group(layer), [])

    def nodes(layer: str) -> list[dict]:
        return reader.plan_nodes({j["id"] for j in jobs(layer)})

    def shuffle_bytes(group: str) -> float:
        return reader.stage_totals(jobs(group))["shuffle_write_bytes"]

    pnodes = {p["group"]: nodes(p["group"]) for p in tr.prefixes.values()}
    prefix_s = {p["group"]: p["s"] for p in tr.prefixes.values()}

    def increment(p: dict, fn, inputs=max) -> float:
        """What a prefix added over its input prefixes. Times subtract
        the costliest input (a join's two sides execute concurrently);
        byte counts subtract the sum."""
        return fn(p["group"]) - inputs([fn(g) for g in p["inputs"]] or [0])

    self_s: dict[str, float] = dict.fromkeys(LAYERS, 0.0)
    for s in tr.spans:
        if s["kind"] in ("call", "consume"):
            inner = sum(_dur(c) for c in tr.spans
                        if c["parent"] == s["id"] and c["kind"] == "prefix")
            self_s[s["layer"]] += _dur(s) - inner
    by_layer: dict[str, list[dict]] = {}
    for p in tr.prefixes.values():
        by_layer.setdefault(p["layer"], []).append(p)
        self_s[p["layer"]] += increment(p, prefix_s.get)

    def prefixed(layer: str) -> list[dict]:
        return by_layer.get(layer, [])

    reads = prefixed("io.readers")
    rows_in = sum(n["metrics"].get(ss.ROWS, 0.0)
                  for p in reads for n in pnodes[p["group"]]
                  if n["name"].startswith("Scan "))
    rows_out = sum(ss.top_rows(pnodes[p["group"]]) for p in reads)
    join = prefixed("operators.spatial_join")
    candidates = sum(ss.top_rows(pnodes[p["group"]]) for p in join)
    ver = prefixed("operators.relate_general")
    vnodes = [n for p in ver for n in ss.verifier_nodes(pnodes[p["group"]])]
    pairs = sum(n["metrics"].get(ss.ROWS, 0.0) for n in vnodes)
    scheduled = sum(ss.top_rows(pnodes[p["group"]])
                    for p in prefixed("operators.progressive"))

    def replays(layer: str) -> float:
        rows = sum(n["metrics"].get(ss.ROWS, 0.0)
                   for n in ss.verifier_nodes(nodes(layer)))
        return rows / pairs if pairs else 0.0

    wnodes = nodes("io.writers")
    rows_written = sum(n["metrics"].get(ss.ROWS, 0.0) for n in wnodes
                       if n["name"].startswith("Execute "))
    bytes_written = 0
    if export_dir and os.path.isdir(export_dir):
        bytes_written = sum(
            os.path.getsize(os.path.join(export_dir, f))
            for f in os.listdir(export_dir) if f.startswith("part-"))

    op_groups = [g for g in by_group
                 if g is None or "/prefix/" not in g]
    op_jobs = [j for g in op_groups for j in by_group[g]]
    op_stats = reader.stage_totals(op_jobs)
    known = {tr.group(layer) for layer in LAYERS}
    other_jobs = [j for g in op_groups if g not in known or
                  g == tr.group("api.other") for j in by_group[g]]
    top = sum(_dur(s) for s in tr.spans if s["parent"] is None)
    relate_s = self_s["operators.relate_general"]

    m: dict[str, tuple[float, str]] = {
        "io.readers.self_s": (self_s["io.readers"], "s"),
        "io.readers.rows_in": (rows_in, "count"),
        "io.readers.rows_out": (rows_out, "count"),
        "io.readers.rows_dropped": (rows_in - rows_out, "count"),
        "io.readers.python_bytes": (
            sum(ss.python_bytes(pnodes[p["group"]]) for p in reads), "B"),
        "model.tiles.self_s": (self_s["model.tiles"], "s"),
        "model.tiles.jobs": (len(jobs("model.tiles")), "count"),
        "operators.spatial_join.self_s": (
            self_s["operators.spatial_join"], "s"),
        "operators.spatial_join.candidates": (candidates, "count"),
        "operators.spatial_join.shuffle_write_bytes": (
            sum(increment(p, shuffle_bytes, sum) for p in join), "B"),
        "operators.spatial_join.candidates_per_qualifying": (
            candidates / qualifying if qualifying else 0.0, "ratio"),
        "operators.loadbalance.self_s": (
            self_s["operators.loadbalance"], "s"),
        "operators.loadbalance.engaged": (tr.engaged, "count"),
        "operators.loadbalance.jobs": (
            len(jobs("operators.loadbalance")), "count"),
        "operators.progressive.self_s": (
            self_s["operators.progressive"], "s"),
        "operators.progressive.scheduled_pairs": (scheduled, "count"),
        "operators.progressive.jobs": (
            len(jobs("operators.progressive")), "count"),
        "operators.relate_general.self_s": (relate_s, "s"),
        "operators.relate_general.pairs": (pairs, "count"),
        "operators.relate_general.pairs_per_s": (
            pairs / relate_s if relate_s > 0 else 0.0, "1/s"),
        "operators.relate_general.python_bytes": (
            ss.python_bytes(vnodes), "B"),
        "operators.relate_general.qualify_ratio": (
            qualifying / pairs if pairs else 0.0, "ratio"),
        "io.writers.self_s": (self_s["io.writers"], "s"),
        "io.writers.rows_written": (rows_written, "count"),
        "io.writers.bytes_written": (float(bytes_written), "B"),
        "io.writers.verify_replays": (replays("io.writers"), "count"),
        "api.consume.self_s": (self_s["api.consume"], "s"),
        "api.consume.jobs": (len(jobs("api.consume")), "count"),
        "api.consume.verify_replays": (replays("api.consume"), "count"),
        "api.other.self_s": (max(op_wall - top, 0.0), "s"),
        "api.other.jobs": (len(other_jobs), "count"),
        "trace.wall_s": (op_wall, "s"),
        "trace.prefix_s": (sum(prefix_s.values()), "s"),
        "trace.span_share": (top / op_wall if op_wall else 0.0, "ratio"),
        "trace.overhead_s": (op_wall - wall_s, "s"),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "spill_bytes", "executor_run_s", "gc_s"):
        unit = ("B" if k.endswith("bytes") else "s" if k.endswith("_s")
                else "count")
        m[f"spark.{k}"] = (op_stats[k], unit)
    return m
