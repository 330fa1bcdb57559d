"""The benchmark's workloads: inputs, configuration, consumption, check.

Each workload is one GiantExp-style operation as a user runs it:
``api.run(cfg)`` over files on disk, followed by the result consumption
``python -m ds_jedai_spark.cli -conf`` performs (collect of the counts
row for DE9IM; ``take(21)`` plus ``count`` for a pair query).

Sizes are the paper-scale inputs of the original workload design divided
by 10 per side (so candidates shrink ~100x): one operation then takes a
few seconds on 4 cores, which leaves room for a cold op, a timed window
of several warm ops and the oracle check inside one bounded run.
"""

from __future__ import annotations

import os

from ds_jedai_spark.config import DatasetSpec, JedaiConfig

from perfbench import oracle

# 2,000 part boxes + 1,500 customer segments + 1,500 customer points
# against 15,000 orders boxes: ~17k candidate pairs.
MIXED_SIZES = {"boxes": 2_000, "customers": 1_500, "orders": 15_000}

WORKLOADS = {
    "giant_de9im_mixed_wkt": {
        "sizes": MIXED_SIZES,
        "fmt": "tsv",
        "conf": {"relation": "DE9IM"},
    },
    "progressive_js_parquet_pairs": {
        "sizes": MIXED_SIZES,
        "fmt": "parquet",
        # the original budget, 50,000 of ~1.69M candidates, scaled with
        # the candidate count
        "conf": {"relation": "INTERSECTS",
                 "progressive_algorithm": "PROGRESSIVE_GIANT",
                 "main_wf": "JS", "budget": 500, "export": "pairs_csv"},
    },
}


def config(name: str, paths: dict, out_dir: str) -> JedaiConfig:
    conf = dict(WORKLOADS[name]["conf"])
    export = conf.pop("export", None)
    return JedaiConfig(
        source=DatasetSpec(paths["source"], "id", "wkt"),
        target=DatasetSpec(paths["target"], "id", "wkt"),
        export_path=os.path.join(out_dir, export) if export else None,
        **conf,
    )


def consume(cfg: JedaiConfig, result) -> dict:
    """What the CLI does with ``api.run``'s result."""
    if cfg.relation == "DE9IM":
        counts = result.collect()[0].asDict()
        return {"counts": counts, "qualifying": counts["qualifying_pairs"]}
    rows = result.take(21)
    total = len(rows) if len(rows) <= 20 else result.count()
    head = [(str(r.s_id), str(r.t_id)) for r in rows[:20]]
    return {"total": total, "head": head, "qualifying": total}


class Checker:
    """Oracle answers for one workload's inputs, and the output check."""

    def __init__(self, con, cfg: JedaiConfig):
        self.con, self.cfg = con, cfg
        self.candidates = oracle.build_candidates(con)
        if cfg.relation == "DE9IM":
            self.want = oracle.expected_counts(con)
        else:
            self.want = oracle.expected_progressive(con, cfg.budget)

    def problems(self, out: dict, exported=None) -> list[str]:
        if self.cfg.relation == "DE9IM":
            return oracle.check_counts(out["counts"], self.want)
        if exported is None:
            exported = oracle.read_pairs(self.con, self.cfg.export_path)
        return oracle.check_pairs(exported, out["total"], out["head"],
                                  self.want)

    def self_test(self, out: dict) -> bool:
        """True when corrupting one value of a correct output makes the
        check fail."""
        if self.cfg.relation == "DE9IM":
            bad = dict(out["counts"])
            bad["n_touches"] += 1
            return bool(self.problems({"counts": bad}))
        exported = oracle.read_pairs(self.con, self.cfg.export_path)
        if len(exported) < 2:
            return False
        return bool(self.problems(out, exported[:-1] + exported[:1]))
