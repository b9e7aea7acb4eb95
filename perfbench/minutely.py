"""The minutely workload: replay a seeded augmented-diff feed as fast as
each batch commits (one client, closed loop: the catch-up mode a
deployment runs after an outage)."""

from __future__ import annotations

import glob
import json
import os

from . import gen, host

GRID_N = 20
FEED_BATCHES = 24  # more than a run replays

LAYERS = {
    "closure": ("incremental_closure",),
    "state_fetch": ("fetch_keys", "fetch_pairs"),
    "histories": ("dedup_batch_union", "all_histories"),
    "render": ("stage.render",),
    "run_batch": ("run_batch",),
    "state_append": ("append_batch",),
    "index_append": ("index.append", "index.append_local", "index.maybe_compact"),
    "lineage_commit": ("commit_seq",),
    "state_init": ("state_init",),
    "transitive_closure": ("transitive_closure",),
}
STAGES = ("closure", "histories", "render", "emit", "diff", "write_features",
          "state_append", "index_append", "commit")


def read_features(out_dir: str, seq: int) -> list[str]:
    lines = []
    for f in glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")):
        with open(f) as fh:
            lines.extend(line for line in fh.read().splitlines() if line)
    return sorted(json.dumps(json.loads(line), sort_keys=True) for line in lines)


class Minutely:
    LAYERS, SKEW_LAYERS = LAYERS, ()

    def __init__(self, seed: int, work: str, cache_dir: str,
                 grid_n: int = GRID_N, n_batches: int = FEED_BATCHES):
        self.work = work
        self.base, self.batches = gen.cached(
            cache_dir, f"minutely-s{seed}-g{grid_n}-b{n_batches}",
            lambda: gen.minutely_feed(seed, grid_n, n_batches),
        )
        self.results: dict[int, dict] = {}

    def install(self, tracer) -> None:
        from augdiff_pipeline_spark.operators import history
        from augdiff_pipeline_spark.plans import augdiff, lineage, runner
        from augdiff_pipeline_spark.sources.state import StateTable

        tracer.patch(augdiff, "incremental_closure", "incremental_closure")
        tracer.patch(history, "dedup_batch_union", "dedup_batch_union")
        tracer.patch(history, "all_histories", "all_histories")
        tracer.patch(StateTable, "fetch_keys", "fetch_keys")
        tracer.patch(StateTable, "fetch_pairs", "fetch_pairs")
        tracer.patch(StateTable, "append_batch", "append_batch")
        tracer.patch(runner, "run_batch", "run_batch")
        tracer.patch_context(lineage.StageTimer, "time", "stage.")

    def setup(self, spark, tracer) -> None:
        from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
        from augdiff_pipeline_spark.plans.lineage import LineageLog
        from augdiff_pipeline_spark.schemas import OSM_SCHEMA
        from augdiff_pipeline_spark.sources.catalog import SnapshotTable
        from augdiff_pipeline_spark.sources.state import StateTable

        self.spark = spark
        # the package's default compaction cadence: on a 4-core host a run
        # replays fewer batches than one save interval, so no compaction
        # is timed
        self.state = StateTable(os.path.join(self.work, "state"))
        self.index = SnapshotTable(os.path.join(self.work, "index"))
        self.log = LineageLog(os.path.join(self.work, "log"))
        self.out_dir = os.path.join(self.work, "out")
        for attr in ("append", "append_local", "maybe_compact"):
            tracer.patch(self.index, attr, f"index.{attr}")
        tracer.patch(self.log, "commit_seq", "commit_seq")
        base_df = spark.createDataFrame(self.base, OSM_SCHEMA)
        with tracer.span("state_init"):
            self.state.init(base_df)
        with tracer.span("transitive_closure"):
            self.index.overwrite(transitive_closure(edges_from_rows(base_df)))
        host.warm_python_workers(base_df)

    def step(self, seq: int) -> int:
        from augdiff_pipeline_spark.plans.runner import resume_and_run
        from augdiff_pipeline_spark.schemas import OSM_SCHEMA

        rows = self.batches[seq]
        df = self.spark.createDataFrame(rows, OSM_SCHEMA)
        res = resume_and_run(self.spark, self.state, self.index, self.log, self.out_dir,
                             {seq: lambda: df})
        self.results[seq] = res[seq]
        return len(rows)

    def has_step(self, seq: int) -> bool:
        return seq in self.batches

    def check(self, seqs: list[int]) -> set[int]:
        """Seqs whose emitted features differ from the oracle's."""
        import oracle_augdiff

        expected, _ = oracle_augdiff.run_sequence(
            self.base, {s: self.batches[s] for s in range(max(seqs) + 1)}
        )
        return {
            s for s in seqs
            if read_features(self.out_dir, s)
            != sorted(json.dumps(f, sort_keys=True) for f in expected[s])
        }

    def op_metrics(self, seqs: list[int]) -> dict:
        """Per-op values the program reports itself, for the traced run."""
        import statistics

        out = {}
        for st in STAGES:
            out[f"stage.{st}_s"] = statistics.median(
                self.results[s]["stage_sec"].get(st, 0.0) for s in seqs
            )
        out["run_batch.features"] = statistics.median(self.results[s]["features"] for s in seqs)
        return out
