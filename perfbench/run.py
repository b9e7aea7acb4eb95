"""Benchmark command.

    python3 perfbench/run.py --workload {minutely,image_batch} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
REQUIRED = ("augdiff_pipeline_spark/__init__.py", "tests/oracle_augdiff.py")
SPARK_LAYER = {"spark": ("op",)}  # every job of an op
SETUP_LAYERS = ("state_init", "transitive_closure", "polygon_layer")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("minutely", "image_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_workload(name: str, seed: int, work: str, cache_dir: str):
    if name == "minutely":
        from perfbench.minutely import Minutely

        return Minutely(seed, work, cache_dir)
    from perfbench.images import ImageBatch

    return ImageBatch(seed, work, cache_dir)


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) of every per-layer metric; a traced run
    prints all of them, with zeros for layers its workload never calls."""
    from perfbench import images, minutely
    from perfbench.trace import FIELDS

    units = {"wall_s": ("s", "lower"), "self_s": ("s", "lower"), "jobs": ("count", "lower"),
             "tasks": ("count", "lower"), "task_s": ("s", "lower"),
             "shuffle_bytes": ("B", "lower")}
    out = {}
    for layer in {**minutely.LAYERS, **images.LAYERS, **SPARK_LAYER}:
        for f in FIELDS:
            out[f"{layer}.{f}"] = units[f]
        if layer in images.SKEW_LAYERS:
            out[f"{layer}.task_skew"] = ("ratio", "lower")
    out["spark.busy_share"] = ("ratio", "higher")
    for st in minutely.STAGES:
        out[f"stage.{st}_s"] = ("s", "lower")
    out["run_batch.features"] = ("count", "higher")
    out["traced.ops"] = ("count", "higher")
    out["traced.op_s_p50"] = ("s", "lower")
    return out


def end_to_end_metrics() -> dict[str, tuple[str, str]]:
    return {"setup_s": ("s", "lower"), "op_s_p50": ("s", "lower"),
            "rows_per_s": ("1/s", "higher"), "peak_rss_mb": ("MB", "lower")}


def traced_metrics(tracer, wl, lat: dict, cores: int) -> dict:
    """Per-layer medians over the timed ops, and the set-up layers from
    the set-up op."""
    from perfbench.trace import layer_table

    timed = sorted(lat)
    values = dict.fromkeys(per_layer_metrics(), 0.0)
    values.update(layer_table(tracer, {**wl.LAYERS, **SPARK_LAYER}, timed, wl.SKEW_LAYERS))
    values.update(layer_table(
        tracer, {k: v for k, v in wl.LAYERS.items() if k in SETUP_LAYERS}, ["setup"]
    ))
    if values["spark.wall_s"] > 0:
        values["spark.busy_share"] = values["spark.task_s"] / (values["spark.wall_s"] * cores)
    values.update(wl.op_metrics(timed))
    values["traced.ops"] = len(timed)
    # compared with op_s_p50 of the untraced runs, this gives the
    # overhead of tracing
    values["traced.op_s_p50"] = statistics.median(lat.values())
    return values


def bench(args) -> dict:
    from perfbench import host
    from perfbench.trace import Tracer

    work = os.path.join(STATE_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    host.prepare_env(ROOT, work)
    t_gen = time.perf_counter()
    wl = make_workload(args.workload, args.seed, work, os.path.join(STATE_DIR, "cache"))
    log(f"inputs ready in {time.perf_counter() - t_gen:.2f}s")
    cores = host.host_cores()

    t0 = time.perf_counter()
    spark = host.start_spark(work, cores)
    log(f"session up in {time.perf_counter() - t0:.2f}s on {cores} cores")
    rss = host.RssSampler(host.jvm_pid())
    try:
        with rss:
            tracer = Tracer(spark, active=bool(args.trace))
            wl.install(tracer)
            with tracer.op("setup"):
                wl.setup(spark, tracer)
            setup_s = time.perf_counter() - t0
            log(f"set-up done in {setup_s:.2f}s")

            # No untimed warm-up op: on a 4-core host set-up and one op
            # already take 30-45 s, so a run times the ops that fit in
            # --seconds, starting with the first.
            ran, lat, rows, failed = [], {}, {}, set()
            t_start, i = time.perf_counter(), 0
            while time.perf_counter() - t_start < args.seconds and wl.has_step(i):
                ran.append(i)
                try:
                    with tracer.op(i):
                        t = time.perf_counter()
                        rows[i] = wl.step(i)
                        lat[i] = time.perf_counter() - t
                except Exception as exc:  # counted as failed, and ends the run
                    log(f"op {i} failed: {exc!r}")
                    failed.add(i)
                    break
                i += 1
            timed = sorted(lat)
            if not timed:
                raise RuntimeError("no operation completed inside the measured window")
            log("op latencies: " + " ".join(f"{lat[k]:.2f}" for k in timed))
            failed |= wl.check([k for k in ran if k not in failed])
            log(f"checked {len(ran)} ops against the oracle: {len(failed)} failed")
            if args.trace:
                values = traced_metrics(tracer, wl, lat, cores)
                tracer.dump(os.path.join(STATE_DIR, f"trace-{args.workload}-s{args.seed}.jsonl"))
        tracer.unpatch()
        log(f"peak memory {rss.peak_mb:.0f} MB, of which the JVM {rss.jvm_peak_mb:.0f} MB")
    finally:
        t_stop = time.perf_counter()
        host.stop_spark(spark)
        host.wait_gone(rss.pids)
        log(f"session stopped in {time.perf_counter() - t_stop:.2f}s")

    if args.trace:
        declared = per_layer_metrics()
    else:
        declared = end_to_end_metrics()
        values = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(lat[k] for k in timed),
            "rows_per_s": sum(rows[k] for k in timed) / sum(lat[k] for k in timed),
            "peak_rss_mb": rss.peak_mb,
        }
    return {
        "correct": not failed, "attempted": len(ran), "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, (u, _) in declared.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the package (missing {', '.join(missing)})")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    print(json.dumps(bench(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
