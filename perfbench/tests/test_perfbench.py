"""The benchmark's own tests:  python3 -m pytest perfbench/tests -q"""

import json
import os
import pickle
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench import gen, run  # noqa: E402
from perfbench.trace import Span, Tracer, layer_table  # noqa: E402


@pytest.mark.parametrize("make", [
    lambda s: gen.minutely_feed(s, 3, 6),
    lambda s: gen.image_points(s, 500),
    lambda s: gen.image_blobs(s, 20),
    lambda s: gen.docs(s, 200),
])
def test_same_seed_gives_identical_inputs(make):
    assert pickle.dumps(make(11)) == pickle.dumps(make(11))
    assert pickle.dumps(make(11)) != pickle.dumps(make(12))


def test_minutely_feed_replays_clean_through_the_oracle():
    import oracle_augdiff

    base, batches = gen.minutely_feed(5, 3, 6)
    features, _ = oracle_augdiff.run_sequence(base, batches)
    assert sorted(features) == sorted(batches)
    # every batch changes ways as well as nodes, so every seq renders both
    for seq, feats in features.items():
        kinds = {f["properties"]["type"] for f in feats}
        assert {"node", "way"} <= kinds, seq


def test_docs_plant_near_duplicates():
    docs, planted = gen.docs(3, 400)
    assert len(planted) > 20
    texts = docs["text"].tolist()
    for a, b in planted:
        assert a < b and len(set(texts[a].split()) ^ set(texts[b].split())) <= 2


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert declared == run.end_to_end_metrics()
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert declared == run.per_layer_metrics()
    assert {w["name"] for w in spec["workloads"]} == {"minutely", "image_batch"}


def _tracer_with(spans):
    t = Tracer.__new__(Tracer)
    t.spans = spans
    return t


def _span(sid, name, parent, start, end, jobs=0):
    s = Span(sid, name, parent, "op1")
    s.start, s.end, s.jobs = start, end, jobs
    return s


def test_layer_table_self_time_and_nesting():
    spans = [
        _span(0, "op", None, 0.0, 10.0, jobs=1),
        _span(1, "run_batch", 0, 1.0, 9.0, jobs=2),
        _span(2, "fetch_pairs", 1, 2.0, 5.0, jobs=1),
        _span(3, "fetch_keys", 2, 3.0, 4.0, jobs=4),  # same layer: not counted twice
    ]
    layers = {"spark": ("op",), "run_batch": ("run_batch",),
              "state_fetch": ("fetch_keys", "fetch_pairs")}
    out = layer_table(_tracer_with(spans), layers, ["op1"])
    assert out["spark.jobs"] == 8 and out["spark.self_s"] == 2.0
    assert out["run_batch.wall_s"] == 8.0 and out["run_batch.self_s"] == 5.0
    assert out["run_batch.jobs"] == 7
    assert out["state_fetch.wall_s"] == 3.0 and out["state_fetch.jobs"] == 5


def test_fails_without_printing_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "minutely", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_tiny_minutely_run_matches_the_oracle(tmp_path):
    from perfbench import host
    from perfbench.minutely import Minutely

    work = str(tmp_path / "work")
    host.prepare_env(ROOT, work)
    wl = Minutely(9, work, str(tmp_path / "cache"), grid_n=2, n_batches=2)
    spark = host.start_spark(work, 2)
    tracer = Tracer(spark)
    try:
        wl.install(tracer)
        with tracer.op("setup"):
            wl.setup(spark, tracer)
        for seq in (0, 1):
            with tracer.op(seq):
                wl.step(seq)
        assert wl.check([0, 1]) == set()
        table = layer_table(tracer, {"run_batch": ("run_batch",)}, [0, 1])
        assert table["run_batch.jobs"] > 0
    finally:
        tracer.unpatch()
        host.stop_spark(spark)
