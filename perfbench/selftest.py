"""Self-test of the benchmark's own files.

    python3 perfbench/selftest.py            # checkers + BENCHMARK.json, no Spark
    python3 perfbench/selftest.py --sizes    # also: seed 1 reproduces inputs.json

1. The vectorized checkers in checks.py equal ``linkgraph.oracle`` on small
   graphs (planted communities and random multigraphs with self-loops and
   isolated vertices).
2. BENCHMARK.json lists the workloads of inputs.json and the per-layer
   metrics the traced run reports.
3. With ``--sizes``: set-up at seed 1 reproduces the sizes recorded in
   inputs.json (this starts Spark and generates every workload's inputs).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from linkgraph import oracle  # noqa: E402

import checks  # noqa: E402
from child import PER_LAYER  # noqa: E402
from workloads import INPUTS, planted_communities  # noqa: E402


def small_graphs():
    for seed in range(4):
        yield planted_communities(seed, communities=8, size=6, out_degree=3, rewire=0.2, groups=2), 48
    rng = np.random.default_rng(7)
    for n in (1, 5, 30, 60):
        m = 2 * n
        # ids drawn from [0, n - 1): the last vertex is isolated
        yield (rng.integers(0, max(1, n - 1), m), rng.integers(0, max(1, n - 1), m)), n


def test_checkers() -> None:
    for (src, dst), n in small_graphs():
        assert np.array_equal(checks.components(src, dst, n), oracle.connected_components(src, dst, n))
        for it in (1, 3, 10):
            assert np.array_equal(
                checks.label_propagation(src, dst, n, it), oracle.label_propagation(src, dst, n, it)
            )
        assert checks.triangle_count(src, dst, n) == oracle.triangle_count(src, dst, n)


def test_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(INPUTS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_sizes() -> None:
    """Set up every workload at seed 1 and compare its sizes to inputs.json."""
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
        from linkgraph.session import get_spark
        from workloads import WORKLOADS

        spark = get_spark(app_name="perfbench-selftest", master="local[2]")
        for name, cls in WORKLOADS.items():
            wl = cls(spark, os.path.join(work, name), 1, INPUTS[name]["params"])
            wl.prepare(lambda _name: contextlib.nullcontext())
            wl.expect()
            want = INPUTS[name]["sizes_at_seed_1"]
            assert wl.sizes == want, f"{name}: {wl.sizes} != {want}"
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    test_checkers()
    test_benchmark_json()
    if "--sizes" in sys.argv:
        test_sizes()
    print("perfbench selftest: ok")
