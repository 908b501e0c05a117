"""One benchmark run, in its own process: start Spark, set up a workload,
time its passes, and write the result to ``--out`` as JSON.

``run.py`` starts this process and reads the result file; nothing here is
parsed from standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics of a traced run: name -> unit. Every traced run reports
# all of them; a layer a workload does not call reads 0.
LAYERS = ["sources", "shards", "pagerank", "barrier", "publish",
          "components", "lpa", "triangles", "pagerank_df"]
PER_LAYER = {
    "session.start_s": "s",
    "warmup.first_pass_s": "s",
    "sources.generate_s": "s",
    "sources.derive_s": "s",
    "sources.derive_jobs": "count",
    "shards.build_s": "s",
    "shards.build_jobs": "count",
    "shards.build_stages": "count",
    "shards.build_shuffle_write_mb": "MB",
    "pagerank.solve_s": "s",
    "pagerank.jobs": "count",
    "pagerank.iterations": "count",
    "pagerank.iter_ms_p50": "ms",
    "pagerank.edge_iters_per_s": "edges/s",
    "barrier.solve_s": "s",
    "barrier.iter_ms_p50": "ms",
    "barrier.kernel_ms_p50": "ms",
    "barrier.route_ms_p50": "ms",
    "barrier.edge_iters_per_s": "edges/s",
    "checkpoint.commits": "count",
    "checkpoint.bytes_written_mb": "MB",
    "checkpoint.manifest_bytes": "bytes",
    "checkpoint.leg1_s": "s",
    "checkpoint.resume_s": "s",
    "publish.write_s": "s",
    "publish.rows": "count",
    "components.iterations": "count",
    "lpa.iterations": "count",
    **{f"{op}.{k}": u for op in ("components", "lpa", "triangles", "pagerank_df")
       for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"))},
    **{f"{layer}.{k}": u for layer in LAYERS
       for k, u in (("self_s", "s"), ("spill_mb", "MB"), ("task_skew", "ratio"))},
    "trace.overhead_s": "s",
    "trace.layer_sum_share": "ratio",
}
END_TO_END = {"e2e_s": "s", "edges_per_s": "edges/s", "setup_s": "s", "peak_rss_mb": "MB"}
MIN_PASSES = 2


def _env(work: str) -> None:
    """Keep every file Spark and the engine write inside the work dir, and
    let Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [ROOT, HERE]


def layer_metrics(tr, wl, extra: dict, events) -> dict[str, float]:
    """Per-layer numbers of one traced pass (see PER_LAYER)."""
    from spans import task_skew

    stages_of_group, stats = events
    mb = 2**20
    got: dict[str, float] = {}
    top = [i for i, s in enumerate(tr.spans) if s.parent is None]

    def walk(i):
        sub = tr.subtree(i)
        jobs = sum(tr.spans[j].jobs for j in sub)
        stage_ids = set().union(*(stages_of_group.get(tr.spans[j].group, set()) for j in sub))
        ran = [stats[s] for s in stage_ids if s in stats]
        return jobs, ran

    for i in top:
        name = tr.spans[i].name
        wall = tr.spans[i].end - tr.spans[i].start
        jobs, ran = walk(i)
        shuffle = sum(s.shuffle_write for s in ran) / mb
        got[f"{name}.self_s"] = tr.self_time(i)
        got[f"{name}.spill_mb"] = sum(s.spill for s in ran) / mb
        got[f"{name}.task_skew"] = task_skew(ran)
        if name == "sources":
            got.update({"sources.derive_s": wall, "sources.derive_jobs": jobs})
        elif name == "shards":
            got.update({"shards.build_s": wall, "shards.build_jobs": jobs,
                        "shards.build_stages": len(ran),
                        "shards.build_shuffle_write_mb": shuffle})
        elif name == "pagerank":
            got.update({"pagerank.solve_s": wall, "pagerank.jobs": jobs})
        elif name == "barrier":
            got["barrier.solve_s"] = wall
        elif name == "publish":
            got["publish.write_s"] = wall
        else:
            got.update({f"{name}.s": wall, f"{name}.jobs": jobs,
                        f"{name}.shuffle_write_mb": shuffle})
    got["checkpoint.leg1_s"] = tr.wall("checkpoint.leg1")
    got["checkpoint.resume_s"] = tr.wall("checkpoint.resume")
    extra = dict(extra)
    if "_pagerank.edge_iters" in extra:
        got["pagerank.edge_iters_per_s"] = extra.pop("_pagerank.edge_iters") / got["pagerank.solve_s"]
    if "_barrier.edge_iters" in extra:
        got["barrier.edge_iters_per_s"] = extra.pop("_barrier.edge_iters") / got["barrier.solve_s"]
    got.update(extra)
    return got


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    _env(args.work)

    from linkgraph.session import get_spark
    from spans import RssSampler, Tracer, read_event_log
    from workloads import INPUTS, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    # the heap is committed and touched up front, so peak RSS does not
    # depend on when the JVM happened to grow it; what varies is off-heap,
    # Python and worker memory
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            f" -Xms{heap} -XX:+AlwaysPreTouch"
        ),
    }
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})

    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.range(1).count()  # the first job pays the lazy executor start-up
    session_s = time.monotonic() - t0

    setup = Tracer()
    # the warm-up pass runs on a small input of the same shape: it pays the
    # cold start (JIT, codegen, Python workers) at a fraction of a full pass
    cls, spec = WORKLOADS[args.workload], INPUTS[args.workload]
    wl = cls(spark, os.path.join(args.work, "main"), args.seed, spec["params"])
    warm = cls(spark, os.path.join(args.work, "warm"), args.seed,
               {**spec["params"], **spec["warmup"]})
    t0 = time.monotonic()
    warm.prepare(setup.span)
    wl.prepare(setup.span)
    prepare_s = time.monotonic() - t0
    _log(f"session start {session_s:.2f} s, inputs {prepare_s:.2f} s")
    warm.expect()  # the checker's own cost: not part of set-up
    wl.expect()

    attempted = failed = 0
    errors: list[str] = []

    def one_pass(wl, tr):
        """Run, time and check one pass; returns (outputs, wall) or
        (None, None) when it raised."""
        nonlocal attempted, failed
        attempted += 1
        t = time.monotonic()
        try:
            out = wl.run_pass(tr)
        except Exception:  # a failed pass is counted, and the run goes on
            rss.active.clear()
            failed += 1
            errors.append(traceback.format_exc())
            wl.reset()
            return None, None
        wall = time.monotonic() - t
        rss.active.clear()
        try:
            errs = wl.check(out)
        except Exception:  # an output that cannot even be read fails the pass
            errs = [traceback.format_exc()]
        if errs:
            failed += 1
            errors.extend(errs)
        return out, wall

    rss = RssSampler()
    warm_tr = Tracer()
    out, warm_s = one_pass(warm, warm_tr)  # untimed warm-up pass, checked
    if out is not None:
        warm.clean(out)
    setup_s = session_s + prepare_s + (warm_s or 0.0)
    layers = ", ".join(f"{s.name} {s.end - s.start:.2f}" for s in warm_tr.spans if s.parent is None)
    _log(f"warm-up pass {warm_s or 0.0:.2f} s ({layers}), set-up {setup_s:.2f} s")

    # timed passes until --seconds are used up, and at least MIN_PASSES
    # (passes still speed up after the warm-up, so one pass is a noisy
    # sample). A traced run alternates plain and traced passes and ends on a
    # plain one, so plain passes bracket every traced one and the warm-up
    # trend cancels out of the tracing overhead
    plain: list[float] = []
    traced: list[tuple[float, Tracer, dict]] = []
    deadline = time.monotonic() + args.seconds
    while failed <= 2:
        is_traced = bool(args.trace) and attempted % 2 == 0
        tr = Tracer(spark.sparkContext if is_traced else None)
        rss.active.set()
        out, wall = one_pass(wl, tr)
        if out is not None:
            if is_traced:
                traced.append((wall, tr, wl.layer_metrics(out)))
            else:
                plain.append(wall)
            wl.clean(out)
        if args.trace:
            done = bool(traced) and not is_traced
        else:
            done = len(plain) >= MIN_PASSES
        if done and time.monotonic() >= deadline:
            break
    rss.close()
    spark.stop()  # also completes the event log

    result: dict = {"attempted": attempted, "failed": failed, "errors": errors[:20],
                    "sizes": wl.sizes, "passes": {"plain": plain, "traced": [t[0] for t in traced]}}
    if args.trace and plain and traced:
        events = read_event_log(log_dir)
        rows = [layer_metrics(tr, wl, extra, events) for _, tr, extra in traced]
        metrics = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in PER_LAYER}
        metrics["session.start_s"] = session_s
        metrics["warmup.first_pass_s"] = warm_s or 0.0
        metrics["sources.generate_s"] = setup.wall("sources.generate")
        metrics["trace.layer_sum_share"] = statistics.median(
            sum(s.end - s.start for s in tr.spans if s.parent is None) / wall
            for wall, tr, _ in traced
        )
        metrics["trace.overhead_s"] = (
            statistics.median(t[0] for t in traced) - statistics.median(plain)
        )
        result["metrics"] = {k: (v, PER_LAYER[k]) for k, v in metrics.items()}
    elif plain:
        e2e = statistics.median(plain)
        values = {"e2e_s": e2e, "edges_per_s": wl.m / e2e, "setup_s": setup_s,
                  "peak_rss_mb": rss.peak_bytes / 2**20}
        result["metrics"] = {k: (v, END_TO_END[k]) for k, v in values.items()}
    with open(args.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
