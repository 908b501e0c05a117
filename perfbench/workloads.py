"""The benchmark's workloads.

Each workload generates its inputs from a seed into storage (``prepare``),
computes the expected answers without the engine (``expect``), and then
runs passes: one pass reads the inputs from storage, calls the engine's
public functions layer by layer and leaves the outputs in storage. Every
pass is checked against the expected answers before its outputs are
removed. Sizes and generator parameters live in ``inputs.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from linkgraph import oracle

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "inputs.json")) as _f:
    INPUTS = json.load(_f)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _p50(metrics: list[dict], key: str) -> float:
    vals = [m[key] for m in metrics if key in m]
    return statistics.median(vals) if vals else 0.0


class Workload:
    """Shared plumbing: a work directory, the pass counter and cleanup."""

    def __init__(self, spark, work: str, seed: int, params: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.params = params
        os.makedirs(work, exist_ok=True)
        self.m = 0  # input edges, for edges_per_s
        self.sizes: dict[str, int] = {}
        self.passes = 0

    def out_dir(self) -> str:
        self.passes += 1
        return os.path.join(self.work, "out", f"pass{self.passes}")

    def clean(self, out: dict) -> None:
        self.reset()

    def reset(self) -> None:
        """Best-effort cleanup after a pass that raised."""
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)


class IngestRank(Workload):
    """transcripts parquet -> derive_edges -> ShardedGraph.build ->
    pagerank (auto) -> rank parquet, then a checkpoint drill on the same
    layout: pagerank_barrier with a fresh checkpoint run stopped after
    ``leg1_iters``, and a second call that resumes it to convergence."""

    name = "ingest_rank"

    def prepare(self, setup) -> None:
        from linkgraph.sources import generate_transcripts

        self.transcripts = os.path.join(self.work, "transcripts")
        with setup("sources.generate"):
            generate_transcripts(
                self.spark, n_convs=self.params["n_convs"], seed=self.seed
            ).write.parquet(self.transcripts)

    def expect(self) -> None:
        """Derive the edges with pandas (the rule in FIXTURES.md §F1), key
        them by Spark's xxhash64 of the actor name, and run the oracle."""
        from pyspark.sql import functions as F

        t = pq.read_table(self.transcripts, columns=["conv_id", "turn_idx", "role", "tool"])
        df = t.to_pandas().sort_values(["conv_id", "turn_idx"], kind="stable")
        prev = df.groupby("conv_id", sort=False)["role"].shift(1)
        reply = prev.notna()
        tool = df["tool"].notna()
        src_name = np.concatenate([df["role"][reply].to_numpy(), df["role"][tool].to_numpy()])
        dst_name = np.concatenate([prev[reply].to_numpy(), df["tool"][tool].to_numpy()])
        names, inv = np.unique(np.concatenate([src_name, dst_name]), return_inverse=True)
        hashed = (
            self.spark.createDataFrame(pa.table({"name": names}))
            .select("name", F.xxhash64("name").alias("id"))
            .toPandas()
            .set_index("name")["id"]
        )
        ids = hashed.loc[names].to_numpy()
        src, dst = ids[inv[: len(src_name)]], ids[inv[len(src_name) :]]
        self.ids, s, d = checks.dense(src, dst)
        self.rank, self.iterations = oracle.pagerank_family_a(s, d, len(self.ids))
        self.m = len(src)
        self.sizes = {"m": self.m, "n": len(self.ids), "iterations": self.iterations}

    def run_pass(self, tr) -> dict:
        from linkgraph.checkpoint import ParquetManifestStore
        from linkgraph.operators.pagerank import pagerank
        from linkgraph.plans.barrier import pagerank_barrier
        from linkgraph.plans.shards import ShardedGraph
        from linkgraph.sources import derive_edges

        out = {"path": self.out_dir(), "run_id": uuid.uuid4().hex}
        store = ParquetManifestStore(os.path.join(self.work, "ckpt"))
        with tr.span("sources"):
            transcripts = self.spark.read.parquet(self.transcripts)
            edges = derive_edges(transcripts).select("src", "dst").persist()
            out["m"] = edges.count()
        with tr.span("shards"):
            g = ShardedGraph.build(edges)
        out.update(graph=g, edges=edges, store=store)
        with tr.span("pagerank"):
            out["res"] = pagerank(edges, sharded_graph=g)
        with tr.span("publish"):
            out["res"].ranks.write.parquet(out["path"])
        with tr.span("barrier"):
            with tr.span("checkpoint.leg1"):
                out["leg1"] = pagerank_barrier(
                    sharded_graph=g, store=store, run_id=out["run_id"],
                    max_iter=self.params["leg1_iters"],
                )
            with tr.span("checkpoint.resume"):
                out["resumed"] = pagerank_barrier(sharded_graph=g, store=store, run_id=out["run_id"])
        return out

    def check(self, out: dict) -> list[str]:
        res, leg1, resumed = out["res"], out["leg1"], out["resumed"]
        errs = []
        if out["m"] != self.m:
            errs.append(f"derived {out['m']} edges, expected {self.m}")
        if res.iterations != self.iterations:
            errs.append(f"{res.iterations} iterations, oracle took {self.iterations}")
        if leg1.iterations != self.params["leg1_iters"] or leg1.converged:
            errs.append(f"first leg ran {leg1.iterations} iterations (converged={leg1.converged})")
        if resumed.iterations != self.iterations or not resumed.converged:
            errs.append(f"resumed run ended at iteration {resumed.iterations}")
        commits = len(out["store"].iteration_log(out["run_id"]))
        if commits != self.iterations:
            errs.append(f"{commits} checkpoint commits, expected {self.iterations}")
        pdf = resumed.ranks.toPandas().sort_values("node")
        if not np.array_equal(pdf["node"].to_numpy(), self.ids):
            errs.append("resumed ranks cover other nodes than the oracle")
        elif np.max(np.abs(pdf["rank"].to_numpy() - self.rank)) > 1e-6:
            errs.append("resumed ranks differ from the oracle by more than 1e-6")
        return errs + checks.check_ranks(out["path"], self.ids, self.rank)

    def layer_metrics(self, out: dict) -> dict[str, float]:
        res, leg1, resumed = out["res"], out["leg1"], out["resumed"]
        store, run_id, m = out["store"], out["run_id"], out["m"]
        log = leg1.iter_metrics + resumed.iter_metrics
        run_dir = os.path.join(store.root, run_id)
        return {
            "pagerank.iterations": res.iterations,
            "pagerank.iter_ms_p50": _p50(res.iter_metrics, "wall_ms"),
            "barrier.iter_ms_p50": _p50(log, "wall_ms"),
            "barrier.kernel_ms_p50": _p50(log, "kernel_ms"),
            "barrier.route_ms_p50": _p50(log, "route_ms"),
            "checkpoint.commits": len(store.iteration_log(run_id)),
            "checkpoint.bytes_written_mb": _dir_bytes(run_dir) / 2**20,
            "checkpoint.manifest_bytes": os.path.getsize(os.path.join(run_dir, "manifest.json")),
            "publish.rows": out["graph"].n,
            "_pagerank.edge_iters": m * res.iterations,
            "_barrier.edge_iters": m * resumed.iterations,
        }

    def clean(self, out: dict) -> None:
        out["graph"].unpersist()
        out["edges"].unpersist()
        self.reset()

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)


def planted_communities(seed: int, communities: int, size: int, out_degree: int,
                        rewire: float, groups: int) -> tuple[np.ndarray, np.ndarray]:
    """Directed edges over dense ids [0, communities*size): every vertex
    sends ``out_degree`` edges to random members of its own community; a
    ``rewire`` share of them is redirected to a random vertex of another
    community in the same group (community % groups), so the graph has
    ``groups`` components and dense, label-stable communities."""
    rng = np.random.default_rng(seed)
    n = communities * size
    src = np.repeat(np.arange(n, dtype=np.int64), out_degree)
    comm = src // size
    dst = comm * size + rng.integers(0, size, len(src))
    moved = rng.random(len(src)) < rewire
    # another community of the same group: shift by a non-zero multiple of groups
    per_group = communities // groups
    shift = rng.integers(1, per_group, int(moved.sum())) * groups
    other = (comm[moved] + shift) % communities
    dst[moved] = other * size + rng.integers(0, size, len(other))
    return src, dst


class LabelOps(Workload):
    """Planted-community edge parquet -> connected_components,
    label_propagation, triangle_count and pagerank_dataframe (fixed
    iterations), each result written to parquet."""

    name = "label_ops"

    def prepare(self, setup) -> None:
        p = self.params
        with setup("sources.generate"):
            self.src, self.dst = planted_communities(
                self.seed, p["communities"], p["size"], p["out_degree"], p["rewire"], p["groups"]
            )
            self.edges_path = os.path.join(self.work, "edges.parquet")
            pq.write_table(pa.table({"src": self.src, "dst": self.dst}), self.edges_path)

    def expect(self) -> None:
        p = self.params
        n = p["communities"] * p["size"]
        self.cc = checks.components(self.src, self.dst, n)
        self.lpa = checks.label_propagation(self.src, self.dst, n, p["lpa_iters"])
        self.triangles = checks.triangle_count(self.src, self.dst, n)
        self.rank, _ = oracle.pagerank_family_a(
            self.src, self.dst, n, eps=0.0, max_iter=p["pagerank_iters"]
        )
        self.m = len(self.src)
        self.sizes = {
            "m": self.m, "n": n,
            "components": len(np.unique(self.cc)),
            "lpa_labels": len(np.unique(self.lpa)),
            "triangles": self.triangles,
        }

    def run_pass(self, tr) -> dict:
        from linkgraph.operators.components import connected_components
        from linkgraph.operators.lpa import label_propagation
        from linkgraph.operators.pagerank import pagerank_dataframe
        from linkgraph.operators.triangles import triangle_count

        p = self.params
        out = {"path": self.out_dir()}
        edges = self.spark.read.parquet(self.edges_path)
        with tr.span("components"):
            cc = connected_components(edges)
            cc.components.write.parquet(os.path.join(out["path"], "cc"))
        with tr.span("lpa"):
            lpa = label_propagation(edges, max_iter=p["lpa_iters"])
            lpa.labels.write.parquet(os.path.join(out["path"], "lpa"))
        with tr.span("triangles"):
            out["triangles"] = triangle_count(edges)
        with tr.span("pagerank_df"):
            pr = pagerank_dataframe(edges, max_iter=p["pagerank_iters"], check_convergence=False)
            pr.ranks.write.parquet(os.path.join(out["path"], "pr"))
        out.update(cc=cc, lpa=lpa, pr=pr)
        return out

    def check(self, out: dict) -> list[str]:
        path = out["path"]
        errs = checks.check_labels(os.path.join(path, "cc"), "component", self.cc, "components")
        errs += checks.check_labels(os.path.join(path, "lpa"), "label", self.lpa, "lpa")
        if out["triangles"] != self.triangles:
            errs.append(f"{out['triangles']} triangles, expected {self.triangles}")
        if out["pr"].iterations != self.params["pagerank_iters"]:
            errs.append(f"pagerank_dataframe ran {out['pr'].iterations} iterations")
        return errs + checks.check_ranks(
            os.path.join(path, "pr"), np.arange(self.sizes["n"]), self.rank
        )

    def layer_metrics(self, out: dict) -> dict[str, float]:
        return {
            "components.iterations": out["cc"].iterations,
            "lpa.iterations": out["lpa"].iterations,
        }


WORKLOADS = {w.name: w for w in (IngestRank, LabelOps)}
