"""The benchmark's workloads: one set-up, a timed window of warm
passes (or increment chains), the correctness gate after each clock
stop, and for `--trace 1` the traced passes and the layer drive.

The end-to-end passes call only `get_spark`, `dedup`,
`index_from_enriched` and `dedup_increment`, with API defaults.
Per-workload sizes, and why each workload exists, are recorded in
perfbench/WORKLOADS.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import eventlog, gate, inputs, layers
from .harness import WORK, PeakMemory, Session, engine_cpu_s, fresh_dir, now_ms

SIZES = {
    "web_full": {"n_docs": 1000},
    "short_full": {"n_docs": 20000},
    "increment_chain": {"n_base": 5000, "n_batches": 2, "batch_size": 500},
}
# smoke-test sizes: every tier still sees planted pairs
TINY = {
    "web_full": {"n_docs": 300},
    "short_full": {"n_docs": 2000},
    "increment_chain": {"n_base": 2000, "n_batches": 2, "batch_size": 200},
}


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)       # name -> value
    per_layer: dict = field(default_factory=dict)  # name -> value
    tally: gate.Tally = field(default_factory=gate.Tally)
    setup_ok: bool = True
    info: dict = field(default_factory=dict)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed_window(seconds: float, attempt) -> None:
    """Call attempt() once, then again until `seconds` have passed. One
    pass (or chain) outlasts BENCHMARK.json's run_seconds, so a run times
    exactly one: the sample count cannot flip with host speed, which
    matters because each pass is still a little faster than the one
    before (JIT warm-up)."""
    t0 = time.monotonic()
    attempt()
    while time.monotonic() - t0 < seconds:
        attempt()


# ---------------------------------------------------------------- full runs


class FullPass:
    def __init__(self, spark, inp: dict, key: str, use_run_dir: bool):
        from deduplication_spark import DedupConfig

        self.spark, self.key, self.use_run_dir = spark, key, use_run_dir
        self.docs = os.path.join(inp["dir"], "documents.parquet")
        self.n_docs = inp["n_docs"]
        self.truth, self.pairs = gate.read_truth(inp["dir"])
        self.cfg = DedupConfig()

    def run(self, label: str) -> tuple[float, str]:
        from deduplication_spark import dedup

        out = fresh_dir(self.key, label)
        run_dir = os.path.join(out, "stages") if self.use_run_dir else None
        t0 = time.perf_counter()
        res = dedup(self.spark, self.spark.read.parquet(self.docs), self.cfg, run_dir=run_dir)
        res.assignments.write.parquet(os.path.join(out, "assignments"))
        return time.perf_counter() - t0, out

    def score(self, out: str) -> tuple[float, int]:
        c = gate.cluster_vector(
            gate.read_assignments(os.path.join(out, "assignments")), self.n_docs
        )
        return gate.pair_recall(c, self.pairs), gate.false_merges(c, self.truth)


def run_full(ctx, inp: dict, use_run_dir: bool) -> Result:
    r = Result()
    spark = ctx.session.start()
    fp = FullPass(spark, inp, ctx.key, use_run_dir)

    _, out = fp.run("setup")  # the cold first pass
    recall, merges = fp.score(out)
    r.setup_ok = recall >= gate.RECALL_GATE and merges == 0
    shutil.rmtree(out)
    setup_s = ctx.elapsed()

    walls: list[float] = []

    def attempt():
        label = f"pass{r.tally.attempted}"
        try:
            wall, out = fp.run(label)
            recall, merges = fp.score(out)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not retried
            r.tally.record(None, error=repr(e)[:500])
            return
        walls.append(wall)
        r.tally.record(recall, merges)
        shutil.rmtree(out)

    _timed_window(ctx.seconds, attempt)
    wall = _median(walls)
    r.e2e = {
        "wall_s": wall,
        "docs_per_s": fp.n_docs / wall if wall else 0.0,
        "batch_p50_s": wall,
        "setup_s": setup_s,
    }
    r.info["pass_walls_s"] = walls

    if ctx.trace:
        ctx.session.stop()
        spark = ctx.session.start(event_log=True)
        fp.spark = spark
        cpu0, t0 = engine_cpu_s(), now_ms()
        traced, out = fp.run("traced")
        t1, cpu = now_ms(), engine_cpu_s() - cpu0
        r.info["traced_recall"], r.info["traced_false_merges"] = fp.score(out)
        layers_out = fresh_dir(ctx.key, "layers")
        drv = layers.Driver(ctx.session)
        layers.drive_full(ctx.session, fp.docs, fp.cfg, layers_out, drv)
        if "pipeline.assignments" in drv.layers:
            asg = os.path.join(layers_out, "assignments")
            c = gate.cluster_vector(gate.read_assignments(asg), fp.n_docs)
            r.info["layers_recall"] = gate.pair_recall(c, fp.pairs)
            r.info["layers_false_merges"] = gate.false_merges(c, fp.truth)
            # the increment layers, on long docs: the last tenth of the
            # corpus probed as one batch against an index of the rest
            chain = split_chain(spark, fp.docs, asg, fp.cfg, fresh_dir(ctx.key, "split"))
            layers.drive_increment(ctx.session, chain, fp.cfg, 1, drv)
        r.per_layer = ctx.finish_trace(drv, (t0, t1), cpu, traced - wall)
    return r


# ---------------------------------------------------------- increment chain


def split_chain(spark, docs_path: str, assignments_path: str, cfg, out: str):
    """A one-batch IncrementChain over a full-run corpus: docs from the
    last tenth of the id range form the batch, the rest the base, and
    the base index comes from `build_index` over the full run's
    assignments (cluster ids are min ids, so base clusters keep ids
    below the cut)."""
    from pyspark.sql import functions as F

    from deduplication_spark import build_index

    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    n = docs.count()
    cut = n - n // 10
    docs.filter(F.col("doc_id") >= cut).write.parquet(os.path.join(out, "batch0.parquet"))
    base = docs.filter(F.col("doc_id") < cut)
    base.write.parquet(os.path.join(out, "documents.parquet"))
    asg = spark.read.parquet(assignments_path).filter(F.col("doc_id") < cut)
    index0 = os.path.join(out, "index0")
    build_index(base, asg, cfg).write.parquet(index0)
    inp = {"dir": out, "batches": ["batch0"], "batch_size": n - cut}
    return IncrementChain(inp, index0, os.path.join(out, "chain"))



class IncrementChain:
    """Paths of one chain of batches; every chain starts from index0."""

    def __init__(self, inp: dict, index0: str, out: str):
        self.dir = inp["dir"]
        self.n_batches = len(inp["batches"])
        self.batch_size = inp["batch_size"]
        self.index0 = index0
        self.out = out

    def batch_path(self, b: int) -> str:
        return os.path.join(self.dir, f"batch{b}.parquet")

    def base_docs(self, spark, b: int):
        """Base corpus plus every earlier batch: the texts the borderline
        verify of batch b may fetch."""
        paths = [os.path.join(self.dir, "documents.parquet")]
        paths += [self.batch_path(i) for i in range(b)]
        return spark.read.parquet(*paths)

    def assignments_path(self, b: int) -> str:
        return os.path.join(self.out, f"assignments{b}")

    def index_path(self, k: int) -> str:
        return self.index0 if k == 0 else os.path.join(self.out, f"index{k}")

    def run(self, spark, cfg, walls: list[float]) -> None:
        """The timed chain: each batch probes the index the previous one
        wrote, writes its assignments and the updated index. Appends each
        finished batch's wall to `walls`."""
        from deduplication_spark import dedup_increment

        for b in range(self.n_batches):
            t0 = time.perf_counter()
            inc = dedup_increment(
                spark,
                spark.read.parquet(self.batch_path(b)),
                spark.read.parquet(self.index_path(b)),
                cfg,
                base_docs=self.base_docs(spark, b),
            )
            inc.assignments.write.parquet(self.assignments_path(b))
            inc.index.write.parquet(self.index_path(b + 1))
            walls.append(time.perf_counter() - t0)


class ChainGate:
    def __init__(self, inp: dict, base_cluster: np.ndarray, truth_base: np.ndarray):
        self.inp = inp
        n_base = inp["n_base"]
        n_all = n_base + len(inp["batches"]) * inp["batch_size"]
        self.truth = np.arange(n_all, dtype=np.int64)
        self.truth[:n_base] = truth_base
        self.base_cluster = base_cluster
        self.batch_truth = []
        for b in range(len(inp["batches"])):
            t = pd.read_parquet(os.path.join(inp["dir"], f"batch{b}_truth.parquet"))
            self.truth[t["doc_id"].to_numpy()] = truth_base[t["src"].to_numpy()]
            catch = t[(t["cls"] == "exact") | (t["jaccard"] >= gate.JACCARD_THRESHOLD)]
            self.batch_truth.append(catch)

    def batch_recall(self, chain: IncrementChain, b: int) -> float:
        """Planted new docs that landed in their base source's cluster."""
        asg = gate.read_assignments(chain.assignments_path(b))
        lo = self.inp["n_base"] + b * self.inp["batch_size"]
        asg = asg.assign(doc_id=asg["doc_id"] - lo)
        c = gate.cluster_vector(asg, self.inp["batch_size"])
        t = self.batch_truth[b]
        found = c[t["doc_id"].to_numpy() - lo] == self.base_cluster[t["src"].to_numpy()]
        return float(found.mean()) if len(found) else 1.0

    def chain_false_merges(self, chain: IncrementChain) -> int:
        idx = pq_members(chain.index_path(chain.n_batches))
        return gate.false_merges(gate.cluster_vector(idx, len(self.truth)), self.truth)


def pq_members(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["member_id", "cluster_id"]).to_pandas()
    return t.rename(columns={"member_id": "doc_id"})


def run_increment(ctx, inp: dict) -> Result:
    from deduplication_spark import DedupConfig, dedup, index_from_enriched

    r = Result()
    cfg = DedupConfig()
    spark = ctx.session.start()
    index0 = os.path.join(fresh_dir(ctx.key, "base"), "index0")
    res = dedup(spark, spark.read.parquet(os.path.join(inp["dir"], "documents.parquet")), cfg)
    index_from_enriched(res.enriched, res.assignments, cfg=cfg).write.parquet(index0)
    setup_s = ctx.elapsed()

    base_cluster = gate.cluster_vector(pq_members(index0), inp["n_base"])
    truth_base, base_pairs = gate.read_truth(inp["dir"])
    cg = ChainGate(inp, base_cluster, truth_base)
    r.setup_ok = (
        gate.pair_recall(base_cluster, base_pairs) >= gate.RECALL_GATE
        and gate.false_merges(base_cluster, truth_base) == 0
    )

    batch_walls: list[float] = []
    chain_walls: list[float] = []

    def attempt():
        chain = IncrementChain(inp, index0, fresh_dir(ctx.key, f"chain{len(chain_walls)}"))
        walls: list[float] = []
        t0 = time.perf_counter()
        try:
            chain.run(spark, cfg, walls)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted, not retried
            error = repr(e)[:500]
        else:
            error = None
        chain_walls.append(time.perf_counter() - t0)
        batch_walls.extend(walls)
        for b in range(len(walls)):
            r.tally.record(cg.batch_recall(chain, b))
        if error is None:
            r.tally.false_merges += cg.chain_false_merges(chain)
            shutil.rmtree(chain.out)
        else:
            r.tally.record(None, error=error)

    _timed_window(ctx.seconds, attempt)
    n_new = inp["batch_size"] * len(inp["batches"])
    wall = _median(chain_walls)
    r.e2e = {
        "wall_s": wall,
        "docs_per_s": n_new / wall if wall else 0.0,
        "batch_p50_s": _median(batch_walls),
        "setup_s": setup_s,
    }
    r.info["chain_walls_s"] = chain_walls
    r.info["batch_walls_s"] = batch_walls

    if ctx.trace:
        ctx.session.stop()
        spark = ctx.session.start(event_log=True)
        chain = IncrementChain(inp, index0, fresh_dir(ctx.key, "traced"))
        cpu0, t0 = engine_cpu_s(), now_ms()
        walls = []
        chain.run(spark, cfg, walls)
        traced = sum(walls)
        t1, cpu = now_ms(), engine_cpu_s() - cpu0
        r.info["traced_recall"] = min(cg.batch_recall(chain, b) for b in range(chain.n_batches))
        r.info["traced_false_merges"] = cg.chain_false_merges(chain)
        # the full-pipeline layers over the short-doc base (the set-up
        # work of this workload), then one probe batch: keeps the traced
        # run near two minutes
        drv = layers.Driver(ctx.session)
        layers_out = fresh_dir(ctx.key, "layers")
        layers.drive_full(
            ctx.session, os.path.join(inp["dir"], "documents.parquet"), cfg, layers_out, drv
        )
        if "pipeline.assignments" in drv.layers:
            asg = gate.read_assignments(os.path.join(layers_out, "assignments"))
            c = gate.cluster_vector(asg, inp["n_base"])
            r.info["layers_recall"] = gate.pair_recall(c, base_pairs)
            r.info["layers_false_merges"] = gate.false_merges(c, truth_base)
        layers.drive_increment(
            ctx.session, IncrementChain(inp, index0, layers_out), cfg, 1, drv
        )
        r.per_layer = ctx.finish_trace(drv, (t0, t1), cpu, traced - wall)
    return r


# ------------------------------------------------------------- the context


class Context:
    """One benchmark process: arguments, clock origin, session, peaks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 t_start: float):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.key = f"{workload}-s{seed}"
        self.t_start = t_start
        self.gen_s = 0.0  # generation time spent in this process
        self.session = Session(fresh_dir(self.key))
        self.memory = PeakMemory()

    def elapsed(self) -> float:
        """setup_s: process start to now, minus input generation."""
        return time.time() - self.t_start - self.gen_s

    def finish_trace(self, drv: layers.Driver, window_ms: tuple[float, float],
                     cpu_s: float, overhead_s: float) -> dict:
        """Stop the traced session (which closes its event log) and
        assemble every per-layer metric. `window_ms` and `cpu_s` belong
        to part (a), the traced end-to-end pass or chain."""
        layers_wall = drv.wall_s()
        self.session.stop()
        ev = eventlog.read_events(eventlog.find_log(self.session.event_dir))
        tags = eventlog.by_description(ev)
        whole = eventlog.window(ev, *window_ms)
        out = {}
        for layer in layers.LAYERS:
            span = drv.layers.get(layer, {})
            tag = tags.get(f"bench:{layer}", {})
            out[f"{layer}.busy_s"] = span.get("busy_s", 0.0)
            out[f"{layer}.rows_in"] = span.get("rows_in", 0.0)
            out[f"{layer}.rows_out"] = span.get("rows_out", 0.0)
            out[f"{layer}.cpu_s"] = span.get("cpu_s", 0.0)
            for m in ("shuffle_write_mb", "spill_mb", "task_skew", "jobs"):
                out[f"{layer}.{m}"] = float(tag.get(m, 0.0))
            if layer.endswith(".candidates"):
                out[f"{layer}.dropped_pairs"] = span.get("dropped_pairs", 0.0)
                out[f"{layer}.capped_buckets"] = span.get("capped_buckets", 0.0)
            if layer.endswith(".verify"):
                rows_in = span.get("rows_in", 0.0)
                out[f"{layer}.yield"] = span.get("rows_out", 0.0) / rows_in if rows_in else 0.0
        busy = sum(s["busy_s"] for s in drv.layers.values())
        out.update({
            "pipeline.driver_gap_s": whole["driver_gap_s"],
            "pipeline.cpu_s": cpu_s,
            "pipeline.shuffle_write_mb": whole["shuffle_write_mb"],
            "pipeline.jobs": float(whole["jobs"]),
            "session.jvm_hwm_mb": self.memory.jvm_mb,
            "trace.overhead_s": overhead_s,
            "trace.layers_wall_s": layers_wall,
            "trace.unattributed_s": layers_wall - busy,
        })
        self.trace_report = {
            "traced_window_ms": list(window_ms),
            "whole_run": whole,
            "by_description": tags,
            "layer_spans": drv.layers,
            "missing_layers": sorted(drv.missing),
        }
        return out


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool,
        t_start: float) -> tuple[Result, Context]:
    ctx = Context(workload, seed, seconds, trace, t_start)
    size = (TINY if tiny else SIZES)[workload]
    cache = os.path.join(WORK, "inputs")
    t0 = time.time()
    if workload == "web_full":
        inp = inputs.web_corpus(cache, size["n_docs"], seed)
    elif workload == "short_full":
        inp = inputs.short_corpus(cache, size["n_docs"], seed)
    else:
        inp = inputs.increment_inputs(
            cache, size["n_base"], size["n_batches"], size["batch_size"], seed
        )
    ctx.gen_s = time.time() - t0
    try:
        with ctx.memory:
            if workload == "increment_chain":
                r = run_increment(ctx, inp)
            else:
                r = run_full(ctx, inp, use_run_dir=workload == "web_full")
            r.e2e["worker_rss_mb"] = ctx.memory.python_mb
    finally:
        ctx.session.shutdown()
    r.e2e["recall"] = r.tally.recall
    r.info.update({"inputs": {k: v for k, v in inp.items() if k != "dir"}, "size": size})
    if trace:
        r.per_layer["inputs.gen_s"] = inp["gen_s"]
    return r, ctx
