"""Part (b) of the traced run: drive the package's layer functions one
at a time, each materialized inside a span tagged
`setJobDescription("bench:<layer>")`.

A span's wall time is the layer's busy_s, and the CPU the JVM and
the Python workers used during it is its cpu_s. Row counts and candidate
accounting are taken after the span, under the `bench:rows` tag, so
they land in the unattributed remainder, not in a layer. The event
log then attributes shuffle, spill, skew and job counts to each tag
(eventlog.by_description).

The layers mirror what `pipeline.dedup` and `increment.dedup_increment`
run; the exact tier's window-min and the enrich projection are inline
in pipeline.py, so they are restated here with the same public calls.
A layer whose function no longer exists is reported as missing, and
so is every layer that needs its output.
"""

from __future__ import annotations

import importlib
import os
import time
from dataclasses import replace

from .harness import engine_cpu_s

FULL_LAYERS = (
    "io.scan",
    "hashing.enrich",
    "exact.edges",
    "minhash_lsh.candidates",
    "minhash_lsh.verify",
    "simhash.candidates",
    "simhash.verify",
    "substring.candidates",
    "substring.verify",
    "components.cc",
    "pipeline.assignments",
)
LAYERS = FULL_LAYERS + ("increment.probe", "increment.index_io")


class Missing(Exception):
    """A layer function the benchmark drives is gone from the package."""


def api(module: str, name: str):
    try:
        return getattr(importlib.import_module(f"deduplication_spark.{module}"), name)
    except (ImportError, AttributeError) as e:
        raise Missing(f"{module}.{name}") from e


def candidate_accounting(cand) -> dict:
    """dropped_pairs / capped_buckets from CandidateResult.metrics, or
    zeros when the result no longer carries that frame."""
    m = getattr(cand, "metrics", None)
    row = m.first().asDict() if m is not None else {}
    return {
        "dropped_pairs": float(row.get("dropped_pairs") or 0),
        "capped_buckets": float(row.get("n_capped_buckets") or 0),
    }


class Driver:
    def __init__(self, session):
        self.session = session
        self.layers: dict[str, dict] = {}
        self.missing: set[str] = set()
        self.t0 = time.perf_counter()

    def step(self, layer: str, run, needs: tuple = ()):
        """`run()` materializes the layer and returns (output, post);
        `post()` returns {"rows_in", "rows_out", ...} and is timed out
        of the span. Repeated steps of one layer add up."""
        if layer in self.missing or any(n in self.missing for n in needs):
            self.missing.add(layer)
            return None
        cpu0, t0 = engine_cpu_s(), time.perf_counter()
        try:
            with self.session.tagged(f"bench:{layer}"):
                out, post = run()
        except Missing as e:
            self.missing.add(layer)
            print(f"perfbench: layer {layer} missing: {e}", flush=True)
            return None
        busy, cpu = time.perf_counter() - t0, engine_cpu_s() - cpu0
        with self.session.tagged("bench:rows"):
            rec = post()
        acc = self.layers.setdefault(layer, {})
        acc["busy_s"] = acc.get("busy_s", 0.0) + busy
        acc["cpu_s"] = acc.get("cpu_s", 0.0) + cpu
        for k, v in rec.items():
            acc[k] = acc.get(k, 0.0) + v
        return out

    def wall_s(self) -> float:
        return time.perf_counter() - self.t0


def _rows(n_in, df) -> dict:
    return {"rows_in": float(n_in), "rows_out": float(df.count())}


def drive_full(session, docs_path: str, cfg, out_dir: str, d: Driver) -> None:
    """The full pipeline's layers over one corpus; the assignments land
    in `<out_dir>/assignments`."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = session.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def scan():
        base = (
            spark.read.parquet(docs_path)
            .select("doc_id", "text")
            .repartition(n_part, "doc_id")
            .localCheckpoint(eager=True)
        )
        return base, lambda: _rows(base.count(), base)

    base = d.step("io.scan", scan)
    if base is None:
        return
    n_docs = base.count()

    def enrich():
        enr = api("functions.hashing", "make_enrich_udf")(
            cfg.num_perm, cfg.hash_seed, cfg.shingle_k
        )
        e = (
            api("operators.exact", "with_content_key")(base)
            .withColumn("_e", enr(F.col("text")))
            .select(
                "doc_id",
                "content_hash",
                F.col("_e.minhash").alias("minhash"),
                F.col("_e.simhash").alias("simhash"),
            )
            .localCheckpoint(eager=True)
        )
        return e, lambda: _rows(n_docs, e)

    enriched = d.step("hashing.enrich", enrich)
    edges = []

    def exact():
        w = Window.partitionBy("content_hash")
        e = (
            enriched.select("doc_id", "content_hash")
            .filter(F.col("content_hash").isNotNull())
            .withColumn("a", F.min("doc_id").over(w))
            .filter(F.col("doc_id") != F.col("a"))
            .select("a", F.col("doc_id").alias("b"))
            .localCheckpoint(eager=True)
        )
        return e, lambda: _rows(n_docs, e)

    def candidates(buckets, keys):
        def run():
            cand = api("operators.candidates", "bucket_pairs")(
                buckets(), keys, cap=cfg.bucket_pair_cap
            )
            pairs = cand.pairs.localCheckpoint(eager=True)
            return pairs, lambda: {**_rows(n_docs, pairs), **candidate_accounting(cand)}

        return run

    def verified(verify, pairs):
        def run():
            e = verify(pairs).select("a", "b").localCheckpoint(eager=True)
            return e, lambda: _rows(pairs.count(), e)

        return run

    edges.append(d.step("exact.edges", exact, ("hashing.enrich",)))

    mh_pairs = d.step(
        "minhash_lsh.candidates",
        candidates(
            lambda: api("operators.minhash_lsh", "band_key_buckets")(enriched, cfg),
            ["band_key"],
        ),
        ("hashing.enrich",),
    )
    edges.append(d.step(
        "minhash_lsh.verify",
        verified(
            lambda p: api("operators.minhash_lsh", "minhash_near_edges")(
                p, enriched.select("doc_id", "minhash"), cfg, texts=base
            ),
            mh_pairs,
        ),
        ("minhash_lsh.candidates",),
    ))

    # the pipeline's pigeonhole auto-flip, when the config still has it
    flip = getattr(cfg, "effective_simhash_chunks", None)
    cfg_sim = replace(cfg, simhash_chunks=flip(n_docs)) if flip else cfg
    sh_pairs = d.step(
        "simhash.candidates",
        candidates(
            lambda: api("operators.simhash", "simhash_chunk_buckets")(enriched, cfg_sim),
            ["chunk_idx", "chunk_val"],
        ),
        ("hashing.enrich",),
    )
    edges.append(d.step(
        "simhash.verify",
        verified(
            lambda p: api("operators.simhash", "verify_hamming")(
                p, enriched.select("doc_id", "simhash"), cfg
            ),
            sh_pairs,
        ),
        ("simhash.candidates",),
    ))

    def ss_candidates():
        cand = api("operators.substring", "substring_candidates")(base, cfg)
        pairs = cand.pairs.localCheckpoint(eager=True)
        return pairs, lambda: {**_rows(n_docs, pairs), **candidate_accounting(cand)}

    ss_pairs = d.step("substring.candidates", ss_candidates)
    edges.append(d.step(
        "substring.verify",
        verified(
            lambda p: api("operators.substring", "verify_substring")(p, base, cfg),
            ss_pairs,
        ),
        ("substring.candidates",),
    ))

    edges = [e for e in edges if e is not None]

    def cc():
        union = edges[0]
        for e in edges[1:]:
            union = union.union(e)
        comp = api("operators.components", "connected_components")(
            union.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            max_iterations=cfg.cc_max_iterations,
            checkpoint_mode=cfg.cc_checkpoint_mode,
        ).localCheckpoint(eager=True)
        return comp, lambda: _rows(union.count(), comp)

    comp = d.step("components.cc", cc) if edges else None
    if comp is None:
        return

    def assignments():
        path = os.path.join(out_dir, "assignments")
        (
            base.select("doc_id")
            .join(comp, base.doc_id == comp.node, "left")
            .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
            .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
            .write.parquet(path)
        )
        return path, lambda: _rows(n_docs, spark.read.parquet(path))

    d.step("pipeline.assignments", assignments)


def drive_increment(session, chain, cfg, n_batches: int, d: Driver) -> None:
    """The first `n_batches` batches of an increment chain (see
    workloads.IncrementChain), each split into scan, probe
    (+ assignments write) and index write + read-back spans."""
    spark = session.spark
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    index_path = chain.index0
    for b in range(n_batches):
        def scan(b=b):
            new = (
                spark.read.parquet(chain.batch_path(b))
                .select("doc_id", "text")
                .repartition(n_part, "doc_id")
                .localCheckpoint(eager=True)
            )
            return new, lambda: _rows(new.count(), new)

        new = d.step("io.scan", scan)
        if new is None:
            return

        def probe(new=new, b=b, index_path=index_path):
            inc = api("increment", "dedup_increment")(
                spark, new, spark.read.parquet(index_path), cfg,
                base_docs=chain.base_docs(spark, b),
            )
            path = chain.assignments_path(b)
            inc.assignments.write.parquet(path)
            return inc, lambda: _rows(new.count(), spark.read.parquet(path))

        inc = d.step("increment.probe", probe)
        if inc is None:
            return

        def index_io(inc=inc, b=b):
            path = chain.index_path(b + 1)
            inc.index.write.parquet(path)
            idx = spark.read.parquet(path)
            return path, lambda: _rows(idx.count(), idx)

        index_path = d.step("increment.index_io", index_io)
        if index_path is None:
            return
