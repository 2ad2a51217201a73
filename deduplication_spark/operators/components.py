"""Connected components over an undirected edge DataFrame (src, dst):
(node, component) for every node appearing in `edges`, component = the
minimum node id of its component — the deterministic canonical choice
that replaces the reference's first-occurrence dictionary ID
(src/dictionary.c).

The oriented, NULL-free, distinct edge set is checkpointed once, and an
Observation on that checkpoint counts it at no extra job. Up to
`_DRIVER_MAX_EDGES` rows (every in-repo workload), one `toArrow()`
collect feeds a vectorized numpy union-find on the driver. Above it,
alternating large-star / small-star rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond") run as pure DataFrame operations:
two shuffles per round, edge count never grows, O(log n) rounds, each
checkpointed and convergence-probed with a count+checksum signature.
The driver path returns a local frame; the star path returns a lazy
plan over its last checkpoint.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# A driver-memory limit, not a speed crossover: on random edge sets
# (local[4], 4 vCPUs) the driver path took 7.5 / 17.9 / 39.2 s at
# 250k / 1M / 4M edges against 16.9 / 45.3 / 138.2 s for the star
# rounds, while the collect + kernel grow the Python driver's peak by
# ~135 B per edge (541 MB at 4M). Larger edge sets stay distributed.
_DRIVER_MAX_EDGES = 4_000_000


def _union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component) with component = the min id of each node's
    component. Ranks from np.unique keep id order; each round hooks
    every root under the smallest root it shares an edge with, then
    pointer-jumps until every parent is a root. parent[x] <= x always
    holds, so each root is its component's min id."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src) :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return nodes, nodes[parent]
        a, b, ra, rb = a[split], b[split], ra[split], rb[split]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}).

    r06 shape (guide §2.4): the neighborhood minimum comes from a
    window over the SAME exchange that groups the neighbors — the old
    groupBy+join formulation paid a second pass over the bidirected
    frame (broadcast build + join stages) for the identical value. The
    output is NOT deduplicated here: rows may repeat (two sources can
    emit the same (node, min) edge), orientation is arbitrary, and both
    are irrelevant — `_small_star` re-orients via greatest/least, its
    window min is duplicate-insensitive, and its terminal distinct
    restores set semantics before the per-round checkpoint/signature.
    Dropping the intermediate canonicalize-distinct removes one full
    exchange per round. Self-rows cannot appear (dst > src >=
    least(src, mn)); NULLs are filtered once by the caller's `pre`."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    return (
        bidir.withColumn("mn", F.min("dst").over(w))
        .where(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("mn")).alias("dst"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges larger->smaller; for each node u connect all of its
    smaller neighbors (and u itself) to the minimum. Window-min over
    one exchange (see _large_star); the self-row branch reads the same
    windowed frame, and the terminal distinct dedups both branches
    (including any duplicate rows the large-star pass handed in)."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    w = Window.partitionBy("u")
    om = oriented.withColumn("m", F.min("v").over(w))
    attach = om.select(F.col("v").alias("node"), "m")
    self_rows = om.select(F.col("u").alias("node"), "m")
    return (
        attach.union(self_rows)
        .where(F.col("node") != F.col("m"))
        .select(F.col("m").alias("src"), F.col("node").alias("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: overflow-free (ANSI mode) and order-independent; edges are
    # distinct so xor-cancellation of duplicates cannot occur.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Returns (node, component) for every node appearing in `edges`,
    component = min node id of the connected component.
    `max_iterations` bounds the star rounds (the driver union-find
    always converges)."""
    spark = edges.sparkSession
    # checkpoint_mode (r05 verdict #5): "local" = localCheckpoint
    # (executor-resident, fastest, NOT fault-tolerant — an executor
    # loss mid-iteration kills the lineage on a real cluster);
    # "reliable" = df.checkpoint() to the context's checkpoint dir
    # (survives executor loss; caller must setCheckpointDir). Output
    # is identical under both (pytest-pinned).
    if checkpoint_mode not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint_mode must be 'local' or 'reliable', "
            f"got {checkpoint_mode!r}"
        )
    if checkpoint_mode == "reliable":
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) before calling connected_components"
            )

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # Orient + distinct ONCE, keeping self-loop rows, and checkpoint
    # before splitting: both paths read the materialized checkpoint —
    # re-reading the raw `edges` plan instead would re-evaluate the
    # caller's whole edge-derivation subtree (a union of tier edges in
    # the pipeline). The Observation counts the rows inside the
    # checkpoint job itself.
    # .toDF after every checkpoint: re-aliases the attributes so the
    # self-union/self-join in the star steps never reuses attribute ids
    # from the checkpointed plan (Spark 4.1 otherwise hits
    # "NoSuchElementException: key not found: src#N" when the input
    # lineage contains a window)
    count = Observation()
    pre = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .observe(count, F.count(F.lit(1)).alias("n"))
    )
    pre = _ckpt(pre).toDF("src", "dst")
    if count.get["n"] <= _DRIVER_MAX_EDGES:
        # self-loop rows put their node into `nodes` like any other
        # edge, so self-loop-only nodes come back as singletons
        id_type = pre.schema["src"].dataType
        table = pre.toArrow()
        nodes, component = _union_find(
            table.column("src").to_numpy(), table.column("dst").to_numpy()
        )
        return spark.createDataFrame(
            pa.table({"node": nodes, "component": component}),
            StructType(
                [StructField("node", id_type), StructField("component", id_type)]
            ),
        )

    # Above the bound: star rounds. A node whose ONLY edges are
    # self-loops would otherwise vanish (self-loops never reach the
    # star rounds); emitted as singletons at the end, honoring the
    # "every node appearing in `edges`" contract. Empty in every
    # in-repo caller (pair generators emit a < b).
    self_only = pre.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node")
    )
    e = pre.where(F.col("src") != F.col("dst")).toDF("src", "dst")

    # Seed the convergence probe with the INPUT edge set's signature:
    # a round that leaves the edges unchanged (graph already a star
    # forest — the common case when most clusters are duplicate PAIRS)
    # then converges after ONE round instead of needing a second
    # confirming round. Same fixpoint criterion, shifted one round
    # earlier; costs one tiny aggregate on the checkpointed input.
    # One checkpoint + signature per round: batching rounds between
    # checks measured 2-11x slower (45k edges / 96k nodes, local[8]),
    # as un-checkpointed chained rounds recompute their subtree
    # multiplicatively.
    prev_sig = _signature(e)
    for _ in range(max_iterations):
        e = _ckpt(_small_star(_large_star(e))).toDF("src", "dst")
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )

    # Converged: every edge is (component_min=src, node=dst).
    members = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("node"), F.col("src").alias("component")).distinct()
    result = members.union(roots).distinct()
    # self-loop-only nodes not already connected elsewhere -> singletons
    # (anti-join is empty-fast in the common 0-self-loop case)
    singles = self_only.join(result, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return result.union(singles)
