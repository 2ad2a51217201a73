"""Correctness gate: score written assignments against planted truth.

Runs after the clock stops, on the parquet the program wrote, read
back with pyarrow (no Spark job is added to a timed pass).

- recall: catchable planted pairs that share an output cluster, over
  all catchable planted pairs. Catchable is the pipeline test's rule
  (tests/test_pipeline.py::test_recall_oracle): exact, near with true
  Jaccard >= the verify threshold, and substring.
- false_merges: output clusters that span more than one truth cluster.

An attempt fails when it raised or its recall is below RECALL_GATE.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RECALL_GATE = 0.99
JACCARD_THRESHOLD = 0.8  # DedupConfig.jaccard_verify_threshold


def read_assignments(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["doc_id", "cluster_id"]).to_pandas()


def read_truth(corpus_dir: str) -> tuple[np.ndarray, pd.DataFrame]:
    """(truth cluster per doc id, catchable planted pairs (a, b))."""
    tc = pd.read_parquet(os.path.join(corpus_dir, "truth_clusters.parquet"))
    pairs = pd.read_parquet(os.path.join(corpus_dir, "truth_pairs.parquet"))
    catchable = pairs[(pairs["cls"] != "near") | (pairs["jaccard"] >= JACCARD_THRESHOLD)]
    return tc["truth_cluster"].to_numpy(), catchable[["a", "b"]]


def cluster_vector(assign: pd.DataFrame, n_docs: int) -> np.ndarray:
    """Output cluster per doc id 0..n_docs-1; raises unless every doc is
    assigned exactly once."""
    ids = assign["doc_id"].to_numpy()
    if len(ids) != n_docs or len(np.unique(ids)) != n_docs or ids.min() != 0 \
            or ids.max() != n_docs - 1:
        raise ValueError(
            f"assignments cover {len(np.unique(ids))} distinct of {n_docs} docs "
            f"in {len(ids)} rows"
        )
    out = np.empty(n_docs, dtype=np.int64)
    out[ids] = assign["cluster_id"].to_numpy()
    return out


def pair_recall(cluster: np.ndarray, pairs: pd.DataFrame) -> float:
    a, b = pairs["a"].to_numpy(), pairs["b"].to_numpy()
    return float(np.mean(cluster[a] == cluster[b])) if len(a) else 1.0


def false_merges(cluster: np.ndarray, truth: np.ndarray) -> int:
    """Output clusters holding docs of more than one truth cluster."""
    df = pd.DataFrame({"c": cluster, "t": truth})
    return int((df.groupby("c")["t"].nunique() > 1).sum())


@dataclass
class Tally:
    """Per-attempt outcomes of one run (a full pass or one batch)."""

    recalls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    false_merges: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, recall: float | None, merges: int = 0,
               error: str | None = None) -> None:
        self.attempted += 1
        self.false_merges += merges
        if error is not None:
            self.errors.append(error)
        else:
            self.recalls.append(recall)
        if error is not None or recall < RECALL_GATE:
            self.failed += 1

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def recall(self) -> float:
        return min(self.recalls) if self.recalls else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0 and self.false_merges == 0
