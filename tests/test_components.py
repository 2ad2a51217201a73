"""Connected-components correctness vs a pure-Python union-find oracle
(SURVEY.md §5.2 layer 2: invariant under partitioning / row order).
Every graph runs through both paths via `_cc_rows`: the driver
union-find (the default at test sizes) and the large-/small-star rounds
(forced by lowering the driver-path edge bound below any edge count),
which must return the same (node, component) set."""

import numpy as np
import pandas as pd
import pytest

from deduplication_spark.operators import components
from deduplication_spark.operators.components import _union_find, connected_components


def _cc_rows(df, monkeypatch, **kwargs):
    """Sorted (node, component) rows of the driver path, after checking
    that the star path (bound -1, so even the empty graph takes it)
    returns the identical set with the identical schema."""
    driver = connected_components(df, **kwargs)
    with monkeypatch.context() as m:
        m.setattr(components, "_DRIVER_MAX_EDGES", -1)
        star = connected_components(df, **kwargs)
        star_rows = sorted(map(tuple, star.collect()))
    assert driver.schema == star.schema
    rows = sorted(map(tuple, driver.collect()))
    assert rows == star_rows
    return rows


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, components keyed by min member
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 50, 40), (1, 200, 150), (2, 500, 700)])
def test_cc_matches_union_find(spark, monkeypatch, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    nodes = sorted({x for e in edges for x in e})
    oracle = _uf_oracle(edges, nodes)

    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    assert dict(_cc_rows(df, monkeypatch)) == oracle


def test_cc_long_chain(spark, monkeypatch):
    # adversarial path graph 0-1-2-...-99: worst case for naive propagation
    edges = [(i, i + 1) for i in range(99)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = _cc_rows(df, monkeypatch)
    assert all(component == 0 for _, component in got)
    assert len(got) == 100


def test_cc_empty(spark, monkeypatch):
    df = spark.createDataFrame(pd.DataFrame({"src": [], "dst": []}), "src long, dst long")
    assert _cc_rows(df, monkeypatch) == []


def test_cc_self_loop_only_nodes_are_singletons(spark, monkeypatch):
    """The contract is a row for EVERY node appearing in `edges` — a
    node whose only edges are self-loops used to vanish (canonicalize
    drops (u, u) rows before the star rounds). Covers the pure
    self-loop graph and a mixed graph where one self-loop node also
    has a real edge (must not be emitted twice)."""
    df = spark.createDataFrame(
        pd.DataFrame([(5, 5)], columns=["src", "dst"])
    )
    assert _cc_rows(df, monkeypatch) == [(5, 5)]

    mixed = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 2), (7, 7)], columns=["src", "dst"]
        )
    )
    assert _cc_rows(mixed, monkeypatch) == [(1, 1), (2, 1), (7, 7)]


def test_cc_partition_invariance(spark, monkeypatch):
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(250, 2)) if a != b]
    df1 = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"])).repartition(1)
    df2 = spark.createDataFrame(
        pd.DataFrame(edges[::-1], columns=["src", "dst"])
    ).repartition(13)
    assert _cc_rows(df1, monkeypatch) == _cc_rows(df2, monkeypatch)


def test_cc_reliable_checkpoint_mode_identical(spark, monkeypatch, tmp_path):
    """cc_checkpoint_mode='reliable' (r05 verdict #5): df.checkpoint()
    per round instead of localCheckpoint — survives executor loss on a
    real cluster. Output must be IDENTICAL to local mode; calling it
    without a checkpoint dir must fail loudly, not crash opaquely."""
    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b)) for a, b in rng.integers(0, 200, size=(150, 2)) if a != b
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))

    local = _cc_rows(df, monkeypatch, checkpoint_mode="local")

    had_dir = spark.sparkContext.getCheckpointDir() is not None
    if not had_dir:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(df, checkpoint_mode="reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert _cc_rows(df, monkeypatch, checkpoint_mode="reliable") == local

    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(df, checkpoint_mode="bogus")


def test_cc_preserves_int_id_type(spark, monkeypatch):
    df = spark.createDataFrame([(3, 1), (4, 5), (6, 6)], "src int, dst int")
    assert connected_components(df).schema.simpleString() == (
        "struct<node:int,component:int>"
    )
    assert _cc_rows(df, monkeypatch) == [(1, 1), (3, 1), (4, 4), (5, 4), (6, 6)]


def _assert_kernel_matches_oracle(src, dst):
    nodes, comp = _union_find(np.asarray(src), np.asarray(dst))
    oracle = _uf_oracle(list(zip(src, dst)), sorted(set(src) | set(dst)))
    assert dict(zip(nodes.tolist(), comp.tolist())) == oracle


@pytest.mark.parametrize("shape", ["descending_path", "star", "int64_extremes"])
def test_union_find_kernel_adversarial_shapes(shape):
    """The driver kernel on the shapes that defeat naive label
    propagation: a 10^5-node path listed in descending id order (one
    hop per round without pointer jumping), a 10^5-leaf star whose
    centre is the max id, and ids at the int64 limits (no overflow in
    ranking or hooking)."""
    n = 100_000
    if shape == "descending_path":
        ids = np.arange(n, dtype=np.int64)[::-1]
        nodes, comp = _union_find(ids[:-1], ids[1:])
        assert len(nodes) == n and (comp == 0).all()
    elif shape == "star":
        leaves = np.arange(n, dtype=np.int64)
        nodes, comp = _union_find(np.full(n, n, dtype=np.int64), leaves)
        assert len(nodes) == n + 1 and (comp == 0).all()
    else:
        lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
        src = [hi, hi - 1, lo + 1, 0, 7]
        dst = [hi - 1, lo + 1, lo, 7, 7]
        _assert_kernel_matches_oracle(src, dst)
        nodes, comp = _union_find(np.asarray(src), np.asarray(dst))
        assert nodes.dtype == np.int64
        assert dict(zip(nodes.tolist(), comp.tolist()))[hi] == lo


@pytest.mark.parametrize("seed", range(5))
def test_union_find_kernel_matches_oracle(seed):
    rng = np.random.default_rng(100 + seed)
    pairs = rng.integers(-1000, 1000, size=(800, 2))
    _assert_kernel_matches_oracle(pairs[:, 0].tolist(), pairs[:, 1].tolist())
