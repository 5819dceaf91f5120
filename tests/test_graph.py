"""PageRank (`operators.graph.pagerank`) vs a numpy power-iteration
oracle — same damping, same dangling-mass redistribution, same
iteration count — plus the API/determinism contracts (rank sum = 1,
portable-mode bit-stability across partitionings, tol early-stop)."""

import numpy as np
import pytest

from data_pipelines_spark.operators.graph import pagerank


def _numpy_pagerank(edges, iterations, damping=0.85):
    """Dense-matrix oracle mirroring the operator's semantics: simple
    graph (dedup edges), uniform init, dangling mass redistributed
    uniformly each round."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    ix = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    dedup = sorted(set(edges))
    for s, _ in dedup:
        out[ix[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, d in dedup:
            contrib[ix[d]] += r[ix[s]] / out[ix[s]]
        dang = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dang / n)
    return {nodes[i]: r[i] for i in range(n)}


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1),
    (5, 4),  # 6 is reachable but DANGLING (no out-edges)
    (2, 6), (3, 6),
    (1, 2),  # parallel edge: must not double-weight
]


def test_pagerank_matches_numpy_oracle(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    want = _numpy_pagerank(EDGES, iterations=8)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12), n
    # dangling-mass redistribution keeps it a probability distribution
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_node_does_not_leak_mass(spark):
    # pure chain into a sink: naive PR leaks all mass into the sink's
    # void; with redistribution the sum stays 1 every round
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    want = _numpy_pagerank([(1, 2), (2, 3)], iterations=12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12), n
    # the sink accumulates, the head holds only the teleport floor
    assert got[3] > got[2] > got[1]


def test_pagerank_portable_mode_partition_invariant(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    a = {r["node"]: r["rank"]
         for r in pagerank(df, iterations=5, portable=True).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank(df.repartition(13), iterations=5,
                           portable=True).collect()}
    assert a == b  # EXACT equality — decimal sums are order-free
    # and portable tracks the double path to rounding precision
    c = {r["node"]: r["rank"]
         for r in pagerank(df, iterations=5).collect()}
    for n in a:
        assert a[n] == pytest.approx(c[n], abs=1e-11)


def test_pagerank_tol_early_stop_converges(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    # generous budget + tol: must land on the same fixed point a long
    # fixed run reaches, i.e. early stop stops AFTER convergence
    # (damping=0.5 converges at rate ~0.5^k, keeping the loop short)
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iterations=100, tol=1e-6,
                             damping=0.5).collect()}
    ref = {r["node"]: r["rank"]
           for r in pagerank(df, iterations=28, damping=0.5).collect()}
    for n in ref:
        assert got[n] == pytest.approx(ref[n], abs=1e-5), n


def test_pagerank_input_validation(spark, persisted_rdd_ids):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    empty = spark.createDataFrame([], "src long, dst long")
    before = persisted_rdd_ids()
    with pytest.raises(ValueError, match="empty graph"):
        pagerank(empty)
    # the node frame was cached before the check raised; it is released
    assert persisted_rdd_ids() <= before
