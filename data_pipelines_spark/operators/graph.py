"""Graph centrality over relational edge lists: PageRank.

A crawl-scale corpus carries an implicit graph (page → link targets,
`functions.web.extract_links`; user → item from event streams), and
link-centrality is a first-class curation signal — Common Crawl ranks
hosts by harmonic/PageRank centrality, and "rank of the source page"
is a standard quality feature for web-corpus filtering. The engine
already has the contraction side of graph work (connected components,
`operators.dedup.duplicate_clusters`); this module adds the
power-iteration side with the same design rules:

- **One shuffle per iteration.** Out-degrees are joined into the edge
  list ONCE up front; each round is then rank ⨝ edges on ``src``
  (both sides hash-partitioned on ``src``) followed by one groupBy on
  ``dst``. No per-iteration degree join, no driver-side loops over
  nodes.
- **Lineage cut per round** with ``localCheckpoint`` (iterative plans
  otherwise grow without bound), same as `duplicate_clusters`.
- **Dangling mass redistributed.** Nodes with no out-edges leak their
  rank in naive implementations; here their summed mass is computed
  by a 1-row aggregate each round and redistributed uniformly, so
  ranks stay a probability distribution (sum = 1 up to rounding).
- **Portable mode** for engine-exact replay: per-edge contributions
  are rounded to 12 decimals and summed as DECIMAL(38,12) — integer
  arithmetic, order-independent — then the new rank is rounded to 12
  decimals, so DuckDB replaying the same iteration count reproduces
  every value bit-for-bit (the `kn_logprob10` determinism pattern).

At 100 TB the edge list is the big side (it stays put, partitioned by
``src``) and the rank vector is |V|-sized and re-shuffles each round —
the standard Pregel-style layout expressed as DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipelines_spark.session import persisted

_DEC = "decimal(38,12)"


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    portable: bool = False,
    tol: float | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list →
    ``(node, rank)`` for every node appearing as source or target.

    Runs EXACTLY ``iterations`` rounds (the fixed-iteration contract
    that makes results reproducible and oracle-replayable), unless
    ``tol`` is set, in which case iteration stops early once the max
    absolute rank change falls below it (detected with a 1-row
    aggregate). Parallel edges are collapsed first — PageRank here is
    over the simple graph, so edge multiplicity is not a weight.

    ``portable=True`` applies the deterministic rounding scheme
    described in the module docstring; leave it off for production
    runs (plain double sums, fastest path, same values to ~1e-12).
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull()).distinct()

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # degree rides the edge row from here on: one join total, not one
    # per iteration
    e_deg = e.join(out_deg, "src").repartition("src")
    with persisted(nodes, e_deg):
        n_nodes = nodes.count()
        if n_nodes == 0:
            raise ValueError("pagerank: empty graph")
        e_deg.count()  # materialize before the loop

        base = (1.0 - damping) / n_nodes
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("rank")
        ).localCheckpoint(eager=True)

        has_out = out_deg.select(F.col("src").alias("node"))

        for _ in range(iterations):
            term = F.col("rank") / F.col("out_deg")
            if portable:
                term = F.round(term, 12).cast(_DEC)
            contrib = (
                ranks.join(e_deg, ranks["node"] == e_deg["src"])
                .groupBy("dst")
                .agg(F.sum(term).alias("contrib"))
            )
            dang = ranks.join(has_out, "node", "left_anti").agg(
                F.sum(
                    F.round(F.col("rank"), 12).cast(_DEC)
                    if portable
                    else F.col("rank")
                ).alias("mass")
            )
            [dang_mass] = dang.first()
            dang_mass = float(dang_mass or 0.0)

            new_rank = (
                F.lit(base)
                + damping
                * (
                    F.coalesce(F.col("contrib").cast("double"), F.lit(0.0))
                    + F.lit(dang_mass / n_nodes)
                )
            )
            if portable:
                new_rank = F.round(new_rank, 12)
            new_ranks = nodes.join(
                contrib, nodes["node"] == contrib["dst"], "left"
            ).select("node", new_rank.alias("rank")).localCheckpoint(eager=True)

            if tol is not None:
                [delta] = (
                    new_ranks.alias("n")
                    .join(ranks.alias("o"), "node")
                    .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))))
                    .first()
                )
                ranks = new_ranks
                if delta is not None and delta < tol:
                    break
            else:
                ranks = new_ranks
        return ranks
