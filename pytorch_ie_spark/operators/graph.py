"""Graph analytics over the materialized KG: degree statistics and
fixed-iteration PageRank as iterative DataFrame joins.

The north-star pipeline materializes (subj, pred, obj) triples; ranking
and degree profiling over that graph are the first analyses a KG consumer
runs. PageRank here is the bounded-iteration variant (the production
pattern: a fixed sweep count or a convergence check between sweeps — each
sweep is one join + one aggregation, the same shuffle shape as the
large-star/small-star connected-components rounds in
operators/canonicalize.py).

Determinism contract: per-edge contributions are quantized to
DECIMAL(30,12) BEFORE the in-neighbor sum, so the aggregation is exact
and order-independent (the same trick the TPC-H money sums use) — a
DuckDB twin reproduces every score bit-for-bit; dangling-node mass is
dropped (the simplified PageRank variant), documented rather than silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node (out_degree, in_degree) over distinct directed edges."""
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias(
                "out_degree"
            ),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias(
                "in_degree"
            ),
        )
    )


def _empty_ranks(nodes: DataFrame) -> DataFrame:
    """The (node, pagerank double) result of a graph without edges: typed
    and empty, instead of dividing by a zero node count."""
    return nodes.select("node", F.lit(0.0).alias("pagerank"))


def pagerank_converged(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """PageRank iterated until max |Δpr| < tol; raises like
    connected_components_star when max_iter sweeps don't converge (wrong
    results must not come back silently). Returns (pr, n_sweeps).

    The delta check is one max-aggregate per sweep (a scalar to the
    driver); each sweep's frame is localCheckpoint-pinned so sweep k+1 and
    the delta probe don't replay sweeps 1..k."""
    e = (
        edges.select("src", "dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return _empty_ranks(nodes), 0
    out_deg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg")
    ).localCheckpoint(eager=False)
    pr = nodes.withColumn("pr", F.lit(1.0 / n_nodes)).localCheckpoint(
        eager=False
    )
    base = (1.0 - damping) / n_nodes
    for sweep in range(1, max_iter + 1):
        contrib = (
            e.join(pr, e.src == pr.node)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") / F.col("out_deg"), 12)
                .cast("decimal(30,12)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        new_pr = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
        delta = (
            new_pr.join(pr.withColumnRenamed("pr", "pr_old"), "node")
            .agg(F.max(F.abs(F.col("pr") - F.col("pr_old"))).alias("d"))
            .first()["d"]
        )
        pr = new_pr
        if delta is not None and delta < tol:
            return pr.select("node", F.round("pr", 6).alias("pagerank")), sweep
    raise RuntimeError(
        f"pagerank did not converge in {max_iter} sweeps (last delta "
        f"{delta}); raise max_iter or loosen tol"
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank: pr'(v) = (1-d)/N + d * Σ pr(u)/deg(u)
    over in-neighbors u; dangling mass dropped. Returns (node, pagerank)
    with pagerank rounded to 6 decimals.

    Each iteration is one edges⋈pr join (shuffled on src — the same
    partitioning every sweep, so AQE reuses the exchange) plus one sum
    keyed on dst. N is counted once on the driver unless provided.
    Contributions quantize to DECIMAL(30,12) pre-sum for order-independent
    exactness (see module docstring).
    """
    # pin edges, nodes, and degrees: each is referenced once PER SWEEP, and
    # exchange reuse does not cover the upstream scan+dedup subtree
    # (measured: 7 FileScans of one input without the pins)
    e = (
        edges.select("src", "dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        # referenced every iteration AND in the final left join
        .localCheckpoint(eager=False)
    )
    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes == 0:
        return _empty_ranks(nodes)
    out_deg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg")
    ).localCheckpoint(eager=False)
    pr = nodes.withColumn("pr", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for _ in range(iterations):
        contrib = (
            e.join(pr, e.src == pr.node)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") / F.col("out_deg"), 12)
                .cast("decimal(30,12)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select("node", F.round("pr", 6).alias("pagerank"))
