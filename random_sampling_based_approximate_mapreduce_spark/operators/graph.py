"""Graph analytics over edge DataFrames: degree-ordered triangle counting.

The reference engine has no graph surface; this extends the wireless
link-pair analysis (RandomizedWirelessLogAnalysis.java:34-59 builds the
canonical undirected edge relation) with the classic next question over a
communication graph — how clustered is it (triangles / clustering
coefficient inputs).

Scale design — why degree-ordered orientation and not a plain self-join:
counting triangles by joining the undirected edge list with itself
enumerates every WEDGE (path of length 2); a hub node of degree d
produces d*(d-1)/2 wedges, so a skewed graph (the normal case: power-law
degree) makes the naive join quadratic in the hub degree. Orienting every
edge from the endpoint with (degree, id)-rank LOWER to the HIGHER one
makes each triangle countable exactly once at its lowest-rank vertex, and
bounds every vertex's out-degree by O(sqrt(m)) — the total wedge count
drops from sum(d^2) to O(m^1.5) regardless of skew (the standard
orientation bound; see the MapReduce triangle-counting literature). Both
joins are equi-joins on a single node column, so Catalyst plans plain
shuffle/broadcast hash joins and AQE handles residual skew.

The degree relation is node-bounded (|V| rows, far smaller than the edge
list at any scale) and broadcasts; the edge list is never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reuse_barrier


def canonical_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges as (lo, hi) with self-loops dropped."""
    return (
        df.where(F.col(a) != F.col(b))
        .select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .distinct()
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient canonical (lo, hi) edges by (degree, node) rank: src -> dst
    with rank(src) < rank(dst).

    The degree table is computed with one explode + groupBy (map-side
    combinable) and broadcast twice — it is |V|-bounded. Orientation is a
    pure column expression on the joined degrees; no extra shuffle of the
    edge list itself.
    """
    deg = (
        edges.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("node").alias("__n1"), F.col("deg").alias("__d1"))
    d2 = deg.select(F.col("node").alias("__n2"), F.col("deg").alias("__d2"))
    e = (
        edges.join(F.broadcast(d1), edges.lo == d1.__n1)
        .join(F.broadcast(d2), edges.hi == d2.__n2)
    )
    # canonical edges guarantee lo < hi, so the (degree, node) rank order
    # reduces to: lo wins ties (its node id is always the smaller)
    lo_first = F.col("__d1") <= F.col("__d2")
    return e.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
    )


def triangle_count(df: DataFrame, a: str, b: str) -> DataFrame:
    """Long-format DataFrame (metric, value) with rows n_nodes / n_edges /
    n_triangles for the undirected graph induced by columns ``a``/``b``.

    Each triangle {x,y,z} with ranks rx<ry<rz appears exactly once as the
    wedge (x->y, y->z) closed by (x->z): wedge enumeration at the
    lowest-rank vertex, the O(m^1.5) form (module docstring). Long format
    unions three 1-row aggregates — no 1x1 cross join, which would plan a
    BroadcastNestedLoopJoin and trip the cartesian audit for no benefit.
    """
    # The canonical edge relation feeds four consumers (degree build, both
    # wedge sides, the closing probe, node/edge counts); without a barrier
    # each union branch re-runs the events scan + distinct. The oriented
    # relation has three self-references and gets one too.
    edges = reuse_barrier(canonical_edges(df, a, b), eager=True)
    o = reuse_barrier(oriented_edges(edges), eager=True)
    e1 = o.select(F.col("src").alias("w_a"), F.col("dst").alias("w_b"))
    e2 = o.select(F.col("src").alias("w_b2"), F.col("dst").alias("w_c"))
    wedges = e1.join(e2, F.col("w_b") == F.col("w_b2"))
    e3 = o.select(F.col("src").alias("c_a"), F.col("dst").alias("c_c"))
    tri = wedges.join(
        e3, (F.col("w_a") == F.col("c_a")) & (F.col("w_c") == F.col("c_c")), "left_semi"
    )
    nodes = edges.select(F.explode(F.array("lo", "hi")).alias("node")).distinct()

    def _one(label: str, rel: DataFrame) -> DataFrame:
        return rel.agg(F.count(F.lit(1)).alias("value")).select(
            F.lit(label).alias("metric"), "value"
        )

    return _one("n_nodes", nodes).union(_one("n_edges", edges)).union(
        _one("n_triangles", tri)
    )
