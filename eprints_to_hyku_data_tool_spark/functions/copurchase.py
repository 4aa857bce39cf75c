"""Shared, memoized part co-purchase graph (the graph-family input).

Five registered queries (PageRank, BFS, triangle count, clustering
coefficient, modularity, degree power-law) analyze the SAME graph: parts
appearing in the same order are linked (lineitem self-joined on
l_orderkey, distinct pairs). Before round 6 each query rebuilt that edge
set from scratch — a lineitem self-join + distinct per query, ~3 s of
the sf0.1 suite each, identical bytes every time.

This module materializes the graph ONCE per (SparkSession, sf_dir)
through the session memo (a localCheckpoint, or a reliable checkpoint
when the context has a checkpoint dir) and hands every consumer the same
checkpointed DataFrame — the multi-query analogue of the per-query
localCheckpoint rule in functions/graph.py. At 100 TB this is exactly
what a production pipeline does with a shared intermediate: write it
once (here a checkpoint; on a cluster, a bucketed parquet table) and fan
the downstream analyses out from the materialization instead of
re-deriving the self-join per job.

Memo keys include SparkContext.applicationId, so a stopped/recreated
session (test fixtures) never sees another context's checkpoint blocks,
and sf_dir, so fixture tiers don't collide. Checkpoint blocks are
released by the ContextCleaner when the memo is the last reference and
the application ends — bounded: one edge set + one degree table + one
oriented edge list per (app, sf_dir).

Derived tables:
- undirected_edges: (u, v) with u < v, distinct — the canonical form.
- directed_edges:   (src, dst) both directions — a cheap projection/
  union of the memoized undirected set (not checkpointed separately).
- degrees:          (node, deg) over the undirected set.
- oriented_edges:   (s, t, dt) degree-ordered low->high with the head's
  degree rank carried — the triangle-enumeration input (each wedge fans
  out from its LOW-degree endpoint: O(m^1.5) under skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .memo import session_memo


def _memo(spark, sf_dir, key, build, eager=True):
    # graph-family namespace inside the shared session memo. The
    # intermediate ladder entries (und, deg, oriented) pass eager=False
    # (r16): the triangle-stats entry stays eager, so ITS one build job
    # computes the whole chain and stores blocks at every cut — three
    # fewer count passes, identical blocks, and the full chain cost
    # still lands in the timed _build_copurchase_graph entry. Local path
    # only: with a checkpoint dir set, every entry is written eagerly.
    return session_memo(spark, sf_dir, f"copurchase:{key}", build, eager=eager)


# --------------------------------------------------------------------------
# Unmaterialized plan builders. The memoized accessors below call these
# with their (checkpointed) predecessors; tests compose the full chain
# from the raw scans instead to assert the first-build pipeline's plan
# shape under a cluster-shaped config (VERDICT r6 item 5) — a checkpoint
# boundary would hide every upstream Exchange from the plan text.
# --------------------------------------------------------------------------


def edges_plan(li: DataFrame) -> DataFrame:
    """Distinct (u, v), u < v from (l_orderkey, l_partkey) rows."""
    # Pre-deduplicate to distinct (order, part) BEFORE the self-join: an
    # order holding the same part on k lines would otherwise contribute
    # k^2 copies of each pair to the join output that the final distinct
    # then has to shuffle away (VERDICT r6 item 3). The explicit
    # repartition on l_orderkey ALONE (not the (order, part) pair a
    # plain distinct() would exchange on) is load-bearing:
    # hashpartitioning(l_orderkey) satisfies both the dedupe's
    # clustering requirement and the self-join's, so ONE lineitem
    # shuffle — reused by both join legs — replaces the three (a
    # pair-keyed dedupe exchange plus an l_orderkey re-exchange per
    # join leg) that the plain form plans.
    li = (
        li.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )


def degrees_plan(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def oriented_plan(und: DataFrame, deg: DataFrame) -> DataFrame:
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    withdeg = und.join(du, "u").join(dv, "v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return withdeg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )


def triangles_plan(oriented: DataFrame) -> DataFrame:
    # Honest shuffle accounting (code-review r14): the t-keyed join must
    # move every wedge row while it still carries nb_s —
    # sum_edges |N+(s)| = sum_s d+(s)^2 array entries, i.e. the WEDGE
    # TERM does cross the wire, as packed array payloads. That is the
    # same O(m^1.5) bound as the classic wedge self-join, but with far
    # better constants: no per-wedge row overhead, shuffle compression
    # over homogeneous long arrays, and the intersection of two
    # pre-grouped arrays instead of a second join. Degree orientation
    # caps |N+| at ~sqrt(2m), which is what keeps the term civilized.
    # The edge payload is trimmed to (s, t) before grouping — dt is
    # orientation metadata no triangle consumer needs.
    #
    # r16 (guide §2.4): the old edges ⋈ adj_s join on s is the identity
    # — exploding nb over the adjacency rows regenerates exactly the
    # distinct (s, t) edge set with nb_s already attached (collect_list
    # skips NULL t like the old inner join did; the isnotnull(s) filter
    # reproduces the old join dropping NULL-s edges). That removes one
    # full-data Exchange+Sort of the edge set, one SortMergeJoin, and
    # one scan of the oriented table. The adj_t leg then joins on its
    # own grouping key (a_t = s), so its aggregation exchange already
    # satisfies the join's clustering: the only remaining full-data
    # movement is the inherent wedge-term exchange on t.
    edges = oriented.select("s", "t").filter(F.col("s").isNotNull())
    adj = edges.groupBy("s").agg(F.collect_list("t").alias("nb"))
    wedges = adj.select(
        "s", F.explode("nb").alias("t"), F.col("nb").alias("nb_s")
    )
    adj_t = adj.select(F.col("s").alias("a_t"), F.col("nb").alias("nb_t"))
    e = wedges.join(adj_t, wedges.t == adj_t.a_t)
    # Out-neighbor lists are duplicate-free (oriented edges are
    # distinct), so array_intersect is an exact set intersection.
    return e.select(
        F.col("s").alias("a"),
        F.col("t").alias("b"),
        F.explode(F.array_intersect("nb_s", "nb_t")).alias("c"),
    )


def triangle_node_stats_plan(oriented: DataFrame) -> DataFrame:
    """(node, n_triangles, n_apex) — each node's triangle membership
    count (every triangle credits its three corners) and the number of
    triangles whose min-id corner it is. Aggregated INSIDE the plan so
    the exploded (a, b, c) triangle rows — O(#triangles), super-linear
    in graph density — are never materialized: both graph-family
    consumers need only aggregates (the global count = sum(n_apex),
    apex cardinality = nodes with n_apex > 0, clustering coefficient =
    per-node n_triangles), so the shared intermediate is O(nodes)."""
    t = triangles_plan(oriented)
    return (
        t.select(
            F.explode(F.array("a", "b", "c")).alias("node"),
            F.least("a", "b", "c").alias("apex"),
        )
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_triangles"),
            F.sum(
                F.when(F.col("node") == F.col("apex"), 1).otherwise(0)
            ).cast("long").alias("n_apex"),
        )
    )


def undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (u, v), u < v, parts co-purchased in some order."""

    def build() -> DataFrame:
        return edges_plan(load_table(spark, sf_dir, "lineitem"))

    return _memo(spark, sf_dir, "und", build, eager=False)


def directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) both directions — a projection of the memoized
    undirected set; no second materialization needed."""
    und = undirected_edges(spark, sf_dir)
    return und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, deg) over the undirected edge set."""

    def build() -> DataFrame:
        return degrees_plan(undirected_edges(spark, sf_dir))

    return _memo(spark, sf_dir, "deg", build, eager=False)


def triangle_node_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, n_triangles, n_apex) per node incident to a triangle —
    the memoized triangle intermediate for the whole graph family.

    Triangle enumeration runs per-edge out-neighborhood intersection
    over the degree-oriented edge set: for an oriented edge (s, t),
    every x in N+(s) ∩ N+(t) closes a triangle. Degree orientation
    bounds |N+| by the effective degree (O(sqrt(m)) under skew) — the
    compact-forward O(m^1.5) total-work scheme; the wedge term crosses
    the second join's shuffle as packed array payloads (see
    triangles_plan for the honest accounting), and the intersection of
    two pre-grouped arrays runs inside whole-stage codegen.

    What the session memo MATERIALIZES is the per-node aggregate, not
    the exploded (a, b, c) rows: #triangles grows super-linearly with
    graph density, and checkpointing it would exhaust executor disk at
    exactly the dense-graph scale the enumeration survives — while the
    global count (sum(n_apex)), the apex cardinality (n_apex > 0), and
    the per-node clustering coefficient are all O(nodes) reads of this
    table. Shared by the global triangle count (q66 lineage) and the
    per-node clustering coefficient (q51 lineage) — triangle
    enumeration is the single most expensive step of the graph family,
    so it runs once per session."""

    def build() -> DataFrame:
        return triangle_node_stats_plan(oriented_edges(spark, sf_dir))

    return _memo(spark, sf_dir, "tri_node_stats", build)


def oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, t, dt): each undirected edge pointed from its lower-(deg, id)
    endpoint to the higher one, carrying the head's degree so wedge
    joins can order heads without re-joining degrees. (node, deg) is
    O(nodes) — joined plain (no broadcast hint; AQE promotes when small),
    the billion-node rule from functions/graph.py."""

    def build() -> DataFrame:
        return oriented_plan(
            undirected_edges(spark, sf_dir), degrees(spark, sf_dir)
        )

    return _memo(spark, sf_dir, "oriented", build, eager=False)
