"""Graph structure operators over edge tables.

Triangle counting measures the local density of a similarity graph —
the standard diagnostic for LSH candidate-pair quality (a clique of
near-duplicates is triangle-rich; hash-collision noise is
triangle-free) and the building block of clustering-coefficient
features. The connected-components / label-propagation family lives in
:mod:`sparkt.functions.dedup` (``duplicate_clusters``).

Beyond-reference operator (the reference engine ships no graph
primitives); the algorithm is the published degree-oriented
compact-forward method (Latapy 2008; Suri & Vassilvitskii 2011 for the
MapReduce orientation bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Exact per-vertex triangle counts of an undirected graph.

    Returns ``node, deg, triangles, clustering_coeff`` — one row per
    vertex of the deduplicated edge set, ``deg`` its undirected
    degree, ``triangles`` the number of triangles it participates in
    (0 included), and the local clustering coefficient
    ``2·triangles / (deg·(deg−1))`` (Watts & Strogatz 1998; 0 for
    deg < 2), rounded 4dp — a single expression over the two exact
    integers, so it stays cross-engine deterministic.

    DEGREE-ORIENTED, NOT id-ORIENTED (the 100 TB argument): every
    edge is directed from its lower ``(deg, id)`` endpoint to the
    higher, making the oriented graph a DAG under a total order — each
    triangle has exactly ONE source vertex, so the wedge self-join
    emits it exactly once and no dedup pass is needed. The wedge
    fan-out per vertex is its ORIENTED out-degree, which is O(sqrt(m))
    on ANY graph (Suri & Vassilvitskii 2011) — a power-law hub with
    10^7 neighbors contributes 10^14 wedges under id-orientation but
    only ~m wedges here. Total work is two equijoins (wedge build +
    edge close), both shuffles on plain keys; the result is
    orientation-independent, so an id-ordered SQL oracle reproduces
    it exactly.

    The canonical edge set and the oriented edge set are each
    MATERIALIZED once (localCheckpoint — the pl2 doctrine): the edge
    list is referenced 4x downstream (degrees, wedge sides, closing
    join) and Catalyst re-inlines non-cheap subtrees wholesale, so
    without this an expensive upstream (an LSH candidate generator)
    would run once per reference.
    """
    a, b = F.least(src, dst), F.greatest(src, dst)
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    j = (
        e.join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("__da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("__db")), "b")
    )
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    # wedge at x: x->y, y->z (both oriented), closed by oriented x->z
    w1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = w1.join(w2, "y").join(closing, ["x", "z"])
    cnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    tri_n = F.coalesce(F.col("triangles"), F.lit(0))
    return deg.join(cnt, "node", "left").select(
        "node",
        "deg",
        tri_n.alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * tri_n / (F.col("deg") * (F.col("deg") - 1)), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED edge table — the
    web-corpus quality prior (Page et al. 1999; link-authority is a
    standard document-quality signal in crawl curation, and on a
    near-dup similarity graph high rank marks template/boilerplate
    hubs). Power method, exactly ``n_iter`` steps from the uniform
    vector:

        r' (v) = (1 − d)/N + d · Σ_{u ~ v} r(u) / deg(u)

    Undirected graphs have no dangling nodes (every node has an
    incident edge), so mass is conserved without the dangling-mass
    redistribution a directed variant needs — re-derive before using
    on directed input.

    Determinism: a FIXED iteration count (no convergence test — the
    oracle unrolls the same ``n_iter`` levels), final ranks rounded
    7dp (covariance-class: per-node sums over ~degree doubles whose
    accumulation order may differ; the values are O(1/N)).

    Returns ``(node, rank)``; node type = input id type.

    100 TB shape: the degree-annotated directed-both-ways edge list
    is built ONCE and localCheckpointed (it feeds every iteration —
    the g1/triangle_count re-inlining lesson); each step is one
    equijoin on the current rank vector (|nodes| rows, the small
    side) + one map-side-combined groupBy. n_iter is a constant
    (default 3), so plan depth is bounded. Known residual cost
    (plan-audited r12): a localCheckpoint reports
    UnknownPartitioning, so Catalyst re-exchanges the edge list once
    per iteration — noise at sandbox scale. A pre-partitioned,
    recomputable adjacency belongs to the shared-intermediate
    primitive of ROADMAP open item 5, not to a per-operator switch.

    Fault-tolerance note (ADVICE r15): THREE relations are
    localCheckpointed per call (``und``, ``deg``, ``adj``) — their
    blocks live on executors with no lineage for the lifetime of the
    returned rank DataFrame, so an executor loss mid-query fails the
    job instead of recomputing. Fine on a single-box sandbox; on a
    preemptible/dynamic-allocation fleet that needs the same
    primitive (ROADMAP open item 5) or a reliable
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` variant.
    """
    # r15 (guide §1.2 / §2.4): materialize the EDGE LIST once before
    # fanning out. `edges` is a caller-supplied pair GENERATOR (for g2
    # the full MinHash band self-join); without this checkpoint the
    # generator subtree is re-planned and re-executed behind every
    # reference — both (2×), deg per reference (2× more each), and
    # n_tab/r0/every-iteration join_scalars each pull deg again: the
    # g2 plan held 176 Exchange nodes and the gate re-ran the band
    # join ~10×. After: 24 Exchanges, one band join
    # (plans/r15/g2_pagerank_{before,after}.txt).
    und = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    both = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # deg feeds adj, n_tab, r0 AND every iteration's scalar join —
    # checkpoint it too (|V| rows) so each reference is an RDD scan,
    # not a fresh groupBy over the doubled edge list
    deg = both.groupBy("u").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=False)
    adj = both.join(deg, "u").localCheckpoint(eager=False)

    from sparkt.functions import join_scalars

    n_tab = deg.agg(F.count(F.lit(1)).alias("__n"))
    r = join_scalars(deg.select("u"), n_tab).select(
        F.col("u").alias("node"),
        (F.lit(1.0) / F.col("__n")).alias("r"),
    )
    for _ in range(n_iter):
        contrib = adj.join(
            r, adj["u"] == r["node"]
        ).select(
            F.col("v").alias("node"),
            (F.col("r") / F.col("deg")).alias("c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("__s"))
        r = join_scalars(sums, n_tab).select(
            "node",
            (
                (1.0 - damping) / F.col("__n")
                + damping * F.col("__s")
            ).alias("r"),
        )
    return r.select("node", F.round(F.col("r"), 7).alias("rank"))
