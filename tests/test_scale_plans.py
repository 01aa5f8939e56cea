"""Scale-shape regression tests: skew mitigation operators, partition
pruning through the materialization path, and the plan-lint rule on
representative gate queries (scripts/plan_lint.py runs the full set).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _skewed(spark, n=2000):
    # one hot key holds ~90% of rows — the shape AQE splits and
    # explicit salting must also handle
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("v"),
    )


def test_salted_join_matches_plain_join(spark):
    from sparkt.functions.skew import salted_join

    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("k13", 2), ("missing", 3)], ["k", "tag"]
    )
    for how in ("inner", "left", "left_semi", "left_anti", "semi", "anti"):
        expected = big.join(small, "k", how)
        got = salted_join(big, small, "k", n_salts=4, how=how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        ), how


def test_salted_join_rejects_outer_on_small(spark):
    """'right'/'full' would emit unmatched replicated small-side rows
    once per salt — salted_join must refuse rather than silently
    duplicate (ADVICE r2)."""
    import pytest

    from sparkt.functions.skew import salted_join

    big = _skewed(spark, n=100)
    small = spark.createDataFrame([("hot", 1), ("missing", 3)], ["k", "tag"])
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="not replication-safe"):
            salted_join(big, small, "k", n_salts=4, how=how)


def test_similarity_plan_size_at_high_dim(spark):
    """Hyperplane/centroid constants must be ONE array literal per
    plane/cell, not dim Literal nodes (VERDICT r3 #5: the per-element
    form cost 8.6s of analyzer time at dim=768 × 16 planes before a
    single row moved — a plan-compile scale-killer at real embedding
    widths). Checked STRUCTURALLY: the analyzed plan must stay small
    (the bloated form carries dim × planes ≈ 12k literal nodes and a
    plan string hundreds of KB long) — a deterministic bound, unlike
    the old 5 s wall-clock assert that flaked under full-suite load
    (10.4 s on a busy box with the GOOD plan)."""
    from sparkt.functions.similarity import (
        _cell_assignment, _pseudo_centroids, hyperplane_bits,
    )

    dim = 768
    base = spark.createDataFrame(
        [(i, [float(j % 7) for j in range(dim)]) for i in range(3)],
        ["id", "embedding"],
    )
    planes = base.select(
        hyperplane_bits(F.col("embedding"), dim, n_planes=16).alias("b")
    )
    plan_planes = planes._jdf.queryExecution().analyzed().toString()
    cells = base.select(
        _cell_assignment(
            F.col("embedding"), _pseudo_centroids(dim, 32)
        ).alias("c")
    )
    plan_cells = cells._jdf.queryExecution().analyzed().toString()
    # the constant arrays must enter the plan as from_json(...) nodes
    # (2 expression nodes each) — the bloat regression is replacing
    # _const_array with per-element F.array(Literal × dim), which has
    # ZERO from_json nodes and dim × planes literal children. (Plan
    # STRING length is no discriminator: the floats appear inside the
    # JSON literal either way.)
    assert plan_planes.count("from_json") >= 16, (
        "hyperplane constants are not from_json array literals — "
        "literal bloat is back"
    )
    # toString truncates wide structs ("... 7 more fields"), so the
    # bound is conservative — the discriminator is many-vs-ZERO
    assert plan_cells.count("from_json") >= 8, (
        "centroid constants are not from_json array literals — "
        "literal bloat is back"
    )
    assert planes.first()["b"] is not None
    assert 0 <= cells.first()["c"] < 32


def test_partition_pruning_through_materialization(make_project, spark):
    """A partition_by table materialization must produce a layout where
    a filter on the partition column prunes at planning time
    (PartitionFilters in the scan, not a post-scan Filter over all
    files)."""
    runner = make_project(
        {
            "dbt_project.yml": "name: prune\nmodel-paths: [models]\n",
            "models/sources.yml": """
version: 2
sources:
  - name: tpch
    tables:
      - name: orders
        external: {location: /root/testdata/sf0.001/orders.parquet}
""",
            "models/orders_part.sql": (
                "{{ config(materialized='table', "
                "partition_by=['o_orderstatus']) }}\n"
                "select o_orderkey, o_totalprice, o_orderstatus "
                "from {{ source('tpch', 'orders') }}"
            ),
        },
        schema="t_prune",
    )
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    q = spark.table("t_prune.orders_part").filter(F.col("o_orderstatus") == "O")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan[:2000]


def test_fact_scan_prunes_columns_and_pushes_filters(spark):
    """q6-shape: the parquet scan must read ONLY referenced columns
    (ReadSchema) and push the date filter to the reader."""
    from sparkt.queries.relational import q6_revenue_forecast

    df = q6_revenue_forecast(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema  # untouched wide column pruned
    assert "PushedFilters: [" in scan and "IsNotNull" in scan


def test_trigram_familiarity_broadcasts_vocab(spark):
    """t9's pass-2 join must be a BroadcastHashJoin (bounded <=27^3
    vocab), never a sort-merge join on the exploded trigram stream."""
    from sparkt.functions.text import trigram_familiarity

    df = spark.createDataFrame(
        [(i, "some words appear here repeatedly") for i in range(10)],
        ["doc_id", "text"],
    )
    plan = (
        trigram_familiarity(df, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_lm_no_third_scan(spark):
    """t11's context-count table rolls up FROM the bigram frequency
    table — the optimized plan must contain exactly TWO explode
    (Generate) sites over the corpus, not three, and no nested-loop
    join anywhere."""
    from sparkt.functions.text import bigram_lm_table

    df = spark.createDataFrame(
        [(i, "some words appear here repeatedly") for i in range(10)],
        ["doc_id", "text"],
    )
    plan = (
        bigram_lm_table(df, "text", "doc_id")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Generate explode") == 2
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_curriculum_order_no_global_window(spark):
    """c4: the corpus-side window must be partitioned by (stage,
    bucket) — the only unpartitioned window runs over the tiny cell
    table (after its aggregate), never over the input rows."""
    from sparkt.functions.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], ["doc_id", "stage"]
    )
    plan = (
        curriculum_order(df, "stage", "doc_id")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # every Window line either carries a partition spec over the
    # corpus key or sits above the Aggregate (cell table)
    for line in plan.splitlines():
        ls = line.strip()
        if ls.startswith("Window ["):
            assert ("windowspecdefinition(stage" in ls
                    or "__cnt" in ls), ls


def test_span_duplicates_single_fingerprint_shuffle(spark):
    """d10: the chunk explosion is partition-local; the only shuffles
    are the fingerprint aggregate's (<= 2 Exchanges for the distinct
    count), and nothing degenerates to a cartesian product."""
    from sparkt.functions.dedup import span_duplicates

    df = spark.createDataFrame(
        [(i, "tok " * 30) for i in range(10)], ["doc_id", "text"]
    )
    plan = (
        span_duplicates(df, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 2


def test_t2_quality_is_pure_projection(spark):
    """r5 rewrite pin: the t2 gate computes all repetition/quality
    stats as run-length HOF scans — no aggregate, no join; the only
    exchange is the cosmetic output sort."""
    from sparkt.queries.pipeline import t2_quality_scores

    plan = (
        t2_quality_scores(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" not in plan
    assert "Join" not in plan


def test_bloom_probe_broadcasts_filter(spark):
    """d12's probe join must be a BroadcastHashJoin against the tiny
    word table (m/32 rows), never a sort-merge of the exploded
    positions."""
    from sparkt.functions.sketches import bloom_build, bloom_probe

    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(50)], ["id", "v"]
    )
    bloom = bloom_build(df, "v", m_bits=1024, k_hashes=3)
    plan = (
        bloom_probe(df, "id", "v", bloom, m_bits=1024, k_hashes=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rank_quantile_buckets_offsets_broadcast(spark):
    """p5's two-phase rank joins the tiny offsets table via broadcast;
    no data-sized single-partition window (the per-cell windows
    partition by (part, cell))."""
    from sparkt.functions.sampling import rank_quantile_buckets

    df = spark.createDataFrame(
        [(f"l{i % 3}", i, (i % 50) / 50.0) for i in range(300)],
        ["lang", "doc_id", "q"],
    )
    plan = (
        rank_quantile_buckets(df, "lang", "q", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_shards_bucket_offsets_broadcast_and_no_global_window(
    spark,
):
    """c3 shape pin, default (leak-free) variant: the intra-bucket
    cumsum window is partitioned by the hash-prefix bucket, the
    bucket-offset join is a BroadcastHashJoin against the eagerly
    computed literal offset table, and the final plan has NO
    single-partition stage at all (the only global step — the
    ≤16^prefix_chars-row bucket cumsum — ran on the driver)."""
    from sparkt.functions.sampling import shuffle_shards

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 91 + 3).alias("sz")
    )
    out = shuffle_shards(
        df, "doc_id", "sz", seed="p", shard_size=512, prefix_chars=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the corpus-side window is bucket-partitioned
    assert "windowspecdefinition(__bucket" in plan
    assert "Exchange SinglePartition" not in plan


def test_gate_callers_leave_no_cache_residue(spark):
    """VERDICT r8 #2: composing the shard gates in a long-lived
    session must not pin anything — run c3 and pl1 end-to-end
    (action included) and assert the session's persistent-RDD map is
    unchanged."""
    from sparkt.queries.pipeline import (
        c3_shuffle_shards,
        pl1_preprocess_pipeline,
    )

    # compare the persistent-RDD ID SETS, not the count: earlier tests'
    # localCheckpoint blocks are released asynchronously by the
    # ContextCleaner, so a raw size equality races stale cleanup (the
    # contract is that c3/pl1 add no NEW residue; stale ids vanishing
    # mid-test is fine)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(jmap.keySet().toArray())
    assert c3_shuffle_shards(spark, "/root/testdata/sf0.001").count() > 0
    assert (
        pl1_preprocess_pipeline(spark, "/root/testdata/sf0.001").count()
        > 0
    )
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert not (after - before)


def test_pl1_pipeline_dedup_uses_window_group_limit(spark):
    """pl1 composition pin: exact dedup inside the chained pipeline
    plans as WindowGroupLimit (partial top-1 per fingerprint BEFORE
    the fp shuffle) and the quality filter reaches the parquet scan's
    DataFilters — the stages fuse instead of materializing."""
    from sparkt.queries.pipeline import pl1_preprocess_pipeline

    plan = (
        pl1_preprocess_pipeline(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_centroid_outliers_plan_broadcast_and_two_phase(spark):
    """s11 plan pins: the centroid model joins back via BROADCAST
    (never a shuffle of the corpus on label), and the per-label top-N
    is two-phase — no single-partition exchange, and the phase-1
    window partitions on the sub-bucket."""
    from sparkt.functions.similarity import centroid_outliers

    df = spark.createDataFrame(
        [(i, i % 3, [float(i + d) for d in range(4)])
         for i in range(60)],
        "vec_id long, label int, embedding array<double>",
    )
    out = centroid_outliers(df, dim=4, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange SinglePartition" not in plan
    assert "pmod(xxhash64" in plan
    got = {(r["label"], r["rank"]) for r in out.collect()}
    assert got == {(l, r) for l in (0, 1, 2) for r in (1, 2)}


def test_pl3_candidates_checkpoint_breaks_reinlining(spark):
    """pl3 doctrine pin: after the candidate localCheckpoint, the
    fused ranking's plan reads the checkpointed RDD — the upstream
    strip/tokenize/tf pipeline appears ZERO times in the downstream
    plan (no parquet scan of documents past the checkpoint)."""
    from sparkt.queries.pipeline import pl3_retrieval_pipeline

    out = pl3_retrieval_pipeline(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "documents.parquet" not in plan
    assert out.count() == 3


def test_pandas_assignment_paths_match_expression_paths(spark):
    """r15: above _PANDAS_ASSIGN_MIN_CELLS the IVF cell assignment /
    probe ordering switch to Arrow-batched numpy matmuls (k
    interpreted HOF folds per row do not scale — 256 cells at 20k
    rows did not finish in 9 min). The two implementations must be
    interchangeable: same argmax/argmin cell, same tie-break, same
    probe order."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkt.functions import similarity as S

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    cents = S._pseudo_centroids(16, 40)

    def m(df_):
        return {r["vec_id"]: r["c"] for r in df_.collect()}

    assert m(df.select(
        "vec_id", S._cell_assignment(F.col("embedding"), cents).alias("c")
    )) == m(df.select(
        "vec_id", S._cell_assign_pandas(F.col("embedding"), cents).alias("c")
    ))
    assert m(df.select(
        "vec_id", S.kmeans_assign(F.col("embedding"), cents).alias("c")
    )) == m(df.select(
        "vec_id",
        S.kmeans_assign_pandas(F.col("embedding"), cents).alias("c"),
    ))
    scored = [
        F.struct(
            S.dot(F.col("embedding"),
                  S._const_array([float(x) for x in c])).alias("s"),
            F.lit(j).alias("c"),
        )
        for j, c in enumerate(cents)
    ]
    ep = {
        r["vec_id"]: list(r["p"])
        for r in df.select(
            "vec_id",
            F.transform(
                F.slice(F.reverse(F.array_sort(F.array(*scored))), 1, 3),
                lambda s: s["c"],
            ).alias("p"),
        ).collect()
    }
    pp = {
        r["vec_id"]: list(r["p"])
        for r in df.select(
            "vec_id",
            S._probe_cells_pandas(F.col("embedding"), cents, 3).alias("p"),
        ).collect()
    }
    assert ep == pp


def test_ivf_recall_vs_brute_force_bounds(spark):
    """ANN recall@10 contract (VERDICT r14 ask #1): the trained IVF's
    cell pruning keeps a documented fraction of the true cosine
    neighborhood. Full probe is PROVABLY brute-force-equal (every pair
    co-occurs in the corpus row's home cell), so recall there is
    pinned at exactly 1.0; the pruned probes are pinned at measured
    bounds (r15, sf0.1 embeddings, kmeans k=16 iters=2, 50 strided
    queries: p8 = 0.782, p4 = 0.532 — deterministic: no RNG anywhere
    in the fit or the data). The 500k-rung recall table lives in
    PLANS.md / bench_scale.json."""
    from sparkt.functions.similarity import (
        cosine_topk, ivf_topk, kmeans_fit,
    )
    from sparkt.sources import load_parquet

    emb = load_parquet(
        spark, "/root/testdata/sf0.1/embeddings.parquet"
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = {
        (r.query_id, r.corpus_id)
        for r in cosine_topk(q, c, k=10).collect()
    }
    cents = kmeans_fit(emb, k=16, iters=2)

    def recall(n_probe):
        approx = {
            (r.query_id, r.corpus_id)
            for r in ivf_topk(
                q, c, dim=64, k=10, n_probe=n_probe, centroids=cents
            ).collect()
        }
        return len(approx & exact) / len(exact)

    assert recall(16) == 1.0          # full probe == brute force
    # Pruned-probe floors pin the CONTRACT, not the artifact (ADVICE
    # r15): the measured values (p8 = 0.782, p4 = 0.532) depend on the
    # exact sf0.1 embeddings fixture and kmeans_fit(k=16, iters=2)
    # init/tie-break behavior — a benign fixture-generator or seeding
    # change moves them with no product regression, so the floors sit
    # well below the measurement (coarse sanity: pruning must retain a
    # meaningful fraction, and p8 must beat p4).
    r8, r4 = recall(8), recall(4)
    assert r8 >= 0.60                 # measured 0.782
    assert r4 >= 0.35                 # measured 0.532
    assert r8 >= r4                   # more probes never hurt recall


def test_arrow_pair_scorer_matches_expression_path(spark):
    """The cell-cogrouped Arrow pair scorer
    (similarity._pair_scores_arrow) is cosine_neardup_pairs' only
    scorer. Contract: BIT-identical doubles — the numpy block fold
    accumulates one dimension at a time, which is the same left-assoc
    IEEE order as aggregate(zip_with(...)); na·nb and the division are
    single IEEE ops; round/threshold stay in the JVM. Pinned two ways:
    (1) unrounded cosines of EVERY pair equal a hand-written
    expression join's bit for bit, (2) cosine_neardup_pairs output
    equals a brute-force dot/norm cross join — restricted, for the
    pruned-probe configuration, to the pairs whose right-hand home
    cell is among the left vector's probes (cells and probes computed
    independently in numpy with the same sequential fold)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkt.functions.similarity import (
        _pair_scores_arrow, _pseudo_centroids, cosine_neardup_pairs, dot,
        norm,
    )
    from sparkt.sources import load_parquet

    emb = load_parquet(
        spark, "/root/testdata/sf0.1/embeddings.parquet"
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    sub = emb.filter(F.col("vec_id") < 400)

    # (1) bit-exactness of the raw pair scores: one shared cell
    left = sub.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"), F.lit(0).alias("cell"),
    )
    right = sub.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"), F.lit(0).alias("cell"),
    )
    arrow = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in _pair_scores_arrow(
            left, right, threshold=-2.0, id_type=sub.schema["vec_id"].dataType
        ).collect()
    }
    expr = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in left.join(right, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb"))
             / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .collect()
    }
    assert arrow == expr  # exact float equality, no tolerance

    # (2) end-to-end output vs brute force, pruned and full probe
    brute = sorted(map(tuple, (
        left.drop("cell").join(right.drop("cell"),
                               F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .collect()
    )))
    assert len(brute) > 0  # non-vacuous

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in sub.collect()}
    n_cells, n_probe = 64, 2
    cents = np.array(_pseudo_centroids(64, n_cells), dtype=np.float64)

    def cell_scores(v):
        acc = np.zeros(n_cells)
        for d in range(64):  # the dot fold's order, dims ascending
            acc += v[d] * cents[:, d]
        return acc

    # (score, cell) descending: ties take the larger cell id
    ranked = {i: sorted(zip(cell_scores(v), range(n_cells)), reverse=True)
              for i, v in vecs.items()}
    home = {i: r[0][1] for i, r in ranked.items()}
    probes = {i: {c for _, c in r[:n_probe]} for i, r in ranked.items()}
    pruned = [p for p in brute if home[p[1]] in probes[p[0]]]
    assert 0 < len(pruned) < len(brute)

    for kwargs, want in (
        ({"n_cells": n_cells, "n_probe": n_probe}, pruned),
        ({"n_cells": 8, "n_probe": None}, brute),
    ):
        got = sorted(map(tuple, cosine_neardup_pairs(
            sub, "vec_id", "embedding", 0.35, dim=64, **kwargs,
        ).collect()))
        assert got == want, kwargs


def test_cosine_neardup_plans_cogroup_not_pair_join(spark):
    """cosine_neardup_pairs has one scorer at every cell count: even at
    the gate shape (n_cells=8, below _PANDAS_ASSIGN_MIN_CELLS) the plan
    scores pairs in a cell cogroup, never in a per-pair join."""
    from pyspark.sql import functions as F

    from sparkt.functions.similarity import cosine_neardup_pairs
    from sparkt.sources import load_parquet

    emb = load_parquet(
        spark, "/root/testdata/sf0.001/embeddings.parquet"
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    plan = cosine_neardup_pairs(
        emb, "vec_id", "embedding", 0.35, n_cells=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Join" not in plan and "Cartesian" not in plan


def test_cosine_neardup_null_zero_empty_vectors(spark):
    """Degenerate rows through the one scoring path: a null id or a null
    vector never pairs; a zero vector's cosine is NaN and never passes
    the threshold (no DIVIDE_BY_ZERO under ANSI); empty and all-null
    inputs give no pairs. Both cell regimes: numpy cell assignment
    (n_cells=64) and expression assignment with full probe
    (n_cells=8)."""
    from sparkt.functions.similarity import cosine_neardup_pairs

    schema = "vec_id long, embedding array<double>"
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (3, None),
        (None, [1.0, 0.01, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, schema)
    empty = spark.createDataFrame([], schema)
    all_null = spark.createDataFrame([(6, None), (None, None)], schema)
    for n_cells in (64, 8):
        got = cosine_neardup_pairs(
            df, threshold=0.9, dim=4, n_cells=n_cells
        ).collect()
        assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)], n_cells
        assert got[0]["cos"] == 0.9949, n_cells  # 0.99/sqrt(0.9901)
        for src in (empty, all_null):
            assert cosine_neardup_pairs(
                src, threshold=0.9, dim=4, n_cells=n_cells
            ).count() == 0, n_cells


def test_arrow_pq_encoder_matches_expression_path(spark):
    """ivfpq_topk's corpus-side cell assign and PQ encode are numpy
    batch passes. Contract: BIT-exact — squared L2 accumulates one
    dimension at a time (the _l2sq fold's IEEE order) and np.argmin's
    first-occurrence tie-break equals array_position's lowest index.
    Pinned three ways on every sf0.1 embedding: (1) exact-fold pandas
    argmin == kmeans_assign's expression fold, (2) PQ codes == a numpy
    reference with the same sequential fold, (3) ivfpq_topk at the s12
    gate shape == a numpy IVF-PQ emulation (coarse cells, 2-cell
    probe, ADC sums, (adc, corpus_id) ranking)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkt.functions.similarity import (
        _argmin_l2_exact_pandas, _pq_codebooks, _pseudo_centroids,
        ivfpq_topk, kmeans_assign, pq_encode,
    )
    from sparkt.sources import load_parquet

    emb = load_parquet(
        spark, "/root/testdata/sf0.1/embeddings.parquet"
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))

    dim, m, n_codes, n_cells, k = 64, 8, 16, 8, 5
    sub = dim // m
    cents = _pseudo_centroids(dim, n_cells)
    both = emb.select(
        "vec_id",
        kmeans_assign(F.col("embedding"), cents).alias("a_expr"),
        _argmin_l2_exact_pandas(F.col("embedding"), cents).alias(
            "a_arrow"
        ),
    )
    diff = both.filter(F.col("a_expr") != F.col("a_arrow")).count()
    assert diff == 0

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    books = np.array(_pq_codebooks(dim, m, n_codes))  # m x codes x sub
    C = np.array(cents)

    def l2sq(x, Y):  # sequential fold over dims: the _l2sq order
        acc = np.zeros(len(Y))
        for d in range(Y.shape[1]):
            acc += (x[d] - Y[:, d]) * (x[d] - Y[:, d])
        return acc

    codes = {i: [int(np.argmin(l2sq(v[j * sub:(j + 1) * sub], books[j])))
                 for j in range(m)]
             for i, v in vecs.items()}
    got_codes = {r["vec_id"]: list(r["codes"])
                 for r in pq_encode(emb, "vec_id", "embedding").collect()}
    assert got_codes == codes

    cell = {i: int(np.argmin(l2sq(v, C))) for i, v in vecs.items()}
    expected = []
    for qi in (i for i in vecs if i < 10):
        d = l2sq(vecs[qi], C)
        c1 = int(np.argmin(d))
        d[c1] = np.inf
        probe = {c1, int(np.argmin(d))}
        tables = [l2sq(vecs[qi][j * sub:(j + 1) * sub], books[j])
                  for j in range(m)]
        cand = []
        for ci in vecs:
            if ci == qi or cell[ci] not in probe:
                continue
            adc = 0.0
            for j in range(m):  # the ADC sum's subspace order
                adc += tables[j][codes[ci][j]]
            cand.append((adc, ci))
        cand.sort()
        expected += [(qi, ci, r + 1) for r, (_, ci) in enumerate(cand[:k])]

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    got = sorted(
        (r["query_id"], r["corpus_id"], r["rank"])
        for r in ivfpq_topk(
            queries, corpus, dim=dim, k=k, m=m, n_codes=n_codes,
            n_cells=n_cells, n_probe=2,
        ).collect()
    )
    assert got == sorted(expected)
    assert len(got) > 0  # non-vacuous


def test_pq_null_and_empty_vectors(spark):
    """Null corpus vectors through the numpy encode keep the old
    expression encode's output: m null codes and a null coarse cell,
    so the row leaves ivfpq_topk's cell equijoin; empty input gives
    empty output."""
    from pyspark.sql import functions as F

    from sparkt.functions.similarity import (
        _argmin_l2_exact_pandas, _pseudo_centroids, ivfpq_topk, pq_encode,
    )

    dim, m = 8, 4
    schema = "vec_id long, embedding array<double>"
    rows = [(i, [((i * 7 + d * 3) % 11 - 5) / 5.0 for d in range(dim)])
            for i in range(12)]
    df = spark.createDataFrame(rows + [(99, None)], schema)
    clean = spark.createDataFrame(rows, schema)

    codes = {r["vec_id"]: r["codes"] for r in pq_encode(
        df, dim=dim, m=m, n_codes=4).collect()}
    assert codes[99] == [None] * m
    assert {i: c for i, c in codes.items() if i != 99} == {
        r["vec_id"]: r["codes"]
        for r in pq_encode(clean, dim=dim, m=m, n_codes=4).collect()
    }
    cells = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id",
        _argmin_l2_exact_pandas(
            F.col("embedding"), _pseudo_centroids(dim, 4)
        ).alias("cell"),
    ).collect()}
    assert cells[99] is None
    assert all(c is not None for i, c in cells.items() if i != 99)

    def topk(corpus):
        return sorted(map(tuple, ivfpq_topk(
            clean.filter(F.col("vec_id") < 3).withColumnRenamed(
                "vec_id", "query_id"),
            corpus.withColumnRenamed("vec_id", "corpus_id"),
            dim=dim, k=3, m=m, n_codes=4, n_cells=4, n_probe=2,
        ).collect()))

    assert topk(df) == topk(clean)
    assert len(topk(clean)) > 0  # non-vacuous

    empty = spark.createDataFrame([], schema)
    assert pq_encode(empty, dim=dim, m=m, n_codes=4).count() == 0
    assert topk(empty) == []
