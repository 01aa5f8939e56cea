"""LLM-pipeline operator library tests (dedup, similarity, text,
multimodal plumbing)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from sparkt.sources import load_parquet

    return load_parquet(spark, f"{SF}/documents.parquet")


def test_exact_dedup_keeps_lowest_id(spark):
    from sparkt.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "other text")],
        ["doc_id", "text"],
    )
    kept = exact_dedup(df, "text", "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3}  # 2 is a whitespace/case dup of 1


def test_minhash_similar_docs_share_bands(spark):
    from sparkt.functions.dedup import minhash_candidate_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and AGAIN"),
        (3, "completely different words appear within this other document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_candidate_pairs(df, "text", "doc_id").collect()
    pair_set = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in pair_set
    assert all(3 not in p for p in pair_set)


def test_ngram_jaccard_threshold(spark):
    from sparkt.functions.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "z y x w v u t s"),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", k=2, threshold=0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    j = pairs[0]["jaccard"]
    assert 0.5 < j < 0.8  # 5 shared of 7+7-5 bigrams ≈ 0.555


def test_lsh_ann_recall_vs_brute_force(spark):
    """The approximate path must agree with brute force on most
    neighbors it returns (bucketing only prunes candidates)."""
    from sparkt.functions.similarity import cosine_topk, lsh_bucketed_topk
    from sparkt.sources import load_parquet

    emb = load_parquet(spark, f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = cosine_topk(q, c, k=10)
    approx = lsh_bucketed_topk(q, c, dim=64, k=10, n_planes=2)
    # every approx hit must be a true pair with identical cosine
    diff = approx.select("query_id", "corpus_id", "cos").exceptAll(
        exact.select("query_id", "corpus_id", "cos")
        .unionByName(
            # allow pairs outside exact top-10: recompute full scores
            c.alias("cc").crossJoin(q.alias("qq"))
            .filter(F.col("query_id") != F.col("corpus_id"))
            .select(
                "query_id", "corpus_id",
                F.round(
                    F.aggregate(
                        F.zip_with(F.col("qq.embedding"), F.col("cc.embedding"),
                                   lambda x, y: x * y),
                        F.lit(0.0), lambda a, v: a + v)
                    / (F.sqrt(F.aggregate(F.col("qq.embedding"), F.lit(0.0),
                                          lambda a, v: a + v * v))
                       * F.sqrt(F.aggregate(F.col("cc.embedding"), F.lit(0.0),
                                            lambda a, v: a + v * v))), 4
                ).alias("cos"),
            )
        )
    )
    assert diff.count() == 0
    assert approx.count() > 0


def test_text_operators(spark):
    from sparkt.functions import text as TX

    df = spark.createDataFrame(
        [(1, "The quick brown fox."), (2, "  a  b  "), (3, "word")],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.lang_id(F.col("text")).alias("lang"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n"] == 4
    assert by_id[2]["n"] == 2  # trim + multi-space split
    assert by_id[3]["n"] == 1
    assert by_id[1]["lang"] == "en"  # 'the' stopword hit
    assert len(by_id[1]["fp"]) == 32
    # normalization: same fingerprint regardless of case/whitespace
    fp2 = df.select(TX.fingerprint(F.lit("THE QUICK   brown fox.")).alias("f"))
    assert fp2.first()["f"] == by_id[1]["fp"]


def test_multimodal_plumbing(spark):
    import hashlib

    from sparkt.functions.multimodal import extract_image_metadata

    items = spark.createDataFrame(
        [
            (i, "png" if i % 2 == 0 else "jpeg",
             hashlib.md5(f"item-{i}".encode()).digest() * (8 + i % 8))
            for i in range(16)
        ],
        "item_id long, format string, content binary",
    )
    meta = extract_image_metadata(items)
    rows = meta.collect()
    assert len(rows) == 16
    assert all(r["n_bytes"] > 0 and len(r["content_hash"]) == 32 for r in rows)
    assert all(64 <= r["width"] < 128 for r in rows)

    # determinism (metadata derives from content hash)
    again = extract_image_metadata(items).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_ivf_ann_consistency(spark):
    """IVF results must be true cosines and rank-consistent; probing
    more cells converges toward brute force."""
    from sparkt.functions.similarity import cosine_topk, ivf_topk
    from sparkt.sources import load_parquet

    emb = load_parquet(spark, f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = cosine_topk(q, c, k=3).select("query_id", "corpus_id", "cos")
    full_probe = ivf_topk(q, c, dim=64, k=3, n_cells=8, n_probe=8).select(
        "query_id", "corpus_id", "cos"
    )
    # probing ALL cells == brute force
    assert full_probe.exceptAll(exact).count() == 0
    assert exact.exceptAll(full_probe).count() == 0
    # partial probe returns a non-empty subset of true cosines
    part = ivf_topk(q, c, dim=64, k=3, n_cells=8, n_probe=2)
    assert part.count() > 0
    # trained coarse quantizer: kmeans centroids, full probe still
    # equals brute force (probe-all is centroid-independent)
    from sparkt.functions.similarity import kmeans_fit

    cents = kmeans_fit(
        emb.select("vec_id", "embedding"), k=4, iters=2
    )
    trained = ivf_topk(
        q, c, dim=64, k=3, n_probe=4, centroids=cents
    ).select("query_id", "corpus_id", "cos")
    assert trained.exceptAll(exact).count() == 0
    assert exact.exceptAll(trained).count() == 0


def test_cosine_neardup_pairs(spark):
    from sparkt.functions.similarity import cosine_neardup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.99, 0.1, 0.0]), (3, [0.0, 1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    pairs = cosine_neardup_pairs(df, threshold=0.9, dim=3, n_cells=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_cosine_neardup_bucketed_not_all_pairs(spark):
    """d6 scale contract: candidate generation is a cell EQUIJOIN (no
    nested-loop/cartesian), and full probe is exhaustive (== brute
    force); partial probe returns a subset."""
    from sparkt.functions.similarity import cosine_neardup_pairs, dot, norm
    from sparkt.sources import load_parquet

    emb = load_parquet(spark, f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    full = cosine_neardup_pairs(emb, "vec_id", "embedding", 0.35, dim=64)
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # brute-force reference computed inline
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                   norm(F.col("embedding")).alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                   norm(F.col("embedding")).alias("nb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot(F.col("va"), F.col("vb"))
                                   / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", "cos")
    )
    assert full.exceptAll(brute).count() == 0
    assert brute.exceptAll(full).count() == 0
    part = cosine_neardup_pairs(
        emb, "vec_id", "embedding", 0.35, dim=64, n_cells=8, n_probe=2
    )
    assert part.exceptAll(full).count() == 0


def test_winnowing_guarantee(spark):
    """Winnowing (SIGMOD'03): any shared substring of length >= k+w-1
    yields at least one shared fingerprint; disjoint texts share none."""
    from sparkt.functions.dedup import winnow_pairs, winnow_table

    shared = "a long exactly common passage that both documents contain"
    rows = [
        (1, f"first document begins here. {shared}. then diverges one way"),
        (2, f"second doc opens differently. {shared}. and ends another way"),
        (3, "totally unrelated content with zero overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k, w = 8, 4
    fps = winnow_table(df, "text", "doc_id", k=k, w=w)
    by_doc = {
        r["doc"]: r["n"]
        for r in fps.groupBy("doc").agg(F.count("*").alias("n")).collect()
    }
    # density: winnowing keeps far fewer than all k-grams
    assert all(n > 0 for n in by_doc.values())
    pairs = winnow_pairs(df, "text", "doc_id", k=k, w=w, min_shared=1)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_pii_counts_and_redaction(spark):
    """PII scan/redact: counts match the planted spans; redaction
    replaces them with typed placeholders and leaves clean text
    untouched."""
    from sparkt.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe@corp.io or 555-123-4567 thanks"),
            (2, "server 192.168.1.10 and backup 10.0.0.1 are up"),
            (3, "no sensitive content in this row at all"),
        ],
        ["id", "text"],
    )
    c = pii_counts(F.col("text"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            c["n_emails"].alias("e"),
            c["n_ips"].alias("i"),
            c["n_phones"].alias("p"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (1, 0, 1)
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 2, 0)
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (0, 0, 0)
    assert "<EMAIL>" in out[1]["red"] and "<PHONE>" in out[1]["red"]
    assert out[2]["red"].count("<IP>") == 2
    assert out[3]["red"] == "no sensitive content in this row at all"


def test_repetition_features(spark):
    """Gopher repetition via the run-length HOFs: an all-repeats doc
    scores 1.0 on both signals; an all-unique doc scores 0 dup
    ratio."""
    from sparkt.functions.text import (
        bigram_array,
        dup_token_count,
        max_adjacent_run,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "all words here differ")],
        ["doc_id", "text"],
    )
    toks = tokens(F.col("text"))
    bg = bigram_array(toks)
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (dup_token_count(F.array_sort(toks)) / F.size(toks))
        .alias("dup_token_ratio"),
        (max_adjacent_run(F.array_sort(bg)) / F.size(bg))
        .alias("top_bigram_ratio"),
    ).collect()}
    assert out[1]["dup_token_ratio"] == 1.0
    assert out[1]["top_bigram_ratio"] == 1.0
    assert out[2]["dup_token_ratio"] == 0.0
    assert out[2]["n_tokens"] == 4


def test_tfidf_top_terms(spark):
    """tf·idf ranks a doc-specific repeated term above corpus-wide
    stop terms."""
    from sparkt.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "the cat cat cat sat the mat"),
            (2, "the dog sat the rug"),
            (3, "the bird sat the tree"),
        ],
        ["doc_id", "text"],
    )
    top = tfidf_top_terms(df, "text", "doc_id", top_k=1)
    best = {r["doc"]: r["term"] for r in top.collect()}
    assert best[1] == "cat"  # tf=3, df=1 beats 'the' (tf=2, df=3)
    assert best[2] == "dog" and best[3] == "bird"


def test_decontaminate_flags_overlap(spark):
    """Docs sharing most shingles with the benchmark get flagged;
    disjoint docs do not; plan stays a broadcast equijoin."""
    from sparkt.functions.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon eta"),   # heavy overlap
            (2, "one two three four five six seven"),    # none
        ],
        ["doc_id", "text"],
    )
    out = decontaminate(corpus, bench, "text", "doc_id", k=3, threshold=0.5)
    flagged = {r["doc"]: r["contamination"] for r in out.collect()}
    assert 1 in flagged and flagged[1] >= 0.5
    assert 2 not in flagged
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_hash_split_deterministic_and_complete(spark):
    """Split assignment is stable across calls and covers every
    row."""
    from sparkt.functions.sampling import train_val_test_split

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = train_val_test_split(df, "doc_id").groupBy("split").count().collect()
    b = train_val_test_split(df, "doc_id").groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = dict(map(tuple, a))
    assert sum(counts.values()) == 1000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_chunk_table_windows(spark):
    """chunk_table: overlapping windows, trailing partial chunk, and
    short-doc identity (doc shorter than one window → single chunk)."""
    from pyspark.sql import functions as F

    from sparkt.functions.text import chunk_table

    long_text = " ".join(f"w{i}" for i in range(90))
    df = spark.createDataFrame(
        [(1, long_text), (2, "just three tokens"), (3, "")],
        ["doc_id", "text"],
    )
    out = chunk_table(df, "text", "doc_id", window=50, stride=40) \
        .orderBy("doc", "chunk_idx").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc"], []).append(r)
    # 90 tokens, stride 40 → starts 0/40/80 → sizes 50/50/10
    assert [r["n_tokens"] for r in by_doc[1]] == [50, 50, 10]
    assert [r["chunk_idx"] for r in by_doc[1]] == [0, 1, 2]
    # overlap: chunk1 starts at w40 — verify via recomputed md5
    import hashlib

    expect_md5 = hashlib.md5(
        " ".join(f"w{i}" for i in range(40, 90)).encode()
    ).hexdigest()
    assert by_doc[1][1]["chunk_md5"] == expect_md5
    # short doc: one chunk, all tokens
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    # empty doc still yields exactly one (empty) chunk, not zero rows
    assert len(by_doc[3]) == 1


def test_quantize_int8_roundtrip(spark):
    """int8 quantization: values in [-127, 127], reconstruction error
    bounded by scale/2 per element, quantization deterministic."""
    from pyspark.sql import functions as F

    from sparkt.functions.similarity import (
        dequantize_error_stats, quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [100.0, -200.0, 50.0, 0.1])],
        ["vec_id", "embedding"],
    )
    q = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert all(-127 <= x <= 127 for r in q.values() for x in r["qvec"])
    # max-magnitude element always quantizes to ±127
    assert max(abs(x) for x in q[2]["qvec"]) == 127
    stats = {r["vec_id"]: r for r in dequantize_error_stats(df).collect()}
    for vid, r in stats.items():
        # 1e-6 slack: max_err_r is rounded half-up to 6 decimals
        assert r["max_err_r"] <= q[vid]["scale"] / 2 + 1e-6
    # deterministic identity
    again = {r["vec_id"]: r for r in dequantize_error_stats(df).collect()}
    assert {v: r["q_md5"] for v, r in stats.items()} == \
        {v: r["q_md5"] for v, r in again.items()}


def test_duplicate_clusters_transitive(spark):
    """Connected components: chains merge transitively, singletons
    never appear, disjoint components stay separate."""
    from sparkt.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> component {1,2,3,4}
         (10, 11),                    # pair  -> component {10,11}
         (20, 21), (22, 21)],         # star  -> component {20,21,22}
        ["id_a", "id_b"],
    )
    out = {r["doc"]: r["cluster"]
           for r in duplicate_clusters(pairs).collect()}
    assert {d: c for d, c in out.items() if d <= 4} == {1: 1, 2: 1, 3: 1, 4: 1}
    assert out[10] == 10 and out[11] == 10
    assert out[20] == 20 and out[21] == 20 and out[22] == 20
    assert set(out) == {1, 2, 3, 4, 10, 11, 20, 21, 22}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 64-hop path graph must collapse to ONE cluster within default
    iterations — the large-star/small-star contraction converges in
    O(log n) rounds, where plain min-label propagation needs O(diameter)
    (round-4 advice: >20-hop chains silently split before)."""
    from sparkt.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    out = {r["doc"]: r["cluster"]
           for r in duplicate_clusters(
               pairs, max_iter=10, driver_threshold=0).collect()}
    assert set(out) == set(range(65))
    assert set(out.values()) == {0}


def test_duplicate_clusters_raises_unconverged(spark):
    """Hitting max_iter while still contracting raises instead of
    returning truncated labels; strict=False downgrades to a warning."""
    import warnings

    import pytest

    from sparkt.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1, driver_threshold=0).collect()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = duplicate_clusters(
            pairs, max_iter=1, strict=False, driver_threshold=0).collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(out) > 0


def test_duplicate_clusters_matches_networkx(spark):
    """Property-style pin for the large-star/small-star contraction:
    on a batch of randomized graph shapes (chains, stars, cliques,
    disjoint mixes), cluster labels must equal networkx
    connected_components with min-id labeling."""
    import random

    import networkx as nx

    from sparkt.functions.dedup import duplicate_clusters

    rng = random.Random(42)
    edges = []
    # disjoint structures over separated id ranges
    base = 0
    for kind in ("chain", "star", "clique", "random"):
        ids = list(range(base, base + 12))
        if kind == "chain":
            edges += [(ids[i], ids[i + 1]) for i in range(11)]
        elif kind == "star":
            edges += [(ids[0], x) for x in ids[1:]]
        elif kind == "clique":
            edges += [(a, b) for a in ids for b in ids if a < b]
        else:
            for _ in range(15):
                a, b = rng.sample(ids, 2)
                edges.append((a, b))
        base += 100

    g = nx.Graph()
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for n in comp:
            expected[n] = root

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    # BOTH execution paths must equal networkx AND each other: the
    # adaptive driver union-find (default, model-scale edge sets) and
    # the distributed star contraction (forced via driver_threshold=0)
    got = {r["doc"]: r["cluster"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == expected
    dist = {r["doc"]: r["cluster"]
            for r in duplicate_clusters(
                pairs, driver_threshold=0).collect()}
    assert dist == expected


def test_hashed_classifier_exact_and_shuffle_free(spark):
    """Score matches a Python md5 reimplementation, empty text scores
    0, and the physical plan contains NO Exchange (pure projection)."""
    import hashlib
    import re

    from sparkt.functions.text import hashed_classifier_score

    def py_score(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.strip().lower()) if t]
        return sum(
            int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % 2001 - 1000
            for t in toks
        )

    rows = [(1, "The quick brown fox! 42"), (2, ""), (3, "aaa aaa bbb")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cols = hashed_classifier_score(F.col("text"))
    out = df.select("doc_id", *[v.alias(k) for k, v in cols.items()])
    got = {r["doc_id"]: (r["n_toks"], r["score_milli"], r["keep"])
           for r in out.collect()}
    for doc_id, text in rows:
        s = py_score(text)
        assert got[doc_id][1] == s
        assert got[doc_id][2] == int(s > 0)
    assert got[2] == (0, 0, 0)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_trigram_familiarity_matches_counter(spark):
    from collections import Counter

    from sparkt.functions.text import trigram_familiarity

    rows = [(1, "abc abcd"), (2, "xyz!"), (3, "ab")]

    def tris(text):
        import re

        s = re.sub(" +", " ", re.sub("[^a-z ]", "", text.lower()))
        return [s[i:i + 3] for i in range(len(s) - 2)]

    corpus = Counter()
    for _, t in rows:
        corpus.update(tris(t))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc"]: (r["n_tri"], r["familiarity"])
           for r in trigram_familiarity(df, "text", "doc_id").collect()}
    for doc_id, t in rows:
        ts = tris(t)
        if not ts:
            assert doc_id not in got  # no trigrams -> no row (doc 3)
        else:
            assert got[doc_id] == (len(ts), sum(corpus[x] for x in ts))


def test_inverted_index_matches_reference(spark):
    """Two-phase capped posting lists == naive Python reference;
    df/total_tf stay exact (uncapped) and min_df filters terms."""
    from collections import Counter, defaultdict

    from sparkt.functions.index import inverted_index

    rows = [(i, "alpha beta " + ("gamma " * (i % 3))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["term"]: r for r in
           inverted_index(df, "text", "doc_id", max_postings=5).collect()}

    post = defaultdict(list)
    tf = Counter()
    for i, t in rows:
        c = Counter(t.strip().split())
        for term, n in c.items():
            post[term].append(i)
            tf[term] += n
    for term, docs in post.items():
        r = got[term]
        assert r["df"] == len(docs)          # exact, despite cap
        assert r["total_tf"] == tf[term]
        assert r["postings"] == sorted(docs)[:5]
    # min_df drops gamma-less vocabulary if threshold exceeds its df
    high = inverted_index(df, "text", "doc_id", min_df=30,
                          max_postings=5)
    kept = {r["term"] for r in high.collect()}
    assert kept == {"alpha", "beta"}  # gamma df ~ 26 of 40


def test_bm25_matches_python_reference(spark):
    """bm25_match equals the textbook single-machine BM25 (same idf
    variant) to float tolerance; integer evidence exact; the query
    side joins as a broadcast."""
    import math
    from collections import Counter

    from sparkt.functions.index import bm25_match

    docs = [(1, "red fox jumps"), (2, "red red dog"), (3, "blue fox"),
            (4, "green tree tall tree")]
    qs = [("qa", "red fox"), ("qb", "tree")]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    qdf = spark.createDataFrame(qs, ["qid", "qtext"])
    out = bm25_match(ddf, qdf, "text", "doc_id")
    got = {(r["qid"], r["doc"]): r for r in out.collect()}

    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = Counter()
    for v in toks.values():
        dfreq.update(set(v))

    def bm25(qid, i):
        tf = Counter(toks[i])
        s = 0.0
        m = 0
        for term in set(dict(qs)[qid].split()):
            if tf[term] == 0:
                continue
            m += 1
            idf = math.log((n - dfreq[term] + 0.5)
                           / (dfreq[term] + 0.5) + 1.0)
            s += idf * (tf[term] * 2.2) / (
                tf[term] + 1.2 * (1 - 0.75 + 0.75 * len(toks[i]) / avgdl))
        return m, s

    expect_pairs = {("qa", 1), ("qa", 2), ("qa", 3), ("qb", 4)}
    assert set(got) == expect_pairs
    for qid, i in expect_pairs:
        m, s = bm25(qid, i)
        r = got[(qid, i)]
        assert r["n_matched"] == m
        assert r["doc_len"] == len(toks[i])
        assert abs(r["bm25"] - s) < 1e-9
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_collocations_matches_python_reference(spark):
    """collocations equals a Counter reference: pair/unigram counts
    exact, PMI to float tolerance; min_count prunes before the joins;
    the unigram vocab joins as a broadcast."""
    import math
    from collections import Counter

    from sparkt.functions.text import collocations

    docs = [(1, "new york city and new york state"),
            (2, "the new york subway"),
            (3, "a new day in new york"),
            (4, "york new is not a phrase")]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    out = collocations(ddf, "text", min_count=2)
    got = {(r["w1"], r["w2"]): r for r in out.collect()}

    uni: Counter = Counter()
    pairs: Counter = Counter()
    for _, t in docs:
        ws = t.split()
        uni.update(ws)
        pairs.update(zip(ws, ws[1:]))
    n = sum(uni.values())
    expect = {p: c for p, c in pairs.items() if c >= 2}

    assert set(got) == set(expect)
    assert ("new", "york") in got and got[("new", "york")]["pair_count"] == 4
    for (w1, w2), c in expect.items():
        r = got[(w1, w2)]
        assert r["pair_count"] == c
        assert r["c1"] == uni[w1] and r["c2"] == uni[w2]
        pmi = math.log(c * n / (uni[w1] * uni[w2]))
        assert abs(r["pmi"] - pmi) < 1e-9
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_profile_values_matches_counter(spark):
    """profile_values equals a Counter reference: exact counts, rank
    ties broken by value asc, NULL profiled as a group and sorted
    last among ties, two-phase cap == naive top-k."""
    from collections import Counter

    from sparkt.functions.profile import profile_values

    rows = [("a", None), ("a", 1), ("b", 1), ("a", 2), ("c", 1),
            ("b", 2), ("a", 3)]
    df = spark.createDataFrame(rows, ["s", "v"])
    got = [(r["column"], r["value"], r["n_rows"], r["rank"])
           for r in profile_values(df, ["s", "v"], top_k=2)
           .orderBy("column", "rank").collect()]

    expect = []
    for c, vals in (("s", [r[0] for r in rows]),
                    ("v", [r[1] for r in rows])):
        cnt = Counter(str(x) if x is not None else None for x in vals)
        top = sorted(
            cnt.items(),
            key=lambda t: (-t[1], t[0] is None, t[0] or ""),
        )[:2]
        expect += [(c, v, n, i + 1) for i, (v, n) in enumerate(top)]
    assert got == expect


def test_profile_table_exact_and_approx(spark):
    """profile_table: exact stats equal a Python reference (nulls,
    distincts, native-type min/max cast AFTER comparing — '9' > '10'
    lexicographically but 9 < 10 numerically); the approx path lands
    within HLL++ bounds and its plan has no Expand."""
    from sparkt.functions.profile import profile_table

    rows = [(1, "b", None), (2, "a", 5.0), (2, "a", 7.0),
            (10, None, 5.0), (9, "c", None)]
    df = spark.createDataFrame(rows, ["k", "s", "v"])
    got = {r["column"]: r for r in profile_table(df).collect()}

    assert set(got) == {"k", "s", "v"}
    assert all(r["n_rows"] == 5 for r in got.values())
    k = got["k"]
    assert (k["n_nulls"], k["n_distinct"]) == (0, 4)
    assert (k["min_value"], k["max_value"]) == ("1", "10")  # numeric min/max
    s = got["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 3)
    assert (s["min_value"], s["max_value"]) == ("a", "c")
    v = got["v"]
    assert (v["n_nulls"], v["n_distinct"]) == (2, 2)

    approx = profile_table(df, approx=True)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # HLL path: no per-column row expansion
    ag = {r["column"]: r for r in approx.collect()}
    for c in ("k", "s", "v"):
        exact_nd = got[c]["n_distinct"]
        assert abs(ag[c]["n_distinct"] - exact_nd) <= max(1, exact_nd * 0.05)


def test_char_stats_matches_python(spark):
    """char_stats equals a Counter reference: histogram integers
    exact, entropy to float tolerance, plan shuffle-free."""
    import math
    from collections import Counter

    from sparkt.functions.text import char_stats

    rows = [(1, "aaaaabbbbbcccccddddd"), (2, "abcdefghijkl"),
            (3, "aaaaaaaaaaaaaaaaaaaa"), (4, ""), (5, "ab")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    st = char_stats(F.col("text"))
    out = df.select("doc_id", *[v.alias(k) for k, v in st.items()])
    got = {r["doc_id"]: r for r in out.collect()}
    for i, t in rows:
        c = Counter(t)
        r = got[i]
        assert r["n_len"] == len(t)
        assert r["n_distinct_chars"] == len(c)
        assert r["max_char_freq"] == (max(c.values()) if c else 0)
        want_h = -sum((v / len(t)) * math.log(v / len(t))
                      for v in c.values()) if t else 0.0
        assert abs(r["entropy"] - want_h) < 1e-9
    assert got[3]["low_diversity"] == 1  # one char dominates
    assert got[1]["low_diversity"] == 1  # 4 distinct chars <= 10
    assert got[4]["low_diversity"] == 1  # empty: 0 distinct
    assert got[2]["low_diversity"] == 0  # 12 distinct chars > 10, short
    assert "Exchange" not in out._jdf.queryExecution()\
        .executedPlan().toString()


def test_curriculum_order_equals_single_window(spark):
    """Two-phase curriculum position == naive global row_number over
    (stage, md5 key, id), bit-exact, positions are a 0..n-1
    permutation, and stages never interleave."""
    import hashlib

    from sparkt.functions.sampling import curriculum_order

    rows = [(i, i % 3) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "stage"])
    got = {r["doc_id"]: (r["stage"], r["curriculum_pos"])
           for r in curriculum_order(df, "stage", "doc_id").collect()}

    def k(i):
        return hashlib.md5(f"curriculum|{i}".encode()).hexdigest()

    want_order = sorted(rows, key=lambda r: (r[1], k(r[0]), r[0]))
    for pos, (i, stage) in enumerate(want_order):
        assert got[i] == (stage, pos)
    assert sorted(p for _, p in got.values()) == list(range(300))


def test_weighted_bernoulli_is_monotone_in_weight(spark):
    """πps: survival of a fixed id is monotone in its weight (same u,
    higher cutoff), and weight >= scale always survives."""
    from sparkt.functions.sampling import weighted_bernoulli_sample

    base = [(i, w) for i in range(50) for w in (1, 250, 500)]
    df = spark.createDataFrame(base, ["doc_id", "w"])
    kept = {(r["doc_id"], r["w"]) for r in weighted_bernoulli_sample(
        df, "w", "doc_id", scale=500).collect()}
    for i in range(50):
        assert (i, 500) in kept  # w == scale -> P = 1
        if (i, 1) in kept:
            assert (i, 250) in kept  # monotone
    # and it actually samples: the w=1 stratum survives ~1/500 rarely
    assert sum((i, 1) in kept for i in range(50)) <= 2


def test_canonicalize_url_edge_cases(spark):
    """Canonicalization rules one by one: case, www, scheme-specific
    default ports, trailing slash, tracking-param strip + sort,
    fragment, and the non-URL fallback."""
    from sparkt.functions.dedup import canonicalize_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/b/?b=2&utm_source=x&a=1#f",
         "http://ex.com/A/b?a=1&b=2"),
        ("https://ex.com:443/p", "https://ex.com/p"),
        ("https://ex.com:80/p", "https://ex.com:80/p"),  # non-default kept
        ("http://ex.com", "http://ex.com"),
        ("http://ex.com/", "http://ex.com"),
        ("http://ex.com/?utm_campaign=x&gclid=1&fbclid=2&ref=r",
         "http://ex.com"),
        ("ftp://Ex.com:21/f/", "ftp://ex.com:21/f"),
        ("  Not A Url  ", "not a url"),
        # RFC 3986 unreserved percent-decoding (ADVICE-tail closed
        # r11): %41/%7e (either hex case) decode, reserved %2F stays,
        # %2541 un-escapes only the OUTER %25... never (no re-scan).
        ("http://ex.com/%41b%7e?x=%631", "http://ex.com/Ab~?x=c1"),
        ("http://ex.com/a%2Fb", "http://ex.com/a%2Fb"),
        ("http://ex.com/%2541", "http://ex.com/%2541"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"]
    )
    got = {r["i"]: r["c"]
           for r in df.select("i", canonicalize_url(F.col("url"))
                              .alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_bigram_lm_matches_counter(spark):
    """bigram_lm_table equals the naive Counter formulation: integer
    count sums exactly; avg_logp = mean(ln(bc/ctx)) to float tolerance;
    <2-word docs drop out (no bigrams)."""
    import math
    import re
    from collections import Counter

    from sparkt.functions.text import bigram_lm_table

    rows = [(1, "the cat sat"), (2, "the cat ran!"), (3, "cat"), (4, "")]

    def bgs(text):
        ws = [w for w in
              re.sub(" +", " ", re.sub("[^a-z ]", "", text.lower())).split(" ")
              if w]
        return [f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)]

    bc = Counter()
    for _, t in rows:
        bc.update(bgs(t))
    cc = Counter()
    for b, n in bc.items():
        cc[b.split(" ")[0]] += n
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc"]: r
           for r in bigram_lm_table(df, "text", "doc_id").collect()}
    for doc_id, t in rows:
        bs = bgs(t)
        if not bs:
            assert doc_id not in got  # docs 3, 4
            continue
        r = got[doc_id]
        assert (r["n_bigrams"], r["bc_sum"], r["ctx_sum"]) == (
            len(bs),
            sum(bc[b] for b in bs),
            sum(cc[b.split(" ")[0]] for b in bs),
        )
        want = sum(math.log(bc[b] / cc[b.split(" ")[0]]) for b in bs) / len(bs)
        assert abs(r["avg_logp"] - want) < 1e-9
    # "the cat" appears twice, "cat sat"/"cat ran" once each: doc 1's
    # score must beat doc 2's only via identical prefixes -> equal here
    assert got[1]["avg_logp"] == got[2]["avg_logp"]


def test_sample_video_frames_deterministic_stub(spark):
    """Frame expansion matches the documented stub: duration from the
    first two md5 digest bytes, one frame per stride, hash chain."""
    import hashlib

    from sparkt.functions.multimodal import sample_video_frames

    payloads = [(1, b"some video bytes"), (2, b"")]
    df = spark.createDataFrame(payloads, ["item_id", "content"])
    out = sample_video_frames(df, stride_ms=5000).collect()
    by_item = {}
    for r in out:
        by_item.setdefault(r["item_id"], []).append(r)
    for item_id, content in payloads:
        digest = hashlib.md5(content).hexdigest()
        dur = int(digest[:4], 16)
        frames = sorted(by_item[item_id], key=lambda r: r["frame_idx"])
        assert len(frames) == dur // 5000 + 1
        for k, fr in enumerate(frames):
            assert fr["ts_ms"] == k * 5000
            assert fr["frame_hash"] == hashlib.md5(
                f"{digest}:{k}".encode()
            ).hexdigest()


def test_recursive_cte_gate_chain_semantics(spark):
    """q31: chain_len equals per-customer order count (capped at 25)
    and chain_spend equals the sum of the first chain_len orders."""
    from sparkt.queries.relational import q31_recursive_cte
    from sparkt.sources import load_parquet

    out = {r["o_custkey"]: (r["chain_len"], r["chain_spend"])
           for r in q31_recursive_cte(spark, SF).collect()}
    orders = (
        load_parquet(spark, f"{SF}/orders.parquet")
        .filter(F.col("o_custkey") < 100)
        .orderBy("o_orderdate", "o_orderkey")
        .select("o_custkey", "o_totalprice")
        .collect()
    )
    per_cust = {}
    for r in orders:
        per_cust.setdefault(r["o_custkey"], []).append(r["o_totalprice"])
    assert set(out) == set(per_cust)
    for ck, prices in per_cust.items():
        n = min(len(prices), 25)
        assert out[ck][0] == n
        assert abs(out[ck][1] - round(sum(prices[:n]), 2)) < 1e-6


def test_span_duplicates_finds_shared_span(spark):
    """A verbatim span >= window + stride - 1 tokens shared by two docs
    is always caught; the keeper is the smallest doc id."""
    from sparkt.functions.dedup import span_duplicates

    shared = " ".join(f"tok{i}" for i in range(20))  # 20-token span
    rows = [
        (1, "intro words here " + shared),
        (2, shared + " trailing content"),
        (3, "completely unrelated text with other words entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = span_duplicates(df, "text", "doc_id", window=10).collect()
    # 20-token shared span -> 11 shared 10-token windows, any alignment
    assert len(out) == 11
    assert all(r["n_docs"] == 2 and r["keep_doc"] == 1 for r in out)


def test_span_duplicates_matches_bruteforce_random(spark):
    """Randomized pin: on a batch of random small-vocab docs, d10's
    output equals the brute-force every-position window fingerprint
    computation exactly (fp set, doc counts, occurrence counts)."""
    import hashlib
    import random
    import re
    from collections import defaultdict

    from sparkt.functions.dedup import span_duplicates

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(40)
    ]
    W = 5
    expected = defaultdict(lambda: [set(), 0])
    for doc_id, text in rows:
        toks = [t for t in re.split(r"\s+", text.strip().lower()) if t] \
            if text.strip() else []
        # mirror tokens(): split of "" yields [""], giving one token
        toks = re.split(r"\s+", text.strip().lower())
        for s in range(len(toks) - W + 1):
            fp = hashlib.md5(" ".join(toks[s:s + W]).encode()).hexdigest()
            expected[fp][0].add(doc_id)
            expected[fp][1] += 1
    expected = {
        fp: (len(docs), occ, min(docs))
        for fp, (docs, occ) in expected.items()
        if len(docs) >= 2
    }
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["chunk_md5"]: (r["n_docs"], r["n_occ"], r["keep_doc"])
        for r in span_duplicates(df, "text", "doc_id", window=W).collect()
    }
    assert got == expected


def test_domain_quota_equals_single_phase(spark):
    """Two-phase top-N == plain per-domain row_number ≤ cap, and the
    kept set is partitioning-independent."""
    from pyspark.sql import Window

    from sparkt.functions.sampling import domain_quota

    rows = [(i, f"d{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, ["id", "dom"])
    kept = {r["id"] for r in domain_quota(df, "dom", "id", cap=7).collect()}
    h = F.md5(F.concat(F.lit("quota:"), F.col("id").cast("string")))
    w = Window.partitionBy("dom").orderBy(h, "id")
    ref = {
        r["id"]
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 7").collect()
    }
    assert kept == ref and len(kept) == 21
    kept2 = {
        r["id"]
        for r in domain_quota(df.repartition(13), "dom", "id", cap=7)
        .collect()
    }
    assert kept2 == kept


def test_pack_offsets_equals_global_cumsum(spark):
    from pyspark.sql import Window

    from sparkt.functions.text import pack_offsets

    rows = [(i, (i * 7) % 23) for i in range(200)]  # includes zeros
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = {
        r["doc_id"]: (
            r["global_start"], r["first_bin"], r["last_bin"],
            r["start_offset"],
        )
        for r in pack_offsets(df, "doc_id", "n", ctx=16, bucket_size=32)
        .collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref_rows = df.withColumn(
        "gs", F.sum("n").over(w) - F.col("n")
    ).collect()
    for r in ref_rows:
        gs, n = r["gs"], r["n"]
        assert got[r["doc_id"]] == (
            gs, gs // 16, (gs + max(n, 1) - 1) // 16, gs % 16
        )
    # offsets chain contiguously: doc i+1 starts where doc i ended
    n_by_id = dict(rows)
    for d in range(199):
        assert got[d + 1][0] == got[d][0] + n_by_id[d]


def test_kmeans_fit_invariants(spark):
    """Assignment is the exact argmin; inertia never increases across
    an iteration; fit is partitioning-independent."""
    import math

    from sparkt.functions.similarity import kmeans_assign, kmeans_fit

    rows = [
        (i, [float((i * 13 + d * 7) % 11) - 5.0 for d in range(8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_fit(df, "vec_id", "embedding", k=5, iters=3)
    assert len(cents) == 5 and all(len(c) == 8 for c in cents)
    got = df.select(
        "vec_id", "embedding",
        kmeans_assign(F.col("embedding"), cents).alias("cell"),
    ).collect()

    def d2(v, c):
        return sum((a - b) * (a - b) for a, b in zip(v, c))

    for r in got:
        dists = [d2(r["embedding"], c) for c in cents]
        assert r["cell"] == dists.index(min(dists))
    # partitioning independence (deterministic init + quantized steps)
    cents2 = kmeans_fit(
        df.repartition(17), "vec_id", "embedding", k=5, iters=3
    )
    assert cents == cents2

    def inertia(cs):
        a = df.select(
            "embedding", kmeans_assign(F.col("embedding"), cs).alias("c")
        ).collect()
        return sum(d2(r["embedding"], cs[r["c"]]) for r in a)

    c1 = kmeans_fit(df, "vec_id", "embedding", k=5, iters=1)
    c2 = kmeans_fit(df, "vec_id", "embedding", k=5, iters=2)
    # quantization perturbs by ≤1e-6 per coord; allow that slack
    assert inertia(c2) <= inertia(c1) + 1e-3
    assert math.isfinite(inertia(c2))


def test_fuzzy_join_blocked_equals_brute_force(spark):
    """Within-block results equal brute-force levenshtein filtering;
    the block cap drops oversized blocks; unblocked use is refused."""
    import pytest

    from sparkt.functions.linkage import fuzzy_join

    rows = [
        (1, "red widget", "b1"), (2, "red gadget", "b1"),
        (3, "red widgets", "b1"), (4, "blue bolt", "b1"),
        (5, "red widget", "b2"),  # different block: never paired w/ b1
        (6, "red widget", "b2"),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "blk"])
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_join(
            df, df, "id", "name", ["blk"], max_distance=2,
            self_pairs=True,
        ).collect()
    }

    def lev(a, b):
        import numpy as np

        d = np.zeros((len(a) + 1, len(b) + 1), dtype=int)
        d[:, 0] = range(len(a) + 1)
        d[0, :] = range(len(b) + 1)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                d[i, j] = min(
                    d[i - 1, j] + 1, d[i, j - 1] + 1,
                    d[i - 1, j - 1] + (a[i - 1] != b[j - 1]),
                )
        return int(d[len(a), len(b)])

    expected = {
        (a_id, b_id): lev(a, b)
        for a_id, a, ab in rows
        for b_id, b, bb in rows
        if a_id < b_id and ab == bb and lev(a, b) <= 2
    }
    assert got == expected
    assert (1, 3) in got and got[(1, 3)] == 1  # widget/widgets
    assert (5, 6) in got  # same-name cross-check inside b2
    assert not any(a <= 4 < b for a, b in got)  # blocks never mix
    # cap: block b1 has 4 right rows -> cap 3 drops every b1 pair
    capped = fuzzy_join(
        df, df, "id", "name", ["blk"], max_distance=2,
        self_pairs=True, max_block_freq=3,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(5, 6)}
    with pytest.raises(ValueError):
        fuzzy_join(df, df, "id", "name", [], max_distance=1)


def test_hard_negatives_excludes_same_label(spark):
    from sparkt.functions.similarity import cosine_topk, hard_negatives

    rows = [
        (i, [float((i * 7 + d) % 5) for d in range(4)], i % 2)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding", "label")
    got = hard_negatives(q, c, k=3).collect()
    labels = {r["vec_id"]: r["label"] for r in df.collect()}
    assert len(got) == 12  # 4 queries x 3
    for r in got:
        assert labels[r["query_id"]] != labels[r["corpus_id"]]
    # it is exact top-k within the other-label subset: compare against
    # cosine_topk over the pre-filtered corpus for one query
    q0 = q.filter("query_id = 0")
    c_other = c.filter(F.col("label") != labels[0])
    ref = cosine_topk(q0, c_other, k=3).collect()
    mine = [r for r in got if r["query_id"] == 0]
    assert {(r["corpus_id"], r["cos"]) for r in mine} == {
        (r["corpus_id"], r["cos"]) for r in ref
    }


def test_margin_pairs_matches_numpy_reference(spark):
    """margin_pairs equals a numpy implementation of the LASER margin
    ('max' strategy): same best match per left item, margin to 4dp,
    and a raised threshold prunes low-margin pairs."""
    import numpy as np

    from sparkt.functions.similarity import margin_pairs

    rng = [(i, [float((i * 13 + d * 7) % 11) + 0.5 for d in range(6)])
           for i in range(24)]
    left = [(i, v) for i, v in rng if i < 6]
    right = [(i, v) for i, v in rng if i >= 6]
    ldf = spark.createDataFrame(left, ["left_id", "embedding"])
    rdf = spark.createDataFrame(right, ["right_id", "embedding"])
    k = 3
    got = {r["left_id"]: r for r in
           margin_pairs(ldf, rdf, k=k, threshold=0.0).collect()}

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return round(
            float(a @ b / max(np.linalg.norm(a) * np.linalg.norm(b),
                              1e-12)), 4)

    lmean = {}
    fwd = {}
    for li, lv in left:
        sims = sorted(((cos(lv, rv), -ri) for ri, rv in right),
                      reverse=True)[:k]
        lmean[li] = sum(s for s, _ in sims) / k
        fwd[li] = [(-ri, s) for s, ri in sims]
    rmean = {}
    for ri, rv in right:
        sims = sorted((cos(rv, lv) for _, lv in left), reverse=True)[:k]
        rmean[ri] = sum(sims) / k
    assert set(got) == set(lmean)
    for li in lmean:
        best = max(
            ((ri, s, round(s / ((lmean[li] + rmean[ri]) / 2), 4))
             for ri, s in fwd[li]),
            key=lambda t: (t[2], -t[0]),
        )
        r = got[li]
        assert (r["right_id"], r["cos"]) == (best[0], best[1])
        assert abs(r["margin"] - best[2]) < 1e-9

    high = margin_pairs(ldf, rdf, k=k, threshold=100.0).collect()
    assert high == []


def test_decay_features_matches_python(spark):
    """decay_features equals a Python reference: window boundary
    inclusive (ts == ref - window counts), decay halves per half-life,
    and the plan is one aggregate with a reused scalar subquery (no
    join, no collect)."""
    import datetime as dt
    import math

    from sparkt.functions.features import decay_features

    ref = dt.datetime(2024, 3, 31, 12, 0, 0)
    rows = [
        # (user, ts, value): u1 has events at ref, ref-1d (boundary,
        # IN the 1d window), ref-8d (out of 7d, in 30d)
        (1, ref, 10.0),
        (1, ref - dt.timedelta(days=1), 20.0),
        (1, ref - dt.timedelta(days=8), 40.0),
        (2, ref - dt.timedelta(days=14), 5.0),  # exactly 2 half-lives
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {r["user_id"]: r for r in decay_features(
        df, "user_id", "ts", value_col="value",
        windows_days=(1, 7, 30), half_life_days=7.0,
    ).collect()}

    u1 = got[1]
    assert (u1["n_1d"], u1["n_7d"], u1["n_30d"]) == (2, 2, 3)
    assert (u1["v_1d"], u1["v_7d"], u1["v_30d"]) == (30.0, 30.0, 70.0)
    expect = 1.0 + 0.5 ** (1 / 7) + 0.5 ** (8 / 7)
    assert abs(u1["decay"] - round(expect, 4)) < 1e-9
    u2 = got[2]
    assert (u2["n_1d"], u2["n_7d"], u2["n_30d"]) == (0, 0, 1)
    assert u2["decay"] == 0.25  # exactly two half-lives old

    out = decay_features(df, "user_id", "ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # ref rides a scalar subquery: the one
    assert "Subquery" in plan  # projected __ref feeds every window


def test_pca_fit_project_matches_numpy(spark):
    """The PCA covariance pass (``covariance_table``) equals numpy's
    population covariance at the oracle's 7dp contract."""
    import numpy as np

    from sparkt.functions.pca import covariance_table

    rng = np.random.RandomState(7)
    # anisotropic data so eigenvalues separate cleanly
    base = rng.randn(200, 3) * np.array([5.0, 2.0, 0.3])
    mix = np.array([[1.0, 0.2, 0.1], [0.0, 1.0, 0.3], [0.0, 0.0, 1.0]])
    data = base @ mix
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        ["vec_id", "embedding"],
    )
    cov_np = np.cov(data, rowvar=False, bias=True)

    # the oracle-facing covariance table agrees with numpy at 7dp
    ct = {(r["i"], r["j"]): r["cov"]
          for r in covariance_table(df, "embedding", dim=3).collect()}
    for i in range(3):
        for j in range(i, 3):
            assert abs(ct[(i + 1, j + 1)] - round(cov_np[i, j], 7)) < 1e-9


def test_count_anomalies_median_mad(spark):
    """count_anomalies: a single spiked day flags, steady days don't;
    MAD==0 degenerates to any-deviation; values match a numpy
    median/MAD reference."""
    import datetime as dt

    import numpy as np

    from sparkt.functions.features import count_anomalies

    d0 = dt.datetime(2024, 7, 1)
    rows = []
    # type 'a': counts 5,6,7,5,40 (spike on day 4; MAD = 1, so the
    # small 5/6/7 wobble stays under the 3.5 modified-z threshold)
    for day, c in enumerate([5, 6, 7, 5, 40]):
        rows += [("a", d0 + dt.timedelta(days=day, minutes=m))
                 for m in range(c)]
    # type 'b': constant 3/day -> MAD 0, no deviation, no flags
    for day in range(4):
        rows += [("b", d0 + dt.timedelta(days=day, minutes=m))
                 for m in range(3)]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {(r["event_type"], r["day"].day): r for r in
           count_anomalies(df, "ts", "event_type").collect()}

    a_counts = np.array([5, 6, 7, 5, 40])
    med = float(np.median(a_counts))
    mad = float(np.median(np.abs(a_counts - med)))
    spiked = got[("a", 5)]
    assert spiked["n"] == 40 and spiked["is_anomaly"]
    assert abs(spiked["med"] - med) < 1e-9
    assert abs(spiked["mad"] - mad) < 1e-9
    assert not any(r["is_anomaly"] for (t, _), r in got.items()
                   if t == "a" and r["n"] != 40)
    assert all(not r["is_anomaly"] and r["mad"] == 0.0
               for (t, _), r in got.items() if t == "b")


def test_cohort_retention_semantics(spark):
    """cohort_retention: anchor = first matching event; pre-anchor
    activity excluded; weeks are Mondays; counts exact."""
    import datetime as dt

    from sparkt.functions.features import cohort_retention

    mon = dt.datetime(2024, 4, 1, 10, 0)  # a Monday
    rows = [
        # u1 signs up week 0, active weeks 0 and 2
        (1, mon, "signup"),
        (1, mon + dt.timedelta(days=15), "click"),
        # u2 signs up week 0 too; activity BEFORE signup ignored
        (2, mon - dt.timedelta(days=3), "view"),
        (2, mon + dt.timedelta(days=1), "signup"),
        # u3 never signs up -> no cohort
        (3, mon, "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {(r["cohort_week"], r["week_offset"]):
           (r["n_cohort"], r["n_active"])
           for r in cohort_retention(
               df, "user_id", "ts",
               anchor_filter=F.col("event_type") == "signup",
           ).collect()}
    wk0 = dt.date(2024, 4, 1)
    assert got == {(wk0, 0): (2, 2), (wk0, 2): (2, 1)}


def test_funnel_stages_semantics(spark):
    """funnel_stages: greedy strictly-increasing subsequence matching —
    out-of-order steps don't count, same-timestamp consecutive steps
    don't count, repeats are fine, depth caps at len(steps)."""
    import datetime as dt

    from sparkt.functions.features import funnel_stages

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # u1: full funnel in order -> 3
        (1, at(0), "view"), (1, at(1), "click"), (1, at(2), "purchase"),
        # u2: purchase BEFORE click -> stops at view+click... purchase
        # at t0 precedes click, so stage 2
        (2, at(0), "purchase"), (2, at(1), "view"), (2, at(2), "click"),
        # u3: click and view same timestamp -> click not strictly after
        (3, at(0), "view"), (3, at(0), "click"),
        # u4: noise events only -> 0
        (4, at(0), "error"), (4, at(1), "signup"),
        # u5: repeats; the SECOND click is after view -> full funnel
        (5, at(0), "click"), (5, at(1), "view"), (5, at(2), "click"),
        (5, at(3), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r["user_id"]: r["stage"] for r in funnel_stages(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 3}


def test_corpus_diff_statuses(spark):
    """corpus_diff: added/removed/changed/unchanged per id; content
    identity is the whitespace-normalized fingerprint, so a pure
    whitespace change is 'unchanged'."""
    from sparkt.functions.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta"), (4, "kept")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "alpha   beta"),   # whitespace-only -> unchanged
         (2, "gamma prime"),    # changed
         (4, "kept"),           # unchanged
         (9, "brand new")],     # added; 3 removed
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 9: "added"}


def test_key_skew_report_matches_python(spark):
    """key_skew_report equals a Counter reference: exact counts,
    floor per-mille share, skew flag at factor × mean key load, and
    the two-phase cap equals the naive global top-N."""
    from collections import Counter

    from sparkt.functions.skew import key_skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 12 + [
        (f"k{i}",) for i in range(28)
    ]
    df = spark.createDataFrame(rows, ["k"])
    got = key_skew_report(df, "k", top_n=3, skew_factor=4.0).collect()

    counts = Counter(k for (k,) in rows)
    total = sum(counts.values())
    mean = total / len(counts)
    expect = sorted(counts.items(), key=lambda t: (-t[1], t[0]))[:3]
    assert [(r["k"], r["n_rows"]) for r in got] == expect
    for r in got:
        assert r["share_permille"] == int(r["n_rows"] * 1000 / total)
        assert r["is_skewed"] == (r["n_rows"] > 4.0 * mean)
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["is_skewed"] and not got[2]["is_skewed"]


def test_normalize_text_semantics(spark):
    """normalize_text: curly quotes/dashes/NBSP fold to ASCII,
    ellipsis expands, C0/C1 controls are stripped, whitespace runs
    collapse, and the plan is a shuffle-free narrow projection."""
    from sparkt.functions.text import normalize_text

    cases = [
        (1, "‘quoted’ “text”"),
        (2, "a–b—c"),
        (3, "wait… what"),
        (4, "bell\x07 and\x00 nul"),
        (5, "  spaced out\t\n text  "),
        (6, "tabs\tand\nnewlines stay   collapsed"),
    ]
    df = spark.createDataFrame(cases, ["i", "t"])
    out = df.select("i", normalize_text(F.col("t")).alias("n"))
    got = {r["i"]: r["n"] for r in out.collect()}
    assert got[1] == "'quoted' \"text\""
    assert got[2] == "a-b-c"
    assert got[3] == "wait... what"
    assert got[4] == "bell and nul"
    assert got[5] == "spaced out text"
    assert got[6] == "tabs and newlines stay collapsed"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_segment_audio_matches_python(spark):
    """segment_audio: windows tile the stub-probed duration with a
    partial last segment, sample counts are (ms × rate) // 1000, and a
    zero-duration clip yields no rows."""
    import hashlib

    from sparkt.functions.multimodal import AUDIO_RATES, segment_audio

    payloads = [(i, f"clip-{i}".encode()) for i in range(12)]
    df = spark.createDataFrame(payloads, ["item_id", "content"])
    got = {}
    for r in segment_audio(df, window_ms=7000).collect():
        got.setdefault(r["item_id"], []).append(r)

    n_expected = 0
    for i, content in payloads:
        d = hashlib.md5(content).hexdigest()
        duration = int(d[4:8], 16)
        rate = AUDIO_RATES[int(d[8], 16) % 4]
        n_seg = (duration + 6999) // 7000
        n_expected += n_seg
        segs = sorted(got.get(i, []), key=lambda r: r["seg_idx"])
        assert len(segs) == n_seg
        for k, r in enumerate(segs):
            end = min((k + 1) * 7000, duration)
            assert (r["start_ms"], r["end_ms"]) == (k * 7000, end)
            assert r["sample_rate"] == rate
            assert r["n_samples"] == (end - k * 7000) * rate // 1000
        if segs:
            assert segs[-1]["end_ms"] == duration  # partial tail
    assert sum(len(v) for v in got.values()) == n_expected


def test_incremental_dedup_against_seen(spark):
    from sparkt.functions.dedup import exact_dedup, incremental_dedup

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "Alpha  Beta"),      # dup of corpus doc 1 -> dropped
            (11, "epsilon zeta"),     # fresh
            (12, "epsilon  zeta"),    # dup within batch -> dropped
            (13, "gamma delta"),      # dup of corpus doc 2 -> dropped
        ],
        ["doc_id", "text"],
    )
    seen = exact_dedup(old, "text", "doc_id").select("fp")
    kept = incremental_dedup(new, seen, "text", "doc_id").collect()
    assert {r["doc_id"] for r in kept} == {11}


def test_duplicate_clusters_self_pairs_singletons(spark):
    """Docs appearing only in self-pairs (u == v) must come back as
    singleton clusters, not silently vanish (review finding)."""
    from sparkt.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (3, 3), (4, 4)], ["id_a", "id_b"]
    )
    got = {
        r["doc"]: r["cluster"]
        for r in duplicate_clusters(pairs, "id_a", "id_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_duplicate_clusters_null_ids_singletons(spark):
    """Null ids join no component and come back as one (null, null)
    singleton on BOTH paths; the driver union-find used to raise
    TypeError comparing None with an int."""
    from sparkt.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (None, None), (4, 4)],
        "id_a long, id_b long",
    )
    for threshold in (1_000_000, 0):  # driver path, distributed path
        rows = duplicate_clusters(pairs, driver_threshold=threshold).collect()
        assert sorted(
            (tuple(r) for r in rows), key=lambda t: (t[0] is None, t[0] or 0)
        ) == [(1, 1), (2, 1), (3, 3), (4, 4), (None, None)], threshold


def test_minhash_family_distinct_above_eight(spark):
    """Regression (review finding, verified): n_hashes=16 previously
    duplicated offsets (mh8..15 == mh0..7); all members must be
    distinct now, and >32 raises."""
    import pytest

    from sparkt.functions.dedup import _rot_offset, minhash_table

    for n in (8, 12, 16, 32):
        offs = [_rot_offset(i, n) for i in range(n)]
        assert len(set(offs)) == n, (n, offs)
    with pytest.raises(ValueError):
        _rot_offset(0, 33)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    sig = minhash_table(df, "text", "doc_id", n_hashes=16).first()
    assert len({sig[f"mh{i}"] for i in range(16)}) == 16


def test_zero_norm_embeddings_do_not_crash(spark):
    """Regression (review finding, verified under ANSI): an all-zero
    embedding must not DIVIDE_BY_ZERO-kill cosine paths."""
    from sparkt.functions.similarity import cosine_topk, hard_negatives

    rows = [
        (0, [0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0], 1),
        (2, [0.0, 1.0, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.select(F.col("vec_id").alias("query_id"), "embedding", "label")
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding", "label")
    out = cosine_topk(q.drop("label"), c.drop("label"), k=2).collect()
    assert len(out) == 6  # 3 queries x 2 — no crash
    assert all(abs(r["cos"]) <= 1.0 for r in out)
    out = hard_negatives(q, c, k=1).collect()
    assert len(out) == 3


def test_lsh_bands_validates_signature_length(spark):
    """minhash_candidate_pairs rejects band settings that leave a band
    empty (n_hashes < n_bands keys every doc on md5('') — all pairs)
    or leave hashes unread (n_hashes % n_bands != 0), at build time;
    lsh_calibration inherits the check. Unrelated docs still never
    pair at the gates' 8/4 setting."""
    import pytest

    from sparkt.functions.dedup import lsh_calibration, minhash_candidate_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence about spark"),
         (3, "bananas oranges apples grapes melons pears"),
         (4, "distributed query engines plan joins and scans")],
        ["doc_id", "text"],
    )
    for n_hashes, n_bands in ((4, 8), (8, 16), (6, 4), (8, 0)):
        with pytest.raises(ValueError, match="multiple of n_bands"):
            minhash_candidate_pairs(
                df, "text", "doc_id", n_hashes=n_hashes, n_bands=n_bands
            )
    with pytest.raises(ValueError, match="multiple of n_bands"):
        lsh_calibration(df, "text", "doc_id", n_hashes=4, n_bands=8)
    assert minhash_candidate_pairs(
        df, "text", "doc_id", n_hashes=8, n_bands=4
    ).count() == 0


def test_ivf_trained_centroids_use_l2_metric(spark):
    """With kmeans-trained centroids, ivf assignment/probing uses the
    SAME argmin-L2 metric (and tie-break) as the fit; full-probe still
    equals brute force."""
    from sparkt.functions.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_assign,
        kmeans_fit,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 9) - 4.0 for d in range(6)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_fit(df, k=4, iters=2)
    q = df.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = df.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = cosine_topk(q, c, k=3).select("query_id", "corpus_id", "cos")
    full = ivf_topk(q, c, dim=6, k=3, n_probe=4, centroids=cents) \
        .select("query_id", "corpus_id", "cos")
    assert full.exceptAll(exact).count() == 0
    assert exact.exceptAll(full).count() == 0
    # partial probe: every returned neighbor's cell is among the
    # query's L2-nearest probe cells (metric consistency smoke)
    part = ivf_topk(q, c, dim=6, k=2, n_probe=2, centroids=cents)
    assert part.count() > 0
    assigned = df.select(
        "vec_id", kmeans_assign(F.col("embedding"), cents).alias("cell")
    )
    assert assigned.select("cell").distinct().count() >= 2


def test_rank_quantile_buckets_two_phase_equals_single_window(spark):
    """The skew-safe coarse-grid + prefix-offset rank must EXACTLY
    equal the naive single-window formulation (p5's scale guarantee),
    including ties and scores pinned to grid-cell boundaries."""
    from sparkt.functions.sampling import rank_quantile_buckets

    rows = []
    for i in range(400):
        # deliberately collide scores (ties) and hit exact grid edges
        s = ((i * 37) % 64) / 64.0
        rows.append((f"lang{i % 3}", i, s))
    df = spark.createDataFrame(rows, ["lang", "doc_id", "q"])
    fast = rank_quantile_buckets(
        df, "lang", "q", "doc_id", two_phase=True
    )
    ref = rank_quantile_buckets(
        df, "lang", "q", "doc_id", two_phase=False
    )
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0
    # the cut is a partition of each language: every label present,
    # head counts = ceil(n/3)
    counts = {
        (r["lang"], r["bucket"]): r["n"]
        for r in fast.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    import math

    for lang in ("lang0", "lang1", "lang2"):
        n = sum(v for (lg, _b), v in counts.items() if lg == lang)
        assert counts[(lang, "head")] == math.ceil(n / 3)


def test_bloom_filter_membership_and_merge(spark):
    """Bloom invariants: NO false negatives ever; the filter built on
    A∪B equals bit_or-merging the filters of A and B (the mergeable
    rollup contract, same as the HLL sketches)."""
    from sparkt.functions.sketches import bloom_build, bloom_probe

    a = spark.createDataFrame(
        [(i, f"k{i}") for i in range(0, 60)], ["id", "v"]
    )
    b = spark.createDataFrame(
        [(i, f"k{i}") for i in range(60, 120)], ["id", "v"]
    )
    out = spark.createDataFrame(
        [(i, f"x{i}") for i in range(2000)], ["id", "v"]
    )
    bloom_ab = bloom_build(a.union(b), "v", m_bits=2048, k_hashes=3)
    # membership: every inserted key probes true
    probed = bloom_probe(
        a.union(b), "id", "v", bloom_ab, m_bits=2048, k_hashes=3
    )
    assert probed.filter("NOT maybe_member").count() == 0
    # false-positive rate on disjoint keys stays near theory
    fp = bloom_probe(
        out, "id", "v", bloom_ab, m_bits=2048, k_hashes=3
    ).filter("maybe_member").count()
    assert fp < 2000 * 0.10  # theory ~0.5% at n=120,m=2048,k=3
    # mergeability: union-then-build == build-then-bit_or-merge
    merged = (
        bloom_build(a, "v", m_bits=2048, k_hashes=3)
        .union(bloom_build(b, "v", m_bits=2048, k_hashes=3))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert merged.exceptAll(bloom_ab).count() == 0
    assert bloom_ab.exceptAll(merged).count() == 0


def test_rank_quantile_buckets_null_scores_rank_last(spark):
    """NULL scores sort LAST (parity with the single-window DESC
    nulls-last ordering) in BOTH formulations — review-found: the grid
    clamp used to land them in the top cell as 'head'."""
    from sparkt.functions.sampling import rank_quantile_buckets

    df = spark.createDataFrame(
        [("en", 1, 0.9), ("en", 2, None), ("en", 3, 0.1)],
        "lang string, doc_id long, q double",
    )
    for tp in (True, False):
        rows = {
            r["doc_id"]: (r["rank"], r["bucket"])
            for r in rank_quantile_buckets(
                df, "lang", "q", "doc_id", two_phase=tp
            ).collect()
        }
        assert rows[1] == (1, "head")
        assert rows[3] == (2, "middle")
        assert rows[2] == (3, "tail")


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """Duplicate (id, value) probe rows must still report membership —
    review-found: the sum==k test double-counted duplicated groups."""
    from sparkt.functions.sketches import bloom_build, bloom_probe

    df = spark.createDataFrame(
        [(1, "k1"), (1, "k1"), (2, "k2")], ["id", "v"]
    )
    bloom = bloom_build(df, "v", m_bits=512, k_hashes=3)
    probed = bloom_probe(df, "id", "v", bloom, m_bits=512, k_hashes=3)
    assert probed.filter("NOT maybe_member").count() == 0


def test_mixture_weights_zero_token_domain(spark):
    """A domain whose sizes sum to 0 yields zero weights instead of an
    ANSI DIVIDE_BY_ZERO job kill (review-found)."""
    from sparkt.functions.sampling import mixture_weights

    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("b", 100)], ["d", "n"]
    )
    rows = {
        r["d"]: r
        for r in mixture_weights(df, "d", "n", alpha=0.5).collect()
    }
    assert rows["a"]["weight"] == 0.0
    assert rows["a"]["accept_rate"] == 0.0
    assert rows["a"]["epochs"] == 0
    assert rows["b"]["weight"] == 1.0


def test_cms_never_underestimates_and_merges(spark):
    """Count-Min invariants: the estimate is ALWAYS >= the true count
    (for any key set/geometry), and summing two sub-sketch counter
    tables equals the sketch of the union (mergeable rollup)."""
    from sparkt.functions.sketches import cms_build, cms_estimate

    a = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(200)], ["v"]
    )
    b = spark.createDataFrame(
        [(f"k{i % 13}",) for i in range(300)], ["v"]
    )
    both = a.union(b)
    cms = cms_build(both, "v", width=16, depth=3)  # force collisions
    est = cms_estimate(both.distinct(), "v", cms, width=16, depth=3)
    exact = both.groupBy("v").count()
    rows = est.join(exact, "v").collect()
    assert rows and all(r["cms_est"] >= r["count"] for r in rows)
    merged = (
        cms_build(a, "v", width=16, depth=3)
        .union(cms_build(b, "v", width=16, depth=3))
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert merged.exceptAll(cms).count() == 0
    assert cms.exceptAll(merged).count() == 0


def test_shuffle_shards_deterministic_and_packed(spark):
    """shuffle_shards: md5-seeded order is rerun-stable, the two-phase
    prefix sum equals the single-window formulation, and greedy
    packing keeps every shard's preceding offset below shard_size."""
    from pyspark.sql import functions as F

    from sparkt.functions.sampling import shuffle_shards

    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 10).alias("sz"),
    )
    out = shuffle_shards(
        df, "doc_id", "sz", seed="t", shard_size=500, prefix_chars=1
    ).orderBy("shuffle_key")
    rows = out.collect()
    # rerun → identical assignment (no rand())
    rows2 = shuffle_shards(
        df, "doc_id", "sz", seed="t", shard_size=500, prefix_chars=1
    ).orderBy("shuffle_key").collect()
    assert rows == rows2
    # two-phase prefix sum == running exclusive cumsum in key order
    run = 0
    for r in rows:
        assert r["global_start"] == run
        assert r["shard_id"] == run // 500
        run += r["size"]
    # a different seed draws a different permutation
    other = shuffle_shards(
        df, "doc_id", "sz", seed="u", shard_size=500, prefix_chars=1
    ).orderBy("shuffle_key").collect()
    assert [r["doc_id"] for r in other] != [r["doc_id"] for r in rows]


def test_bpe_tokenizer_parity_on_fixed_merges(spark):
    """Real-BPE opt-in (VERDICT r6 ask #7): the pandas-UDF tokenizer
    applies a fixed merges table with the canonical greedy
    lowest-rank-first loop — pinned against hand-computed encodings,
    and chunk_table(bpe_merges=...) packs on those counts."""
    from pyspark.sql import functions as F

    from sparkt.functions.text import bpe_tokens_udf, chunk_table

    merges = [
        ("l", "o"),      # rank 0
        ("lo", "w"),     # rank 1
        ("e", "r"),      # rank 2
        ("low", "er"),   # rank 3
        ("n", "e"),      # rank 4
        ("ne", "w"),     # rank 5
    ]
    df = spark.createDataFrame(
        [
            (1, "low lower newest"),
            (2, "LOW-er, new!"),   # case/punct pre-tokenization
            (3, ""),               # empty → zero tokens (no phantom)
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select(
            "doc_id", bpe_tokens_udf(merges)(F.col("text")).alias("toks")
        ).collect()
    }
    # hand-derived: low→[low]; lower→[lower] (low+er via rank 3);
    # newest→[new,e,s,t] (n+e rank 4 beats e+r? no: ne created first,
    # then ne+w rank 5, remaining e,s,t — er can't form, e is consumed)
    assert got[1] == ["low", "lower", "new", "e", "s", "t"]
    # "LOW-er," lowercases and splits on punctuation: low + er
    assert got[2] == ["low", "er", "new"]
    assert got[3] == []

    chunks = chunk_table(
        df.filter("doc_id = 1"), "text", "doc_id",
        window=4, stride=4, bpe_merges=merges,
    ).collect()
    # 6 BPE tokens → windows [0:4] and [4:6]
    assert [(c["chunk_idx"], c["n_tokens"]) for c in chunks] == [
        (0, 4), (1, 2)
    ]


def test_shuffle_shards_null_id_fails_loudly(spark):
    """r9 review fix: a NULL id makes the md5 shuffle key NULL; the
    default (eager-offsets) plan must raise a clear error instead of
    crashing on int(None) or silently mis-bucketing."""
    import pytest as _pytest

    from sparkt.functions.sampling import shuffle_shards

    df = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "doc_id int, sz int"
    )
    with _pytest.raises(ValueError, match="NULL"):
        shuffle_shards(df, "doc_id", "sz", seed="n", shard_size=64)


def test_margin_pairs_keeps_colliding_ids(spark):
    """ADVICE r9 (medium): margin_pairs aligns two INDEPENDENT
    collections, so a left id that numerically equals a right id must
    stay a candidate. Both sides 0-based here; the pre-fix code
    silently dropped every diagonal pair from candidates AND kNN
    means."""
    from sparkt.functions.similarity import margin_pairs

    # identical collections with identical 0-based ids: the best match
    # for left i is right i (cos = 1.0), which collides by id
    vecs = [(i, [float((i * 7 + d * 3) % 5) + 1.0 for d in range(4)])
            for i in range(5)]
    ldf = spark.createDataFrame(vecs, ["left_id", "embedding"])
    rdf = spark.createDataFrame(vecs, ["right_id", "embedding"])
    got = {r["left_id"]: r for r in
           margin_pairs(ldf, rdf, k=2, threshold=0.0).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for i, r in got.items():
        assert r["right_id"] == i and r["cos"] == 1.0


def test_funnel_stages_empty_steps(spark):
    """ADVICE r9 (low): an empty funnel must return stage 0 per
    entity, not raise INVALID_ARRAY_INDEX under ANSI mode (Column &
    does not short-circuit element_at(steps, 0))."""
    from sparkt.functions.features import funnel_stages

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view"),
         (2, "2024-01-01 00:01:00", "click")],
        "user_id int, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["user_id"]: r["stage"] for r in funnel_stages(
        df, "user_id", "ts", "event_type", []).collect()}
    assert got == {1: 0, 2: 0}


def test_weighted_bernoulli_huge_weight_no_overflow(spark):
    """ADVICE r9 (low): a weight >= 2^31 (byte sizes of large files)
    must not overflow w * 2^32 under ANSI mode; P saturates at 1, so
    every such row survives."""
    from sparkt.functions.sampling import weighted_bernoulli_sample

    df = spark.createDataFrame(
        [(i, (1 << 31) + i) for i in range(8)], "doc_id int, w long"
    )
    kept = weighted_bernoulli_sample(df, "w", "doc_id", scale=1000).count()
    assert kept == 8


def test_inverted_index_string_doc_ids(spark):
    """ADVICE r9 (low): the phase-1 sub-bucket must be type-agnostic
    (xxhash64), not pmod(doc, 16) which ANSI-fails on string ids.
    Capped postings still exactly equal the naive head of the sorted
    posting list."""
    from sparkt.functions.index import inverted_index

    rows = [(f"doc-{i:03d}", "alpha beta " + ("alpha " * (i % 3)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["term"]: r for r in
           inverted_index(df, "text", "doc_id", max_postings=5).collect()}
    assert got["alpha"]["df"] == 30
    assert got["alpha"]["postings"] == [f"doc-{i:03d}" for i in range(5)]
    assert got["beta"]["df"] == 30


def test_triangle_count_matches_networkx(spark):
    """triangle_count equals networkx per-vertex triangle counts on a
    messy edge list (duplicates, reversed duplicates, self-loops,
    isolated-from-triangles vertices)."""
    import networkx as nx

    from sparkt.functions.graph import triangle_count

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3),
             (2, 1), (3, 2),          # reversed/duplicate edges
             (6, 6),                  # self-loop (dropped)
             (7, 8),                  # triangle-free component
             (1, 4)]                  # closes (1,3,4)
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: (r["deg"], r["triangles"])
           for r in triangle_count(df).collect()}
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in edges if a != b)
    tri = nx.triangles(g)
    assert got == {n: (g.degree(n), tri[n]) for n in g.nodes}
    # local clustering coefficient vs networkx (4dp contract)
    cc = {r["node"]: r["clustering_coeff"]
          for r in triangle_count(df).collect()}
    nxcc = nx.clustering(g)
    assert all(abs(cc[n] - round(nxcc[n], 4)) < 1e-9 for n in g.nodes)


def test_triangle_count_hub_graph(spark):
    """Degree-orientation sanity on a star-plus-rim graph: a hub with
    many spokes must count exactly the rim-closed triangles."""
    import networkx as nx

    from sparkt.functions.graph import triangle_count

    hub = [(0, i) for i in range(1, 21)]
    rim = [(i, i + 1) for i in range(1, 20, 2)]  # close 10 triangles
    df = spark.createDataFrame(hub + rim, "src int, dst int")
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    g = nx.Graph(hub + rim)
    tri = nx.triangles(g)
    assert got == dict(tri)
    assert got[0] == 10


def test_rrf_fuse_matches_python(spark):
    """rrf_fuse equals the published formula on runs with partial
    overlap; a duplicated pair keeps its best rank; topn trims."""
    from sparkt.functions.index import rrf_fuse

    run_a = spark.createDataFrame(
        [("q", 10, 1), ("q", 11, 2), ("q", 12, 3), ("q", 12, 5)],
        "qid string, doc int, rank int",
    )  # (q,12) duplicated -> min rank 3
    run_b = spark.createDataFrame(
        [("q", 11, 1), ("q", 13, 2)], "qid string, doc int, rank int"
    )
    got = {r["doc"]: r for r in rrf_fuse([run_a, run_b], k=60).collect()}
    exp = {
        10: (1, None, round(1 / 61, 6)),
        11: (2, 1, round(1 / 62 + 1 / 61, 6)),
        12: (3, None, round(1 / 63, 6)),
        13: (None, 2, round(1 / 62, 6)),
    }
    for doc, (r0, r1, score) in exp.items():
        row = got[doc]
        assert (row["rank_0"], row["rank_1"]) == (r0, r1)
        assert abs(row["rrf"] - score) < 1e-9
    # fused order: 11 (two hits) > 10 > 12 > 13? 1/61 vs 1/62: 10 > 13 > 12
    order = [r["doc"] for r in sorted(got.values(),
                                      key=lambda r: r["fused_rank"])]
    assert order == [11, 10, 13, 12]
    top2 = rrf_fuse([run_a, run_b], k=60, topn=2).collect()
    assert sorted(r["doc"] for r in top2) == [10, 11]


def test_retrieval_metrics_matches_python(spark):
    """retrieval_metrics: recall/precision/MRR per query, including a
    query with zero hits in the top-k (mrr = 0, first_rel_rank = 0)
    and qrels duplicates (deduped)."""
    from sparkt.functions.evaluate import retrieval_metrics

    run = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("a", 3, 3),
         ("b", 4, 1), ("b", 5, 2),
         ("c", 6, 1)],
        "query_id string, corpus_id int, rank int",
    )
    qrels = spark.createDataFrame(
        [("a", 2), ("a", 2), ("a", 9),      # dup pair; 9 unretrieved
         ("b", 7),                          # no hit for b
         ("c", 6), ("c", 8)],
        "query_id string, corpus_id int",
    )
    got = {r["query_id"]: r for r in
           retrieval_metrics(run, qrels, k=3).collect()}
    a, b, c = got["a"], got["b"], got["c"]
    assert (a["n_rel"], a["n_ret"], a["n_rel_ret"],
            a["first_rel_rank"]) == (2, 3, 1, 2)
    assert (a["recall_at_k"], a["precision_at_k"], a["mrr"]) == (
        0.5, round(1 / 3, 4), 0.5)
    assert (b["n_rel"], b["n_rel_ret"], b["first_rel_rank"],
            b["mrr"]) == (1, 0, 0, 0.0)
    assert (c["n_rel"], c["n_rel_ret"], c["mrr"]) == (2, 1, 1.0)
    # binary-gain nDCG vs python (log2-based, threshold-only column)
    import math

    def dcg(ranks):
        return sum(1.0 / math.log2(r + 1) for r in ranks)

    assert abs(a["ndcg_at_k"] - round(dcg([2]) / dcg([1, 2]), 6)) < 1e-9
    assert b["ndcg_at_k"] == 0.0
    assert abs(c["ndcg_at_k"] - round(dcg([1]) / dcg([1, 2]), 6)) < 1e-9


def test_cluster_safe_split_no_leakage(spark):
    """cluster_safe_split: every member of a cluster gets the SAME
    split, fractions are respected (binomial-loose), and bad
    fractions raise."""
    import pytest as _pytest

    from sparkt.functions.sampling import cluster_safe_split

    rows = [(i, f"c{i % 50}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id int, cluster string")
    out = cluster_safe_split(
        df, "cluster", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    n_train = sum(1 for r in out if r["split"] == "train")
    assert 200 <= n_train <= 400  # 50 clusters x 8 rows, loose binomial
    with _pytest.raises(ValueError, match="sum to 1"):
        cluster_safe_split(df, "cluster", {"train": 0.5, "val": 0.1})


def test_strip_html_semantics(spark):
    """strip_html: element-wise script/style drop (case-insensitive,
    tags inside code don't terminate early), comment removal, tag→
    space seam, entity decode with &amp; LAST (double-encoded text
    stays single-encoded), graceful malformed markup."""
    from sparkt.functions.text import strip_html

    rows = [
        (1, '<SCRIPT type="t">if(a<b){x="</p>";}</script>kept'),
        (2, '<style media="x">p>a{}</style>kept'),
        (3, 'a</p><p>b'),                    # seam: no word fusion
        (4, 'x &amp;lt; y'),                 # decodes to 'x &lt; y'
        (5, '<!-- <p>gone</p> -->kept'),
        (6, 'broken <never closed'),
        (7, '  lots\t of\n space  '),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r["i"]: r["t"] for r in df.select(
        "i", strip_html(F.col("text")).alias("t")).collect()}
    assert got[1] == "kept"
    assert got[2] == "kept"
    assert got[3] == "a b"
    assert got[4] == "x &lt; y"
    assert got[5] == "kept"
    assert got[6] == "broken <never closed"
    assert got[7] == "lots of space"


def test_centroid_outliers_matches_numpy(spark):
    """centroid_outliers equals a numpy reference: per-label centroid,
    euclidean distance rounded 4dp, top-k by (dist desc, id asc); the
    two-phase top-N equals the naive single-window formulation."""
    import numpy as np

    from sparkt.functions.similarity import centroid_outliers

    dim, k = 6, 2
    rows = [(i, i % 3, [float((i * 17 + d * 5) % 13) for d in range(dim)])
            for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {(r["label"], r["vec_id"], r["dist"], r["rank"])
           for r in centroid_outliers(df, dim=dim, k=k).collect()}

    exp = []
    for lab in (0, 1, 2):
        mem = [(i, np.array(v)) for i, l, v in rows if l == lab]
        c = np.mean([v for _, v in mem], axis=0)
        scored = sorted(
            ((round(float(np.linalg.norm(v - c)), 4), i) for i, v in mem),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        exp.extend((lab, i, d, r + 1)
                   for r, (d, i) in enumerate(scored))
    assert got == set(exp)


def test_readability_stats_matches_python(spark):
    """readability_stats equals the documented formula on texts with
    known counts; degenerate text floors at 1 everywhere."""
    from sparkt.functions.text import readability_stats

    rows = [(1, "The cat sat. The dog ran! Did it?"),
            (2, ""),
            (3, "xyz qrs")]  # no vowels -> syllables floor 1
    df = spark.createDataFrame(rows, "i int, text string")
    r = readability_stats(F.col("text"))
    got = {x["i"]: x for x in df.select(
        "i", *[v.alias(k) for k, v in r.items()]).collect()}
    a = got[1]
    assert (a["n_words"], a["n_sentences"]) == (8, 3)
    # vowel groups: e,a,a,e,o,a,i,i = 8
    assert a["n_syllables"] == 8
    import math

    assert a["flesch"] == math.floor(
        (206.835 - 1.015 * (8 / 3) - 84.6 * (8 / 8)) * 10_000
    ) / 10_000
    assert (got[2]["n_words"], got[2]["n_sentences"],
            got[2]["n_syllables"]) == (1, 1, 1)
    assert got[3]["n_syllables"] == 1


def test_readability_flesch_floor_quantized_at_round_boundary(spark):
    """r14: the sf1 sweep caught w=64, s=1, sy=154 →
    −61.693749999999994, whose round(4) differs between Spark and
    DuckDB (half-way handling on a just-below-midpoint double). The
    flesch score is now FLOOR-quantized (the t2 doctrine: floor of the
    same IEEE double is engine-identical); this pins the boundary
    case."""
    import math

    text = ". " + " ".join(
        (["bcd"] * 31 + ["a"] * 31 + ["ae ae ae ae"])
    )  # engineered counts don't matter — assert vs the same formula
    rows = [(1, text)]
    df = spark.createDataFrame(rows, "i int, text string")
    from sparkt.functions.text import readability_stats

    r = readability_stats(F.col("text"))
    got = df.select(*[v.alias(k) for k, v in r.items()]).collect()[0]
    w, s, sy = got["n_words"], got["n_sentences"], got["n_syllables"]
    expected = math.floor(
        (206.835 - 1.015 * (w / s) - 84.6 * (sy / w)) * 10_000
    ) / 10_000
    assert got["flesch"] == expected
    # and the exact sf1 boundary arithmetic is floor-stable
    v = 206.835 - 1.015 * (64 / 1) - 84.6 * (154 / 64)
    assert math.floor(v * 10_000) / 10_000 == -61.6938


def test_content_lines_justext_semantics(spark):
    """content_lines: short lines die, stopword-poor lines die,
    stopword-dense prose of >= min_tokens survives; fraction compare
    is integer-exact at the boundary (exactly 1/5 survives)."""
    from sparkt.functions.text import content_lines

    text = "\n".join([
        "Home | About | Login",                   # stopword-poor
        "the quick brown fox jumps over dogs hi wow tree",  # 1/10 < 1/5
        "cats like the warm mats for a nap",      # 3/8 passes
        "for it",                                 # too short
        "alpha beta gamma delta the",             # exactly 1/5 passes
    ])
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(content_lines(F.col("text")).alias("c")).collect()
    assert got[0]["c"] == [
        "cats like the warm mats for a nap",
        "alpha beta gamma delta the",
    ]


def test_attribution_matches_python(spark):
    """attribution: last-touch = most recent prior touch, first-touch
    = earliest prior touch, '(none)' when untouched; value sums 2dp."""
    import datetime as dt

    from sparkt.functions.features import attribution

    t0 = dt.datetime(2024, 6, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [
        # user 1: view@1, click@2, buy@3 (last=click, first=view),
        #         view@4, buy@5 (last=view, first=view)
        (1, m(1), "view", 0.0), (1, m(2), "click", 0.0),
        (1, m(3), "purchase", 10.0),
        (1, m(4), "view", 0.0), (1, m(5), "purchase", 2.5),
        # user 2: buy with no touches -> (none)
        (2, m(1), "signup", 0.0), (2, m(2), "purchase", 7.0),
        # user 3: click only, no purchase -> contributes nothing
        (3, m(1), "click", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double"
    )
    got = {(r["model"], r["touch_type"]):
           (r["n_conversions"], r["total_value"])
           for r in attribution(
               df, "user_id", "ts", "event_type", "value").collect()}
    assert got == {
        ("last", "click"): (1, 10.0),
        ("last", "view"): (1, 2.5),
        ("last", "(none)"): (1, 7.0),
        ("first", "view"): (2, 12.5),
        ("first", "(none)"): (1, 7.0),
    }


def test_lsh_calibration_matches_python(spark):
    """lsh_calibration: band counts from the d3 pair semantics, exact
    Jaccard deciles from python set arithmetic, identical twins land
    in (max_bands, decile 10)."""
    from sparkt.functions.dedup import lsh_calibration

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # twin of 1
        (3, "alpha beta gamma delta epsilon different"),  # near-dup
        (4, "completely other words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["n_shared_bands"], r["jaccard_decile"]): r["n_pairs"]
           for r in lsh_calibration(df, "text", "doc_id").collect()}
    # the twin pair MUST share all 4 bands at decile 10
    assert got.get((4, 10)) == 1
    # every reported pair count is >= 1 and deciles are in range
    assert all(0 <= d <= 10 for (_, d) in got)
    assert sum(got.values()) >= 1


def test_apply_mixture_semantics(spark):
    """apply_mixture: unlisted domains are DROPPED (the least()-null
    trap pin), quota >= domain total keeps everything, tiny quota
    thins, and the survivor set is salt-deterministic."""
    from sparkt.functions.sampling import apply_mixture

    rows = [(i, "a" if i < 20 else ("b" if i < 40 else "c"), 10)
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, dom string, nt int")
    kept = apply_mixture(
        df, "dom", "doc_id", "nt", {"a": 1.0, "b": 1.0}, 400
    ).collect()
    doms = {r["dom"] for r in kept}
    assert "c" not in doms                       # unlisted -> dropped
    a = [r for r in kept if r["dom"] == "a"]
    assert len(a) == 20                          # quota 200 = total 200
    b1 = {r["doc_id"] for r in kept if r["dom"] == "b"}
    again = {r["doc_id"] for r in apply_mixture(
        df, "dom", "doc_id", "nt", {"a": 1.0, "b": 1.0}, 400).collect()
        if r["dom"] == "b"}
    assert b1 == again                           # deterministic
    thin = apply_mixture(
        df, "dom", "doc_id", "nt", {"b": 1.0}, 20).collect()
    assert 0 <= len(thin) <= 6                   # P = 0.1 of 20 rows


def test_gate_registry_consistency():
    """Every gate has BOTH a queries() entry and an oracle, keys match
    exactly, and every oracle is a non-empty SELECT/WITH statement —
    the driver contract the correctness artifact depends on."""
    from sparkt.queries import ORACLES, QUERIES

    assert set(QUERIES) == set(ORACLES)
    for name, sql in ORACLES.items():
        assert callable(QUERIES[name]), name
        body = sql.strip().lower()
        assert body.startswith(("select", "with")), name


def test_cooccurrence_pairs_matches_python(spark):
    """cooccurrence_pairs: support counts groups (duplicates collapse),
    ordering a < b, min_count prunes, max_group_size drops oversized
    groups BEFORE pairing."""
    from itertools import combinations

    from sparkt.functions.features import cooccurrence_pairs

    rows = [("g1", 1), ("g1", 2), ("g1", 3), ("g1", 2),   # dup (g1,2)
            ("g2", 2), ("g2", 3),
            ("g3", 1), ("g3", 2),
            ("big", 10), ("big", 11), ("big", 12), ("big", 13)]
    df = spark.createDataFrame(rows, "g string, item int")
    got = {(r["item_a"], r["item_b"]): r["support"]
           for r in cooccurrence_pairs(
               df, "g", "item", max_group_size=3).collect()}
    exp = {}
    for g in ("g1", "g2", "g3"):
        members = sorted({i for gg, i in rows if gg == g})
        for a, b in combinations(members, 2):
            exp[(a, b)] = exp.get((a, b), 0) + 1
    assert got == exp
    assert (10, 11) not in got                  # big group dropped
    pruned = {(r["item_a"], r["item_b"]) for r in cooccurrence_pairs(
        df, "g", "item", min_count=2, max_group_size=3).collect()}
    assert pruned == {(1, 2), (2, 3)}  # both appear in two groups


def test_event_transitions_matches_python(spark):
    """event_transitions: lead-pair counts within the gap; pairs
    crossing the gap cut or entity boundary don't count."""
    import datetime as dt

    from sparkt.functions.features import event_transitions

    t0 = dt.datetime(2024, 6, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [(1, m(0), "view"), (1, m(5), "click"), (1, m(10), "buy"),
            (1, m(100), "view"),            # 90-min gap: no transition
            (2, m(0), "view"), (2, m(1), "view"),
            (3, m(0), "click")]             # singleton: nothing
    df = spark.createDataFrame(rows, "u int, ts timestamp, t string")
    got = {(r["src_type"], r["dst_type"]):
           (r["n_transitions"], r["avg_gap_s"])
           for r in event_transitions(df, "u", "ts", "t").collect()}
    assert got == {
        ("view", "click"): (1, 300.0),
        ("click", "buy"): (1, 300.0),
        ("view", "view"): (1, 60.0),
    }


def test_rfm_segments_matches_python(spark):
    """rfm_segments: quintile codes equal a python rank-cut reference
    (rank by score desc, id asc; code k iff rank <= ceil(n*k/5))."""
    import datetime as dt
    import math

    from sparkt.functions.features import rfm_segments

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(1, 16):
        for k in range(u % 4 + 1):
            rows.append((u, t0 + dt.timedelta(days=u % 7, minutes=k),
                         "purchase", float(u) * 3 + k))
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double"
    )
    got = {r["user_id"]: (r["r_code"], r["f_code"], r["m_code"], r["rfm"])
           for r in rfm_segments(df, "user_id", "ts", "value").collect()}

    per = {}
    for u, ts, _, v in rows:
        lt, n, mv = per.get(u, (ts, 0, 0.0))
        per[u] = (max(lt, ts), n + 1, round(mv + v, 10))
    per = {u: (lt, n, round(mv, 2)) for u, (lt, n, mv) in per.items()}
    n = len(per)

    def codes(scores):
        order = sorted(per, key=lambda u: (-scores[u], u))
        out = {}
        for rank, u in enumerate(order, 1):
            for k, lab in ((0.2, 5), (0.4, 4), (0.6, 3), (0.8, 2)):
                if rank <= math.ceil(n * k):
                    out[u] = lab
                    break
            else:
                out[u] = 1
        return out

    rc = codes({u: per[u][0].timestamp() for u in per})
    fc = codes({u: per[u][1] for u in per})
    mc = codes({u: per[u][2] for u in per})
    for u in per:
        assert got[u] == (rc[u], fc[u], mc[u],
                          f"{rc[u]}{fc[u]}{mc[u]}")


def test_perceptual_hash_matches_python(spark):
    """perceptual_hash: aHash bits equal a python reference over the
    stub thumbnail (md5 digest bytes, exact /16 mean, MSB-first
    packing); identical payloads share the hash."""
    import hashlib

    from sparkt.functions.multimodal import perceptual_hash

    rows = [(1, b"hello world"), (2, b"hello world"), (3, b"other")]
    df = spark.createDataFrame(rows, "item_id long, content binary")
    got = {r["item_id"]: r["ahash"]
           for r in perceptual_hash(df).collect()}

    def ref(b):
        px = list(hashlib.md5(b).digest())
        mean = sum(px) / 16.0
        return format(sum(1 << (15 - i) for i, p in enumerate(px)
                          if p > mean), "04x")

    assert got == {i: ref(b) for i, b in rows}
    assert got[1] == got[2] != got[3]
    assert all(len(h) == 4 for h in got.values())


def test_attribution_same_timestamp_and_pre_epoch(spark):
    """attribution tie rule (VERDICT r10 #2): a touch at EXACTLY the
    conversion's timestamp never gets credit (strictly-before RANGE
    frame), independent of type-name alphabetical order; and the
    biased 20-digit key keeps pre-1970 touches ordered (ADVICE r10 —
    a raw negative epoch's '-' sign used to break the zero-pad)."""
    import datetime as dt

    from sparkt.functions.features import attribution

    t0 = dt.datetime(2024, 6, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [
        # user 1: click strictly before, view at EXACT conversion ts
        # ('view' > 'purchase' alphabetically — the old masked case)
        (1, m(1), "click", 0.0), (1, m(2), "view", 0.0),
        (1, m(2), "purchase", 10.0),
        # user 2: only touch is AT the conversion ts and its type
        # sorts BEFORE 'purchase' ('click' < 'purchase') — the case
        # the old rows-frame wrongly credited. Must be (none) now.
        (2, m(3), "click", 0.0), (2, m(3), "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double"
    )
    got = {(r["model"], r["touch_type"]):
           (r["n_conversions"], r["total_value"])
           for r in attribution(
               df, "user_id", "ts", "event_type", "value").collect()}
    assert got == {
        # the view AT m(2) is excluded -> last strictly-before = click
        ("last", "click"): (1, 10.0),
        ("first", "click"): (1, 10.0),
        ("last", "(none)"): (1, 5.0),
        ("first", "(none)"): (1, 5.0),
    }

    # pre-1970 timestamps: first-touch must be the EARLIER (more
    # negative) one — broken under unbiased lexicographic padding.
    old = dt.datetime(1969, 1, 1)
    rows2 = [
        (9, old, "view", 0.0),
        (9, old + dt.timedelta(days=1), "click", 0.0),
        (9, dt.datetime(2024, 1, 1), "purchase", 3.0),
    ]
    df2 = spark.createDataFrame(
        rows2, "user_id int, ts timestamp, event_type string, value double"
    )
    got2 = {(r["model"], r["touch_type"]) for r in attribution(
        df2, "user_id", "ts", "event_type", "value").collect()}
    assert ("first", "view") in got2 and ("last", "click") in got2


def test_event_transitions_value_flow(spark):
    """event_transitions value_col (ADVICE r10): the SOURCE event's
    value sums per transition edge, rounded 2dp; omitted -> no
    sum_value column."""
    import datetime as dt

    from sparkt.functions.features import event_transitions

    t0 = dt.datetime(2024, 6, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    rows = [(1, m(0), "view", 1.25), (1, m(5), "click", 2.0),
            (1, m(10), "buy", 9.0),
            (2, m(0), "view", 0.5), (2, m(1), "click", 4.0)]
    df = spark.createDataFrame(
        rows, "u int, ts timestamp, t string, v double")
    out = event_transitions(df, "u", "ts", "t", value_col="v")
    got = {(r["src_type"], r["dst_type"]):
           (r["n_transitions"], r["sum_value"])
           for r in out.collect()}
    assert got == {("view", "click"): (2, 1.75),
                   ("click", "buy"): (1, 2.0)}
    assert "sum_value" not in event_transitions(df, "u", "ts", "t").columns


def test_cluster_safe_split_empty_dict_message(spark):
    """cluster_safe_split (ADVICE r10): an empty splits dict raises
    the non-empty message, not the confusing sum-to-1 one."""
    import pytest as _pytest

    from sparkt.functions.sampling import cluster_safe_split

    df = spark.createDataFrame([(1, "c")], "doc_id int, cluster string")
    with _pytest.raises(ValueError, match="non-empty"):
        cluster_safe_split(df, "cluster", {})


def test_perceptual_hash_string_ids(spark):
    """perceptual_hash (ADVICE r10): item_id keeps the INPUT type —
    string/UUID ids flow through instead of failing an Arrow cast."""
    from sparkt.functions.multimodal import perceptual_hash

    rows = [("doc-a", b"hello world"), ("doc-b", b"other")]
    df = spark.createDataFrame(rows, "item_id string, content binary")
    out = perceptual_hash(df)
    assert dict(out.dtypes)["item_id"] == "string"
    got = {r["item_id"]: r["ahash"] for r in out.collect()}
    assert set(got) == {"doc-a", "doc-b"}
    assert all(len(h) == 4 for h in got.values())


def test_retrieval_metrics_duplicate_run_rows(spark):
    """retrieval_metrics (ADVICE r10): duplicate (query, doc) rows in
    the top-k collapse to min rank — n_ret/n_rel_ret count DISTINCT
    docs (trec_eval convention), no double counting."""
    from sparkt.functions.evaluate import retrieval_metrics

    run = spark.createDataFrame(
        [("a", 1, 1), ("a", 1, 2), ("a", 2, 3), ("a", 2, 3)],
        "query_id string, corpus_id int, rank int",
    )
    qrels = spark.createDataFrame(
        [("a", 1), ("a", 2)], "query_id string, corpus_id int")
    r = retrieval_metrics(run, qrels, k=3).collect()[0]
    assert (r["n_ret"], r["n_rel_ret"], r["first_rel_rank"]) == (2, 2, 1)
    assert (r["recall_at_k"], r["mrr"]) == (1.0, 1.0)


def test_ivfpq_matches_numpy(spark):
    """pq_encode / ivfpq_topk vs a numpy ADC reference (VERDICT r10
    ask #2 — was the tree's only unverified operator): codes are the
    argmin-L2 sub-quantizer per subspace, ADC sums exact-query vs
    quantized-corpus distances, probes are the 2 nearest coarse
    cells, ties break to the lowest index / corpus id."""
    import numpy as np

    from sparkt.functions.similarity import (
        _pq_codebooks,
        _pseudo_centroids,
        ivfpq_topk,
        pq_encode,
    )

    dim, m, n_codes, n_cells, k = 16, 4, 8, 4, 3
    sub = dim // m
    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(40, dim)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = np.array(_pq_codebooks(dim, m, n_codes))   # m x codes x sub
    cents = np.array(_pseudo_centroids(dim, n_cells))  # cells x dim

    def np_codes(v):
        return [
            int(np.argmin(((v[j * sub:(j + 1) * sub] - books[j]) ** 2)
                          .sum(axis=1)))
            for j in range(m)
        ]

    got_codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(
        df, dim=dim, m=m, n_codes=n_codes).collect()}
    assert got_codes == {i: np_codes(vecs[i]) for i in range(40)}

    # full python IVF-PQ emulation
    cell_of = {i: int(np.argmin(((vecs[i] - cents) ** 2).sum(axis=1)))
               for i in range(40)}
    expected = {}
    for qi in range(5):
        d = ((vecs[qi] - cents) ** 2).sum(axis=1)
        c1 = int(np.argmin(d))
        d2 = d.copy(); d2[c1] = np.inf
        probe = {c1, int(np.argmin(d2))}
        cand = []
        for ci in range(40):
            if ci == qi or cell_of[ci] not in probe:
                continue
            adc = sum(
                ((vecs[qi][j * sub:(j + 1) * sub]
                  - books[j][np_codes(vecs[ci])[j]]) ** 2).sum()
                for j in range(m)
            )
            cand.append((round(float(adc), 10), ci))
        cand.sort()
        expected[qi] = [ci for _, ci in cand[:k]]

    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = df.select(F.col("vec_id").alias("corpus_id"), "embedding")
    out = ivfpq_topk(queries, corpus, dim=dim, k=k, m=m,
                     n_codes=n_codes, n_cells=n_cells, n_probe=2)
    got = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append(r["corpus_id"])
    assert got == {q: e for q, e in expected.items() if e}


def test_sentence_stats_matches_python(spark):
    """sentence_stats: [.!?]+ segmentation, empty segments drop, avg
    = one integer division, singletons and trailing terminators."""
    import re

    from sparkt.functions.text import sentence_stats

    rows = [
        (1, "one two. three four five! six?"),
        (2, "no terminator here"),
        (3, "!. leading and doubled.. ok."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_sentences"], r["n_words"],
                         r["avg_sentence_words"], r["max_sentence_words"])
           for r in sentence_stats(df, "text", "doc_id").collect()}

    def ref(t):
        sents = [s for s in re.split(r"[.!?]+", t) if s.strip()]
        wcs = [len(re.split(r"\s+", s.strip())) for s in sents]
        return (len(wcs), sum(wcs),
                round(sum(wcs) / max(len(wcs), 1), 4),
                max(wcs, default=0))

    assert got == {i: ref(t) for i, t in rows}


def test_calibration_report_matches_python(spark):
    """calibration_report: equal-width bins with the top edge closed
    (score 1.0 -> bin 9), counts/frac exact, gap from rounded
    operands."""
    from sparkt.functions.evaluate import calibration_report

    rows = [(0.05, 0), (0.08, 1), (0.55, 1), (0.58, 1),
            (0.95, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    got = {r["bin"]: (r["n"], r["n_pos"], r["frac_pos"],
                      r["avg_score"], r["gap"])
           for r in calibration_report(df, "score", "label").collect()}
    assert got[0] == (2, 1, 0.5, round((0.05 + 0.08) / 2, 4),
                      round(round((0.05 + 0.08) / 2, 4) - 0.5, 4))
    assert got[5] == (2, 2, 1.0, round((0.55 + 0.58) / 2, 4),
                      round(round((0.55 + 0.58) / 2, 4) - 1.0, 4))
    assert got[9] == (2, 2, 1.0, round((0.95 + 1.0) / 2, 4),
                      round(round((0.95 + 1.0) / 2, 4) - 1.0, 4))
    assert set(got) == {0, 5, 9}


def test_containment_pairs_matches_python(spark):
    """containment_pairs: C(A,B) = inter/|A| catches a short doc
    quoted inside a long one (Jaccard small, containment 1.0); the
    symmetric near-dup still passes; unrelated docs don't pair."""
    from sparkt.functions.dedup import containment_pairs

    quoted = "alpha beta gamma delta epsilon"
    rows = [
        (1, quoted),                                   # the quote
        (2, quoted + " plus lots of extra words around the quote "
            "making this document much longer than the original"),
        (3, "alpha beta gamma delta epsilon zeta"),    # near-dup of 1
        (4, "totally unrelated content entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["c_a"], r["c_b"])
           for r in containment_pairs(
               df, "text", "doc_id", k=3, threshold=0.9).collect()}

    def sh(t, k=3):
        toks = t.lower().split()
        return {" ".join(toks[i:i + k])
                for i in range(max(len(toks) - k, 0) + 1)}

    a, b = sh(rows[0][1]), sh(rows[1][1])
    inter = len(a & b)
    assert got[(1, 2)] == (inter, round(inter / len(a), 6),
                           round(inter / len(b), 6))
    assert got[(1, 2)][1] == 1.0          # fully contained
    assert got[(1, 2)][2] < 0.5           # Jaccard-side would miss it
    assert (1, 3) in got                  # symmetric near-dup kept
    assert all(4 not in p for p in got)


def test_classification_report_matches_python(spark):
    """classification_report: per-class support/predicted/tp counts,
    single-division precision/recall, rounded-operand F1, classes
    only ever predicted (zero support) or never predicted (zero
    precision denominator) don't divide by zero."""
    from sparkt.functions.evaluate import classification_report

    rows = [("a", "a"), ("a", "a"), ("a", "b"),
            ("b", "b"), ("b", "c"),
            ("d", "d")]   # 'c' never a label; 'd' perfect
    df = spark.createDataFrame(rows, "label string, pred string")
    got = {r["cls"]: (r["n_true"], r["n_pred"], r["tp"],
                      r["precision"], r["recall"], r["f1"])
           for r in classification_report(df, "label", "pred").collect()}
    p_a, r_a = round(2 / 2, 4), round(2 / 3, 4)
    assert got["a"] == (3, 2, 2, p_a, r_a,
                        round(2 * p_a * r_a / (p_a + r_a), 4))
    assert got["b"] == (2, 2, 1, 0.5, 0.5, 0.5)
    assert got["c"] == (0, 1, 0, 0.0, 0.0, 0.0)
    assert got["d"] == (1, 1, 1, 1.0, 1.0, 1.0)


def test_cohens_kappa_matches_python(spark):
    """cohens_kappa vs the closed-form reference: po/pe/kappa from
    exact marginal counts; full agreement = 1.0; the pe numerator is
    an exact integer-valued-double sum (order-independent)."""
    from sparkt.functions.evaluate import cohens_kappa

    rows = [("a", "a"), ("a", "a"), ("a", "b"),
            ("b", "b"), ("b", "a"), ("b", "b")]
    df = spark.createDataFrame(rows, "r1 string, r2 string")
    r = cohens_kappa(df, "r1", "r2").collect()[0]
    n = len(rows)
    po = sum(1 for a, b in rows if a == b) / n
    from collections import Counter
    ca, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    pe = sum(ca[c] * cb[c] for c in ca) / (n * n)
    assert (r["n"], r["n_agree"]) == (6, 4)
    assert r["po"] == round(po, 4) and r["pe"] == round(pe, 4)
    assert r["kappa"] == round((po - pe) / (1 - pe), 4)

    same = spark.createDataFrame([("x", "x")] * 4, "r1 string, r2 string")
    rs = cohens_kappa(same, "r1", "r2").collect()[0]
    assert (rs["po"], rs["pe"], rs["kappa"]) == (1.0, 1.0, 0.0)


def test_active_users_matches_python(spark):
    """active_users: DAU = distinct entities per day, WAU = distinct
    entities over the trailing 7 days, stickiness = dau/wau; a user
    active 6 days ago still counts toward today's WAU, 7 days ago
    does not."""
    import datetime as dt

    from sparkt.functions.features import active_users

    d0 = dt.datetime(2024, 6, 1, 12)
    rows = [
        (1, d0), (2, d0), (1, d0 + dt.timedelta(hours=1)),  # day 0
        (1, d0 + dt.timedelta(days=6)),                     # day 6
        (3, d0 + dt.timedelta(days=7)),                     # day 7
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    got = {r["day"]: (r["dau"], r["wau"], r["stickiness"])
           for r in active_users(df, "user_id", "ts").collect()}
    # day 6's trailing window covers day 0 -> users {1, 2}
    assert got["2024-06-01"] == (2, 2, 1.0)
    assert got["2024-06-07"] == (1, 2, 0.5)
    # day 7: day 0 fell out of the window; users {1 (day 6), 3}
    assert got["2024-06-08"] == (1, 2, 0.5)
    assert set(got) == {"2024-06-01", "2024-06-07", "2024-06-08"}


# ------------------------------------------------- 64-bit banded near-dup
def _sim64_ref(text):
    """Python reference of sparkt.functions.dedup.simhash_table64."""
    import hashlib

    toks = text.lower().strip().split()
    bits = 0
    for j in range(64):
        vote = 0
        for t in toks:
            nib = int(hashlib.md5(t.encode()).hexdigest()[j // 4], 16)
            vote += 1 if (nib >> (3 - j % 4)) & 1 else -1
        if vote > 0:
            bits |= 1 << (63 - j)
    return bits


def test_hamming_banded_pairs_complete(spark):
    """hamming_banded_pairs: pigeonhole banding is EXACT (zero recall
    loss) — for crafted 64-bit hashes with known pairwise distances,
    the banded join equals brute-force hamming filtering at every
    k in 1..3, including a pair whose differing bits all fall inside
    ONE band (caught because the other k bands agree) and a pair at
    distance k+1 (excluded by the bit_count verify even though a
    band collides)."""
    from sparkt.functions.dedup import hamming_banded_pairs

    base = int("10" * 32, 2)
    rows = [
        (1, base),
        (2, base),                        # h=0
        (3, base ^ 1),                    # h=1 (last band)
        (4, base ^ 0b11),                 # h=2, both flips in band 3
        (5, base ^ ((1 << 63) | (1 << 40) | 1)),  # h=3, spread
        (6, base ^ 0b1111),               # h=4 from base (one band)
    ]
    df = spark.createDataFrame(
        [(i, format(h, "064b")) for i, h in rows], "doc_id long, bits string"
    )
    hs = dict(rows)
    for k in (1, 2, 3):
        expected = {
            (a, b): bin(hs[a] ^ hs[b]).count("1")
            for a in hs
            for b in hs
            if a < b and bin(hs[a] ^ hs[b]).count("1") <= k
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in hamming_banded_pairs(
                df, "bits", "doc_id", k=k
            ).collect()
        }
        assert got == expected, f"k={k}"
    # sanity on the crafted geometry: (4,6) is distance 2 within one
    # band, (1,6) is distance 4 — visible at k>=2 / never
    assert bin(hs[4] ^ hs[6]).count("1") == 2
    assert bin(hs[1] ^ hs[6]).count("1") == 4


def test_simhash64_neardup_matches_python(spark):
    """simhash_neardup_pairs64 equals brute-force hamming over the
    python 64-bit simhash reference at k=1..3; the twin pair tags
    hamming 0."""
    from sparkt.functions.dedup import simhash_neardup_pairs64

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),    # twin of 1 (h=0)
        (3, "alpha beta gamma epsilon"),
        (4, "alpha beta gamma epsilonish"),
        (5, "completely different words here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hs = {i: _sim64_ref(t) for i, t in rows}
    for k in (1, 3):
        expected = {
            (a, b): bin(hs[a] ^ hs[b]).count("1")
            for a in hs
            for b in hs
            if a < b and bin(hs[a] ^ hs[b]).count("1") <= k
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_neardup_pairs64(
                df, "text", "doc_id", k=k
            ).collect()
        }
        assert got == expected, f"k={k}"
    assert bin(hs[1] ^ hs[2]).count("1") == 0


def test_perceptual64_neardup_matches_python(spark):
    """perceptual_neardup_pairs64 equals brute-force hamming over the
    python 64-bit aHash reference (4 salted md5 digests as the 8x8
    stub thumbnail); only planted exact-dup payloads pair — 64 random
    bits collide at ~n²/2^62 for k=3, unlike the 16-bit hash where
    500 docs already produced ~50 accidental pairs."""
    import hashlib

    from sparkt.functions.multimodal import perceptual_neardup_pairs64

    def ah64(b):
        px = []
        for s in (b"0", b"1", b"2", b"3"):
            px += list(hashlib.md5(b + s).digest())
        mean = sum(px) / 64.0
        bits = 0
        for i, p in enumerate(px):
            if p > mean:
                bits |= 1 << (63 - i)
        return bits

    payloads = [(i, f"payload number {i}".encode()) for i in range(40)]
    payloads += [(100 + i, f"payload number {i}".encode()) for i in range(4)]
    df = spark.createDataFrame(
        payloads, "item_id long, content binary"
    )
    hs = {i: ah64(bytes(b)) for i, b in payloads}
    expected = {
        (a, b): bin(hs[a] ^ hs[b]).count("1")
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in perceptual_neardup_pairs64(df, k=3).collect()
    }
    assert got == expected
    assert expected == {(i, 100 + i): 0 for i in range(4)}


def test_banded_key_space_grows_with_corpus(spark):
    """The saturation fix, asserted: the 64-bit banded join key count
    GROWS with the corpus (sf0.1 has 10x the docs of sf0.001 and must
    show several-fold more distinct (band_idx, band_val) keys), while
    the legacy 16-bit simhash key space stays inside its fixed 65,536
    ceiling — the r11 scale-killer this round removes."""
    import pyspark.sql.functions as F

    from sparkt.functions.dedup import band_bounds, simhash_table64

    def n_keys(sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        h = simhash_table64(docs, "text", "doc_id")
        nb = 4
        bands = h.select(
            F.posexplode(
                F.array(
                    *[
                        F.conv(F.substring("simhash", s + 1, w), 2, 10)
                        .cast("long")
                        for s, w in band_bounds(64, nb)
                    ]
                )
            ).alias("band_idx", "band_val")
        )
        return bands.distinct().count(), docs.count()

    small_keys, small_docs = n_keys("/root/testdata/sf0.001")
    big_keys, big_docs = n_keys("/root/testdata/sf0.1")
    assert big_docs >= 10 * small_docs
    assert big_keys > 3 * small_keys
    # 16-bit ceiling: 4 probe positions x 65,536 values
    assert big_keys > 0 and small_keys <= 4 * 65536


def test_ivfpq_n_probe_generalized(spark):
    """ivfpq_topk probes ANY n_probe cells (ADVICE r11: the old code
    silently capped at 2): probing all n_cells equals exhaustive ADC
    scoring (every corpus vector is a candidate), recall is monotone
    in n_probe, and out-of-range n_probe raises."""
    import numpy as np
    import pytest as _pytest

    from sparkt.functions.similarity import (
        _pq_codebooks,
        _pseudo_centroids,
        ivfpq_topk,
    )

    dim, m, n_codes, n_cells, k = 16, 4, 8, 4, 3
    sub = dim // m
    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(30, dim)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = df.select(F.col("vec_id").alias("corpus_id"), "embedding")

    books = np.array(_pq_codebooks(dim, m, n_codes))

    def np_codes(v):
        return [
            int(np.argmin(((v[j * sub:(j + 1) * sub] - books[j]) ** 2)
                          .sum(axis=1)))
            for j in range(m)
        ]

    # n_probe = n_cells == exhaustive ADC top-k over the whole corpus
    expected = {}
    for qi in range(4):
        cand = []
        for ci in range(30):
            if ci == qi:
                continue
            adc = sum(
                ((vecs[qi][j * sub:(j + 1) * sub]
                  - books[j][np_codes(vecs[ci])[j]]) ** 2).sum()
                for j in range(m)
            )
            cand.append((round(float(adc), 10), ci))
        cand.sort()
        expected[qi] = [ci for _, ci in cand[:k]]
    out = ivfpq_topk(queries, corpus, dim=dim, k=k, m=m,
                     n_codes=n_codes, n_cells=n_cells, n_probe=n_cells)
    got = {}
    for r in out.orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append(r["corpus_id"])
    assert got == expected

    # candidate coverage is monotone in n_probe (recall can only grow)
    def n_cand(n_probe):
        return (
            ivfpq_topk(queries, corpus, dim=dim, k=30, m=m,
                       n_codes=n_codes, n_cells=n_cells,
                       n_probe=n_probe).count()
        )

    c1, c3, c4 = n_cand(1), n_cand(3), n_cand(4)
    assert c1 <= c3 <= c4

    for bad in (0, n_cells + 1):
        with _pytest.raises(ValueError):
            ivfpq_topk(queries, corpus, dim=dim, k=k, m=m,
                       n_codes=n_codes, n_cells=n_cells, n_probe=bad)


def test_containment_max_shingle_freq(spark):
    """containment_pairs' stop-shingle cap (VERDICT r11 #3: the
    'essential at corpus scale' branch had no coverage): shingles in
    more docs than the cap are dropped BEFORE sizes, so containment
    denominators shrink to the capped set sizes (the Window sz
    recompute path), boilerplate-driven pairs disappear, and no
    cached relation leaks from the call."""
    from sparkt.functions.dedup import containment_pairs

    # 8 boilerplate words = 6 pure-boiler k=3 shingles per doc, long
    # enough that every uncapped pair clears the 0.5 threshold
    boiler = "common boiler plate words repeated across every doc"
    rows = [
        (1, boiler + " alpha beta gamma"),
        (2, boiler + " alpha beta gamma delta epsilon"),
        (3, boiler + " totally unique tail"),
        (4, boiler + " another unrelated end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"]): (r["inter"], r["c_a"], r["c_b"])
            for r in containment_pairs(
                df, "text", "doc_id", k=3, threshold=0.5, **kw
            ).collect()
        }

    uncapped = pairs()
    # boilerplate shingles put EVERY pair above 0.5 containment
    assert set(uncapped) == {(a, b) for a in range(1, 5)
                             for b in range(a + 1, 5)}
    capped = pairs(max_shingle_freq=2)
    # cap=2 kills the 4-doc boilerplate shingles; only the genuine
    # subset pair (1 ⊂ 2) survives, with capped denominators
    assert set(capped) == {(1, 2)}
    inter, c_a, c_b = capped[(1, 2)]
    # doc 1's capped shingles all touch the shared alpha..delta tail
    assert c_a == 1.0 and inter >= 1 and c_b < 1.0
    # nothing persisted escapes the call (ADVICE r11: the capped
    # relation used to leak a never-released cache): a second capped
    # call must not grow the set of materialized caches — only
    # shingle_table's documented shared cache may exist
    n_before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    pairs(max_shingle_freq=2)
    n_after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert n_after <= n_before


def test_sentence_span_dedup(spark):
    """sentence_span_dedup (the C4 three-sentence-span rule): a
    boilerplate paragraph shared by two docs is caught (keep_doc =
    smaller id), a unique paragraph isn't, sub-k-sentence docs emit
    nothing, and the intra-doc repeat alone doesn't qualify
    (n_docs >= 2 is cross-document)."""
    from sparkt.functions.dedup import sentence_span_dedup

    boiler = ("Subscribe to our newsletter. Follow us on social. "
              "All rights reserved.")
    rows = [
        (1, "Unique opening line. Another fresh thought. " + boiler),
        (2, boiler + " Completely different body here. More text. End."),
        (3, "One sentence only."),
        (4, "Repeat me. Repeat me. Repeat me. Repeat me."),
        (5, "Totally unique. Three sentence doc. Nothing shared."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["span_md5"]: (r["n_docs"], r["n_occ"], r["keep_doc"])
           for r in sentence_span_dedup(df, "text", "doc_id", k=3)
           .collect()}
    # exactly one cross-document span: the boilerplate triple
    assert len(got) == 1
    (n_docs, n_occ, keep) = next(iter(got.values()))
    assert (n_docs, n_occ, keep) == (2, 2, 1)
    # doc 4's intra-doc repeated span exists but is single-doc;
    # lowering to n_docs>=2 cross-doc only — verify it would have
    # fingerprinted by checking k=1 intra-doc repeats stay excluded
    got1 = {r["span_md5"] for r in sentence_span_dedup(
        df, "text", "doc_id", k=1).collect()}
    import hashlib
    rep = hashlib.md5(b"Repeat me").hexdigest()
    assert rep not in got1  # 4 occurrences but one doc -> excluded


def test_fleiss_kappa_closed_form(spark):
    """fleiss_kappa vs the hand-computed closed form (Fleiss 1971):
    4 complete items x 3 raters -> p_bar = 14/24, p_e = 62/144,
    kappa = (po-pe)/(1-pe); the incomplete item (2 ratings) drops;
    unanimous ratings give kappa close to chance-corrected 1; < 2
    raters raises."""
    import pytest as _pytest

    from sparkt.functions.evaluate import fleiss_kappa

    rows = [
        (1, "a"), (1, "a"), (1, "a"),
        (2, "a"), (2, "a"), (2, "b"),
        (3, "b"), (3, "b"), (3, "b"),
        (4, "a"), (4, "b"), (4, "c"),
        (5, "a"), (5, "a"),            # incomplete -> dropped
    ]
    df = spark.createDataFrame(rows, "item long, label string")
    r = fleiss_kappa(df, "item", "label", n_raters=3).collect()[0]
    assert (r["n_items"], r["n_raters"]) == (4, 3)
    assert r["p_bar"] == round(14 / 24, 4)
    assert r["p_e"] == round(62 / 144, 4)
    po, pe = 14 / 24, 62 / 144
    assert r["kappa"] == round((po - pe) / (1 - pe), 4)

    # all-unanimous, single category -> p_e = 1 -> convention 0.0
    uni = spark.createDataFrame(
        [(i, "x") for i in range(3) for _ in range(3)],
        "item long, label string")
    assert fleiss_kappa(uni, "item", "label", 3).collect()[0]["kappa"] == 0.0

    with _pytest.raises(ValueError):
        fleiss_kappa(df, "item", "label", n_raters=1)


def test_jaro_winkler_join(spark):
    """jaro_winkler_join: textbook values (martha/marhta 0.9611,
    dixon/dicksonx 0.8133), DuckDB parity on a random-string sample
    (incl. the ('','')=0.0 convention), blocking excludes
    cross-block pairs, threshold filters."""
    import random
    import string

    import duckdb

    from sparkt.functions.linkage import (
        _jaro_winkler,
        jaro_winkler_join,
    )

    con = duckdb.connect()
    random.seed(7)
    for _ in range(500):
        a = "".join(random.choices(string.ascii_lowercase[:6],
                                   k=random.randint(0, 10)))
        b = "".join(random.choices(string.ascii_lowercase[:6],
                                   k=random.randint(0, 10)))
        ref = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert _jaro_winkler(a, b) == ref, (a, b)
    assert round(_jaro_winkler("martha", "marhta"), 4) == 0.9611
    assert round(_jaro_winkler("dixon", "dicksonx"), 4) == 0.8133
    assert _jaro_winkler("", "") == 0.0

    rows = [
        (1, "martha", "g1"),
        (2, "marhta", "g1"),
        (3, "martha", "g2"),   # exact twin of 1 but other block
        (4, "zzzzzz", "g1"),
    ]
    df = spark.createDataFrame(rows, "pid long, name string, grp string")
    got = {(r["id_a"], r["id_b"]): r["jw"]
           for r in jaro_winkler_join(
               df, df, "pid", "name", ["grp"],
               threshold=0.9, self_pairs=True).collect()}
    assert got == {(1, 2): 0.9611}


def test_tfidf_cosine_pairs(spark):
    """tfidf_cosine_pairs vs a numpy vector-space reference
    (tf/df weights, k=2 shingles): exact twins hit cosine 1.0, the
    near-dup scores match to 4dp, unrelated docs fall under the
    threshold, and max_df drops stop-shingles from the vectors
    (norms included)."""
    from collections import Counter

    import numpy as np

    from sparkt.functions.dedup import tfidf_cosine_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),      # twin of 1
        (3, "alpha beta gamma delta zeta"),          # near-dup
        (4, "totally different words here now"),
    ]
    k = 2

    def shingles(t):
        toks = t.lower().strip().split()
        n = max(len(toks) - k, 0)
        return [" ".join(toks[i:i + k]) for i in range(n + 1)]

    tf = {i: Counter(shingles(t)) for i, t in rows}
    dfv = Counter()
    for c in tf.values():
        for s in set(c):
            dfv[s] += 1

    def vec(i):
        return {s: tf[i][s] / dfv[s] for s in tf[i]}

    def cos(a, b):
        va, vb = vec(a), vec(b)
        dot = sum(va[s] * vb[s] for s in va if s in vb)
        na = np.sqrt(sum(x * x for x in va.values()))
        nb = np.sqrt(sum(x * x for x in vb.values()))
        return round(dot / (na * nb), 4)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(
               df, "text", "doc_id", k=k, threshold=0.3).collect()}
    expected = {(a, b): cos(a, b)
                for a in tf for b in tf
                if a < b and cos(a, b) >= 0.3}
    assert got == expected
    assert got[(1, 2)] == 1.0
    assert (1, 4) not in got
    # max_df=2 drops the shared alpha..delta shingles (df=3) from
    # the vectors; the twin pair survives on its full identical
    # vector, the near-dup loses its shared support
    capped = {(r["id_a"], r["id_b"]): r["cosine"]
              for r in tfidf_cosine_pairs(
                  df, "text", "doc_id", k=k, threshold=0.3,
                  max_df=2).collect()}
    assert capped[(1, 2)] == 1.0
    assert (1, 3) not in capped and (2, 3) not in capped


def test_krippendorff_alpha_closed_form(spark):
    """krippendorff_alpha vs the hand-computed coincidence-matrix
    closed form with VARYING raters per item (the capability Fleiss
    lacks): a 2/2/3-rating layout gives D_o = 4/7, D_e = 20/42,
    alpha = -0.2; the single-rating item drops; unanimous two-
    category data scores 1.0; a single observed category hits the
    D_e = 0 convention (0.0)."""
    from sparkt.functions.evaluate import krippendorff_alpha

    rows = [
        (1, "a"), (1, "a"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "a"), (3, "b"),
        (4, "b"),                       # unpairable -> dropped
    ]
    df = spark.createDataFrame(rows, "item long, label string")
    r = krippendorff_alpha(df, "item", "label").collect()[0]
    assert (r["n_items"], r["n_vals"]) == (3, 7)
    assert r["d_o"] == round(4 / 7, 4)
    assert r["d_e"] == round(20 / 42, 4)
    assert r["alpha"] == -0.2

    perfect = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b")],
        "item long, label string")
    assert krippendorff_alpha(
        perfect, "item", "label").collect()[0]["alpha"] == 1.0

    mono = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "x"), (2, "x")],
        "item long, label string")
    assert krippendorff_alpha(
        mono, "item", "label").collect()[0]["alpha"] == 0.0


def test_dsir_logweights(spark):
    """dsir_logweights vs a python reference (hashed-bigram Laplace
    bag-of-ngrams, Xie et al. 2023): log-weights match to 1e-9,
    target-like docs score > 0, off-domain docs < 0, and a doc with
    no bigrams appears at exactly logw = 0.0 (the documented
    full-corpus contract — r12 review fix; a selected-vs-rejected
    partition must not silently lose docs)."""
    import hashlib
    import math
    from collections import Counter

    from sparkt.functions.sampling import dsir_logweights

    B = 16
    rows = [
        (1, "the quick brown fox jumps", True),
        (2, "the quick brown dog runs", True),
        (3, "quick brown fox leaps high", False),
        (4, "stock market closes sharply lower", False),
        (5, "single", False),                      # no bigrams
    ]

    def feats(t):
        toks = t.lower().strip().split()
        bgs = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        return [int(hashlib.md5(b.encode()).hexdigest()[:4], 16) % B
                for b in bgs]

    c_r, c_t = Counter(), Counter()
    for _, t, tgt in rows:
        for f in feats(t):
            c_r[f] += 1
            if tgt:
                c_t[f] += 1
    n_r, n_t = sum(c_r.values()), sum(c_t.values())

    def logw(t):
        return sum(
            math.log((c_t[f] + 1) / (n_t + B))
            - math.log((c_r[f] + 1) / (n_r + B))
            for f in feats(t)
        )

    df = spark.createDataFrame(
        rows, "doc_id long, text string, is_tgt boolean")
    got = {r["doc"]: (r["n_feats"], r["logw"])
           for r in dsir_logweights(
               df, "text", "doc_id", "is_tgt", n_buckets=B).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for i, t, _ in rows[:4]:
        assert got[i][0] == len(feats(t))
        assert abs(got[i][1] - logw(t)) < 1e-9, i
    assert got[1][1] > 0 and got[2][1] > 0   # in-domain
    assert got[4][1] < 0                      # off-domain
    assert got[5] == (0, 0.0)                 # zero-feature doc kept


def test_pagerank_matches_numpy(spark):
    """pagerank vs a numpy power-method reference on a small
    undirected graph (star + triangle + bridge): ranks match to 7dp
    after the same fixed 3 iterations from uniform; the hub outranks
    leaves; total mass ~= 1."""
    import numpy as np

    from sparkt.functions.graph import pagerank

    E = [(1, 2), (1, 3), (1, 4), (2, 3), (4, 5), (5, 6)]
    df = spark.createDataFrame(E, "src long, dst long")
    nodes = sorted({x for e in E for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    N = len(nodes)
    adj = np.zeros((N, N))
    for a, b in E:
        adj[idx[a]][idx[b]] = adj[idx[b]][idx[a]] = 1
    deg = adj.sum(axis=1)
    r = np.full(N, 1.0 / N)
    for _ in range(3):
        r = (1 - 0.85) / N + 0.85 * (adj.T @ (r / deg))
    expected = {v: round(float(r[idx[v]]), 7) for v in nodes}
    got = {row["node"]: row["rank"]
           for row in pagerank(df, "src", "dst").collect()}
    assert got == expected
    assert got[1] > got[6]                      # hub beats leaf
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved


def test_mmr_rerank_matches_python(spark):
    """mmr_rerank vs a python greedy-MMR reference over numpy
    cosines rounded 4dp (the determinism contract): rank 1 is the
    pure-relevance argmax, near-duplicate candidates are penalized
    below diverse ones, ties break to the lowest corpus_id, and a
    query with < k candidates emits what it has."""
    import numpy as np

    from sparkt.functions.similarity import mmr_rerank

    rng = np.random.RandomState(5)
    base = rng.uniform(-1, 1, size=8).round(3)
    vecs = {
        0: base,                                    # query
        1: base + rng.uniform(-0.05, 0.05, 8).round(3),   # very close
        2: base + rng.uniform(-0.06, 0.06, 8).round(3),   # near-dup of 1
        3: rng.uniform(-1, 1, 8).round(3),               # diverse
        4: rng.uniform(-1, 1, 8).round(3),               # diverse
    }
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = df.select(F.col("vec_id").alias("corpus_id"), "embedding")

    def cos(a, b):
        return round(float(
            np.dot(vecs[a], vecs[b])
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))), 4)

    k, lam = 3, 0.5
    rel = {c: cos(0, c) for c in (1, 2, 3, 4)}
    selected, expect = [], []
    remaining = sorted(rel)
    while remaining and len(selected) < k:
        best = None
        for c in remaining:
            pen = max((cos(c, s) for s in selected), default=0.0)
            score = lam * rel[c] - (1 - lam) * pen
            if best is None or score > best[0]:
                best = (score, c)
        selected.append(best[1])
        expect.append((best[1], best[0], len(selected)))
        remaining.remove(best[1])

    got = [(r["corpus_id"], r["mmr"], r["mmr_rank"])
           for r in mmr_rerank(queries, corpus, k=k, n_candidates=4,
                               lam=lam)
           .orderBy("mmr_rank").collect()]
    assert got == expect
    assert got[0][0] == max(rel, key=lambda c: (rel[c], -c))
    # the near-dup pair (1,2) must not occupy ranks 1 AND 2
    assert {got[0][0], got[1][0]} != {1, 2}

    # fewer candidates than k -> emit all
    small = mmr_rerank(queries, corpus.filter(F.col("corpus_id") <= 1),
                       k=5, n_candidates=5, lam=lam).collect()
    assert len(small) == 1


def test_zorder_key_and_layout(spark):
    """zorder_key vs a python Morton reference: bit j of dim d lands
    at output bit j*n+d; locality holds (quadrant-sorted order);
    a range-partitioned write on the key produces files whose
    per-file min-max ranges are TIGHTER on the second dimension than
    a 1-D sort's — the data-skipping claim, measured; bad arity/width
    raise."""
    import pytest as _pytest

    from sparkt.functions.layout import zorder_key

    def morton(vals, bits, n):
        key = 0
        for d, v in enumerate(vals):
            for j in range(bits):
                key |= ((v >> j) & 1) << (j * n + d)
        return key

    rows = [(i, x, y) for i, (x, y) in enumerate(
        (x, y) for x in range(8) for y in range(8))]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"]: r["z"] for r in df.select(
        "id", zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
    ).collect()}
    for i, x, y in rows:
        assert got[i] == morton((x, y), 3, 2), (x, y)

    # data-skipping: 4 z-ordered files cover y-ranges ~half as wide
    # as 4 x-sorted files do (x-sort leaves y unconstrained per file)
    zparts = (
        df.withColumn(
            "zkey", zorder_key([F.col("x"), F.col("y")], bits=3)
        )
        .repartitionByRange(4, "zkey").sortWithinPartitions("zkey")
        .select("y", F.spark_partition_id().alias("p"))
        .groupBy("p").agg((F.max("y") - F.min("y")).alias("span"))
        .collect()
    )
    xparts = (
        df.repartitionByRange(4, "x").sortWithinPartitions("x")
        .select("y", F.spark_partition_id().alias("p"))
        .groupBy("p").agg((F.max("y") - F.min("y")).alias("span"))
        .collect()
    )
    z_span = sum(r["span"] for r in zparts) / len(zparts)
    x_span = sum(r["span"] for r in xparts) / len(xparts)
    assert z_span < x_span

    with _pytest.raises(ValueError):
        zorder_key([F.col("x")])
    with _pytest.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=32)


def test_pl4_dedup_removal_semantics(spark):
    """The pl4 removal-log contract on a crafted corpus: twins and a
    hamming-chained triple collapse to their min-id representative,
    the representative itself is never in the log, and unrelated
    docs don't appear."""
    from sparkt.functions.dedup import (
        duplicate_clusters,
        simhash_neardup_pairs64,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),          # twin of 1
        (7, "alpha beta gamma epsilon"),         # near 1/2
        (9, "completely different words here entirely now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_neardup_pairs64(df, "text", "doc_id", k=3)
    log = {
        (r["doc"], r["cluster"])
        for r in duplicate_clusters(pairs)
        .filter(F.col("doc") != F.col("cluster")).collect()
    }
    linked = {(a, b) for a, b in
              ((r["id_a"], r["id_b"]) for r in pairs.collect())}
    # twins always pair; whatever component forms, every non-min
    # member is logged against the component min and 9 never appears
    assert (1, 2) in linked
    assert (2, 1) in log
    assert all(kept < doc for doc, kept in log)
    assert not any(doc == 9 or kept == 9 for doc, kept in log)


def test_diversity_stats_hand_computed(spark):
    """diversity_stats vs hand counts: 'a b b c c c' -> n=6, nd=3,
    ttr=floor6(1/2), simpson=floor6(1-14/36), entropy=log2 6 -
    (2*1 + 3*log2 3)/6; empty text is the phantom-[''] contract
    (n=1, nd=1, simpson=0); single repeated token -> simpson 0."""
    import math

    from pyspark.sql import functions as F

    from sparkt.functions.text import diversity_stats

    df = spark.createDataFrame(
        [(1, "a b b c c c"), (2, ""), (3, "a a a a")],
        ["doc_id", "text"],
    )
    st = diversity_stats(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in st.items()]
        ).collect()
    }
    r1 = out[1]
    assert (r1["n_tokens"], r1["n_distinct"]) == (6, 3)
    assert r1["ttr"] == math.floor(3 / 6 * 1e6) / 1e6
    assert r1["simpson"] == math.floor((1 - 14 / 36) * 1e6) / 1e6
    assert r1["token_entropy"] == round(
        math.log2(6) - (2 * 1 + 3 * math.log2(3)) / 6, 4
    )
    assert (out[2]["n_tokens"], out[2]["n_distinct"]) == (1, 1)
    assert out[2]["simpson"] == 0.0
    assert out[3]["ttr"] == 0.25 and out[3]["simpson"] == 0.0
    assert out[3]["token_entropy"] == 0.0


def test_random_projection_jl_properties(spark):
    """random_projection: exact vs numpy (same md5 sign matrix,
    left-assoc fold replayed with float64 accumulation), plus the JL
    distance-preservation property — median pairwise-distance ratio
    within [0.6, 1.4] at 64->16 on unit-ish vectors (the lemma's
    expectation is 1; a wrong sign matrix or a dropped scale factor
    lands far outside)."""
    import numpy as np

    from sparkt.functions.similarity import random_projection, rp_signs

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(40)
    pdf = emb.orderBy("vec_id").toPandas()
    out = (
        random_projection(emb, "embedding", "vec_id", dim=64, out_dim=16)
        .orderBy("vec_id")
        .toPandas()
    )
    S = np.array(rp_signs(64, 16))
    X = np.stack(
        [np.array(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    want = X @ S.T / 4.0
    got = out[[f"r{j}" for j in range(16)]].to_numpy()
    assert np.allclose(got, want, atol=5e-7)  # 6dp rounding only

    # JL: pairwise L2 ratios concentrate around 1
    d_hi = np.linalg.norm(X[:, None] - X[None, :], axis=2)
    d_lo = np.linalg.norm(want[:, None] - want[None, :], axis=2)
    iu = np.triu_indices(len(X), k=1)
    ratios = d_lo[iu] / d_hi[iu]
    assert 0.6 < np.median(ratios) < 1.4

    # sign matrix is deterministic and balanced-ish
    assert rp_signs(64, 16) == rp_signs(64, 16)
    flat = [s for row in S.tolist() for s in row]
    assert 0.35 < flat.count(1.0) / len(flat) < 0.65


def test_tfidf_cosine_short_docs_have_no_vector(spark):
    """Docs with fewer than k tokens carry NO shingle vector (r12
    review fix: the old truncated-shingle fallback gave every blank
    doc the identical '' shingle, pairing all blank docs at cosine
    1.0 — a spurious-verdict and quadratic-hot-key bug)."""
    from sparkt.functions.dedup import tfidf_cosine_pairs

    rows = [
        (1, ""), (2, ""), (3, "   "),            # blank docs
        (4, "one two"), (5, "one two"),          # < k=3 tokens
        (6, "alpha beta gamma delta"),
        (7, "alpha beta gamma delta"),           # real twin pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in tfidf_cosine_pairs(
               df, "text", "doc_id", k=3, threshold=0.1).collect()}
    assert got == {(6, 7)}


def test_hamming_banded_pairs_k0_msb(spark):
    """k=0 (exact duplicates) with MSB-set 64-bit hashes: a single
    64-bit band would overflow conv->long and NULL the join key
    (r12 review fix: band widths are now capped at 63 bits by
    raising the band count; extra bands only widen candidates, the
    bit_count verify keeps recall exact). Negative k raises."""
    import pytest as _pytest

    from sparkt.functions.dedup import hamming_banded_pairs

    h = "1" + "0" * 62 + "1"
    df = spark.createDataFrame(
        [(1, h), (2, h), (3, "0" * 64)], "id long, bits string")
    out = hamming_banded_pairs(df, "bits", "id", k=0).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["hamming"]) == (1, 2, 0)

    with _pytest.raises(ValueError):
        hamming_banded_pairs(df, "bits", "id", k=-1)


def test_jaro_winkler_join_null_text(spark):
    """NULL texts drop silently (the fuzzy_join levenshtein
    contract) instead of len(None)-crashing the pairwise UDF
    (r12 review fix)."""
    from sparkt.functions.linkage import jaro_winkler_join

    rows = [
        (1, "martha", "b1"), (2, "marhta", "b1"),
        (3, None, "b1"), (4, "marta", "b1"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    out = jaro_winkler_join(
        df, df, "id", "name", ["blk"], threshold=0.8, self_pairs=True
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in ids                 # the classic pair survives
    assert all(3 not in p for p in ids)  # NULL rows never pair
