"""LLM-pipeline operator gate queries over documents/embeddings, with
DuckDB oracles that reproduce the exact values (md5-hex hashing, same
regex/token semantics, same rounding).

The Spark side uses the library operators (sparkt.functions.*); the
oracle side re-expresses them in DuckDB list-lambda SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from sparkt.functions import dedup as D
from sparkt.functions import similarity as S
from sparkt.functions import text as TX
from sparkt.sources import spread


def T(spark, sf_dir, name):
    # spread: small single-file tables scan as ONE partition, which
    # would serialize all tokenize/shingle/vector work onto one core
    from sparkt.queries._util import T as _load

    return spread(_load(spark, sf_dir, name))


def _sql_list(words):
    return ", ".join(f"'{w}'" for w in words)


# DuckDB fragments mirroring sparkt.functions.text
_DK_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_DK_SHINGLES_K3 = (
    "list_distinct(list_transform("
    "generate_series(0, greatest(len({toks}) - 3, 0)), "
    "i -> array_to_string({toks}[i+1:i+3], ' ')))"
).format(toks=_DK_TOKENS)


# ------------------------------------------------------------------ t2
# (r5 consolidation: t1_token_stats and t5_repetition merged into this
# gate; p1_hash_split into p3; s2_lsh_ann into s4; d2 into d3 — see
# COVERAGE.md "registry policy")
def t2_quality_scores(spark, sf_dir):
    """Text-analysis scalars in ONE per-doc gate: token stats
    (whitespace + BPE-ish subword counts — r4's t1), quality features
    (alpha/stopword/length ratios), and Gopher-style repetition signals
    (dup-token fraction, top-bigram occupancy — r4's t5). Consolidated
    in r5 under the driver's 50-entry artifact cap (COVERAGE.md
    "registry policy").

    SHUFFLE-FREE formulation (r5 rewrite; was explode -> two
    (doc, token)-keyed double-groupBys + two joins = 5 shuffles):
    duplicate-token and top-bigram counts are run-length scans over
    the SORTED token/bigram arrays via the ``aggregate`` higher-order
    function — count(token) > 1 is equivalent to adjacent-equal runs
    after an array_sort, which is per-row work inside whole-stage
    codegen. The whole gate is one narrow projection; at 100 TB it
    runs at scan speed with zero exchanges (the trailing orderBy is
    gate-output cosmetics)."""
    docs = T(spark, sf_dir, "documents")
    pre_cols, mid_cols, out_cols = _t2_columns()
    return (
        docs.select(*pre_cols).select(*mid_cols).select(*out_cols)
        .orderBy("doc_id")
    )


def _t2_columns():
    """The t2 expression tree, built ONCE per process. Unbound Columns
    are immutable and resolve at analysis time, so reusing them across
    invocations is safe — and building this tree is ~0.6 s of pure
    py4j round-trips (measured r6: 'build' dominated the per-call wall
    over analysis 0.05 s + execution), which repeat callers (the bench
    samples, repeated gate runs) should not pay twice."""
    global _T2_COLS
    if _T2_COLS is not None:
        return _T2_COLS
    toks = TX.tokens(F.col("text"))
    pre_cols = [
        F.col("doc_id"),
        F.col("text"),
        toks.alias("__toks"),
        F.array_sort(toks).alias("__s"),
    ]
    n = F.size("__toks")
    # r15 middle projection (guide §1.2): lambda-bearing expressions
    # are exempt from codegen common-subexpression elimination, so
    # every extra REFERENCE re-ran its whole HOF/regexp chain per row.
    # The multiply-referenced intermediates (bigram array: 2 refs;
    # stopword filter: 2; alpha regexp: 2) materialize ONCE here;
    # CollapseProject keeps the layers apart because the producers are
    # non-cheap and multiply referenced. Values bit-identical.
    bigrams = TX.bigram_array(F.col("__toks"))
    mid_cols = [
        F.col("doc_id"),
        F.col("text"),
        F.col("__toks"),
        F.col("__s"),
        bigrams.alias("__bg"),
        F.size(F.filter("__toks", lambda t: t.isin(TX.EN_STOPWORDS)))
        .alias("__stop_hits"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
        .alias("__alpha_chars"),
    ]
    # run-length HOF scans over the sorted arrays (library helpers;
    # plan shape pinned by test_t2_quality_is_pure_projection)
    dup_tok = TX.dup_token_count(F.col("__s"))
    top_bigram = TX.max_adjacent_run(F.array_sort(F.col("__bg")))
    stop_hits = F.col("__stop_hits")
    tok_chars = F.aggregate(
        "__toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_chars = F.length("text")
    alpha_chars = F.col("__alpha_chars")
    alpha = alpha_chars / F.greatest(n_chars, F.lit(1))
    stop = stop_hits / F.greatest(n, F.lit(1))
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    n_bigrams = F.size(F.col("__bg"))
    # floor-quantize (not round): round()'s half-way handling differs
    # between Spark (HALF_UP on the decimal rescale) and DuckDB, which
    # broke the value-hash at sf0.1 (quality hit an exact .xxxxxx5);
    # floor of the SAME double arithmetic is engine-identical
    def q6(c):
        return F.floor(c * 1_000_000) / 1_000_000

    out_cols = [
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_subword_tokens"),
        n_chars.alias("n_chars"),
        q6(alpha).alias("alpha_ratio"),
        q6(stop).alias("stopword_ratio"),
        q6(tok_chars / F.greatest(n, F.lit(1))).alias("avg_token_len"),
        q6(0.4 * length_term + 0.3 * alpha + 0.3 * stop).alias("quality"),
        q6(dup_tok / F.greatest(n, F.lit(1))).alias("dup_token_ratio"),
        q6(
            top_bigram / F.greatest(n_bigrams, F.lit(1))
        ).alias("top_bigram_ratio"),
    ]
    _T2_COLS = (pre_cols, mid_cols, out_cols)
    return _T2_COLS


_T2_COLS = None


_EN = _sql_list(TX.EN_STOPWORDS)
T2_SQL = f"""
WITH t AS (SELECT doc_id, {_DK_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
ts AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_tok
       FROM tc GROUP BY 1),
bg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                                    i -> toks[i] || ' ' || toks[i+1])) AS bg
       FROM t WHERE len(toks) >= 2),
bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
              CAST(max(cnt) AS BIGINT) AS top_bigram
       FROM bc GROUP BY 1),
rep AS (SELECT ts.doc_id,
               floor(dup_tok * 1.0 / greatest(n_tokens, 1) * 1000000)
                 / 1000000 AS dup_token_ratio,
               floor(coalesce(top_bigram, 0) * 1.0
                     / greatest(n_bigrams, 1) * 1000000) / 1000000
                 AS top_bigram_ratio
        FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id)
SELECT d.doc_id,
       len({_DK_TOKENS}) AS n_tokens,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t != ''))
            + (length(lower(text))
               - length(regexp_replace(lower(text), '[a-z][0-9]', '', 'g'))) / 2
            AS INT) AS n_subword_tokens,
       length(text) AS n_chars,
       floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
             / greatest(length(text), 1) * 1000000) / 1000000
         AS alpha_ratio,
       floor(len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) * 1.0
             / greatest(len({_DK_TOKENS}), 1) * 1000000) / 1000000
         AS stopword_ratio,
       floor(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
             / greatest(len({_DK_TOKENS}), 1) * 1000000) / 1000000
         AS avg_token_len,
       floor((0.4 * least(len({_DK_TOKENS}) / 100.0, 1.0)
             + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                      / greatest(length(text), 1))
             + 0.3 * (len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) * 1.0
                      / greatest(len({_DK_TOKENS}), 1))) * 1000000) / 1000000
         AS quality,
       coalesce(rep.dup_token_ratio, 0.0) AS dup_token_ratio,
       coalesce(rep.top_bigram_ratio, 0.0) AS top_bigram_ratio
FROM documents d LEFT JOIN rep ON d.doc_id = rep.doc_id
ORDER BY d.doc_id
"""


# ------------------------------------------------------------------ t3
def t3_lang_id(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    # r15: tokenize ONCE into a materialized column — lang_id otherwise
    # embeds four copies of the regex split (one per language's
    # stopword filter; lambda-bearing exprs get no codegen CSE)
    toked = docs.select(
        "doc_id", "text", TX.tokens(F.col("text")).alias("__toks")
    )
    return (
        toked.select(
            "doc_id",
            TX.lang_id(F.col("text"), F.col("__toks"))
            .alias("detected_lang"),
        )
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("detected_lang")
    )


_DE, _FR, _ES = (
    _sql_list(TX.DE_STOPWORDS),
    _sql_list(TX.FR_STOPWORDS),
    _sql_list(TX.ES_STOPWORDS),
)
_CJK = TX.CJK_RANGE
T3_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^{_CJK}]', '', 'g')) AS cjk,
         greatest(length(text), 1) AS n_chars,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) AS en,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_DE}))) AS de,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_FR}))) AS fr,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_ES}))) AS es
  FROM documents)
SELECT detected_lang, count(*) AS n_docs FROM (
  SELECT CASE WHEN cjk * 1.0 / n_chars > 0.3 THEN 'zh'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS detected_lang
  FROM scored)
GROUP BY detected_lang
ORDER BY detected_lang
"""


# ------------------------------------------------------------------ d1
def d1_exact_dedup(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    kept = D.exact_dedup(docs, "text", "doc_id")
    return kept.select("doc_id", "fp").orderBy("doc_id")


D1_SQL = """
SELECT doc_id, fp FROM (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id ASC) AS rk
  FROM documents)
WHERE rk = 1
ORDER BY doc_id
"""


# ------------------------------------------------------------------ d2
# (d2_minhash_signatures gate merged into d3 in r5: signatures are the
# intermediate of minhash pairs — COVERAGE.md "registry policy")
def _dk_minhash(i: int) -> str:
    # mirrors hash_family_member: ONE md5 per shingle, member i = hex
    # string rotated left by 4*i chars
    off = (4 * i) % 32
    if off == 0:
        member = "md5(s)"
    else:
        member = (
            f"substr(md5(s), {off + 1}, {32 - off}) || substr(md5(s), 1, {off})"
        )
    return f"list_min(list_transform({_DK_SHINGLES_K3}, s -> {member}))"


# ------------------------------------------------------------------ d3
def d3_minhash_pairs(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return (
        D.minhash_candidate_pairs(docs, "text", "doc_id", n_hashes=8, n_bands=4)
        .orderBy("id_a", "id_b")
    )


D3_SQL = f"""
WITH sigs AS (
  SELECT doc_id,
         [{", ".join(_dk_minhash(i) for i in range(8))}] AS sig
  FROM documents),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(sig[2*b+1] || '|' || sig[2*b+2]) AS band_key
  FROM sigs, unnest(generate_series(0, 3)) AS t(b))
SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared_bands
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key
 AND l.doc_id < r.doc_id
GROUP BY 1, 2
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ d4
def d4_simhash(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return (
        D.simhash_table(docs, "text", "doc_id")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


_DK_SIMBIT = (
    "CASE WHEN list_sum(list_transform({toks}, "
    "t -> CASE WHEN substring(md5(t), {j}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 "
    "THEN '1' ELSE '0' END"
)
D4_SQL = (
    "SELECT doc_id, "
    + " || ".join(_DK_SIMBIT.format(toks=_DK_TOKENS, j=j + 1) for j in range(16))
    + " AS simhash FROM documents ORDER BY doc_id"
)


# ------------------------------------------------------------------ d5
def d5_ngram_jaccard(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return (
        D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.2)
        # tiny result: single-partition sort skips the range-sampling
        # pass a global orderBy runs (which re-executes the join subtree)
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


D5_SQL = f"""
WITH ex AS (
  SELECT DISTINCT doc_id AS doc, s.sh
  FROM documents, unnest({_DK_SHINGLES_K3}) AS s(sh)),
sizes AS (SELECT doc, count(*) AS sz FROM ex GROUP BY doc),
inter AS (
  SELECT l.doc AS id_a, r.doc AS id_b, count(*) AS inter
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc < r.doc
  GROUP BY 1, 2)
SELECT id_a, id_b, inter,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.2
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ d7
def d7_winnow_pairs(spark, sf_dir):
    # doc_id < 250: winnowing semantics are fully exercised by half the
    # table, and the oracle's per-character DuckDB list comprehensions
    # dominate the gate's wall-clock (13s at 500 docs, r4)
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    return (
        D.winnow_pairs(docs, "text", "doc_id", k=20, w=10, min_shared=8)
        .repartition(1)
        .sortWithinPartitions("id_a", "id_b")
    )


D7_SQL = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id < 250),
grams AS (
  SELECT doc_id,
         [md5(substr(n, i, 20)) for i in range(1, length(n) - 19 + 1)] AS g
  FROM norm WHERE length(n) >= 20),
fps AS (
  SELECT DISTINCT doc_id AS doc, fp
  FROM (SELECT doc_id,
               unnest(list_distinct(
                 [list_min(g[j : j + 9])
                  for j in range(1, greatest(len(g) - 9, 1) + 1)])) AS fp
        FROM grams)),
pairs AS (
  SELECT l.doc AS id_a, r.doc AS id_b, count(*) AS n_shared
  FROM fps l JOIN fps r ON l.fp = r.fp AND l.doc < r.doc
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 8
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ s1
def s1_cosine_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return S.cosine_topk(queries, corpus, k=5).orderBy("query_id", "rank")


S1_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, corpus_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               4) AS cos
  FROM q, c WHERE query_id != corpus_id)
SELECT query_id, corpus_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, corpus_id ASC) AS rank
  FROM scored)
WHERE rank <= 5
ORDER BY query_id, rank
"""


# ----------------------------------------------------------------- s13
def s13_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking (sparkt.functions.similarity
    .mmr_rerank — Carbonell & Goldstein 1998): top-20 cosine
    candidates per query (vec_id < 10, the s1 bound), greedy k=5
    selection maximizing 0.5·rel − 0.5·max-sim-to-selected. All
    comparisons run over 4dp-rounded cosines with lowest-id
    tie-break and a dyadic λ, so the greedy sequence is
    bit-reproducible; the oracle unrolls the same 5 selection
    levels."""
    from sparkt.functions.similarity import mmr_rerank

    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return mmr_rerank(
        queries, corpus, k=5, n_candidates=20, lam=0.5
    ).orderBy("query_id", "mmr_rank")


def _s13_sql(k: int = 5) -> str:
    cos = ("round(list_dot_product({a}, {b}) / (sqrt(list_dot_product"
           "({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)")
    levels = []
    for t in range(2, k + 1):
        levels.append(f"""
rem{t} AS (
  SELECT c.query_id, c.corpus_id, c.rel
  FROM cand c LEFT JOIN selu{t - 1} s
    ON s.query_id = c.query_id AND s.corpus_id = c.corpus_id
  WHERE s.corpus_id IS NULL),
pen{t} AS (
  SELECT r.query_id, r.corpus_id, r.rel, max(sm.sim) AS pen
  FROM rem{t} r
  JOIN selu{t - 1} s ON s.query_id = r.query_id
  JOIN sims sm ON sm.query_id = r.query_id
   AND sm.id_a = least(r.corpus_id, s.corpus_id)
   AND sm.id_b = greatest(r.corpus_id, s.corpus_id)
  GROUP BY 1, 2, 3),
sel{t} AS (
  SELECT query_id, corpus_id, mmr, {t} AS mmr_rank FROM (
    SELECT query_id, corpus_id,
           0.5 * rel - 0.5 * pen AS mmr,
           row_number() OVER (PARTITION BY query_id
             ORDER BY 0.5 * rel - 0.5 * pen DESC,
                      corpus_id ASC) AS rn
    FROM pen{t}) WHERE rn = 1),
selu{t} AS (
  SELECT * FROM selu{t - 1}
  UNION ALL SELECT query_id, corpus_id FROM sel{t})""")
    union = "\nUNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, k + 1)
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, corpus_id, {cos.format(a="qv", b="cv")} AS rel
  FROM q, c WHERE query_id != corpus_id),
cand AS (
  SELECT query_id, corpus_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY rel DESC, corpus_id ASC) AS rn FROM scored)
  WHERE rn <= 20),
cande AS (
  SELECT cd.query_id, cd.corpus_id, cd.rel, c.cv
  FROM cand cd JOIN c USING (corpus_id)),
sims AS (
  SELECT a.query_id, a.corpus_id AS id_a, b.corpus_id AS id_b,
         {cos.format(a="a.cv", b="b.cv")} AS sim
  FROM cande a JOIN cande b
    ON a.query_id = b.query_id AND a.corpus_id < b.corpus_id),
sel1 AS (
  SELECT query_id, corpus_id, 0.5 * rel AS mmr,
         1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY rel DESC, corpus_id ASC) AS rn FROM cand)
  WHERE rn = 1),
selu1 AS (SELECT query_id, corpus_id FROM sel1),
{",".join(levels)}
SELECT query_id, corpus_id, mmr, CAST(mmr_rank AS INT) AS mmr_rank
FROM ({union})
ORDER BY query_id, mmr_rank
"""


# ------------------------------------------------------------------ s7
def s7_hard_negatives(spark, sf_dir):
    """Contrastive-training hard negatives: per query, the top-3
    most-cosine-similar embeddings carrying a DIFFERENT label
    (sparkt.functions.similarity.hard_negatives — the near-miss
    negatives a DPR-style trainer wants). Exact oracle: same
    cross-scored ranking with the label-mismatch predicate."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), "embedding", "label"
    )
    return S.hard_negatives(queries, corpus, k=3).orderBy(
        "query_id", "rank"
    )


S7_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv, label AS cl
      FROM embeddings),
scored AS (
  SELECT query_id, corpus_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               4) AS cos
  FROM q, c WHERE query_id != corpus_id AND ql IS DISTINCT FROM cl)
SELECT query_id, corpus_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, corpus_id ASC) AS rank
  FROM scored)
WHERE rank <= 3
ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ s2
# ------------------------------------------------------------------ s4
def s4_ann_methods(spark, sf_dir):
    """BOTH approximate-NN scale paths in one method-tagged gate
    (consolidated r5 under the driver's 50-entry artifact cap,
    COVERAGE.md "registry policy"): sign-bit LSH bucketed top-k (r4's
    s2) unioned with IVF cell-pruned top-k.

    Hash-green oracle (r6, VERDICT r5 ask #1): both approximations are
    DETERMINISTIC given the md5-derived hyperplane/centroid constants,
    so the DuckDB oracle (``_s4_sql``) re-implements the full bucket
    assignment + cell probing with the SAME constants and reproduces
    the approximate result EXACTLY — strictly stronger than the
    recall-bound check the verdict asked for. Recall vs brute force and
    the full-probe ≡ exact identity remain asserted in
    tests/test_pipeline_ops.py."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    lsh = S.lsh_bucketed_topk(
        queries, corpus, dim=64, k=5, n_planes=4
    ).withColumn("method", F.lit("signlsh"))
    ivf = S.ivf_topk(
        queries, corpus, dim=64, k=5, n_cells=8, n_probe=2
    ).withColumn("method", F.lit("ivf"))
    return lsh.unionByName(ivf).orderBy("method", "query_id", "rank")


def _s4_sql() -> str:
    """DuckDB exact emulation of s4's two ANN paths. The constants come
    from the SAME helpers the Spark operators use
    (``similarity._plane_weights`` / ``similarity._pseudo_centroids``)
    inlined as SQL literals, so tuning the hashing scheme there keeps
    this oracle in lockstep; all data computation is DuckDB SQL.
    Tie-break parity: Spark's ``array_max`` over (score, cell) structs
    picks the LARGEST cell on score ties, matched by taking the first
    position of the max in the REVERSED score list.

    Float-boundary disclosure: bucket sign bits and cell argmax compare
    UNROUNDED dot products, and DuckDB's ``list_dot_product`` is not
    bit-identical to Spark's sequential fold (~1e-13 relative, pairwise
    summation). A divergence needs a projection within that error of
    EXACTLY 0 (typical |proj| here is O(10²)+) or two centroid scores
    within 1e-13 of each other — per (vector, plane) that is ~1e-13
    probability, ~1e-8 across the sf0.1 corpus, and deterministic per
    dataset (both SFs verified green). Quantizing before the sign test
    would NOT remove the boundary, only move it, so the comparison
    stays raw and this note records the accepted risk."""
    from sparkt.functions.similarity import (
        _plane_weights,
        _pseudo_centroids,
    )

    return (
        _ann_cte_body()
        + """
SELECT query_id, corpus_id, cos, rank, method FROM lsh_k
UNION ALL
SELECT query_id, corpus_id, cos, rank, method FROM ivf_k
ORDER BY method, query_id, rank
"""
    )


def _ann_cte_body() -> str:
    """The WITH-clause shared by the ANN-family oracles (s4, s10, ev1):
    sign-LSH buckets + IVF 2-probe cells over embeddings, queries
    vec_id < 10, k = 5 — ending open after the ``ivf_k`` CTE so
    callers can append their own CTEs / final SELECT. Constants come
    from the SAME helpers the Spark operators use (see ``_s4_sql``'s
    lockstep + float-boundary notes)."""
    from sparkt.functions.similarity import (
        _plane_weights,
        _pseudo_centroids,
    )

    dim, n_planes, n_cells, k = 64, 4, 8, 5
    cents = _pseudo_centroids(dim, n_cells)

    def arr(vals):
        return "[" + ", ".join(repr(v) for v in vals) + "]"

    bucket_bits = " || ".join(
        f"(CASE WHEN list_dot_product(v, {arr(_plane_weights(p, dim))}) "
        ">= 0 THEN '1' ELSE '0' END)"
        for p in range(n_planes)
    )
    cell_scores = ", ".join(
        f"list_dot_product(v, {arr(c)})" for c in cents
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
b AS (
  SELECT vec_id, v, nrm, {bucket_bits} AS bucket FROM e),
lsh_k AS (
  SELECT query_id, corpus_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, corpus_id ASC) AS rank,
         'signlsh' AS method
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           round(list_dot_product(q.v, c.v)
                 / greatest(q.nrm * c.nrm, 1e-12), 4) AS cos
    FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    WHERE q.vec_id < 10)
  QUALIFY rank <= {k}),
cs AS (
  SELECT vec_id, v, nrm, [{cell_scores}] AS ss FROM e),
cells AS (
  SELECT vec_id, v, nrm, ss,
         {n_cells} - list_position(list_reverse(ss), list_max(ss)) AS cell
  FROM cs),
probe1 AS (
  SELECT vec_id, v, nrm, ss, cell AS c1 FROM cells WHERE vec_id < 10),
probe2 AS (
  SELECT vec_id, v, nrm, c1,
         {n_cells} - list_position(list_reverse(ss2), list_max(ss2)) AS c2
  FROM (
    SELECT vec_id, v, nrm, c1,
           list_transform(range({n_cells}),
                          i -> CASE WHEN i = c1 THEN -1e308
                                    ELSE ss[i + 1] END) AS ss2
    FROM probe1)),
qcells AS (
  SELECT vec_id, v, nrm, c1 AS cell FROM probe2
  UNION ALL
  SELECT vec_id, v, nrm, c2 AS cell FROM probe2),
ivf_k AS (
  SELECT query_id, corpus_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, corpus_id ASC) AS rank,
         'ivf' AS method
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           round(list_dot_product(q.v, c.v)
                 / greatest(q.nrm * c.nrm, 1e-12), 4) AS cos
    FROM qcells q JOIN cells c USING (cell)
    WHERE q.vec_id != c.vec_id)
  QUALIFY rank <= {k})"""


# ----------------------------------------------------------------- s12
def s12_ivfpq(spark, sf_dir):
    """IVF-PQ approximate nearest neighbours (sparkt.functions
    .similarity.ivfpq_topk — the FAISS IVFPQ architecture,
    re-expressed Spark-first, VERDICT r10 ask #2): corpus rows live
    only as m=8 PQ codes (32x smaller than the raw floats), each
    query probes its 2 nearest coarse cells by an EQUIJOIN on cell id
    and scores candidates by asymmetric distance (exact query side vs
    quantized corpus side).

    Hash-green oracle (``_s12_sql``): centroids and codebooks are
    md5-deterministic literals shared with the Spark operator, and
    every distance is an UNROLLED fixed-shape sum whose left-assoc
    addition order equals Spark's sequential aggregate fold — so the
    ADC values are bit-identical across engines (stronger than s4's
    1e-13 boundary note: there is no boundary here)."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    return S.ivfpq_topk(
        queries, corpus, dim=64, k=5, m=8, n_codes=16,
        n_cells=8, n_probe=2,
    ).orderBy("query_id", "rank")


def _s12_sql() -> str:
    """DuckDB exact emulation of IVF-PQ: same md5 centroid/codebook
    literals as the Spark operator (``similarity._pseudo_centroids`` /
    ``_pq_codebooks``), argmin via first-position-of-min (lowest-index
    tie-break, the kmeans_assign contract), cell mask via +infinity,
    and every squared-L2 unrolled so the addition order matches
    Spark's sequential fold term-for-term — ADC parity is bit-exact,
    no float-boundary risk."""
    from sparkt.functions.similarity import (
        _pq_codebooks,
        _pseudo_centroids,
    )

    dim, m, n_codes, n_cells, k = 64, 8, 16, 8, 5
    sub = dim // m
    cents = _pseudo_centroids(dim, n_cells)
    books = _pq_codebooks(dim, m, n_codes)

    def arr(vals):
        return "[" + ", ".join(repr(float(v)) for v in vals) + "]"

    def l2(vexpr, vals, off):
        # unrolled ((t1+t2)+t3)... — left-assoc equals the fold
        return " + ".join(
            f"({vexpr}[{off + i + 1}] - {float(vals[i])!r})"
            f" * ({vexpr}[{off + i + 1}] - {float(vals[i])!r})"
            for i in range(len(vals))
        )

    cds = ", ".join(l2("v", c, 0) for c in cents)
    ds_cols = ",\n         ".join(
        "["
        + ", ".join(l2("v", books[j][c], j * sub)
                    for c in range(n_codes))
        + f"] AS ds{j}"
        for j in range(m)
    )
    codes = ", ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1" for j in range(m)
    )
    bsel = ",\n         ".join(
        "[" + ", ".join(arr(books[j][c]) for c in range(n_codes))
        + f"][c.codes[{j + 1}] + 1] AS b{j}"
        for j in range(m)
    )
    adc_terms = " + ".join(
        "("
        + " + ".join(
            f"(qv[{j * sub + i + 1}] - b{j}[{i + 1}])"
            f" * (qv[{j * sub + i + 1}] - b{j}[{i + 1}])"
            for i in range(sub)
        )
        + ")"
        for j in range(m)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cd AS (
  SELECT vec_id, v, [{cds}] AS cds FROM e),
cells AS (
  SELECT vec_id, v, cds,
         list_position(cds, list_min(cds)) - 1 AS cell FROM cd),
ds AS (
  SELECT vec_id, cell,
         {ds_cols}
  FROM cells),
enc AS (
  SELECT vec_id, cell, [{codes}] AS codes FROM ds),
q1 AS (
  SELECT vec_id, v AS qv, cds,
         list_position(cds, list_min(cds)) - 1 AS c1
  FROM cells WHERE vec_id < 10),
q2 AS (
  SELECT vec_id, qv, c1,
         list_position(msk, list_min(msk)) - 1 AS c2
  FROM (
    SELECT vec_id, qv, c1,
           list_transform(range({n_cells}),
                          i -> CASE WHEN i = c1 THEN 'infinity'::DOUBLE
                                    ELSE cds[i + 1] END) AS msk
    FROM q1)),
qc AS (
  SELECT vec_id, qv, c1 AS cell FROM q2
  UNION ALL
  SELECT vec_id, qv, c2 AS cell FROM q2),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, q.qv,
         {bsel}
  FROM qc q JOIN enc c USING (cell)
  WHERE q.vec_id != c.vec_id),
scored AS (
  SELECT query_id, corpus_id,
         0.0 + {adc_terms} AS adc
  FROM cand),
ranked AS (
  SELECT query_id, corpus_id, round(adc, 4) AS adc_r,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, corpus_id ASC) AS rank
  FROM scored)
SELECT query_id, corpus_id, adc_r, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ d6
def d6_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.35 — random
    vectors top out ≈0.5 cosine).

    Pairs are scored by the cell-cogrouped numpy scorer, bit-identical
    to the ``dot``/``norm`` expression by construction (pinned at
    full-probe gate shape in tests/test_scale_plans.py). The per-pair
    HOF join it replaced cost ~100 s of C2 JIT warm-up for its
    generated code on a fresh JVM (isolated walls 99.6/44.6/11.5/2.9 s
    over four reps; the numpy scorer is flat ~2 s from rep 1)."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.cosine_neardup_pairs(
        emb, "vec_id", "embedding", 0.35
    ).orderBy("id_a", "id_b")


D6_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ s3
def s3_label_centroids(spark, sf_dir):
    """Vector aggregation: per-label centroid norms (embedding math as
    grouped array aggregation)."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = 64
    agg = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.sum(F.element_at("embedding", d + 1)).alias(f"__s{d}")
            for d in range(dim)
        ],
    )
    sq = None
    for d in range(dim):
        term = (F.col(f"__s{d}") / F.col("n_vecs")) ** 2
        sq = term if sq is None else sq + term
    return (
        agg.withColumn("centroid_norm", F.round(F.sqrt(sq), 4))
        .select("label", "n_vecs", "centroid_norm")
        .orderBy("label")
    )


_DK_DIM_SUMS = ", ".join(
    f"sum(embedding[{d + 1}]::DOUBLE) AS s{d}" for d in range(64)
)
_DK_SQ_SUM = " + ".join(f"(s{d} / n_vecs) * (s{d} / n_vecs)" for d in range(64))
S3_SQL = f"""
SELECT label, n_vecs, round(sqrt({_DK_SQ_SUM}), 4) AS centroid_norm
FROM (
  SELECT label, count(*) AS n_vecs, {_DK_DIM_SUMS}
  FROM embeddings GROUP BY label)
ORDER BY label
"""


# ------------------------------------------------------------------ a1
def a1_asof_join(spark, sf_dir):
    """Point-in-time (as-of) join: each purchase matched to the user's
    latest prior click (sparkt.functions.asof — union + carry-forward
    window, one shuffle, no pair blowup)."""
    from sparkt.functions.asof import asof_join

    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_ts"],
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_ts",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    ).orderBy("purchase_id")


A1_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""


# ------------------------------------------------------------------ a2
def a2_range_join(spark, sf_dir):
    """Range (interval band) join: clicks within 30 minutes before each
    purchase, time-bucketed into an equijoin + residual filter."""
    from sparkt.functions.asof import range_join

    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = range_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        lower_seconds=-1800, upper_seconds=0, bucket_seconds=600,
    )
    return (
        joined.groupBy("purchase_id")
        .agg(F.countDistinct("click_id").alias("n_recent_clicks"))
        .orderBy("purchase_id")
    )


A2_SQL = """
SELECT p.event_id AS purchase_id, count(DISTINCT c.event_id) AS n_recent_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
GROUP BY p.event_id
ORDER BY purchase_id
"""


# ------------------------------------------------------------------ t4
def t4_pii_redact(spark, sf_dir):
    """PII scan + redaction (sparkt.functions.text.pii_counts /
    redact_pii). The corpus has no organic PII, so a deterministic
    synthetic suffix (email always; phones on doc_id parity) is
    appended identically on both engines; counts come from the
    ORIGINAL string, redaction output is md5'd to keep rows narrow.
    Pure codegen projection — no shuffle at any scale."""
    docs = T(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("_"),
        d.cast("string"),
        F.lit("@example.com ip 10.0."),
        (d % 250).cast("string"),
        F.lit("."),
        (d % 200).cast("string"),
        F.when(d % 2 == 0, F.lit(" tel 555-123-4567")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit(" alt 202 555-0199")).otherwise(F.lit("")),
    )
    pii = TX.pii_counts(s)
    return docs.select(
        "doc_id",
        pii["n_emails"].alias("n_emails"),
        pii["n_ips"].alias("n_ips"),
        pii["n_phones"].alias("n_phones"),
        F.md5(TX.redact_pii(s)).alias("redacted_md5"),
    ).orderBy("doc_id")


_E, _I, _P = TX.PII_EMAIL_RE, TX.PII_IPV4_RE, TX.PII_PHONE_RE
T4_SQL = f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact ' || source || '_' || doc_id::VARCHAR
              || '@example.com ip 10.0.' || (doc_id % 250)::VARCHAR
              || '.' || (doc_id % 200)::VARCHAR
              || CASE WHEN doc_id % 2 = 0 THEN ' tel 555-123-4567' ELSE '' END
              || CASE WHEN doc_id % 3 = 0 THEN ' alt 202 555-0199' ELSE '' END
           AS s
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(s, '{_E}')) AS n_emails,
       len(regexp_extract_all(s, '{_I}')) AS n_ips,
       len(regexp_extract_all(s, '{_P}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(s,
               '{_E}', '<EMAIL>', 'g'),
               '{_P}', '<PHONE>', 'g'),
               '{_I}', '<IP>', 'g')) AS redacted_md5
FROM p
ORDER BY doc_id
"""


# ------------------------------------------------------------------ t6
def t6_tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per doc by tf·(1/df)
    (sparkt.functions.text.tfidf_top_terms)."""
    docs = T(spark, sf_dir, "documents")
    return TX.tfidf_top_terms(docs, "text", "doc_id", top_k=3).orderBy(
        "doc", "rnk"
    )


T6_SQL = f"""
WITH tok AS (SELECT doc_id AS doc, unnest({_DK_TOKENS}) AS term FROM documents),
tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
r AS (SELECT doc, term, tf, df,
             row_number() OVER (PARTITION BY doc
                                ORDER BY tf * 1.0 / df DESC, term ASC) AS rnk
      FROM tf JOIN dft USING (term))
SELECT doc, term, tf, df, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 3
ORDER BY doc, rnk
"""


# ------------------------------------------------------------------ d8
def d8_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs whose 3-word-shingle
    overlap with the benchmark slice (doc_id % 97 == 0) is >= 5%
    (sparkt.functions.dedup.decontaminate — broadcast bench-shingle
    semi-join, no corpus shuffle by shingle)."""
    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return D.decontaminate(
        corpus, bench, "text", "doc_id", k=3, threshold=0.05
    ).orderBy("doc")


D8_SQL = f"""
WITH sh AS (SELECT doc_id, unnest({_DK_SHINGLES_K3}) AS sh FROM documents),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 97 != 0),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM corpus GROUP BY 1),
hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS overlap
         FROM corpus c JOIN bench b USING (sh) GROUP BY 1)
SELECT s.doc_id AS doc, n_sh, overlap,
       round(overlap * 1.0 / n_sh, 6) AS contamination
FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
WHERE overlap * 1.0 / n_sh >= 0.05
ORDER BY doc
"""


# ------------------------------------------------------------------ p2
def p2_salted_join(spark, sf_dir):
    """Skew-robust salted equijoin (sparkt.functions.skew.salted_join)
    on the naturally skewed event_type key: the events fact is salted
    deterministically, the per-type dim is replicated per salt. The
    oracle is the PLAIN join — salting must be invisible in results."""
    from sparkt.functions.skew import salted_join

    ev = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total")
    )
    joined = salted_join(ev, dim, "event_type", n_salts=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("type_total").alias("type_total"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


P2_SQL = """
SELECT e.event_type AS event_type, count(*) AS n,
       max(d.type_total) AS type_total,
       round(sum(e.value), 2) AS sum_value
FROM events e
JOIN (SELECT event_type, count(*) AS type_total
      FROM events GROUP BY event_type) d
  ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY 1
"""


# ------------------------------------------------------------------ t7
def t7_approx_sketch(spark, sf_dir):
    """Sketch aggregates (sparkt.functions.sketches): HLL distinct
    users and GK approximate p50 per event_type. Sketches are
    deterministic (hash-based, no sampling), so the gate pins
    'estimate within ε of exact' as stable booleans the exact-SQL
    oracle asserts true — approximate VALUES never enter the hash."""
    from sparkt.functions.sketches import approx_quantile, hll_distinct

    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            hll_distinct("user_id").alias("__hll"),
            F.expr("median(value)").alias("__p50"),
            approx_quantile("value", 0.5).alias("__ap50"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__hll") / F.col("exact_users") - 1) <= 0.05
            ).alias("hll_within_5pct"),
            (F.abs(F.col("__ap50") / F.col("__p50") - 1) <= 0.01).alias(
                "p50_within_1pct"
            ),
        )
        .orderBy("event_type")
    )


T7_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS hll_within_5pct,
       true AS p50_within_1pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ----------------------------------------------------------------- mm1
def mm1_image_meta(spark, sf_dir):
    """Multimodal metadata extraction over a binary column through the
    REAL Arrow mapInPandas plumbing (sparkt.functions.multimodal) —
    payload is the utf-8 text bytes so the DuckDB oracle can reproduce
    the stub decode (dims from md5 digest bytes) exactly."""
    from sparkt.functions import multimodal as MM

    docs = T(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.when(F.col("doc_id") % 2 == 0, "png").otherwise("jpeg").alias(
            "format"
        ),
        F.col("text").cast("binary").alias("content"),
    )
    return MM.extract_image_metadata(items).orderBy("item_id")


_DK_HEXNIB = "(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"
_DK_BYTE0 = f"({_DK_HEXNIB.format(p=1)} * 16 + {_DK_HEXNIB.format(p=2)})"
_DK_BYTE1 = f"({_DK_HEXNIB.format(p=3)} * 16 + {_DK_HEXNIB.format(p=4)})"
MM1_SQL = f"""
SELECT doc_id AS item_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(64 + {_DK_BYTE0} % 64 AS INT) AS width,
       CAST(64 + {_DK_BYTE1} % 64 AS INT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
ORDER BY item_id
"""


# ----------------------------------------------------------------- t16
def t16_normalize(spark, sf_dir):
    """Step-0 text normalization (sparkt.functions.text
    .normalize_text): control-char strip, unicode-punctuation fold,
    whitespace collapse — pure codegen, no shuffle. The corpus is
    clean ASCII, so the gate first INJECTS deterministic noise (tab
    padding, NBSP-for-space, trailing ellipsis + BEL) identically in
    both engines and verifies the normalizer restores a canonical
    form (md5 + length compared)."""
    docs = T(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit("\t "),
        F.translate(F.col("text"), " ", "\u00a0"),
        F.lit(" \u2026\u0007"),
    )
    norm = TX.normalize_text(noisy)
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.length(norm).alias("n_len"),
        F.md5(norm).alias("h"),
    ).orderBy("doc")


T16_SQL = """
WITH noisy AS (
  SELECT doc_id,
         chr(9) || ' ' || replace(text, ' ', chr(160))
         || ' ' || chr(8230) || chr(7) AS s
  FROM documents),
folded AS (
  SELECT doc_id,
         regexp_replace(
           translate(s,
                     chr(8216) || chr(8217) || chr(8220) || chr(8221)
                     || chr(8211) || chr(8212) || chr(160),
                     chr(39) || chr(39) || chr(34) || chr(34) || '-- '),
           chr(8230), '...', 'g') AS s
  FROM noisy),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(s, '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]',
                          '', 'g'),
           '\\s+', ' ', 'g')) AS s
  FROM folded)
SELECT doc_id AS doc,
       CAST(length(s) AS INT) AS n_len,
       md5(s) AS h
FROM norm
ORDER BY doc
"""


# ----------------------------------------------------------------- mm3
def mm3_audio_segments(spark, sf_dir):
    """Audio segmentation through the real Arrow mapInPandas plumbing
    (sparkt.functions.multimodal.segment_audio): fixed 10 s windows
    over each clip's stub-probed duration with exact per-segment
    sample counts — payload is the utf-8 text bytes so the DuckDB
    oracle reproduces the md5-derived probe exactly."""
    from sparkt.functions import multimodal as MM

    docs = T(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return MM.segment_audio(items, window_ms=10000).orderBy(
        "item_id", "seg_idx"
    )


_DK_DUR = (
    f"({_DK_HEXNIB.format(p=5)} * 4096 + {_DK_HEXNIB.format(p=6)} * 256 "
    f"+ {_DK_HEXNIB.format(p=7)} * 16 + {_DK_HEXNIB.format(p=8)})"
)
MM3_SQL = f"""
WITH probe AS (
  SELECT doc_id AS item_id,
         {_DK_DUR} AS duration_ms,
         CASE ({_DK_HEXNIB.format(p=9)} % 4)
           WHEN 0 THEN 16000 WHEN 1 THEN 22050
           WHEN 2 THEN 44100 ELSE 48000 END AS sample_rate
  FROM documents),
segs AS (
  SELECT item_id, duration_ms, sample_rate,
         unnest(generate_series(
           0, CAST(ceil(duration_ms / 10000.0) AS INT) - 1)) AS seg_idx
  FROM probe WHERE duration_ms > 0)
SELECT item_id,
       CAST(seg_idx AS INT) AS seg_idx,
       CAST(seg_idx * 10000 AS INT) AS start_ms,
       CAST(least((seg_idx + 1) * 10000, duration_ms) AS INT) AS end_ms,
       CAST(sample_rate AS INT) AS sample_rate,
       CAST((least((seg_idx + 1) * 10000, duration_ms) - seg_idx * 10000)
            * sample_rate // 1000 AS BIGINT) AS n_samples
FROM segs
ORDER BY item_id, seg_idx
"""


# ------------------------------------------------------------------ c1
def c1_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (window=50, stride=40): the
    document → training-chunk explosion every LLM data pipeline runs.
    Narrow posexplode, zero shuffle (sparkt.functions.text.chunk_table)."""
    docs = T(spark, sf_dir, "documents")
    return TX.chunk_table(docs, "text", "doc_id", window=50, stride=40) \
        .orderBy("doc", "chunk_idx")


C1_SQL = f"""
WITH t AS (SELECT doc_id, {_DK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), 40)) AS start
      FROM t)
SELECT doc_id AS doc,
       CAST(start / 40 AS INT) AS chunk_idx,
       CAST(least(50, len(toks) - start) AS INT) AS n_tokens,
       md5(array_to_string(toks[start + 1 : start + 50], ' ')) AS chunk_md5
FROM s
ORDER BY doc, chunk_idx
"""


# ------------------------------------------------------------------ p3
def p3_stratified_sample(spark, sf_dir):
    """Deterministic sampling surfaces in ONE gate (consolidated r5
    under the driver's 50-entry artifact cap, COVERAGE.md "registry
    policy"): class-rebalancing stratified downsampling (keep 25% of
    'en', 50% of 'de' — stratified_sample), then the salted-md5
    train/val/test split and 4/16 hash sample (r4's p1:
    train_val_test_split + hash_bucket) applied to the survivors. All
    pure filters/projections — no shuffle before the final tiny
    groupBy; per-language counts + sorted-id md5 prove the survivor
    sets match the oracle's identical md5 arithmetic exactly."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    kept = SP.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.25, "de": 0.5}
    )
    split = SP.train_val_test_split(kept, "doc_id").withColumn(
        "sampled",
        F.when(
            SP.hash_bucket(F.col("doc_id")).isin(list("0123")), 1
        ).otherwise(0),
    )
    return (
        split.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id")))
            )).alias("ids_md5"),
            F.sum(
                F.when(F.col("split") == "train", 1).otherwise(0)
            ).alias("n_train"),
            F.sum(
                F.when(F.col("split") == "val", 1).otherwise(0)
            ).alias("n_val"),
            F.sum(
                F.when(F.col("split") == "test", 1).otherwise(0)
            ).alias("n_test"),
            F.sum("sampled").alias("n_sampled"),
        )
        .orderBy("lang")
    )


P3_SQL = """
WITH hashed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('strata:' || CAST(doc_id AS VARCHAR)),
                              1, 8))::UBIGINT AS BIGINT) AS h32
  FROM documents),
kept AS (
  SELECT doc_id, lang FROM hashed
  WHERE h32 < CASE lang WHEN 'en' THEN CAST(0.25 * 4294967296 AS BIGINT)
                        WHEN 'de' THEN CAST(0.5 * 4294967296 AS BIGINT)
                        ELSE 4294967296 END),
b AS (
  SELECT doc_id, lang,
         substr(md5('split:' || doc_id::VARCHAR), 1, 1) AS sb,
         substr(md5('sample:' || doc_id::VARCHAR), 1, 1) AS kb
  FROM kept)
SELECT lang, count(*) AS n_kept,
       md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_md5,
       CAST(sum(CASE WHEN sb IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN sb IN ('c','d') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_val,
       CAST(sum(CASE WHEN sb NOT IN ('0','1','2','3','4','5','6','7','8','9',
                                     'a','b','c','d') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN kb IN ('0','1','2','3') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM b
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------------------------ p7
def p7_weighted_sample(spark, sf_dir):
    """πps weighted Bernoulli sampling
    (sparkt.functions.sampling.weighted_bernoulli_sample): each doc
    survives with P = min(1, n_chars/500) under an INTEGER-EXACT
    md5-u32 rule — the survivor set is bit-identical in every engine
    (no float comparisons). Long docs (≥500 chars) always survive;
    the rest proportionally to length."""
    from sparkt.functions import sampling as SA

    docs = T(spark, sf_dir, "documents")
    kept = SA.weighted_bernoulli_sample(
        docs, "n_chars", "doc_id", scale=500
    )
    return kept.select("doc_id", "n_chars").orderBy("doc_id")


P7_SQL = """
SELECT doc_id, n_chars
FROM documents
WHERE CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                           1, 8))::UBIGINT AS BIGINT) * 500
      < CAST(n_chars AS BIGINT) * 4294967296
ORDER BY doc_id
"""


# ------------------------------------------------------------------ c4
def c4_curriculum(spark, sf_dir):
    """Curriculum data ordering
    (sparkt.functions.sampling.curriculum_order): global training
    position visiting difficulty stages in order (length terciles
    here: short docs first) with a deterministic md5 shuffle within
    each stage — computed by the two-phase prefix-sum, never a global
    single-partition window. The oracle is the naive single-window
    formulation, which the two-phase plan must equal exactly."""
    from sparkt.functions import sampling as SA

    docs = T(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 350, 1)
        .otherwise(2)
        .alias("stage"),
    )
    return SA.curriculum_order(staged, "stage", "doc_id").orderBy(
        "doc_id"
    )


C4_SQL = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN n_chars < 150 THEN 0
              WHEN n_chars < 350 THEN 1 ELSE 2 END AS stage
  FROM documents)
SELECT doc_id, stage,
       CAST(row_number() OVER (
              ORDER BY stage,
                       md5('curriculum|' || CAST(doc_id AS VARCHAR)),
                       doc_id) - 1 AS BIGINT) AS curriculum_pos
FROM s
ORDER BY doc_id
"""


# ------------------------------------------------------------------ d9
def d9_dup_clusters(spark, sf_dir):
    """Pairs → clusters: connected components over the d5 jaccard
    pairs via alternating large-star/small-star contraction
    (sparkt.functions.dedup.duplicate_clusters, O(log n) rounds) — a
    genuinely iterative operator the driver checks against DuckDB's
    recursive CTE transitive closure."""
    docs = T(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.2)
    # driver_threshold=0: this gate exists to pin the DISTRIBUTED star
    # contraction against the oracle (sd1/pl2 exercise the adaptive
    # driver union-find default)
    return D.duplicate_clusters(pairs, driver_threshold=0).orderBy("doc")


def _d9_sql():
    # same pair set as d5, clustered by recursive closure
    d5_body = D5_SQL.rsplit("ORDER BY", 1)[0]
    return f"""
WITH RECURSIVE pairs AS ({d5_body}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r FROM edges e JOIN reach ON reach.node = e.dst
)
SELECT node AS doc, min(r) AS cluster FROM reach GROUP BY node ORDER BY doc
"""


# ------------------------------------------------------------------ sd1
def sd1_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — the published pipeline shape, re-expressed
    Spark-first): embedding-cosine near-duplicate pairs (d6's IVF-cell
    bucketed equijoin — never all-pairs) → connected components (d9's
    O(log n) large-star/small-star contraction) → keep the min-id
    representative per cluster. Returns one row per semantic cluster
    with its representative, member count, and sorted-member md5 so the
    oracle verifies the exact survivor sets.

    100 TB shape: both stages are bucketed equijoins + star
    contraction; no stage is quadratic in corpus size."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = S.cosine_neardup_pairs(emb, "vec_id", "embedding", 0.35)
    clusters = D.duplicate_clusters(pairs)
    return (
        clusters.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.md5(F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc")))
            )).alias("members_md5"),
        )
        .select(
            F.col("cluster").alias("representative"),
            "n_members",
            "members_md5",
        )
        .orderBy("representative")
    )


def _sd1_sql():
    # same pair set as d6, clustered by recursive closure, reduced to
    # per-cluster survivor rows
    d6_body = D6_SQL.rsplit("ORDER BY", 1)[0]
    return f"""
WITH RECURSIVE pairs AS ({d6_body}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
labels AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
SELECT cluster AS representative,
       count(*) AS n_members,
       md5(array_to_string(list_sort(list(node)), ',')) AS members_md5
FROM labels
GROUP BY cluster
ORDER BY representative
"""


# ----------------------------------------------------------------- ft4
def ft4_anomalies(spark, sf_dir):
    """Robust daily-volume anomaly flags (sparkt.functions.features
    .count_anomalies): per event_type, days whose count deviates from
    the type's median by a modified z-score (median/MAD, Iglewicz &
    Hoaglin) above 3.5. Counts exact; median/MAD of integer counts
    interpolate identically across engines (round 6)."""
    from sparkt.functions.features import count_anomalies

    ev = T(spark, sf_dir, "events")
    out = count_anomalies(ev, "ts", "event_type", z_threshold=3.5)
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n", "med", "mad", "is_anomaly",
    ).orderBy("event_type", "day")


FT4_SQL = """
WITH g AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2),
med AS (SELECT grp, quantile_cont(n, 0.5) AS med FROM g GROUP BY grp),
dev AS (
  SELECT g.grp, g.day, g.n, med.med, abs(g.n - med.med) AS ad
  FROM g JOIN med USING (grp)),
mad AS (SELECT grp, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY grp)
SELECT dev.grp AS event_type,
       strftime(dev.day, '%Y-%m-%d') AS day,
       CAST(dev.n AS BIGINT) AS n,
       round(dev.med, 6) AS med,
       round(mad.mad, 6) AS mad,
       CASE WHEN mad.mad = 0 THEN dev.ad > 0
            ELSE 0.6745 * dev.ad / mad.mad > 3.5 END AS is_anomaly
FROM dev JOIN mad USING (grp)
ORDER BY event_type, day
"""


# ----------------------------------------------------------------- ft3
def ft3_retention(spark, sf_dir):
    """Cohort retention (sparkt.functions.features.cohort_retention):
    signup-week cohorts × weekly activity — the retention-triangle
    input, exact integer counts. Anchor = first 'signup' event per
    user; week = date_trunc Monday in both engines."""
    from sparkt.functions.features import cohort_retention

    ev = T(spark, sf_dir, "events")
    out = cohort_retention(
        ev, "user_id", "ts",
        anchor_filter=F.col("event_type") == "signup",
    )
    # ISO-string the week: pandas renders a DuckDB DATE as a datetime,
    # so a raw date column can never hash-match across engines
    return out.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset", "n_cohort", "n_active",
    ).orderBy("cohort_week", "week_offset")


FT3_SQL = """
WITH anchors AS (
  SELECT user_id, min(ts) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
coh AS (SELECT user_id, t0, date_trunc('week', t0) AS cohort
        FROM anchors),
acts AS (
  SELECT DISTINCT e.user_id, c.cohort,
         CAST(date_diff('day', c.cohort, date_trunc('week', e.ts)) / 7
              AS INT) AS week_offset
  FROM events e JOIN coh c ON e.user_id = c.user_id
  WHERE e.ts >= c.t0),
sizes AS (SELECT cohort, count(*) AS n_cohort FROM coh GROUP BY cohort)
SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_week,
       a.week_offset,
       CAST(s.n_cohort AS BIGINT) AS n_cohort,
       CAST(count(*) AS BIGINT) AS n_active
FROM acts a JOIN sizes s ON a.cohort = s.cohort
GROUP BY a.cohort, a.week_offset, s.n_cohort
ORDER BY cohort_week, week_offset
"""


# ----------------------------------------------------------------- ft2
def ft2_funnel(spark, sf_dir):
    """Ordered funnel analysis (sparkt.functions.features
    .funnel_stages): per user, the deepest view → click → purchase
    stage reached via a strictly time-increasing greedy subsequence —
    ONE shuffle + a codegen aggregate scan regardless of funnel depth.
    The oracle runs the equivalent (and at scale, n-join) iterative
    min-ts-after-previous formulation."""
    from sparkt.functions.features import funnel_stages

    ev = T(spark, sf_dir, "events")
    return funnel_stages(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).orderBy("user_id")


FT2_SQL = """
WITH u AS (SELECT DISTINCT user_id FROM events),
t1 AS (SELECT user_id, min(ts) AS ts FROM events
       WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, min(e.ts) AS ts
       FROM events e JOIN t1 ON e.user_id = t1.user_id
       WHERE e.event_type = 'click' AND e.ts > t1.ts
       GROUP BY e.user_id),
t3 AS (SELECT e.user_id, min(e.ts) AS ts
       FROM events e JOIN t2 ON e.user_id = t2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > t2.ts
       GROUP BY e.user_id)
SELECT u.user_id,
       CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
                 WHEN t2.user_id IS NOT NULL THEN 2
                 WHEN t1.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage
FROM u
LEFT JOIN t1 ON u.user_id = t1.user_id
LEFT JOIN t2 ON u.user_id = t2.user_id
LEFT JOIN t3 ON u.user_id = t3.user_id
ORDER BY u.user_id
"""


# ----------------------------------------------------------------- d14
def d14_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff (sparkt.functions.dedup.corpus_diff):
    added/removed/changed/unchanged per doc between two snapshots
    carved deterministically from documents (old = ids % 10 != 0,
    new = ids % 9 != 0 with ids % 7 == 0 content-updated — same
    construction in both engines). One full-outer equijoin over
    narrow (id, fingerprint) projections; gate reduces to per-status
    counts + the md5 of each status's sorted id list."""
    docs = T(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 9 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" UPDATED")),
        ).otherwise(F.col("text")).alias("text"),
    )
    diff = D.corpus_diff(old, new, "doc_id", "text")
    return (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.md5(F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id")))
            )).alias("ids_md5"),
        )
        .orderBy("status")
    )


D14_SQL = """
WITH old AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE doc_id % 10 != 0),
new AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(
           CASE WHEN doc_id % 7 = 0 THEN text || ' UPDATED'
                ELSE text END)), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE doc_id % 9 != 0),
diff AS (
  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
         CASE WHEN old.fp IS NULL THEN 'added'
              WHEN new.fp IS NULL THEN 'removed'
              WHEN old.fp = new.fp THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old FULL OUTER JOIN new USING (doc_id))
SELECT status,
       CAST(count(*) AS BIGINT) AS n_docs,
       md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_md5
FROM diff
GROUP BY status
ORDER BY status
"""


# ------------------------------------------------------------------ p8
def p8_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnostics (sparkt.functions.skew
    .key_skew_report): top-10 heaviest lineitem supplier keys with
    exact counts, per-mille share and the salted-join trigger flag —
    the measurement step before salting/AQE tuning. Two-phase top-N,
    scalar-subquery totals, no collect."""
    from sparkt.functions.skew import key_skew_report

    li = T(spark, sf_dir, "lineitem")
    return key_skew_report(li, "l_suppkey", top_n=10).orderBy("rank")


P8_SQL = """
WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c),
r AS (SELECT l_suppkey, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, l_suppkey ASC)
               AS rank
      FROM c)
SELECT l_suppkey,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(floor(n_rows * 1000 / total) AS INT) AS share_permille,
       n_rows > 4.0 * total / n_keys AS is_skewed,
       CAST(rank AS INT) AS rank
FROM r, t
WHERE rank <= 10
ORDER BY rank
"""


# ----------------------------------------------------------------- pl2
def pl2_vector_pipeline(spark, sf_dir):
    """End-to-end VECTOR curation pipeline (the embedding-side
    companion to pl1's text pipeline), composed from the library
    operators: int8 quantization (similarity.quantize_int8 — the 4×
    memory representation an ANN index stores) → cosine near-dup
    pairs over the DEQUANTIZED vectors (cosine_neardup_pairs,
    full-probe IVF-cell equijoin — provably brute-force-identical,
    never all-pairs at scale) → connected components
    (dedup.duplicate_clusters, O(log n) star contraction) → min-id
    survivor per cluster → per-label kept/total curation stats.

    100 TB shape: one codegen quantize projection, a bucketed
    candidate equijoin, log-round contraction, and one anti-join +
    two map-side-combined counts. Exact integers end-to-end — the
    oracle replays the identical dequantize → pair → closure →
    survivor chain in SQL."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = S.quantize_int8(emb)
    deq = q.select(
        "vec_id",
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale")
        ).alias("embedding"),
    ).localCheckpoint()
    # ^ materialize the compressed representation ONCE (what an ANN
    # index build does anyway): the pair join's norm + 8-way cell
    # assignment would otherwise each re-inline the whole quantize
    # transform chain — Catalyst duplicates non-cheap subtrees
    # wholesale, and the analysis/codegen blowup dominated the gate
    # (35 s -> measured after this change in GATE_BUDGETS)
    pairs = S.cosine_neardup_pairs(deq, "vec_id", "embedding", 0.35)
    clusters = D.duplicate_clusters(pairs)
    drop = clusters.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias("vec_id")
    )
    kept = emb.join(drop, "vec_id", "left_anti")
    totals = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_total"))
    kepts = kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kepts, "label", "left")
        .select(
            "label", "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("label")
    )


PL2_SQL = """
WITH RECURSIVE
e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings),
sc AS (SELECT vec_id, label, v0,
              greatest(list_max(list_transform(v0, x -> abs(x))) / 127,
                       1e-12) AS scale
       FROM e0),
deq AS (SELECT vec_id,
               list_transform(v0, x -> CAST(floor(x / scale + 0.5) AS INT)
                                       * scale) AS v
        FROM sc),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM deq a JOIN deq b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
dropped AS (SELECT node FROM lab WHERE node != cluster)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN vec_id IN (SELECT node FROM dropped)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
FROM e0
GROUP BY label
ORDER BY label
"""


# ------------------------------------------------------------------ s5
def s5_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization round-trip: quantized
    identity (md5 of the int vector), scale, and reconstruction error
    stats — the 4× memory scale path for ANN corpora
    (sparkt.functions.similarity.quantize_int8)."""
    emb = T(spark, sf_dir, "embeddings")
    return S.dequantize_error_stats(emb, "vec_id", "embedding") \
        .orderBy("vec_id")


S5_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))) / 127,
                      1e-12) AS scale
      FROM e),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))
               AS qv
      FROM s),
err AS (SELECT vec_id, scale, qv,
               list_transform(generate_series(1, len(v)),
                              i -> abs(v[i] - qv[i] * scale)) AS e
        FROM q)
SELECT vec_id,
       md5(array_to_string(qv, ',')) AS q_md5,
       round(scale, 6) AS scale_r,
       round(list_max(e), 6) AS max_err_r,
       round(list_sum(list_transform(e, x -> x * x)) / len(e), 9) AS mse_r
FROM err
ORDER BY vec_id
"""


# ----------------------------------------------------------------- d10
def d10_span_dupes(spark, sf_dir):
    """Exact-substring (repeated verbatim span) detection across
    documents (sparkt.functions.dedup.span_duplicates): every 10-token
    window fingerprinted (stride=1 — the guarantee mode), grouped with
    a frequency cap. The distributed stand-in for Lee et al. 2022
    suffix-array dedup."""
    docs = T(spark, sf_dir, "documents")
    return D.span_duplicates(
        docs, "text", "doc_id", window=10, stride=1
    ).orderBy("chunk_md5")


D10_SQL = f"""
WITH t AS (SELECT doc_id, {_DK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), 1)) AS start
      FROM t),
c AS (SELECT doc_id,
             md5(array_to_string(toks[start + 1 : start + 10], ' ')) AS fp
      FROM s WHERE len(toks) - start >= 10)
SELECT fp AS chunk_md5,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM c
GROUP BY fp
HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 1000
ORDER BY chunk_md5
"""


# ------------------------------------------------------------------ t8
def t8_hashed_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier over documents
    (sparkt.functions.text.hashed_classifier_score): deterministic
    milli-weight per token bucket, accumulated with the ``aggregate``
    HOF — one narrow codegen projection, zero shuffle/Python."""
    docs = T(spark, sf_dir, "documents")
    cols = TX.hashed_classifier_score(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_toks"].alias("n_toks"),
        cols["score_milli"].alias("score_milli"),
        cols["keep"].alias("keep"),
    ).orderBy("doc_id")


_T8_W = (
    "((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)) % 2001 - 1000"
)
T8_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_toks,
         CAST(coalesce(list_sum(list_transform(toks, t -> {_T8_W})), 0)
              AS BIGINT) AS score_milli
  FROM t)
SELECT doc_id, n_toks, score_milli,
       CAST(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM s
ORDER BY doc_id
"""


# ------------------------------------------------------------------ t9
def t9_trigram_familiarity(spark, sf_dir):
    """CCNet-shaped two-pass corpus familiarity score
    (sparkt.functions.text.trigram_familiarity): corpus char-trigram
    frequency table (bounded vocab, broadcast) + per-doc aggregate."""
    docs = T(spark, sf_dir, "documents")
    return TX.trigram_familiarity(docs, "text", "doc_id").orderBy("doc")


T9_SQL = """
WITH norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                        ' +', ' ', 'g') AS s
  FROM documents),
tg AS (
  SELECT doc_id AS doc,
         unnest(list_transform(generate_series(1, length(s) - 2),
                               i -> substr(s, i, 3))) AS tri
  FROM norm WHERE length(s) >= 3),
freq AS (SELECT tri, count(*) AS corpus_freq FROM tg GROUP BY tri)
SELECT t.doc,
       CAST(count(*) AS BIGINT) AS n_tri,
       CAST(sum(f.corpus_freq) AS BIGINT) AS familiarity
FROM tg t JOIN freq f USING (tri)
GROUP BY t.doc
ORDER BY t.doc
"""


# ----------------------------------------------------------------- t11
def t11_bigram_lm(spark, sf_dir):
    """Corpus-fit word-bigram LM scoring (CCNet/KenLM-style perplexity
    filter shape — sparkt.functions.text.bigram_lm_table): pass 1 fits
    bigram + context counts over the corpus, pass 2 scores every doc.
    The oracle compares the exact integer count sums; the ln-based
    avg_logp column is deliberately excluded from the hash (same
    doctrine as t6: ln last-ulp differs across engines)."""
    docs = T(spark, sf_dir, "documents")
    return (
        TX.bigram_lm_table(docs, "text", "doc_id")
        .select("doc", "n_bigrams", "bc_sum", "ctx_sum")
        .orderBy("doc")
    )


T11_SQL = """
WITH norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                        ' +', ' ', 'g') AS s
  FROM documents),
w AS (
  SELECT doc_id, list_filter(string_split(s, ' '), x -> x <> '') AS ws
  FROM norm),
bg AS (
  SELECT doc_id AS doc,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM w WHERE len(ws) >= 2),
bgf AS (SELECT bg, count(*) AS bc FROM bg GROUP BY bg),
ctxf AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cc
         FROM bg GROUP BY 1)
SELECT b.doc,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(f.bc) AS BIGINT) AS bc_sum,
       CAST(sum(c.cc) AS BIGINT) AS ctx_sum
FROM bg b
JOIN bgf f USING (bg)
JOIN ctxf c ON split_part(b.bg, ' ', 1) = c.w1
GROUP BY b.doc
ORDER BY b.doc
"""


# ----------------------------------------------------------------- t12
def t12_char_stats(spark, sf_dir):
    """Character-distribution gibberish signals
    (sparkt.functions.text.char_stats): distinct-char count, max
    single-char frequency, integer-exact low-diversity flag — all
    from a shuffle-free HOF histogram over each doc's distinct chars
    (no per-character explode). The ln-based entropy column is
    threshold-only and excluded from the oracle hash."""
    docs = T(spark, sf_dir, "documents")
    st = TX.char_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").alias("doc"),
        st["n_len"].alias("n_len"),
        st["n_distinct_chars"].alias("n_distinct_chars"),
        st["max_char_freq"].alias("max_char_freq"),
        st["low_diversity"].alias("low_diversity"),
    ).orderBy("doc")


T12_SQL = """
WITH c AS (
  SELECT doc_id,
         length(text) AS n_len,
         list_filter(list_distinct(string_split(text, '')),
                     x -> x <> '') AS chars
  FROM documents),
f AS (
  SELECT doc_id, n_len, len(chars) AS n_distinct_chars,
         coalesce(list_max(list_transform(chars,
           x -> n_len - length(replace(text, x, '')))), 0)
           AS max_char_freq
  FROM c JOIN documents USING (doc_id))
SELECT doc_id AS doc,
       CAST(n_len AS INT) AS n_len,
       CAST(n_distinct_chars AS INT) AS n_distinct_chars,
       CAST(max_char_freq AS INT) AS max_char_freq,
       CAST(CASE WHEN n_distinct_chars <= 10
                 OR (max_char_freq * 4 >= n_len AND n_len >= 20)
            THEN 1 ELSE 0 END AS INT) AS low_diversity
FROM f
ORDER BY doc
"""


# ----------------------------------------------------------------- t13
def t13_inverted_index(spark, sf_dir):
    """Inverted-index construction
    (sparkt.functions.index.inverted_index): exact per-term df /
    total_tf plus a doc-id-ordered posting list capped at 20 via the
    skew-safe two-phase top-N (no task ever holds an uncapped
    stop-term list). Posting arrays are md5'd over their joined
    string so the oracle hash is array-representation-independent."""
    from sparkt.functions.index import inverted_index

    docs = T(spark, sf_dir, "documents")
    ix = inverted_index(docs, "text", "doc_id", max_postings=20)
    return ix.select(
        "term",
        "df",
        "total_tf",
        F.size("postings").alias("n_postings"),
        F.md5(F.concat_ws(",", F.col("postings"))).alias("postings_md5"),
    ).orderBy("term")


T13_SQL = f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({_DK_TOKENS}) AS term FROM documents),
tf AS (SELECT term, doc, count(*) AS tf FROM tok GROUP BY term, doc),
stats AS (SELECT term, count(*) AS df, sum(tf) AS total_tf
          FROM tf GROUP BY term),
p AS (SELECT term, list_sort(list(doc)) AS pl FROM tf GROUP BY term)
SELECT s.term,
       CAST(s.df AS BIGINT) AS df,
       CAST(s.total_tf AS BIGINT) AS total_tf,
       CAST(least(len(pl), 20) AS INT) AS n_postings,
       md5(array_to_string(pl[1:20], ',')) AS postings_md5
FROM stats s JOIN p USING (term)
ORDER BY s.term
"""


# ----------------------------------------------------------------- t14
def t14_bm25(spark, sf_dir):
    """BM25 keyword retrieval (sparkt.functions.index.bm25_match):
    every (query, doc) pair sharing a term, with integer match
    evidence (n_matched / sum_tf / doc_len) oracle-hashed and the
    ln-based bm25 score threshold-only (t6/t11 doctrine). The query
    workload broadcasts; the corpus side is the t13 tf table."""
    from sparkt.functions.index import bm25_match

    docs = T(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q1", "table scan join"),
         ("q2", "stream window vector"),
         ("q3", "customer order value")],
        ["qid", "qtext"],
    )
    out = bm25_match(docs, queries, "text", "doc_id")
    return out.select(
        "qid", "doc", "n_matched", "sum_tf", "doc_len"
    ).orderBy("qid", "doc")


T14_SQL = f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({_DK_TOKENS}) AS term FROM documents),
tf AS (SELECT term, doc, count(*) AS tf FROM tok GROUP BY term, doc),
dl AS (SELECT doc, count(*) AS doc_len FROM tok GROUP BY doc),
q AS (SELECT * FROM (VALUES
        ('q1', 'table'), ('q1', 'scan'), ('q1', 'join'),
        ('q2', 'stream'), ('q2', 'window'), ('q2', 'vector'),
        ('q3', 'customer'), ('q3', 'order'), ('q3', 'value'))
      AS t(qid, term)),
j AS (SELECT q.qid, tf.doc, tf.tf FROM tf JOIN q USING (term))
SELECT j.qid, j.doc,
       CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(j.tf) AS BIGINT) AS sum_tf,
       CAST(max(dl.doc_len) AS BIGINT) AS doc_len
FROM j JOIN dl USING (doc)
GROUP BY j.qid, j.doc
ORDER BY j.qid, j.doc
"""


# ----------------------------------------------------------------- t15
def t15_collocations(spark, sf_dir):
    """PMI collocation mining (sparkt.functions.text.collocations):
    adjacent word pairs co-occurring above their unigram expectation —
    phrase candidates for tokenizer pre-joining. The oracle compares
    the exact integer evidence (pair_count, c1, c2); the ln-based pmi
    column is threshold-only and excluded from the hash (t6/t11
    doctrine)."""
    docs = T(spark, sf_dir, "documents")
    out = TX.collocations(docs, "text", min_count=20)
    return out.select(
        "w1", "w2", "pair_count", "c1", "c2"
    ).orderBy("w1", "w2")


T15_SQL = """
WITH ws AS (
  SELECT list_filter(
    string_split(regexp_replace(regexp_replace(lower(text), '[^a-z ]',
                                               '', 'g'),
                                ' +', ' ', 'g'), ' '),
    w -> w <> '') AS w
  FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> struct_pack(w1 := w[i],
                                                w2 := w[i + 1]))) AS p
  FROM ws WHERE len(w) >= 2),
uni AS (
  SELECT u.w AS word, count(*) AS c
  FROM (SELECT unnest(w) AS w FROM ws) u GROUP BY 1),
pc AS (
  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS pair_count
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 20)
SELECT pc.w1, pc.w2,
       CAST(pc.pair_count AS BIGINT) AS pair_count,
       CAST(u1.c AS BIGINT) AS c1,
       CAST(u2.c AS BIGINT) AS c2
FROM pc JOIN uni u1 ON pc.w1 = u1.word
        JOIN uni u2 ON pc.w2 = u2.word
ORDER BY pc.w1, pc.w2
"""


# ------------------------------------------------------------------ s9
def s9_pca_cov(spark, sf_dir):
    """The distributed half of PCA (sparkt.functions.pca
    .covariance_table): single-pass upper-triangle covariance of the
    first 16 embedding dims — per-row moment explode + map-side
    combined groupBy, output d(d+1)/2 rows regardless of corpus size.
    The eigendecomposition of that d×d model runs on the driver
    (numpy ``eigh``; not SQL-expressible)."""
    from sparkt.functions.pca import covariance_table

    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return covariance_table(emb, "embedding", dim=16).orderBy("i", "j")


def _s9_sql() -> str:
    """The oracle mirrors covariance_table's exact formula
    (avg(xy) − avg(x)·avg(y), round 4) per upper-triangle (i, j)
    pair: 136 aggregates over a DuckDB-materialized CTE (no row
    explode on the oracle side)."""
    parts = [
        f"SELECT {i} AS i, {j} AS j, "
        f"round(avg(v[{i}] * v[{j}]) - avg(v[{i}]) * avg(v[{j}]), 7)"
        f" + 0.0 AS cov FROM x"
        for i in range(1, 17)
        for j in range(i, 17)
    ]
    return (
        "WITH x AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)\n"
        + "\nUNION ALL\n".join(parts)
        + "\nORDER BY i, j"
    )


S9_SQL = _s9_sql()


# ----------------------------------------------------------------- ft1
def ft1_decay_features(spark, sf_dir):
    """Point-in-time feature engineering (sparkt.functions.features
    .decay_features): per-user trailing 1/7/30-day event counts, 7-day
    value sums and a half-life-decayed activity score, all as of
    max(ts), in ONE conditional-aggregate pass (the reference time is
    a scalar subquery — no collect). Counts hash exactly; sums/decay
    follow the q1 round contract."""
    from sparkt.functions.features import decay_features

    ev = T(spark, sf_dir, "events")
    out = decay_features(
        ev, "user_id", "ts", value_col="value",
        windows_days=(1, 7, 30), half_life_days=7.0,
    )
    return out.select(
        "user_id", "n_1d", "n_7d", "n_30d", "v_7d", "decay"
    ).orderBy("user_id")


FT1_SQL = """
WITH ref AS (SELECT max(ts) AS r FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN ts >= r - INTERVAL 1 DAY THEN 1 ELSE 0 END)
            AS BIGINT) AS n_1d,
       CAST(sum(CASE WHEN ts >= r - INTERVAL 7 DAY THEN 1 ELSE 0 END)
            AS BIGINT) AS n_7d,
       CAST(sum(CASE WHEN ts >= r - INTERVAL 30 DAY THEN 1 ELSE 0 END)
            AS BIGINT) AS n_30d,
       round(sum(CASE WHEN ts >= r - INTERVAL 7 DAY THEN value
                      ELSE 0.0 END), 2) AS v_7d,
       round(sum(exp(-0.6931471805599453 * (epoch(r) - epoch(ts))
                     / 604800.0)), 4) AS decay
FROM events, ref
GROUP BY user_id
ORDER BY user_id
"""


# ----------------------------------------------------------------- pr2
def pr2_profile_values(spark, sf_dir):
    """Per-column frequent-value profile (sparkt.functions.profile
    .profile_values): top-3 values of lang and source with exact
    counts — one unpivot projection, one count shuffle, two-phase
    per-column top-N (no task sorts a full value distribution)."""
    from sparkt.functions.profile import profile_values

    docs = T(spark, sf_dir, "documents")
    return profile_values(docs, ["lang", "source"], top_k=3).orderBy(
        "column", "rank"
    )


PR2_SQL = """
WITH pairs AS (
  SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS value
  FROM documents
  UNION ALL
  SELECT 'source', CAST(source AS VARCHAR) FROM documents),
c AS (SELECT "column", value, count(*) AS n_rows
      FROM pairs GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY "column"
        ORDER BY n_rows DESC, value ASC NULLS LAST) AS rank
      FROM c)
SELECT "column", value, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
ORDER BY "column", rank
"""


# ------------------------------------------------------------------ s8
def s8_margin_pairs(spark, sf_dir):
    """Margin-criterion pair mining (sparkt.functions.similarity
    .margin_pairs — LASER bitext-mining score, Artetxe & Schwenk
    2019): best cross-collection match per left item by the ratio of
    pair cosine to the mean of both sides' kNN cosines. Left = even
    labels (vec_id < 40), right = odd labels — two disjoint
    'languages' carved from the embeddings table."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(
        (F.col("label") % 2 == 0) & (F.col("vec_id") < 40)
    ).select(F.col("vec_id").alias("left_id"), "embedding")
    right = emb.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("right_id"), "embedding"
    )
    return S.margin_pairs(left, right, k=4, threshold=0.98).orderBy(
        "left_id"
    )


S8_SQL = """
WITH l AS (SELECT vec_id AS left_id, embedding::DOUBLE[] AS lv
           FROM embeddings WHERE label % 2 = 0 AND vec_id < 40),
r AS (SELECT vec_id AS right_id, embedding::DOUBLE[] AS rv
      FROM embeddings WHERE label % 2 = 1),
fwd AS (
  SELECT * FROM (
    SELECT left_id, right_id,
           round(list_dot_product(lv, rv)
                 / greatest(sqrt(list_dot_product(lv, lv))
                            * sqrt(list_dot_product(rv, rv)), 1e-12),
                 4) AS cos,
           row_number() OVER (PARTITION BY left_id
                              ORDER BY round(list_dot_product(lv, rv)
                 / greatest(sqrt(list_dot_product(lv, lv))
                            * sqrt(list_dot_product(rv, rv)), 1e-12), 4)
                              DESC, right_id ASC) AS rank
    FROM l, r WHERE left_id != right_id)
  WHERE rank <= 4),
bwd AS (
  SELECT * FROM (
    SELECT right_id, left_id,
           round(list_dot_product(rv, lv)
                 / greatest(sqrt(list_dot_product(rv, rv))
                            * sqrt(list_dot_product(lv, lv)), 1e-12),
                 4) AS cos,
           row_number() OVER (PARTITION BY right_id
                              ORDER BY round(list_dot_product(rv, lv)
                 / greatest(sqrt(list_dot_product(rv, rv))
                            * sqrt(list_dot_product(lv, lv)), 1e-12), 4)
                              DESC, left_id ASC) AS rank
    FROM r, l WHERE left_id != right_id)
  WHERE rank <= 4),
lm AS (SELECT left_id, avg(cos) AS lmean FROM fwd GROUP BY left_id),
rm AS (SELECT right_id, avg(cos) AS rmean FROM bwd GROUP BY right_id),
cand AS (
  SELECT f.left_id, f.right_id, f.cos,
         round(f.cos / ((lm.lmean + rm.rmean) / 2), 4) AS margin
  FROM fwd f JOIN lm USING (left_id) JOIN rm USING (right_id))
SELECT left_id, right_id, cos, margin FROM (
  SELECT *, row_number() OVER (PARTITION BY left_id
                               ORDER BY margin DESC, right_id ASC) AS mr
  FROM cand)
WHERE mr = 1 AND margin >= 0.98
ORDER BY left_id
"""


# ----------------------------------------------------------------- pr1
def pr1_profile(spark, sf_dir):
    """Per-column table profiling (sparkt.functions.profile
    .profile_table): null/distinct/min/max for every documents column
    in ONE aggregate pass, long format. The gate runs the exact
    distinct path (engine-comparable); approx=True is the 100 TB path
    (pytest-pinned within HLL bounds)."""
    from sparkt.functions.profile import profile_table

    docs = T(spark, sf_dir, "documents")
    return profile_table(docs).orderBy("column")


PR1_SQL = """
WITH p AS (
  SELECT 'doc_id' AS "column", count(*) AS n_rows,
         sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         count(DISTINCT doc_id) AS n_distinct,
         CAST(min(doc_id) AS VARCHAR) AS min_value,
         CAST(max(doc_id) AS VARCHAR) AS max_value
  FROM documents
  UNION ALL
  SELECT 'text', count(*),
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT text),
         CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'lang', count(*),
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT lang),
         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'source', count(*),
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT source),
         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'n_chars', count(*),
         sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT n_chars),
         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
  FROM documents)
SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       min_value, max_value
FROM p ORDER BY "column"
"""


# ----------------------------------------------------------------- mm2
def mm2_frame_sample(spark, sf_dir):
    """Video frame sampling through real Arrow mapInPandas plumbing
    (sparkt.functions.multimodal.sample_video_frames): per-item frame
    expansion inside the Python worker; probe/decode deterministically
    stubbed (duration from md5 bytes) so the oracle is exact."""
    from sparkt.functions import multimodal as MM

    docs = T(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return MM.sample_video_frames(items, stride_ms=5000).orderBy(
        "item_id", "frame_idx"
    )


MM2_SQL = f"""
WITH v AS (
  SELECT doc_id, md5(text) AS digest,
         ({_DK_BYTE0} * 256 + {_DK_BYTE1}) AS duration_ms
  FROM documents),
s AS (
  SELECT doc_id, digest,
         unnest(generate_series(0, duration_ms // 5000)) AS k
  FROM v)
SELECT doc_id AS item_id,
       CAST(k AS INT) AS frame_idx,
       CAST(k * 5000 AS INT) AS ts_ms,
       md5(digest || ':' || CAST(k AS VARCHAR)) AS frame_hash
FROM s
ORDER BY item_id, frame_idx
"""


# ----------------------------------------------------------------- d11
def d11_incremental_dedup(spark, sf_dir):
    """Incremental corpus dedup (daily-increment shape): the batch of
    docs with doc_id >= 250 dedups against the fingerprint table of
    the first 250 (anti-join on fp — no rescan of historical text),
    then within itself (sparkt.functions.dedup.incremental_dedup)."""
    docs = T(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    seen = D.exact_dedup(old, "text", "doc_id").select("fp")
    kept = D.incremental_dedup(new, seen, "text", "doc_id")
    return kept.select("doc_id", "fp").orderBy("doc_id")


D11_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents),
seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
new_docs AS (SELECT * FROM fp WHERE doc_id >= 250
             AND fp NOT IN (SELECT fp FROM seen))
SELECT doc_id, fp FROM (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rk
  FROM new_docs)
WHERE rk = 1
ORDER BY doc_id
"""


# ----------------------------------------------------------------- d13
# deterministic messy-URL corpus shared VERBATIM by gate and oracle —
# CASE/||/CAST(... AS STRING) parse identically in Spark SQL and
# DuckDB, so both sides canonicalize the exact same inputs: mixed-case
# scheme+www, default port on http AND https (only http's may drop),
# trailing slash, tracking params in different positions, fragment
_D13_URL = """
CASE WHEN doc_id % 3 = 0 THEN 'HTTP' WHEN doc_id % 3 = 1 THEN 'https'
     ELSE 'http' END
|| '://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
|| source || '.example.com'
|| CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END
|| '/page/' || CAST(doc_id % 40 AS STRING)
|| CASE WHEN doc_id % 11 = 0 THEN '%2Fp%41ge%7e' ELSE '' END
|| CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
|| CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
        WHEN doc_id % 3 = 1 THEN '?a=1&b=2&utm_campaign=x' ELSE '' END
|| CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
"""


def d13_url_dedup(spark, sf_dir):
    """Crawl-frontier URL dedup (sparkt.functions.dedup.url_dedup):
    canonicalize (case, www, default port, trailing slash, tracking
    params, fragment) then one hash-groupBy on the canonical string —
    the same scale shape as exact dedup, over a deterministic
    messy-URL corpus built from doc_id/source."""
    docs = T(spark, sf_dir, "documents")
    urls = docs.select("doc_id", F.expr(_D13_URL).alias("url"))
    return D.url_dedup(urls, "url", "doc_id").orderBy("canonical_url")


def _pct_decode_sql(expr: str) -> str:
    """DuckDB mirror of ``dedup._pct_decode_unreserved`` — the SAME
    66-char chain (char list imported, lockstep guaranteed); DuckDB
    regexp_replace needs the explicit 'g' option (first-match-only by
    default, unlike Spark)."""
    from sparkt.functions.dedup import UNRESERVED_CHARS

    for ch in UNRESERVED_CHARS:
        expr = (
            f"regexp_replace({expr}, '(?i)%{ord(ch):02x}', "
            f"'{ch}', 'g')"
        )
    return expr


D13_SQL = f"""
WITH raw AS (SELECT doc_id, {_D13_URL} AS url FROM documents),
defrag AS (SELECT doc_id,
  {_pct_decode_sql("regexp_replace(url, '#.*$', '')")} AS u FROM raw),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         lower(regexp_extract(u,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(u,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
  FROM defrag),
norm AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http' THEN
                regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                               ':80$', '')
              WHEN scheme = 'https' THEN
                regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                               ':443$', '')
              ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                        '/+$', '') AS path,
         coalesce(regexp_extract(rest, '\\?(.*)$', 1), '') AS q
  FROM parts),
canon AS (
  SELECT doc_id,
         scheme || '://' || host || path ||
         CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
  FROM (SELECT *,
               coalesce(array_to_string(list_sort(list_filter(
                 string_split(q, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                        '^(utm_[a-z]+|gclid|fbclid|ref)='))),
                 '&'), '') AS qs
        FROM norm))
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_dupes,
       min(doc_id) AS rep_id
FROM canon
GROUP BY canonical_url
ORDER BY canonical_url
"""


# ------------------------------------------------------------------ f1
def f1_fuzzy_join(spark, sf_dir):
    """Blocked fuzzy self-join (record linkage): near-identical part
    names within a brand at edit distance ≤ 2. Candidate pairs come
    only from the brand equijoin (+ length band + thresholded
    levenshtein early-exit) — the blocking pattern that replaces
    O(n²) comparison at scale (sparkt.functions.linkage.fuzzy_join).
    Exact oracle: DuckDB computes the identical classic-DP
    levenshtein."""
    from sparkt.functions.linkage import fuzzy_join

    part = T(spark, sf_dir, "part")
    return fuzzy_join(
        part, part, "p_partkey", "p_name", ["p_brand"],
        max_distance=2, self_pairs=True,
    ).orderBy("id_a", "id_b")


F1_SQL = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS text_a, b.p_name AS text_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
  AND levenshtein(a.p_name, b.p_name) <= 2
ORDER BY id_a, id_b
"""


# ----------------------------------------------------------------- f2
def f2_jaro_winkler(spark, sf_dir):
    """Blocked Jaro-Winkler name-matching join (sparkt.functions
    .linkage.jaro_winkler_join — Winkler's Census comparator, the
    prefix-weighted complement to f1's edit distance). Candidates
    only from the p_brand equijoin; the Arrow-batched pairwise UDF
    implements the exact DuckDB jaro_winkler_similarity algorithm
    (3000-sample property test pins parity, incl. the ('','')=0.0
    convention), rounded 4dp. p_partkey < 2000 (the d7/d16 bound):
    the synthetic part table has only 64 distinct names, so the full
    sf0.1 table yields ~156k mostly-exact-twin pairs — a DATA
    artifact the bound keeps out of the compare path while every
    code path still runs."""
    from sparkt.functions.linkage import jaro_winkler_join

    part = T(spark, sf_dir, "part").filter(F.col("p_partkey") < 2000)
    return (
        jaro_winkler_join(
            part, part, "p_partkey", "p_name", ["p_brand"],
            threshold=0.95, self_pairs=True,
        )
        .select("id_a", "id_b", "jw")
        .orderBy("id_a", "id_b")
    )


F2_SQL = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE a.p_partkey < 2000 AND b.p_partkey < 2000
  AND round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.95
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ p4
def p4_domain_cap(spark, sf_dir):
    """Per-domain quota (Common-Crawl-style: keep ≤15 docs per source,
    preferring lowest salted md5 — rerun-stable uniform-per-domain).
    Exercises the skew-safe two-phase top-N in
    sparkt.functions.sampling.domain_quota; exact oracle because the
    two-phase result provably equals the single-window answer."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    kept = SP.domain_quota(docs, "source", "doc_id", cap=15, salt="quota")
    return kept.select("doc_id", "source").orderBy("doc_id")


P4_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents)
SELECT doc_id, source FROM r WHERE rk <= 15 ORDER BY doc_id
"""


# ------------------------------------------------------------------ p5
def p5_quality_buckets(spark, sf_dir):
    """CCNet-style per-language head/middle/tail bucketing (Wenzek et
    al. 2020: each language's documents sorted by quality, cut into
    thirds): rank within language by the t2 quality score DESC and
    label by rank thresholds — the skew-safe two-phase rank in
    sparkt.functions.sampling.rank_quantile_buckets (coarse score grid
    + prefix offsets; no whole-language single-task sort). Exact
    oracle: the two-phase rank provably equals the single-window
    ranking."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    # the same floor-quantized quality expression the t2 gate pins
    toks = TX.tokens(F.col("text"))
    pre = docs.select("doc_id", "lang", "text", toks.alias("__toks"))
    n = F.size("__toks")
    alpha = F.length(
        F.regexp_replace("text", "[^a-zA-Z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    stop = F.size(
        F.filter("__toks", lambda t: t.isin(TX.EN_STOPWORDS))
    ) / F.greatest(n, F.lit(1))
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    q = F.floor(
        (0.4 * length_term + 0.3 * alpha + 0.3 * stop) * 1_000_000
    ) / 1_000_000
    scored = pre.select("lang", "doc_id", q.alias("q"))
    return SP.rank_quantile_buckets(
        scored, "lang", "q", "doc_id"
    ).orderBy("lang", "rank")


_DK_QUALITY = f"""floor((0.4 * least(len({_DK_TOKENS}) / 100.0, 1.0)
             + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                      / greatest(length(text), 1))
             + 0.3 * (len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) * 1.0
                      / greatest(len({_DK_TOKENS}), 1))) * 1000000) / 1000000"""

P5_SQL = f"""
WITH scored AS (
  SELECT lang, doc_id, {_DK_QUALITY} AS q FROM documents),
r AS (
  SELECT lang, doc_id, q,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS BIGINT)
           AS rank,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored)
SELECT lang, doc_id, q, rank,
       CASE WHEN rank <= ceil(n * {1 / 3!r}) THEN 'head'
            WHEN rank <= ceil(n * {2 / 3!r}) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r ORDER BY lang, rank
"""


# ------------------------------------------------------------------ p6
def p6_mixture_weights(spark, sf_dir):
    """alpha-temperature data-mixture weighting over sources (GPT-3 /
    PaLM recipe: p^alpha up-weights small domains): per-source token
    share, tempered mixture weight, token budget out of a 1M target,
    acceptance rate and epoch count —
    sparkt.functions.sampling.mixture_weights (one map-side-combined
    groupBy to |domains| rows, global normalizers as windows over that
    tiny table). alpha=0.5 → sqrt, exactly rounded in both engines."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    return SP.mixture_weights(
        docs, "source", "n_chars", alpha=0.5,
        target_tokens=1_000_000.0,
    ).orderBy("source")


P6_SQL = """
WITH dom AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n
  FROM documents GROUP BY source),
norm AS (
  SELECT source, n,
         n / greatest(sum(n) OVER (), 1e-12) AS p,
         sqrt(n / greatest(sum(n) OVER (), 1e-12)) AS w
  FROM dom),
mix AS (
  SELECT source, n, p,
         w / greatest(sum(w) OVER (), 1e-12) AS q
  FROM norm)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       floor(p * 1000000) / 1000000 AS share,
       floor(q * 1000000) / 1000000 AS weight,
       CAST(floor(q * 1000000.0) AS BIGINT) AS token_budget,
       floor(least(q * 1000000.0 / greatest(n, 1e-12), 1.0) * 1000000)
         / 1000000 AS accept_rate,
       CAST(ceil(q * 1000000.0 / greatest(n, 1e-12)) AS BIGINT) AS epochs
FROM mix ORDER BY source
"""


# ----------------------------------------------------------------- t10
def t10_count_min(spark, sf_dir):
    """Count-Min heavy-hitter counting over per-user event volumes
    (sparkt.functions.sketches.cms_build/cms_estimate): a 4×64 counter
    table — constant-size, broadcastable, mergeable by summing — whose
    deterministic md5 positions let the oracle reproduce every
    estimate EXACTLY, collisions included (width 64 forces them at
    sf0.1's 1500 users). Output pairs the sketch estimate with the
    exact count, so est ≥ exact is visible in the gate itself."""
    from sparkt.functions import sketches as SK

    ev = T(spark, sf_dir, "events").select("user_id")
    cms = SK.cms_build(ev, "user_id", width=64, depth=4)
    est = SK.cms_estimate(
        ev.distinct(), "user_id", cms, width=64, depth=4
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return (
        est.join(exact, "user_id")
        .select("user_id", "cms_est", "exact_cnt")
        .orderBy("user_id")
    )


T10_SQL = """
WITH iv AS (SELECT unnest([0, 1, 2, 3]) AS r),
pos AS (
  SELECT iv.r,
         (('0x' || substr(md5(iv.r::VARCHAR || '|' || user_id::VARCHAR),
                          1, 8))::BIGINT % 64) AS c
  FROM events, iv),
cms AS (SELECT r, c, count(*) AS cnt FROM pos GROUP BY r, c),
keys AS (SELECT DISTINCT user_id FROM events),
kpos AS (
  SELECT user_id, iv.r,
         (('0x' || substr(md5(iv.r::VARCHAR || '|' || user_id::VARCHAR),
                          1, 8))::BIGINT % 64) AS c
  FROM keys, iv),
est AS (
  -- LEFT JOIN + coalesce matches cms_estimate for keys absent from
  -- the sketch (counter row missing -> estimate 0); here all probe
  -- keys come from the build input, but the semantics must agree
  SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_est
  FROM kpos LEFT JOIN cms USING (r, c) GROUP BY user_id)
SELECT est.user_id, cms_est, CAST(ex.exact_cnt AS BIGINT) AS exact_cnt
FROM est JOIN (
  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1) ex
  USING (user_id)
ORDER BY user_id
"""


# ----------------------------------------------------------------- d12
def d12_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination: the benchmark shingle set folds
    into an 8192-bit Bloom filter (256 32-bit words — constant-size,
    broadcastable, MERGEABLE across eval suites), and corpus shingles
    probe it instead of joining the raw bench set. At 100 TB the
    filter stays a few KB while the d8 broadcast set grows with the
    benchmark; false positives only INFLATE contamination (no false
    negatives — nothing contaminated escapes), and because positions
    are md5-derived the oracle reproduces the exact filter including
    its false positives."""
    from sparkt.functions import sketches as SK

    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench_sh = (
        D.shingle_table(bench, "text", "doc_id", 3)
        .select("sh").distinct()
    )
    corpus_sh = D.shingle_table(corpus, "text", "doc_id", 3)
    bloom = SK.bloom_build(bench_sh, "sh", m_bits=1 << 13, k_hashes=4)
    probed = SK.bloom_probe(
        corpus_sh, "doc", "sh", bloom,
        m_bits=1 << 13, k_hashes=4, carry_cols=["sz"],
    )
    return (
        probed.groupBy("doc")
        .agg(
            F.min("sz").cast("long").alias("n_sh"),
            F.sum(F.col("maybe_member").cast("int"))
            .cast("long").alias("bloom_overlap"),
        )
        .withColumn(
            "contamination",
            F.floor(
                F.col("bloom_overlap") / F.col("n_sh") * 1_000_000
            ) / 1_000_000,
        )
        .filter(F.col("contamination") >= 0.05)
        .orderBy("doc")
    )


D12_SQL = f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id, s.sh
  FROM documents, unnest({_DK_SHINGLES_K3}) AS s(sh)),
bench AS (SELECT DISTINCT sh FROM sh0 WHERE doc_id % 97 = 0),
bpos AS (
  SELECT (('0x' || substr(md5(iv.i::VARCHAR || '|' || sh), 1, 8))::BIGINT
          % 8192) AS pos
  FROM bench, (SELECT unnest([0, 1, 2, 3]) AS i) iv),
bloom AS (
  SELECT pos // 32 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM bpos GROUP BY 1),
corpus AS (SELECT doc_id AS doc, sh FROM sh0 WHERE doc_id % 97 != 0),
cpos AS (
  SELECT doc, sh,
         (('0x' || substr(md5(iv.i::VARCHAR || '|' || sh), 1, 8))::BIGINT
          % 8192) AS pos
  FROM corpus, (SELECT unnest([0, 1, 2, 3]) AS i) iv),
cprobe AS (
  SELECT doc, sh,
         min(CASE WHEN coalesce(b.bits, 0)
                       & (1::BIGINT << CAST(pos % 32 AS INT)) != 0
                  THEN 1 ELSE 0 END) AS maybe
  FROM cpos LEFT JOIN bloom b ON b.word_idx = pos // 32
  GROUP BY doc, sh),
agg AS (
  SELECT doc, CAST(count(*) AS BIGINT) AS n_sh,
         CAST(sum(maybe) AS BIGINT) AS bloom_overlap
  FROM cprobe GROUP BY doc)
SELECT doc, n_sh, bloom_overlap,
       floor(bloom_overlap * 1.0 / n_sh * 1000000) / 1000000
         AS contamination
FROM agg
WHERE floor(bloom_overlap * 1.0 / n_sh * 1000000) / 1000000 >= 0.05
ORDER BY doc
"""


# ------------------------------------------------------------------ c2
def c2_pack_offsets(spark, sf_dir):
    """Context-window packing offsets ("concatenate and split every
    ctx tokens"): global token offset + bin span per document via the
    two-phase prefix sum in sparkt.functions.text.pack_offsets (no
    global single-partition window; bucket_size=64 so the sf0.01 gate
    genuinely exercises the bucket-offset join path). Integer-exact
    oracle: the single-window cumsum formulation."""
    docs = T(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_toks")
    )
    out = TX.pack_offsets(base, "doc_id", "n_toks", ctx=512, bucket_size=64)
    return out.orderBy("doc_id")


C2_SQL = f"""
WITH t AS (SELECT doc_id, CAST(len({_DK_TOKENS}) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS BIGINT) AS gs
      FROM t)
SELECT doc_id, n_tokens, gs AS global_start,
       CAST(floor(gs / 512.0) AS BIGINT) AS first_bin,
       CAST(floor((gs + greatest(n_tokens, 1) - 1) / 512.0) AS BIGINT)
           AS last_bin,
       CAST(gs % 512 AS BIGINT) AS start_offset
FROM c ORDER BY doc_id
"""


# ------------------------------------------------------------------ c3
def c3_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle + fixed-size shard assignment
    (sampling.shuffle_shards): md5-seeded rerun-stable global order,
    greedy size packing into 8 KiB shards via the two-phase prefix sum
    over 256 hash-prefix buckets (no global single-partition stage —
    prefix_chars=2 so the sf0.01 gate genuinely exercises the
    bucket-offset join). The oracle is the single-window exclusive
    cumsum over the same md5 order — integer-exact, false-tie-free
    (md5 keys are unique per doc_id). Uses the leak-free default
    plan (eager driver-side bucket cumsum, nothing persisted) because
    the gate does not own the consuming action — the driver does."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    out = SP.shuffle_shards(
        docs, "doc_id", "n_chars",
        seed="c3", shard_size=8192, prefix_chars=2,
    )
    return out.orderBy("shuffle_key")


C3_SQL = """
WITH t AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS size,
         md5('c3|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents),
c AS (
  SELECT *, CAST(COALESCE(sum(size) OVER (
        ORDER BY shuffle_key, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS BIGINT) AS global_start
  FROM t)
SELECT doc_id, size, shuffle_key, global_start,
       CAST(floor(global_start / 8192.0) AS BIGINT) AS shard_id
FROM c ORDER BY shuffle_key
"""


# ----------------------------------------------------------------- pl1
def pl1_preprocess_pipeline(spark, sf_dir):
    """END-TO-END corpus preprocessing composition (r7): the four
    canonical stages chained as ONE dataflow — quality filter
    (token_count ≥ 20) → exact dedup (lowest-id per normalized-text
    fingerprint, d1's operator) → deterministic hash downsample (keep
    'en' wholly, others at 8/16 by salted-md5 nibble, p3's operator)
    → seeded shuffle + fixed-size shard assignment (c3's operator).
    Proves the library operators COMPOSE into the real pipeline shape:
    each stage consumes the previous stage's DataFrame lazily, so
    Catalyst plans the whole pipeline as one job (filter pushdown
    under the dedup window, single scan). The oracle replays every
    stage with the same md5 arithmetic."""
    from sparkt.functions import sampling as SP

    docs = T(spark, sf_dir, "documents")
    filtered = docs.filter(TX.token_count(F.col("text")) >= 20)
    deduped = D.exact_dedup(filtered, "text", "doc_id")
    sampled = deduped.filter(
        (F.col("lang") == "en")
        | SP.hash_bucket(F.col("doc_id"), "pl1").isin(list("01234567"))
    )
    return SP.shuffle_shards(
        sampled, "doc_id", "n_chars",
        seed="pl1", shard_size=4096, prefix_chars=2,
    ).orderBy("shuffle_key")


PL1_SQL = f"""
WITH filtered AS (
  SELECT doc_id, n_chars, lang, text FROM documents
  WHERE len({_DK_TOKENS}) >= 20),
deduped AS (
  SELECT doc_id, n_chars, lang FROM (
    SELECT doc_id, n_chars, lang,
           row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'))
             ORDER BY doc_id ASC) AS rk
    FROM filtered) WHERE rk = 1),
sampled AS (
  SELECT doc_id, n_chars FROM deduped
  WHERE lang = 'en'
     OR substr(md5('pl1:' || CAST(doc_id AS VARCHAR)), 1, 1)
        IN ('0','1','2','3','4','5','6','7')),
keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS size,
         md5('pl1|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM sampled),
c AS (
  SELECT *, CAST(COALESCE(sum(size) OVER (
        ORDER BY shuffle_key, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS BIGINT) AS global_start
  FROM keyed)
SELECT doc_id, size, shuffle_key, global_start,
       CAST(floor(global_start / 4096.0) AS BIGINT) AS shard_id
FROM c ORDER BY shuffle_key
"""


# ------------------------------------------------------------------ s6
def s6_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means fit (k=4, 2 iterations) — the IVF
    coarse-quantizer trainer (sparkt.functions.similarity.kmeans_fit).
    Deterministic: init = 4 lowest-vec_id embeddings; centroids
    floor-quantized to 1e-6 each iteration so assignments (and so the
    whole fit) are engine-reproducible. Output = final centroid matrix
    exploded to (cell, dim, centroid_val) + per-cell population; the
    oracle re-runs both unrolled iterations in DuckDB list SQL."""
    emb = T(spark, sf_dir, "embeddings")
    cents = S.kmeans_fit(emb, "vec_id", "embedding", k=4, iters=2)
    assigned = emb.select(
        S.kmeans_assign(F.col("embedding"), cents).alias("cell")
    )
    counts = assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_points")
    )
    cent_rows = spark.createDataFrame(
        [
            (ci, di + 1, v)
            for ci, c in enumerate(cents)
            for di, v in enumerate(c)
        ],
        "cell int, dim int, centroid_val double",
    )
    return (
        cent_rows.join(broadcast(counts), "cell", "left")
        .select(
            "cell", "dim", "centroid_val",
            F.coalesce("n_points", F.lit(0)).cast("bigint")
            .alias("n_points"),
        )
        .orderBy("cell", "dim")
    )


def _s6_sql(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd iterations in DuckDB list SQL, mirroring
    kmeans_fit exactly: same init order, same floor-1e-6 centroid
    quantization, same (distance, cell) tie-break, same
    keep-old-centroid for empty cells."""
    q = "floor({} * 1000000) / 1000000"
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - p.c[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) - p.c[i])))"
    )

    def assign(name, prev):
        return (
            f"{name} AS (SELECT vec_id, embedding, cell FROM ("
            f"SELECT e.vec_id, e.embedding, p.cell, "
            f"row_number() OVER (PARTITION BY e.vec_id "
            f"ORDER BY {d2}, p.cell) AS rn "
            f"FROM e, {prev} p) WHERE rn = 1)"
        )

    parts = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        (
            "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 "
            "AS INT) AS cell, list_transform(embedding, x -> "
            + q.format("CAST(x AS DOUBLE)")
            + ") AS c FROM (SELECT * FROM e ORDER BY vec_id LIMIT "
            f"{k}))"
        ),
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", f"c{i - 1}"))
        parts.append(
            f"m{i} AS (SELECT cell, dim, "
            + q.format("avg(CAST(v AS DOUBLE))")
            + " AS cv FROM (SELECT cell, "
            f"unnest(range(1, {dim + 1})) AS dim, "
            f"unnest(embedding) AS v FROM a{i}) GROUP BY cell, dim)"
        )
        parts.append(
            f"c{i} AS (SELECT p.cell, coalesce(n.c, p.c) AS c "
            f"FROM c{i - 1} p LEFT JOIN (SELECT cell, "
            f"list(cv ORDER BY dim) AS c FROM m{i} GROUP BY cell) n "
            "USING (cell))"
        )
    parts.append(assign("af", f"c{iters}"))
    parts.append(
        "cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_points "
        "FROM af GROUP BY cell)"
    )
    parts.append(
        f"d AS (SELECT cell, unnest(range(1, {dim + 1})) AS dim, "
        f"unnest(c) AS cv FROM c{iters})"
    )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT d.cell, CAST(d.dim AS INT) AS dim, d.cv AS centroid_val, "
        "coalesce(cnt.n_points, 0) AS n_points "
        "FROM d LEFT JOIN cnt USING (cell) ORDER BY cell, dim"
    )


# ----------------------------------------------------------------- mm4
def mm4_perceptual_hash(spark, sf_dir):
    """Perceptual-hash image dedup keys (sparkt.functions.multimodal
    .perceptual_hash): aHash over the deterministic stub thumbnail
    (md5 digest bytes — the mm1 decode-stub contract) through REAL
    Arrow mapInPandas plumbing, then bucket sizes via one hash
    groupBy — the content-based near-dup join shape. The oracle
    re-derives the 16 'pixels', the exact /16 mean threshold, and the
    bit packing from md5 hex nibbles in SQL."""
    from sparkt.functions import multimodal as MM

    docs = T(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.col("text").cast("binary").alias("content"),
    )
    hashed = MM.perceptual_hash(items)
    sizes = hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_bucket")
    )
    return hashed.join(sizes, "ahash").select(
        "item_id", "ahash", "n_bucket"
    ).orderBy("item_id")


def _mm4_sql() -> str:
    nib = "(strpos('0123456789abcdef', substr(md5(text), {p}, 1)) - 1)"
    bytes_ = [
        f"({nib.format(p=2 * i + 1)} * 16 + {nib.format(p=2 * i + 2)})"
        for i in range(16)
    ]
    mean = "((" + " + ".join(bytes_) + ") / 16.0)"
    bits = " + ".join(
        f"(CASE WHEN {b} > {mean} THEN {1 << (15 - i)} ELSE 0 END)"
        for i, b in enumerate(bytes_)
    )
    return f"""
WITH h AS (
  SELECT doc_id AS item_id,
         lpad(lower(to_hex({bits})), 4, '0') AS ahash
  FROM documents),
s AS (SELECT ahash, count(*) AS n_bucket FROM h GROUP BY ahash)
SELECT h.item_id, h.ahash, CAST(s.n_bucket AS BIGINT) AS n_bucket
FROM h JOIN s USING (ahash)
ORDER BY h.item_id
"""


# ----------------------------------------------------------------- mm5
def mm5_ahash_neardup(spark, sf_dir):
    """Image near-dup pairs within hamming<=3 on the 64-BIT
    perceptual hash with pigeonhole banding (sparkt.functions
    .multimodal.perceptual_neardup_pairs64 — VERDICT r11 #1: the
    16-bit key's fixed 65,536-value space saturated at corpus scale;
    banded 64-bit keys collide at data-driven rates). Input plants
    deterministic exact-dup payloads (every 10th doc re-enters with
    item_id + 1,000,000), so the gate pins both recall (all 50
    planted pairs at hamming 0) and the saturation fix itself: the
    16-bit hash paired ~50 ACCIDENTAL random collisions at 500 docs,
    the 64-bit hash pairs none. The oracle re-derives the 64 stub
    pixels (4 salted md5 digests), enumerates the SAME 4 bands, and
    verifies with bit_count; hamming tags and ids exact integers."""
    from sparkt.functions import multimodal as MM

    docs = T(spark, sf_dir, "documents")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.col("text").cast("binary").alias("content"),
    )
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("item_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return MM.perceptual_neardup_pairs64(
        items.unionAll(dups), k=3
    ).orderBy("id_a", "id_b")


def _banded_pairs_sql(id_: str, ham_max: int = 3) -> str:
    """Shared oracle tail for the 64-bit banded near-dup gates: 4-way
    band probe explode of a CTE ``hb(id, b0..b3)``, per-band
    equijoin, exact bit_count verify over all 4 bands (bands
    partition the 64 bits, so the xor popcounts sum to the full
    hamming distance) — the same pigeonhole plan
    hamming_banded_pairs builds in Spark."""
    ham = " + ".join(f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(4))
    return f"""
p AS (
  SELECT {id_}, b0, b1, b2, b3, t.i,
         CASE t.i WHEN 0 THEN b0 WHEN 1 THEN b1
                  WHEN 2 THEN b2 ELSE b3 END AS probe
  FROM hb, unnest([0, 1, 2, 3]) AS t(i)),
pairs AS (
  SELECT DISTINCT a.{id_} AS id_a, b.{id_} AS id_b,
         {ham} AS hamming
  FROM p a JOIN p b
    ON a.i = b.i AND a.probe = b.probe AND a.{id_} < b.{id_})
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs
WHERE hamming <= {ham_max}
ORDER BY id_a, id_b
"""


def _mm5_sql() -> str:
    nib = (
        "(strpos('0123456789abcdef', "
        "substr(md5(text || '{s}'), {p}, 1)) - 1)"
    )
    px = [
        f"({nib.format(s=j // 16, p=2 * (j % 16) + 1)} * 16 + "
        f"{nib.format(s=j // 16, p=2 * (j % 16) + 2)}) AS p{j}"
        for j in range(64)
    ]
    mean = "(" + " + ".join(f"p{j}" for j in range(64)) + ") / 64.0"
    bands = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN p{16 * b + r} > mean THEN {1 << (15 - r)} "
            "ELSE 0 END)"
            for r in range(16)
        )
        + f") AS b{b}"
        for b in range(4)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS item_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
bs AS (SELECT item_id, {", ".join(px)} FROM base),
m AS (SELECT *, {mean} AS mean FROM bs),
hb AS (SELECT item_id, {bands} FROM m),
{_banded_pairs_sql("item_id")}"""


# ----------------------------------------------------------------- t20
# deterministic sentence-punctuation wrapper shared VERBATIM by gate
# and oracle (the t17/_D13_URL pattern — the synthetic corpus has no
# punctuation): plain replace() substitutes ALL occurrences,
# left-to-right non-overlapping, identically in Spark SQL and DuckDB
_T20_TEXT = "replace(replace(text, ' the ', '. '), ' a ', '! ')"


def t20_sentence_stats(spark, sf_dir):
    """Sentence segmentation stats (sparkt.functions.text
    .sentence_stats): per-doc sentence count, word totals, avg and
    max words per sentence — the Gopher/C4 sentence-level quality
    features. Pure codegen HOF chain (split → filter → transform →
    aggregate), no explode; avg is one integer division (exact)."""
    from sparkt.functions.text import sentence_stats

    docs = T(spark, sf_dir, "documents")
    wrapped = docs.select("doc_id", F.expr(_T20_TEXT).alias("text"))
    return sentence_stats(wrapped, "text", "doc_id").orderBy("doc_id")


T20_SQL = f"""
WITH w AS (SELECT doc_id, {_T20_TEXT} AS t FROM documents),
s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '[.!?]+'),
                     x -> trim(x) <> '') AS sents
  FROM w),
wc AS (
  SELECT doc_id,
         list_transform(sents,
            x -> len(regexp_split_to_array(trim(x), '\\s+'))) AS wcs
  FROM s)
SELECT doc_id,
       CAST(len(wcs) AS INT) AS n_sentences,
       CAST(coalesce(list_sum(wcs), 0) AS INT) AS n_words,
       round(CAST(coalesce(list_sum(wcs), 0) AS DOUBLE)
             / greatest(len(wcs), 1), 4) AS avg_sentence_words,
       CAST(coalesce(list_max(wcs), 0) AS INT) AS max_sentence_words
FROM wc
ORDER BY doc_id
"""


# ----------------------------------------------------------------- ev2
def ev2_calibration(spark, sf_dir):
    """Classifier calibration report (sparkt.functions.evaluate
    .calibration_report): reliability-diagram table of a
    distinct-token-ratio score against the lang='en' label. Bin
    assignment floors a fixed-shape integer-ratio product (IEEE-
    deterministic both engines); counts exact, frac_pos a single
    division (4dp), avg_score the q1 avg contract (4dp), gap a
    difference of already-rounded values."""
    from sparkt.functions.evaluate import calibration_report
    from sparkt.functions.text import tokens as _tokens

    docs = T(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    scored = docs.select(
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return calibration_report(
        scored, "score", "label", n_bins=10
    ).orderBy("bin")


EV2_SQL = f"""
WITH s AS (
  SELECT len(list_distinct({_DK_TOKENS})) / len({_DK_TOKENS}) AS score,
         (lang = 'en') AS label
  FROM documents),
b AS (
  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score,
         CASE WHEN label THEN 1 ELSE 0 END AS lab
  FROM s)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(lab) AS BIGINT) AS n_pos,
       round(sum(lab) / count(*), 4) AS frac_pos,
       round(avg(score), 4) AS avg_score,
       round(round(avg(score), 4)
             - round(sum(lab) / count(*), 4), 4) AS gap
FROM b
GROUP BY bin
ORDER BY bin
"""


# ----------------------------------------------------------------- d16
def d16_simhash_probe(spark, sf_dir):
    """Text near-dup pairs within hamming<=3 on the 64-BIT SimHash
    with pigeonhole banding (sparkt.functions.dedup
    .simhash_neardup_pairs64 — the text twin of mm5; VERDICT r11 #1:
    the 16-bit key saturated, 4,325 mostly-accidental pairs at 500
    docs; the 64-bit banded path finds ~12 GENUINE near-dups at the
    same corpus). 4 probe keys per doc (one per 16-bit band),
    integer equijoin, exact bit_count hamming over all bands.
    doc_id < 500 (the d7 bound) keeps the sf0.1 row count in the
    compare path's budget while every code path still runs."""
    from sparkt.functions.dedup import simhash_neardup_pairs64

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return simhash_neardup_pairs64(docs, "text", "doc_id", k=3).orderBy(
        "id_a", "id_b"
    )


def _simhash64_pairs_body(where: str, src: str = "documents") -> str:
    """Shared 64-bit banded simhash pair CTE chain (through
    ``pairs``): one md5 per token (the simhash_table64 explode →
    groupBy shape); vote j tests within-nibble bit j % 4 of hex
    nibble j // 4 via the same HEX_BIT membership lists the Spark
    side uses. Used by d16 (bounded), pl4 (full corpus) and pl5
    (``src`` = the quality-filtered CTE)."""
    from sparkt.functions.dedup import HEX_BIT

    sets = [", ".join(f"'{c}'" for c in s) for s in HEX_BIT]
    votes = ", ".join(
        f"sum(CASE WHEN substring(h, {j // 4 + 1}, 1) IN "
        f"({sets[j % 4]}) THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    bands = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{16 * b + r} > 0 THEN {1 << (15 - r)} "
            "ELSE 0 END)"
            for r in range(16)
        )
        + f") AS b{b}"
        for b in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(4))
    return f"""tok AS (
  SELECT doc_id, md5(t.tok) AS h
  FROM (SELECT doc_id, text FROM {src} {where}) d,
       unnest({_DK_TOKENS}) AS t(tok)),
v AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
hb AS (SELECT doc_id, {bands} FROM v),
p AS (
  SELECT doc_id, b0, b1, b2, b3, t.i,
         CASE t.i WHEN 0 THEN b0 WHEN 1 THEN b1
                  WHEN 2 THEN b2 ELSE b3 END AS probe
  FROM hb, unnest([0, 1, 2, 3]) AS t(i)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         {ham} AS hamming
  FROM p a JOIN p b
    ON a.i = b.i AND a.probe = b.probe AND a.doc_id < b.doc_id)"""


def _d16_sql() -> str:
    return f"""
WITH {_simhash64_pairs_body("WHERE doc_id < 500")}
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs
WHERE hamming <= 3
ORDER BY id_a, id_b
"""


# ----------------------------------------------------------------- d17
def d17_containment(spark, sf_dir):
    """Shingle containment pairs (sparkt.functions.dedup
    .containment_pairs — Broder 1997's asymmetric companion to d5's
    Jaccard): C(A,B) = inter/|A| catches near-superset (quotation /
    boilerplate) relations symmetric Jaccard misses. Same posting-
    list equijoin + map-side aggregate as d5; divisions single and
    6dp. Threshold 0.5 on the max-side containment.
    max_shingle_freq=2 exercises the stop-shingle cap — the branch
    that matters at corpus scale (VERDICT r11 #3: it had zero gate
    coverage): shingles in >2 docs are dropped and the containment
    denominators are the CAPPED set sizes (the Window sz recompute
    path); the oracle applies the identical doc-frequency filter."""
    from sparkt.functions.dedup import containment_pairs

    docs = T(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "text", "doc_id", k=3, threshold=0.5, max_shingle_freq=2
    ).orderBy("id_a", "id_b")


D17_SQL = f"""
WITH ex0 AS (
  SELECT DISTINCT doc_id AS doc, s.sh
  FROM documents, unnest({_DK_SHINGLES_K3}) AS s(sh)),
ex AS (
  SELECT * FROM ex0
  WHERE sh IN (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) <= 2)),
sizes AS (SELECT doc, count(*) AS sz FROM ex GROUP BY doc),
inter AS (
  SELECT l.doc AS id_a, r.doc AS id_b, count(*) AS inter
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.doc < r.doc
  GROUP BY 1, 2)
SELECT id_a, id_b, inter,
       round(inter * 1.0 / sa.sz, 6) AS c_a,
       round(inter * 1.0 / sb.sz, 6) AS c_b
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE greatest(round(inter * 1.0 / sa.sz, 6),
               round(inter * 1.0 / sb.sz, 6)) >= 0.5
ORDER BY id_a, id_b
"""


# ----------------------------------------------------------------- d18
def d18_sentence_spans(spark, sf_dir):
    """Cross-document repeated sentence-span detection (sparkt
    .functions.dedup.sentence_span_dedup — the C4 curation step:
    dedupe any three-sentence span occurring in >= 2 docs; VERDICT
    r11 #4). Sentences from the t20 punctuation wrapper (the corpus
    has no punctuation; the deterministic replace() is shared
    VERBATIM with the oracle), k=3 windows, md5 fingerprints, one
    groupBy — never all-pairs. Counts and ids exact integers, the
    fingerprint an md5 hex string both engines derive identically."""
    from sparkt.functions.dedup import sentence_span_dedup

    docs = T(spark, sf_dir, "documents")
    wrapped = docs.select("doc_id", F.expr(_T20_TEXT).alias("text"))
    return sentence_span_dedup(
        wrapped, "text", "doc_id", k=3
    ).orderBy("span_md5")


D18_SQL = f"""
WITH w AS (SELECT doc_id, {_T20_TEXT} AS t FROM documents),
s AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(t, '[.!?]+'),
                       x -> trim(x) <> ''),
           x -> trim(x)) AS sents
  FROM w),
f AS (
  SELECT doc_id,
         md5(array_to_string(sents[i:i+2], chr(10))) AS span_md5
  FROM s, unnest(generate_series(1, len(sents) - 2)) AS g(i)
  WHERE len(sents) >= 3)
SELECT span_md5,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ,
       min(doc_id) AS keep_doc
FROM f
GROUP BY span_md5
HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 1000
ORDER BY span_md5
"""


# ----------------------------------------------------------------- d19
def d19_tfidf_cosine(spark, sf_dir):
    """TF-IDF cosine near-dup pairs over sparse k=3-shingle vectors
    (sparkt.functions.dedup.tfidf_cosine_pairs — the vector-space
    lexical similarity between d5's set-Jaccard and sd1's embedding
    cosine). Rational tf/df weights (t6 doctrine — no ln-idf);
    posting-list self-join, never all-pairs; cosine 4dp (the s3/s11
    ~10²-double float-sum class), threshold 0.5."""
    from sparkt.functions.dedup import tfidf_cosine_pairs

    docs = T(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "text", "doc_id", k=3, threshold=0.5
    ).orderBy("id_a", "id_b")


D19_SQL = f"""
WITH tok AS (
  -- docs with < 3 tokens carry no vector (mirrors the Spark-side
  -- short-doc guard: no truncated shingles)
  SELECT doc_id AS doc, array_to_string({_DK_TOKENS}[i+1:i+3], ' ') AS sh
  FROM documents,
       unnest(generate_series(0, len({_DK_TOKENS}) - 3)) AS g(i)
  WHERE len({_DK_TOKENS}) >= 3),
tf AS (SELECT doc, sh, count(*) AS tf FROM tok GROUP BY 1, 2),
dft AS (SELECT sh, count(*) AS dfv FROM tf GROUP BY 1),
w AS (SELECT doc, sh, tf * 1.0 / dfv AS w FROM tf JOIN dft USING (sh)),
norms AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc),
dots AS (
  SELECT a.doc AS id_a, b.doc AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots
JOIN norms na ON na.doc = id_a
JOIN norms nb ON nb.doc = id_b
WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.5
ORDER BY id_a, id_b
"""


# ----------------------------------------------------------------- ev3
def ev3_class_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 (sparkt.functions.evaluate
    .classification_report) of the t3 n-gram language identifier
    against the documents table's true lang — the lang-id confusion
    scorecard. Counts exact; precision/recall single divisions (4dp);
    F1 from the rounded operands."""
    from sparkt.functions.evaluate import classification_report

    docs = T(spark, sf_dir, "documents")
    toked = docs.select(
        "lang", "text", TX.tokens(F.col("text")).alias("__toks")
    )
    scored = toked.select(
        F.col("lang").alias("label"),
        TX.lang_id(F.col("text"), F.col("__toks")).alias("pred"),
    )
    return classification_report(scored, "label", "pred").orderBy("cls")


EV3_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         length(regexp_replace(text, '[^{_CJK}]', '', 'g')) AS cjk,
         greatest(length(text), 1) AS n_chars,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) AS en,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_DE}))) AS de,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_FR}))) AS fr,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_ES}))) AS es
  FROM documents),
p AS (
  SELECT lang AS label,
         CASE WHEN cjk * 1.0 / n_chars > 0.3 THEN 'zh'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS pred
  FROM scored),
sup AS (SELECT label AS cls, count(*) AS n_true FROM p GROUP BY 1),
prd AS (SELECT pred AS cls, count(*) AS n_pred FROM p GROUP BY 1),
tp AS (SELECT label AS cls, count(*) AS tp FROM p
       WHERE label = pred GROUP BY 1),
m AS (
  SELECT coalesce(sup.cls, prd.cls) AS cls,
         coalesce(n_true, 0) AS n_true,
         coalesce(n_pred, 0) AS n_pred,
         coalesce(tp, 0) AS tp
  FROM sup FULL OUTER JOIN prd ON sup.cls = prd.cls
  LEFT JOIN tp ON coalesce(sup.cls, prd.cls) = tp.cls),
pr AS (
  SELECT cls, CAST(n_true AS BIGINT) AS n_true,
         CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
         CASE WHEN n_pred > 0 THEN round(tp * 1.0 / n_pred, 4)
              ELSE 0.0 END AS "precision",
         CASE WHEN n_true > 0 THEN round(tp * 1.0 / n_true, 4)
              ELSE 0.0 END AS "recall"
  FROM m)
SELECT cls, n_true, n_pred, tp, "precision", "recall",
       CASE WHEN "precision" + "recall" > 0
            THEN round(2 * "precision" * "recall"
                       / ("precision" + "recall"), 4)
            ELSE 0.0 END AS f1
FROM pr
ORDER BY cls
"""


# ----------------------------------------------------------------- ev4
def ev4_cohens_kappa(spark, sf_dir):
    """Cohen's kappa (sparkt.functions.evaluate.cohens_kappa) between
    the documents table's true lang and the t3 n-gram lang-id
    prediction — the chance-corrected scalar companion to ev3's
    per-class table. Every float is bit-deterministic: pe's numerator
    sums integer-valued doubles (exact at any accumulation order),
    so po/pe/kappa are fixed-shape divisions of exact values."""
    from sparkt.functions.evaluate import cohens_kappa

    docs = T(spark, sf_dir, "documents")
    toked = docs.select(
        "lang", "text", TX.tokens(F.col("text")).alias("__toks")
    )
    scored = toked.select(
        F.col("lang").alias("label"),
        TX.lang_id(F.col("text"), F.col("__toks")).alias("pred"),
    )
    return cohens_kappa(scored, "label", "pred")


EV4_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         length(regexp_replace(text, '[^{_CJK}]', '', 'g')) AS cjk,
         greatest(length(text), 1) AS n_chars,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) AS en,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_DE}))) AS de,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_FR}))) AS fr,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_ES}))) AS es
  FROM documents),
p AS (
  SELECT lang AS label,
         CASE WHEN cjk * 1.0 / n_chars > 0.3 THEN 'zh'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS pred
  FROM scored),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM p),
ma AS (SELECT label AS cls, count(*) AS na FROM p GROUP BY 1),
mb AS (SELECT pred AS cls, count(*) AS nb FROM p GROUP BY 1),
pe_num AS (
  SELECT sum(CAST(na AS DOUBLE) * nb) AS pe_num
  FROM ma JOIN mb USING (cls))
SELECT n, n_agree,
       round(n_agree / n, 4) AS po,
       round(pe_num / (n * CAST(n AS DOUBLE)), 4) AS pe,
       CASE WHEN pe_num / (n * CAST(n AS DOUBLE)) >= 1.0 THEN 0.0
            ELSE round((n_agree / n - pe_num / (n * CAST(n AS DOUBLE)))
                       / (1 - pe_num / (n * CAST(n AS DOUBLE))), 4)
       END AS kappa
FROM tot, pe_num
"""


# ----------------------------------------------------------------- ev5
def _ev_rater_trio(spark, sf_dir):
    """Long-format ratings (doc_id, rater, label) from the shared
    deterministic annotator trio the agreement gates score: the true
    lang (r1), the t3 n-gram lang-id (r2), and a lazy CJK-or-English
    rater (r3 — a realistic weak annotator). One construction for
    ev5 AND ev6 (r12 review: the duplicated build risked gate/oracle
    desync on any threshold change); `_EV_RATERS_CTES` is its SQL
    twin."""
    from pyspark.sql.types import StringType

    from sparkt.functions.text import CJK_RANGE

    docs = T(spark, sf_dir, "documents")
    cjk = F.length(F.regexp_replace("text", f"[^{CJK_RANGE}]", ""))
    lazy = F.when(
        cjk / F.greatest(F.length("text"), F.lit(1)) > 0.3, "zh"
    ).otherwise("en")
    wide = docs.select(
        "doc_id", "lang", "text", TX.tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.col("lang").alias("r1"),
        TX.lang_id(F.col("text"), F.col("__toks")).alias("r2"),
        lazy.cast(StringType()).alias("r3"),
    )
    return wide.selectExpr(
        "doc_id",
        "stack(3, 'r1', r1, 'r2', r2, 'r3', r3) AS (rater, label)",
    )


def ev5_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa multi-rater agreement (sparkt.functions.evaluate
    .fleiss_kappa — the 3+-annotator generalization of ev4; VERDICT
    r11 #5) between the `_ev_rater_trio` annotators. All floats are
    fixed-shape divisions of exact integers (the ev4 pe doctrine),
    so the row hashes bit-identically."""
    from sparkt.functions.evaluate import fleiss_kappa

    ratings = _ev_rater_trio(spark, sf_dir)
    return fleiss_kappa(ratings, "doc_id", "label", n_raters=3)


# SQL twin of `_ev_rater_trio` — the scored/p/long CTE prefix shared
# by the agreement oracles (one definition, no gate/oracle drift)
_EV_RATERS_CTES = f"""scored AS (
  SELECT doc_id, lang,
         length(regexp_replace(text, '[^{_CJK}]', '', 'g')) AS cjk,
         greatest(length(text), 1) AS n_chars,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) AS en,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_DE}))) AS de,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_FR}))) AS fr,
         len(list_filter({_DK_TOKENS}, t -> t IN ({_ES}))) AS es
  FROM documents),
p AS (
  SELECT doc_id, lang AS r1,
         CASE WHEN cjk * 1.0 / n_chars > 0.3 THEN 'zh'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS r2,
         CASE WHEN cjk * 1.0 / n_chars > 0.3 THEN 'zh'
              ELSE 'en' END AS r3
  FROM scored),
long AS (
  SELECT doc_id, 'r1' AS rater, r1 AS label FROM p
  UNION ALL SELECT doc_id, 'r2', r2 FROM p
  UNION ALL SELECT doc_id, 'r3', r3 FROM p)"""


EV5_SQL = f"""
WITH {_EV_RATERS_CTES},
nij AS (SELECT doc_id, label, count(*) AS nij FROM long GROUP BY 1, 2),
items AS (
  SELECT doc_id, sum(nij) AS n_i, sum(nij * nij) AS s2_i
  FROM nij GROUP BY 1 HAVING sum(nij) = 3),
stats AS (SELECT count(*) AS n_items, sum(s2_i) AS s2 FROM items),
cj AS (
  SELECT label, sum(nij) AS c_j
  FROM nij JOIN items USING (doc_id) GROUP BY label),
c2t AS (SELECT sum(CAST(c_j AS DOUBLE) * c_j) AS c2 FROM cj)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(3 AS INT) AS n_raters,
       round((s2 - n_items * 3.0) / (n_items * 3.0 * 2), 4) AS p_bar,
       round(c2 / (n_items * 3.0 * n_items * 3.0), 4) AS p_e,
       CASE WHEN c2 / (n_items * 3.0 * n_items * 3.0) >= 1.0 THEN 0.0
            ELSE round(
              ((s2 - n_items * 3.0) / (n_items * 3.0 * 2)
               - c2 / (n_items * 3.0 * n_items * 3.0))
              / (1 - c2 / (n_items * 3.0 * n_items * 3.0)), 4)
       END AS kappa
FROM stats, c2t
"""


# ----------------------------------------------------------------- ev6
def ev6_krippendorff(spark, sf_dir):
    """Krippendorff's alpha, nominal (sparkt.functions.evaluate
    .krippendorff_alpha) over the ev5 annotator trio WITH
    deterministic missing ratings — the capability Fleiss lacks:
    rater 3 skips doc_id % 7 == 0 (m=2 items) and docs
    doc_id % 31 == 0 keep only rater 1 (m=1, unpairable, dropped).
    Per-item disagreement terms are x/1 or x/2 — dyadic rationals,
    exact at any accumulation order — so d_o/d_e/alpha hash
    bit-identically (the ev5 doctrine extended to mixed m_i)."""
    from sparkt.functions.evaluate import krippendorff_alpha

    ratings = _ev_rater_trio(spark, sf_dir).filter(
        ~(
            (F.col("rater") == "r3") & (F.col("doc_id") % 7 == 0)
        )
        & ~(
            (F.col("rater") != "r1") & (F.col("doc_id") % 31 == 0)
        )
    )
    return krippendorff_alpha(ratings, "doc_id", "label")


EV6_SQL = f"""
WITH {_EV_RATERS_CTES},
fl AS (
  SELECT doc_id, label FROM long
  WHERE NOT (rater = 'r3' AND doc_id % 7 = 0)
    AND NOT (rater <> 'r1' AND doc_id % 31 = 0)),
nij AS (SELECT doc_id, label, count(*) AS nij FROM fl GROUP BY 1, 2),
items AS (
  SELECT doc_id, sum(nij) AS m, sum(nij * nij) AS s2
  FROM nij GROUP BY 1 HAVING sum(nij) >= 2),
dot AS (
  SELECT count(*) AS n_items, sum(m) AS n,
         sum((CAST(m AS DOUBLE) * m - s2) / (m - 1.0)) AS do_num
  FROM items),
c2t AS (
  SELECT sum(CAST(n_c AS DOUBLE) * n_c) AS c2
  FROM (SELECT label, sum(nij) AS n_c
        FROM nij JOIN items USING (doc_id) GROUP BY label))
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(n AS BIGINT) AS n_vals,
       round(do_num / n, 4) AS d_o,
       round((CAST(n AS DOUBLE) * n - c2)
             / (CAST(n AS DOUBLE) * (n - 1)), 4) AS d_e,
       CASE WHEN CAST(n AS DOUBLE) * n - c2 <= 0.0 THEN 0.0
            ELSE round(1.0 - ((n - 1.0) * do_num)
                       / (CAST(n AS DOUBLE) * n - c2), 4)
       END AS alpha
FROM dot, c2t
"""


# ----------------------------------------------------------------- ft9
def ft9_active_users(spark, sf_dir):
    """Rolling DAU/WAU engagement (sparkt.functions.features
    .active_users): per day, entities active that day and distinct
    entities active in the trailing 7 days, plus stickiness = dau/wau
    (single integer division, 4dp). No sliding distinct-window state:
    (entity, day) dedupes once, each active day explodes to the 7
    target days it contributes to, one exact distinct per day. Days
    ISO-stringified (the cross-engine date contract)."""
    from sparkt.functions.features import active_users

    ev = T(spark, sf_dir, "events")
    return active_users(ev, "user_id", "ts", window_days=7).orderBy(
        "day"
    )


FT9_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        FROM daily GROUP BY day),
t AS (
  SELECT user_id, day + CAST(s.i AS INT) AS day
  FROM daily, unnest(range(7)) AS s(i)),
wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM t GROUP BY day)
SELECT strftime(d.day, '%Y-%m-%d') AS day, dau, wau,
       round(dau / wau, 4) AS stickiness
FROM dau d JOIN wau USING (day)
ORDER BY day
"""


# ----------------------------------------------------------------- ft8
def ft8_rfm(spark, sf_dir):
    """RFM segmentation (sparkt.functions.features.rfm_segments):
    recency/frequency/monetary quintile codes per purchasing user —
    the classic customer-value coding. Monetary rounds 2dp BEFORE
    ranking (no float-sum rank boundary); codes derive from
    rank-based cuts (ceil(n·k/5)) so both engines compute them from
    the same integers; last_ts hashes as epoch micros."""
    from sparkt.functions.features import rfm_segments

    ev = T(spark, sf_dir, "events")
    out = rfm_segments(
        ev, "user_id", "ts", "value",
        conv_type_filter=F.col("event_type") == "purchase",
    )
    return out.select(
        "user_id",
        F.unix_micros("last_ts").alias("last_ts_us"),
        "n_events", "monetary",
        "r_code", "f_code", "m_code", "rfm",
    ).orderBy("user_id")


FT8_SQL = """
WITH per AS (
  SELECT user_id, max(ts) AS last_ts,
         count(*) AS n_events, round(sum(value), 2) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
r AS (
  SELECT per.*,
         count(*) OVER () AS n,
         row_number() OVER (ORDER BY last_ts DESC, user_id ASC) AS rr,
         row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS fr,
         row_number() OVER (ORDER BY monetary DESC, user_id ASC) AS mr
  FROM per),
coded AS (
  SELECT user_id, last_ts, n_events, monetary,
         CASE WHEN rr <= ceil(n * 0.2) THEN 5
              WHEN rr <= ceil(n * 0.4) THEN 4
              WHEN rr <= ceil(n * 0.6) THEN 3
              WHEN rr <= ceil(n * 0.8) THEN 2 ELSE 1 END AS r_code,
         CASE WHEN fr <= ceil(n * 0.2) THEN 5
              WHEN fr <= ceil(n * 0.4) THEN 4
              WHEN fr <= ceil(n * 0.6) THEN 3
              WHEN fr <= ceil(n * 0.8) THEN 2 ELSE 1 END AS f_code,
         CASE WHEN mr <= ceil(n * 0.2) THEN 5
              WHEN mr <= ceil(n * 0.4) THEN 4
              WHEN mr <= ceil(n * 0.6) THEN 3
              WHEN mr <= ceil(n * 0.8) THEN 2 ELSE 1 END AS m_code
  FROM r)
SELECT user_id,
       CAST(epoch_us(last_ts) AS BIGINT) AS last_ts_us,
       CAST(n_events AS BIGINT) AS n_events, monetary,
       CAST(r_code AS INT) AS r_code,
       CAST(f_code AS INT) AS f_code,
       CAST(m_code AS INT) AS m_code,
       CAST(r_code AS VARCHAR) || CAST(f_code AS VARCHAR)
         || CAST(m_code AS VARCHAR) AS rfm
FROM coded
ORDER BY user_id
"""


# ----------------------------------------------------------------- ft7
def ft7_event_transitions(spark, sf_dir):
    """Path analysis (sparkt.functions.features.event_transitions):
    per-user consecutive event-type transition counts within a 30-min
    gap — the Markov-chain input of product analytics. One lead()
    window pass, map-side-combined (src x dst) aggregate; avg gap
    rounds 4dp, source-value flow sums round 2dp (q1 contracts)."""
    from sparkt.functions.features import event_transitions

    ev = T(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "ts", "event_type",
        max_gap_minutes=30.0, value_col="value",
    ).orderBy("src_type", "dst_type")


FT7_SQL = """
WITH nxt AS (
  SELECT event_type AS src_type,
         lead(event_type) OVER w AS dst_type,
         epoch(lead(ts) OVER w) - epoch(ts) AS gap,
         value AS v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type))
SELECT src_type, dst_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(avg(gap), 4) AS avg_gap_s,
       round(sum(v), 2) AS sum_value
FROM nxt
WHERE dst_type IS NOT NULL AND gap <= 1800.0
GROUP BY src_type, dst_type
ORDER BY src_type, dst_type
"""


# ----------------------------------------------------------------- ft6
def ft6_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence (sparkt.functions.features
    .cooccurrence_pairs): support counts for part pairs sharing an
    order — the association-mining support step. Group-size cap (the
    d5 stop-shingle argument) keeps a mega-basket from going
    quadratic; top-100 by (support desc, ids) via
    TakeOrderedAndProject."""
    from sparkt.functions.features import cooccurrence_pairs

    li = T(spark, sf_dir, "lineitem")
    pairs = cooccurrence_pairs(
        li, "l_orderkey", "l_partkey", max_group_size=10
    )
    return pairs.orderBy(
        F.desc("support"), "item_a", "item_b"
    ).limit(100)


FT6_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
ok AS (
  SELECT g FROM items GROUP BY g HAVING count(*) <= 10),
it AS (SELECT items.* FROM items JOIN ok USING (g)),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS support
  FROM it a JOIN it b ON a.g = b.g AND a.item < b.item
  GROUP BY 1, 2)
SELECT item_a, item_b, support
FROM pairs
ORDER BY support DESC, item_a, item_b
LIMIT 100
"""


# ----------------------------------------------------------------- p10
def p10_apply_mixture(spark, sf_dir):
    """Mixture application (sparkt.functions.sampling.apply_mixture):
    thin three source domains to a 3:1:1 token mixture under a
    2000-token budget via the integer-exact per-domain u32 threshold
    (floor(min(1, quota/T)·2³²) — one double division per DOMAIN,
    identical in both engines). Gate reports surviving per-domain
    doc/token counts (exact integers)."""
    from sparkt.functions.sampling import apply_mixture

    docs = T(spark, sf_dir, "documents")
    nt = F.size(TX.tokens(F.col("text")))
    scored = docs.select("doc_id", "source", nt.alias("__ntok"))
    kept = apply_mixture(
        scored, "source", "doc_id", "__ntok",
        {"src0": 3.0, "src1": 1.0, "src2": 1.0}, budget_tokens=2000,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("n_tokens"),
        )
        .orderBy("source")
    )


P10_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len({_DK_TOKENS}) AS n FROM documents),
tot AS (SELECT source, sum(n) AS T FROM t GROUP BY 1),
j AS (
  SELECT t.doc_id, t.source, t.n, tot.T,
         CASE t.source WHEN 'src0' THEN 1200.0
                       WHEN 'src1' THEN 400.0
                       WHEN 'src2' THEN 400.0 END AS q
  FROM t JOIN tot USING (source)),
k AS (
  SELECT * FROM j
  WHERE q IS NOT NULL
    AND CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                             1, 8))::UBIGINT AS BIGINT)
        < floor(least(1.0, q / T) * 4294967296.0))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM k
GROUP BY source
ORDER BY source
"""


# ----------------------------------------------------------------- p11
def p11_dsir_select(spark, sf_dir):
    """DSIR importance-resampling selection (sparkt.functions
    .sampling.dsir_logweights — Xie et al. 2023): hashed-bigram
    Laplace bag-of-ngrams, target = lang='en' docs, raw = corpus;
    docs kept where log w > 0 ("more target-like than raw-like").
    logw itself is ln-based and EXCLUDED from the SELECT per the
    float doctrine (threshold-only); the compared columns (doc_id,
    n_feats) are exact integers. Feature hash = t8's md5-nibble
    idiom, bit-identical in the oracle."""
    from sparkt.functions.sampling import dsir_logweights

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_tgt")
    )
    w = dsir_logweights(docs, "text", "doc_id", "is_tgt",
                        n_buckets=256)
    return (
        w.filter(F.col("logw") > 0)
        .select(F.col("doc").alias("doc_id"), "n_feats")
        .orderBy("doc_id")
    )


_P11_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(bg), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(bg), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(bg), 4, 1)) - 1)) % 256"
)
P11_SQL = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS tgt, {_DK_TOKENS} AS t
  FROM documents),
ex AS (
  SELECT doc_id, tgt, {_P11_BUCKET} AS f
  FROM (
    SELECT doc_id, tgt, u.bg
    FROM toks,
         unnest(list_transform(
           generate_series(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1])) AS u(bg))),
dist AS (
  SELECT f, count(*) AS c_r,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t
  FROM ex GROUP BY f),
tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM dist),
ratio AS (
  SELECT f, ln((c_t + 1) / (n_t + 256.0))
            - ln((c_r + 1) / (n_r + 256.0)) AS lr
  FROM dist, tot),
per_doc AS (
  SELECT doc_id, f, count(*) AS c_f FROM ex GROUP BY 1, 2),
w AS (
  SELECT doc_id, sum(c_f) AS n_feats, sum(c_f * lr) AS logw
  FROM per_doc JOIN ratio USING (f) GROUP BY doc_id)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats
FROM w WHERE logw > 0
ORDER BY doc_id
"""


# ----------------------------------------------------------------- p12
def p12_zorder(spark, sf_dir):
    """Z-order (Morton) clustering keys (sparkt.functions.layout
    .zorder_key — the OPTIMIZE ZORDER data-skipping layout as a
    plain column expression): customer and floored-price dimensions
    (mod 2^12) interleave to a 24-bit key; writing range-partitioned
    + sorted on it gives min-max pruning on BOTH columns. Pure
    integer shift/mask — bit-exact in the oracle; floor() explicit
    on the price (Spark's int cast truncates, DuckDB's rounds — the
    known cast trap)."""
    from sparkt.functions.layout import zorder_key

    orders = T(spark, sf_dir, "orders")
    x = F.col("o_custkey") % 4096
    y = F.floor(F.col("o_totalprice")).cast("long") % 4096
    return orders.select(
        "o_orderkey", zorder_key([x, y], bits=12).alias("zkey")
    ).orderBy("o_orderkey")


def _p12_sql(bits: int = 12) -> str:
    terms = []
    for d, src in enumerate(
        ["(o_custkey % 4096)",
         "(CAST(floor(o_totalprice) AS BIGINT) % 4096)"]
    ):
        for j in range(bits):
            terms.append(f"((({src} >> {j}) & 1) << {j * 2 + d})")
    return f"""
SELECT o_orderkey, CAST({" | ".join(terms)} AS BIGINT) AS zkey
FROM orders
ORDER BY o_orderkey
"""


# ----------------------------------------------------------------- d15
def d15_lsh_calibration(spark, sf_dir):
    """LSH parameter calibration (sparkt.functions.dedup
    .lsh_calibration): band evidence vs exact 3-shingle Jaccard
    deciles for every MinHash candidate pair — the QA table for
    (n_hashes, n_bands) tuning. Exact Jaccard computed only for the
    banded equijoin's candidates; output is a (bands × deciles)
    integer grain."""
    docs = T(spark, sf_dir, "documents")
    return D.lsh_calibration(
        docs, "text", "doc_id", n_hashes=8, n_bands=4
    ).orderBy("n_shared_bands", "jaccard_decile")


D15_SQL = f"""
WITH sigs AS (
  SELECT doc_id,
         [{", ".join(_dk_minhash(i) for i in range(8))}] AS sig
  FROM documents),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(sig[2*b+1] || '|' || sig[2*b+2]) AS band_key
  FROM sigs, unnest(generate_series(0, 3)) AS t(b)),
pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         count(*) AS n_shared_bands
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
sh AS (
  SELECT doc_id, {_DK_SHINGLES_K3} AS s FROM documents),
j AS (
  SELECT p.n_shared_bands,
         CAST(floor(10.0 * len(list_intersect(a.s, b.s))
                    / greatest(len(a.s) + len(b.s)
                               - len(list_intersect(a.s, b.s)), 1))
              AS INT) AS jaccard_decile
  FROM pairs p JOIN sh a ON p.id_a = a.doc_id
               JOIN sh b ON p.id_b = b.doc_id)
SELECT n_shared_bands, jaccard_decile,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM j
GROUP BY 1, 2
ORDER BY n_shared_bands, jaccard_decile
"""


# ------------------------------------------------------------------ c5
def c5_budget_select(spark, sf_dir):
    """Token-budget data selection (sparkt.functions.sampling
    .budget_select): keep the highest-quality documents (the p5/t2
    floor-quantized quality score) while the inclusive running token
    total stays within a 15k-token budget — the prefix rule, computed with the
    skew-safe two-phase prefix sum over the coarse score grid (no
    global single-partition window). The oracle runs the naive
    single-window cumsum, which the two-phase result provably
    equals."""
    from sparkt.functions.sampling import budget_select

    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    pre = docs.select("doc_id", "text", toks.alias("__toks"))
    nt = F.size("__toks")
    alpha = F.length(
        F.regexp_replace("text", "[^a-zA-Z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    stop = F.size(
        F.filter("__toks", lambda t: t.isin(TX.EN_STOPWORDS))
    ) / F.greatest(nt, F.lit(1))
    length_term = F.least(nt / F.lit(100.0), F.lit(1.0))
    q = F.floor(
        (0.4 * length_term + 0.3 * alpha + 0.3 * stop) * 1_000_000
    ) / 1_000_000
    scored = pre.select(
        "doc_id", q.alias("q"), nt.alias("__ntok")
    )
    return budget_select(
        scored, "doc_id", "q", "__ntok", budget=15000
    ).orderBy("doc_id")


C5_SQL = f"""
WITH s AS (
  SELECT doc_id, {_DK_QUALITY} AS q,
         len({_DK_TOKENS}) AS n
  FROM documents),
c AS (
  SELECT doc_id, q, n,
         sum(n) OVER (ORDER BY q DESC, doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM s)
SELECT doc_id, q,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c
WHERE cum <= 15000
ORDER BY doc_id
"""


# ----------------------------------------------------------------- ft5
def ft5_attribution(spark, sf_dir):
    """First/last-touch revenue attribution (sparkt.functions.features
    .attribution — the dbt attribution-package shape): each purchase's
    value credited to the first and the last click/view STRICTLY
    before it (RANGE frame over epoch-micros — a touch at exactly the
    conversion's timestamp never counts), '(none)' when untouched.
    One per-user ordered window pass carrying an encoded
    biased-epoch-micros|type touch key; conversion counts are exact,
    value sums round 2dp (q1 contract)."""
    from sparkt.functions.features import attribution

    ev = T(spark, sf_dir, "events")
    return attribution(
        ev, "user_id", "ts", "event_type", "value"
    ).orderBy("model", "touch_type")


FT5_SQL = """
WITH e AS (
  SELECT user_id, ts, event_type, value,
         CAST(epoch_us(ts) AS BIGINT) AS us,
         CASE WHEN event_type IN ('click', 'view')
              THEN lpad(CAST(CAST(epoch_us(ts) AS BIGINT)
                             + 4611686018427387904 AS VARCHAR), 20, '0')
                   || '|' || event_type END AS tkey
  FROM events),
r AS (
  SELECT user_id, ts, event_type, value,
         max(tkey) OVER w AS lastk,
         min(tkey) OVER w AS firstk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
c AS (SELECT * FROM r WHERE event_type = 'purchase'),
m AS (
  SELECT 'last' AS model,
         coalesce(string_split(lastk, '|')[2], '(none)') AS touch_type,
         value FROM c
  UNION ALL
  SELECT 'first',
         coalesce(string_split(firstk, '|')[2], '(none)'),
         value FROM c)
SELECT model, touch_type,
       CAST(count(*) AS BIGINT) AS n_conversions,
       round(sum(value), 2) AS total_value
FROM m
GROUP BY model, touch_type
ORDER BY model, touch_type
"""


# ----------------------------------------------------------------- t18
def t18_readability(spark, sf_dir):
    """Readability scoring (sparkt.functions.text.readability_stats):
    Flesch reading-ease per doc from exact word/sentence/vowel-group
    counts — the quality feature education-filtered corpora key on.
    The score is ONE fixed-shape expression over three hashed
    integers (not the ln-sum class), so it hash-matches."""
    docs = T(spark, sf_dir, "documents")
    r = TX.readability_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").alias("doc"),
        *[v.alias(k) for k, v in r.items()],
    ).orderBy("doc")


T18_SQL = """
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')),
                  1) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                  1) AS sy
  FROM documents)
SELECT doc_id AS doc,
       CAST(w AS INT) AS n_words,
       CAST(s AS INT) AS n_sentences,
       CAST(sy AS INT) AS n_syllables,
       floor((206.835 - 1.015 * (w::DOUBLE / s)
              - 84.6 * (sy::DOUBLE / w)) * 10000) / 10000 AS flesch
FROM c
ORDER BY doc
"""


# ----------------------------------------------------------------- t19
def t19_boilerplate(spark, sf_dir):
    """Boilerplate line filtering (sparkt.functions.text
    .content_lines, jusText shape): nav/footer lines die, prose
    survives. The corpus is single-line, so the gate injects a
    deterministic page frame (nav header, copyright footer, one
    stopword-dense prose line) identically in both engines and
    verifies the surviving line set (md5 of the rejoined content)."""
    docs = T(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("Home | About | Login\n"),
        F.col("text"),
        F.lit("\nCopyright 2024\n"
              "all of it is for the best and it is that good"),
    )
    cl = TX.content_lines(page)
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.size(F.split(page, "\n")).alias("n_lines"),
        F.size(cl).alias("n_content"),
        F.md5(F.concat_ws("\n", cl)).alias("h"),
    ).orderBy("doc")


_DK_T19_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(l)), '\\s+'), "
    "t -> t <> '')"
)
_DK_T19_STOP = (
    "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for']"
)
T19_SQL = f"""
WITH page AS (
  SELECT doc_id,
         'Home | About | Login' || chr(10) || text || chr(10)
         || 'Copyright 2024' || chr(10)
         || 'all of it is for the best and it is that good' AS s
  FROM documents),
c AS (
  SELECT doc_id,
         string_split(s, chr(10)) AS lines,
         list_filter(string_split(s, chr(10)), l ->
           len({_DK_T19_TOKS}) >= 5
           AND len(list_filter({_DK_T19_TOKS},
                               t -> list_contains({_DK_T19_STOP}, t)))
               * 5 >= len({_DK_T19_TOKS})) AS content
  FROM page)
SELECT doc_id AS doc,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(content) AS INT) AS n_content,
       md5(array_to_string(content, chr(10))) AS h
FROM c
ORDER BY doc
"""


# ----------------------------------------------------------------- s11
def s11_centroid_outliers(spark, sf_dir):
    """Mislabel-candidate mining (sparkt.functions.similarity
    .centroid_outliers): per label, the 3 vectors farthest from their
    own label centroid — the confident-learning-style label audit.
    One groupBy(label) for the 64 dim-sums (the broadcastable
    centroid model), codegen distance projection, skew-safe two-phase
    top-N; dist rounds 4dp per the s3 float doctrine."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.centroid_outliers(emb, dim=64, k=3).orderBy(
        "label", "rank"
    )


_DK_S11_DIST = " + ".join(
    f"(embedding[{d + 1}]::DOUBLE - s{d} / n)"
    f" * (embedding[{d + 1}]::DOUBLE - s{d} / n)"
    for d in range(64)
)
S11_SQL = f"""
WITH s AS (
  SELECT label, count(*) AS n, {_DK_DIM_SUMS}
  FROM embeddings GROUP BY label),
d AS (
  SELECT e.label, e.vec_id,
         round(sqrt({_DK_S11_DIST}), 4) AS dist
  FROM embeddings e JOIN s USING (label)),
r AS (
  SELECT label, vec_id, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS rank
  FROM d QUALIFY rank <= 3)
SELECT label, vec_id, dist, CAST(rank AS INT) AS rank
FROM r
ORDER BY label, rank
"""


# ----------------------------------------------------------------- pl3
def pl3_retrieval_pipeline(spark, sf_dir):
    """End-to-end RETRIEVAL pipeline in one Catalyst dataflow: HTML
    extraction (text.strip_html over a deterministic tags-only wrap,
    so the recovered text is the whitespace-canonical corpus) → BM25
    candidate generation (index.bm25_match, 3-query workload) → two
    rankings over the SAME candidates (lexical evidence
    n_matched/sum_tf vs a doc-length static prior — the classic
    query-dependent + query-independent signal pair) → reciprocal-rank
    fusion (index.rrf_fuse, top-10) → TREC metrics
    (evaluate.retrieval_metrics) against exact AND-match ground truth
    (docs containing ALL query terms).

    100 TB shape: the candidate table is localCheckpointed ONCE (the
    pl2 re-inlining doctrine — it feeds both rankings AND the qrels,
    and its upstream is the full tokenize/tf pipeline); everything
    downstream is |Q|·k-sized. Every float in the gate output is a
    single division; ndcg is dropped (threshold-only doctrine)."""
    from sparkt.functions.evaluate import retrieval_metrics
    from sparkt.functions.index import bm25_match, rrf_fuse

    docs = T(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>p{x:1}</style></head><body><p>"),
        F.col("text"),
        F.lit("</p><!-- end --></body></html>"),
    )
    clean = docs.select(
        "doc_id", TX.strip_html(html).alias("text")
    )
    queries = spark.createDataFrame(
        [("q1", "table scan join"),
         ("q2", "stream window vector"),
         ("q3", "customer order value")],
        ["qid", "qtext"],
    )
    cand = bm25_match(clean, queries, "text", "doc_id").localCheckpoint()
    wa = Window.partitionBy("qid").orderBy(
        F.desc("n_matched"), F.desc("sum_tf"), F.asc("doc")
    )
    wb = Window.partitionBy("qid").orderBy(
        F.desc("doc_len"), F.asc("doc")
    )
    run_a = (
        cand.withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= 10)
        .select("qid", "doc", "rank")
    )
    run_b = (
        cand.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= 10)
        .select("qid", "doc", "rank")
    )
    fused = rrf_fuse(
        [run_a, run_b], k=60, query_id="qid", doc_id="doc", topn=10
    )
    qrels = cand.filter(F.col("n_matched") == 3).select("qid", "doc")
    return (
        retrieval_metrics(
            fused.withColumn("rank", F.col("fused_rank")),
            qrels, k=10, query_id="qid", doc_id="doc",
        )
        .drop("ndcg_at_k")
        .orderBy("qid")
    )


PL3_SQL = f"""
WITH html AS (
  SELECT doc_id,
         '<html><head><style>p{{x:1}}</style></head><body><p>'
         || text || '</p><!-- end --></body></html>' AS s
  FROM documents),
clean AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(s, '(?is)<script\\b.*?</script\\s*>', ' ',
                              'g'),
               '(?is)<style\\b.*?</style\\s*>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]*>', ' ', 'g')) AS pre
  FROM html),
cleant AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             pre, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS text
  FROM clean),
tok AS (
  SELECT doc_id AS doc,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM cleant),
tf AS (SELECT term, doc, count(*) AS tf FROM tok GROUP BY term, doc),
dl AS (SELECT doc, count(*) AS doc_len FROM tok GROUP BY doc),
q AS (SELECT * FROM (VALUES
        ('q1', 'table'), ('q1', 'scan'), ('q1', 'join'),
        ('q2', 'stream'), ('q2', 'window'), ('q2', 'vector'),
        ('q3', 'customer'), ('q3', 'order'), ('q3', 'value'))
      AS t(qid, term)),
j AS (SELECT q.qid, tf.doc, tf.tf FROM tf JOIN q USING (term)),
cand AS (
  SELECT j.qid, j.doc,
         count(*) AS n_matched, sum(j.tf) AS sum_tf,
         max(dl.doc_len) AS doc_len
  FROM j JOIN dl USING (doc)
  GROUP BY j.qid, j.doc),
run_a AS (
  SELECT qid, doc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY n_matched DESC, sum_tf DESC,
                                     doc ASC) AS rank
  FROM cand QUALIFY rank <= 10),
run_b AS (
  SELECT qid, doc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY doc_len DESC, doc ASC) AS rank
  FROM cand QUALIFY rank <= 10),
runs AS (
  SELECT qid, doc, rank, 0 AS run FROM run_a
  UNION ALL SELECT qid, doc, rank, 1 AS run FROM run_b),
piv AS (
  SELECT qid, doc,
         min(CASE WHEN run = 0 THEN rank END) AS r0,
         min(CASE WHEN run = 1 THEN rank END) AS r1
  FROM runs GROUP BY 1, 2),
sc AS (
  SELECT qid, doc,
         round(coalesce(1.0 / (60.0 + r0), 0.0)
               + coalesce(1.0 / (60.0 + r1), 0.0), 6) AS rrf
  FROM piv),
fused AS (
  SELECT qid, doc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rrf DESC, doc ASC) AS rank
  FROM sc QUALIFY rank <= 10),
qrels AS (SELECT qid, doc FROM cand WHERE n_matched = 3),
nrel AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY 1),
marked AS (
  SELECT f.qid, f.rank,
         CASE WHEN g.doc IS NULL THEN 0 ELSE 1 END AS rel
  FROM fused f LEFT JOIN qrels g USING (qid, doc)),
perq AS (
  SELECT qid, count(*) AS n_ret, sum(rel) AS n_rel_ret,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel
  FROM marked GROUP BY 1)
SELECT n.qid,
       CAST(n.n_rel AS BIGINT) AS n_rel,
       CAST(coalesce(p.n_ret, 0) AS BIGINT) AS n_ret,
       CAST(coalesce(p.n_rel_ret, 0) AS BIGINT) AS n_rel_ret,
       CAST(coalesce(p.first_rel, 0) AS BIGINT) AS first_rel_rank,
       round(coalesce(p.n_rel_ret, 0) / n.n_rel, 4) AS recall_at_k,
       round(coalesce(p.n_rel_ret, 0) / 10.0, 4) AS precision_at_k,
       coalesce(round(1.0 / p.first_rel, 6), 0.0) AS mrr
FROM nrel n LEFT JOIN perq p USING (qid)
ORDER BY n.qid
"""


# ----------------------------------------------------------------- pl4
def pl4_dedup_removal(spark, sf_dir):
    """End-to-end near-dup REMOVAL pipeline over the r12 64-bit
    banded path: simhash_neardup_pairs64 (full corpus, k=3) →
    duplicate_clusters (O(log n) star contraction) → the removal
    decision log (every doc losing to its cluster's min-id
    representative) — the text twin of sd1's SemDeDup shape,
    exercising the marquee banded operators WITHOUT the d16 doc
    bound. The oracle re-derives the same pairs and closes them with
    a recursive CTE (the d9 pattern). Exact integers only."""
    from sparkt.functions.dedup import (
        duplicate_clusters,
        simhash_neardup_pairs64,
    )

    docs = T(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs64(docs, "text", "doc_id", k=3)
    clusters = duplicate_clusters(pairs)
    return (
        clusters.filter(F.col("doc") != F.col("cluster"))
        .select(
            F.col("doc").alias("removed_doc"),
            F.col("cluster").alias("kept_doc"),
        )
        .orderBy("removed_doc")
    )


def _pl4_sql() -> str:
    return f"""
WITH RECURSIVE {_simhash64_pairs_body("")},
hpairs AS (SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
edges AS (SELECT id_a AS src, id_b AS dst FROM hpairs
          UNION SELECT id_b, id_a FROM hpairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r
  FROM edges e JOIN reach ON reach.node = e.dst)
SELECT node AS removed_doc, min(r) AS kept_doc
FROM reach GROUP BY node
HAVING node != min(r)
ORDER BY removed_doc
"""


# ----------------------------------------------------------------- pl5
def pl5_curation_pipeline(spark, sf_dir):
    """END-TO-END pretraining-curation integration gate (VERDICT r12
    ask #5): the full curation surface chained as ONE Catalyst
    dataflow over the documents corpus —

      0. benchmark split: doc_id % 97 == 0 is the held-out eval slice
      1. normalize_text on every doc (t16's operator)
      2. lang-id gate: keep detected-'en' (t3's operator)
      3. quality + repetition filter (t2's signals, floor-quantized
         exactly like the t2 gate): quality >= 0.4,
         dup_token_ratio <= 0.93, top_bigram_ratio <= 0.08
      4. 64-bit banded simhash near-dup removal (pl4's core): pairs
         at k=3 -> connected components -> drop non-representatives
      5. 3-gram decontamination vs the benchmark slice (d8's
         operator): >= 5% shingle overlap drops the doc
      6. domain mixture under a 2000-token budget (p10's operator):
         3:1:1 over dom0/dom1/dom2 = source-number % 3,
         integer-exact deterministic-hash thinning, salt 'pl5mix'
      7. deterministic shuffle + 512-token shard packing (c3's
         operator, two-phase prefix sum, seed 'pl5')

    Output = end-state per (domain, shard_id) doc/token counts —
    exact integers; the oracle replays all stages in one DuckDB CTE
    chain. Every inter-stage handoff is a lazy DataFrame, so Catalyst
    plans stages 1–3 as a single scan-side projection under the pair
    generator (the pl1 composition argument, now over the FULL
    surface). The two stages with eager driver steps keep their
    documented constant-size collects (duplicate_clusters' union-find
    edge gate; shuffle_shards' 256-row bucket cumsum). Per-SF
    stage-by-stage attrition is recorded by scripts/pl5_attrition.py
    into PLANS.md (the gate output pins the END state; the script
    pins the path)."""
    from sparkt.functions import sampling as SP

    # STAGING POINT 0: materialize the spread raw table. Without the
    # barrier, Catalyst pushes the stage-2/3 lang-id+quality FILTER
    # below spread()'s round-robin Exchange into the single-split
    # parquet scan stage, serializing the HOF-heavy predicate onto one
    # core (measured r13: 27 s of the gate's 90 s at sf0.1 was that
    # one task). A 100 TB scan has thousands of splits, so scan-side
    # pushdown is exactly right there — this checkpoint compensates
    # for the one-file testdata layout, not for the plan shape.
    docs = T(spark, sf_dir, "documents").localCheckpoint(eager=False)
    # stages 0-1: normalize everything, then split eval slice vs corpus
    norm = docs.select(
        "doc_id", "source",
        TX.normalize_text(F.col("text")).alias("text"),
    )
    bench = norm.filter(F.col("doc_id") % 97 == 0)
    corpus = norm.filter(F.col("doc_id") % 97 != 0)

    # stages 2-3: one narrow codegen projection (t2's expressions;
    # column trees cached per process — the _t2_columns lesson:
    # building this tree is ~8 s of py4j round-trips)
    pre_cols, mid_cols, out_cols = _pl5_columns()
    scored = corpus.select(*pre_cols).select(*mid_cols).select(*out_cols)
    qual = scored.filter(
        (F.col("__lang") == "en")
        & (F.col("__q") >= 0.4)
        & (F.col("__dup") <= 0.93)
        & (F.col("__bg") <= 0.08)
    ).select("doc_id", "source", "text", "n_tokens")
    # STAGING POINT 1 (documented): at 100 TB the filtered corpus is
    # written to a staging table here — five downstream consumers
    # (pair edges, shingle postings, mixture totals, shard bucket
    # sums, the final plan) would otherwise each re-run the
    # HOF-heavy normalize/lang-id/quality projection. localCheckpoint
    # is the in-session equivalent (lazy: materializes on first use;
    # measured r13: the gate went 47 s -> ~8 s at sf0.01).
    qual = qual.localCheckpoint(eager=False)

    # stage 4: banded near-dup removal (keep each cluster's min-id rep)
    pairs = D.simhash_neardup_pairs64(qual, "text", "doc_id", k=3)
    removed = (
        D.duplicate_clusters(pairs)
        .filter(F.col("doc") != F.col("cluster"))
        .select(F.col("doc").alias("doc_id"))
    )
    uniq = qual.join(removed, "doc_id", "left_anti")

    # stage 5: decontaminate vs the (normalized) benchmark slice
    # (broadcast shingle-set semi-join — exact, oracle parity)
    flagged = D.decontaminate(
        uniq, bench, "text", "doc_id", k=3, threshold=0.05,
    ).select(F.col("doc").alias("doc_id"))
    clean = uniq.join(flagged, "doc_id", "left_anti")

    # stage 6: 3:1:1 domain mixture under a 2000-token budget
    domained = clean.withColumn(
        "domain",
        F.concat(
            F.lit("dom"),
            (F.regexp_replace(F.col("source"), "src", "").cast("int") % 3)
            .cast("string"),
        ),
    )
    kept = SP.apply_mixture(
        domained, "domain", "doc_id", "n_tokens",
        {"dom0": 3.0, "dom1": 1.0, "dom2": 1.0},
        budget_tokens=2000, salt="pl5mix",
    )
    # STAGING POINT 2 (documented): the post-mixture selection is the
    # natural "selected corpus" staging table; three consumers follow
    # (shard bucket sums, the shard plan, the domain join-back).
    kept = kept.localCheckpoint(eager=False)

    # stage 7: seeded shuffle + 512-token shards; end-state counts
    sharded = SP.shuffle_shards(
        kept, "doc_id", "n_tokens",
        seed="pl5", shard_size=512, prefix_chars=2,
    )
    return (
        sharded.join(kept.select("doc_id", "domain"), "doc_id")
        .groupBy("domain", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("size").alias("n_tokens"),
        )
        .orderBy("domain", "shard_id")
    )


_PL5_COLS = None


def _pl5_columns():
    """pl5's stage-2/3 expression tree, built once per process (the
    _t2_columns pattern — unbound Columns are immutable and resolve at
    analysis time; building this tree costs ~8 s of py4j round-trips
    that repeat callers should not pay twice)."""
    global _PL5_COLS
    if _PL5_COLS is not None:
        return _PL5_COLS
    pre_cols = [
        F.col("doc_id"), F.col("source"), F.col("text"),
        TX.tokens(F.col("text")).alias("__toks"),
    ]
    n = F.size("__toks")
    # r15: bigram array materialized once in a middle projection —
    # lambda-bearing HOFs are exempt from codegen subexpression
    # elimination, so its former 2 references each re-ran the whole
    # transform per row (the t2 mid-projection pattern)
    mid_cols = [
        F.col("doc_id"), F.col("source"), F.col("text"),
        F.col("__toks"),
        TX.bigram_array(F.col("__toks")).alias("__bgarr"),
    ]
    dup_tok = TX.dup_token_count(F.array_sort(F.col("__toks")))
    top_bigram = TX.max_adjacent_run(F.array_sort(F.col("__bgarr")))
    stop_hits = F.size(F.filter("__toks", lambda t: t.isin(TX.EN_STOPWORDS)))
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    stop = stop_hits / F.greatest(n, F.lit(1))
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))

    def q6(c):
        return F.floor(c * 1_000_000) / 1_000_000

    out_cols = [
        F.col("doc_id"), F.col("source"), F.col("text"),
        n.cast("long").alias("n_tokens"),
        TX.lang_id(F.col("text"), F.col("__toks")).alias("__lang"),
        q6(0.4 * length_term + 0.3 * alpha + 0.3 * stop).alias("__q"),
        q6(dup_tok / F.greatest(n, F.lit(1))).alias("__dup"),
        q6(top_bigram / F.greatest(F.size("__bgarr"), F.lit(1))).alias("__bg"),
    ]
    _PL5_COLS = (pre_cols, mid_cols, out_cols)
    return _PL5_COLS


def _pl5_sql() -> str:
    """The 8-stage replay as one DuckDB CTE chain (names prefixed to
    avoid colliding with the simhash body's tok/v/hb/p/pairs CTEs)."""
    return f"""
WITH RECURSIVE
normed AS (
  SELECT doc_id, source,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               translate(text,
                         chr(8216) || chr(8217) || chr(8220) || chr(8221)
                         || chr(8211) || chr(8212) || chr(160),
                         chr(39) || chr(39) || chr(34) || chr(34) || '-- '),
               chr(8230), '...', 'g'),
             '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g'),
           '\\s+', ' ', 'g')) AS text
  FROM documents),
bench AS (SELECT * FROM normed WHERE doc_id % 97 = 0),
corpus AS (SELECT * FROM normed WHERE doc_id % 97 != 0),
langed AS (
  SELECT doc_id, source, text,
         CASE WHEN cjk * 1.0 / nch > 0.3 THEN 'zh'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS l
  FROM (
    SELECT doc_id, source, text,
           length(regexp_replace(text, '[^{_CJK}]', '', 'g')) AS cjk,
           greatest(length(text), 1) AS nch,
           len(list_filter({_DK_TOKENS}, t -> t IN ({_EN}))) AS en,
           len(list_filter({_DK_TOKENS}, t -> t IN ({_DE}))) AS de,
           len(list_filter({_DK_TOKENS}, t -> t IN ({_FR}))) AS fr,
           len(list_filter({_DK_TOKENS}, t -> t IN ({_ES}))) AS es
    FROM corpus)),
endocs AS (SELECT doc_id, source, text FROM langed WHERE l = 'en'),
qt AS (SELECT doc_id, source, text, {_DK_TOKENS} AS toks FROM endocs),
qtok AS (SELECT doc_id, unnest(toks) AS tok FROM qt),
qtc AS (SELECT doc_id, tok, count(*) AS cnt FROM qtok GROUP BY 1, 2),
qts AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                 AS dup_tok
        FROM qtc GROUP BY 1),
qbg AS (SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM qt WHERE len(toks) >= 2),
qbc AS (SELECT doc_id, bg, count(*) AS cnt FROM qbg GROUP BY 1, 2),
qbs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(max(cnt) AS BIGINT) AS top_bigram
        FROM qbc GROUP BY 1),
qual AS (
  SELECT q.doc_id, q.source, q.text,
         CAST(len(q.toks) AS BIGINT) AS n_tokens
  FROM qt q
  JOIN qts ON q.doc_id = qts.doc_id
  LEFT JOIN qbs ON q.doc_id = qbs.doc_id
  WHERE floor((0.4 * least(len(q.toks) / 100.0, 1.0)
               + 0.3 * (length(regexp_replace(q.text, '[^a-zA-Z]', '', 'g'))
                        * 1.0 / greatest(length(q.text), 1))
               + 0.3 * (len(list_filter(q.toks, t -> t IN ({_EN})))
                        * 1.0 / greatest(len(q.toks), 1)))
              * 1000000) / 1000000 >= 0.4
    AND floor(qts.dup_tok * 1.0 / greatest(qts.n_tokens, 1) * 1000000)
          / 1000000 <= 0.93
    AND floor(coalesce(qbs.top_bigram, 0) * 1.0
              / greatest(coalesce(qbs.n_bigrams, 1), 1) * 1000000)
          / 1000000 <= 0.08),
{_simhash64_pairs_body("", src="qual")},
hpairs AS (SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
edges AS (SELECT id_a AS src, id_b AS dst FROM hpairs
          UNION SELECT id_b, id_a FROM hpairs),
enodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM enodes
  UNION
  SELECT e.src AS node, reach.r
  FROM edges e JOIN reach ON reach.node = e.dst),
removed AS (
  SELECT node FROM reach GROUP BY node HAVING node != min(r)),
uniq AS (SELECT * FROM qual
         WHERE doc_id NOT IN (SELECT node FROM removed)),
ush AS (SELECT doc_id, unnest({_DK_SHINGLES_K3}) AS sh FROM uniq),
bsh AS (SELECT DISTINCT sh FROM (
          SELECT unnest({_DK_SHINGLES_K3}) AS sh FROM bench)),
usz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        FROM ush GROUP BY 1),
uhits AS (SELECT u.doc_id, CAST(count(*) AS BIGINT) AS overlap
          FROM ush u JOIN bsh b USING (sh) GROUP BY 1),
contam AS (SELECT h.doc_id FROM uhits h JOIN usz s USING (doc_id)
           WHERE overlap * 1.0 / n_sh >= 0.05),
clean AS (SELECT * FROM uniq
          WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
dom AS (
  SELECT doc_id, n_tokens,
         'dom' || CAST(CAST(replace(source, 'src', '') AS INT) % 3
                       AS VARCHAR) AS domain
  FROM clean),
tot AS (SELECT domain, sum(n_tokens) AS T FROM dom GROUP BY 1),
mixj AS (
  SELECT d.doc_id, d.domain, d.n_tokens, tot.T,
         CASE d.domain WHEN 'dom0' THEN 1200.0
                       WHEN 'dom1' THEN 400.0
                       WHEN 'dom2' THEN 400.0 END AS q
  FROM dom d JOIN tot USING (domain)),
mix AS (
  SELECT * FROM mixj
  WHERE q IS NOT NULL
    AND CAST(('0x' || substr(md5('pl5mix:' || CAST(doc_id AS VARCHAR)),
                             1, 8))::UBIGINT AS BIGINT)
        < floor(least(1.0, q / T) * 4294967296.0)),
skeyed AS (
  SELECT doc_id, domain, n_tokens,
         md5('pl5|' || CAST(doc_id AS VARCHAR)) AS skey
  FROM mix),
cums AS (
  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
        ORDER BY skey, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS BIGINT) AS gs
  FROM skeyed)
SELECT domain,
       CAST(floor(gs / 512.0) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM cums
GROUP BY domain, shard_id
ORDER BY domain, shard_id
"""


# ----------------------------------------------------------------- t17
def t17_strip_html(spark, sf_dir):
    """HTML-to-text extraction (sparkt.functions.text.strip_html):
    script/style/comment elements dropped, tags to spaces, common
    entities decoded, whitespace collapsed — pure codegen narrow
    projection. The corpus is plain text, so the gate first WRAPS it
    in deterministic markup (head with style+script, body with
    per-doc attribute, entity-encoded ampersand seam) identically in
    both engines and verifies extraction recovers the canonical form
    (md5 + length compared, t16 pattern)."""
    docs = T(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>p{x:1}</style>"
              "<script>if(1<2){a=\"&amp;\";}</script></head>"
              "<body><!-- id:"),
        F.col("doc_id").cast("string"),
        F.lit(" --><p class=\"d\">"),
        F.col("text"),
        F.lit("</p><p>tail &amp; fin</p></body></html>"),
    )
    ext = TX.strip_html(html)
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.length(ext).alias("n_len"),
        F.md5(ext).alias("h"),
    ).orderBy("doc")


T17_SQL = """
WITH html AS (
  SELECT doc_id,
         '<html><head><style>p{x:1}</style>'
         || '<script>if(1<2){a="&amp;";}</script></head>'
         || '<body><!-- id:' || CAST(doc_id AS VARCHAR)
         || ' --><p class="d">' || text
         || '</p><p>tail &amp; fin</p></body></html>' AS s
  FROM documents),
noscript AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(s, '(?is)<script\\b.*?</script\\s*>', ' ',
                            'g'),
             '(?is)<style\\b.*?</style\\s*>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS s
  FROM html),
notags AS (
  SELECT doc_id, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s
  FROM noscript),
decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(
           s, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
  FROM notags),
clean AS (
  SELECT doc_id, trim(regexp_replace(s, '\\s+', ' ', 'g')) AS s
  FROM decoded)
SELECT doc_id AS doc, CAST(length(s) AS INT) AS n_len, md5(s) AS h
FROM clean
ORDER BY doc
"""


# ----------------------------------------------------------------- s10
def s10_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval fusion (sparkt.functions.index.rrf_fuse):
    RRF-combine the two lint-clean ANN runs of s4 (sign-LSH bucketed
    top-k + IVF 2-probe top-k) into one ranking — the standard
    multi-retriever recipe (Cormack et al. 2009). The score is a fixed
    two-term expression over pivoted ranks (never a float-sum
    aggregate), so the oracle reproduces it exactly; fused_rank orders
    by the ROUNDED score in both engines."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    lsh = S.lsh_bucketed_topk(queries, corpus, dim=64, k=5, n_planes=4)
    ivf = S.ivf_topk(queries, corpus, dim=64, k=5, n_cells=8, n_probe=2)
    from sparkt.functions.index import rrf_fuse

    return rrf_fuse(
        [lsh, ivf], k=60, query_id="query_id", doc_id="corpus_id"
    ).orderBy("query_id", "fused_rank")


def _s10_sql() -> str:
    return (
        _ann_cte_body()
        + """,
runs AS (
  SELECT query_id, corpus_id, rank, 0 AS run FROM lsh_k
  UNION ALL
  SELECT query_id, corpus_id, rank, 1 AS run FROM ivf_k),
piv AS (
  SELECT query_id, corpus_id,
         min(CASE WHEN run = 0 THEN rank END) AS r0,
         min(CASE WHEN run = 1 THEN rank END) AS r1
  FROM runs GROUP BY 1, 2),
sc AS (
  SELECT query_id, corpus_id, r0, r1,
         round(coalesce(1.0 / (60.0 + r0), 0.0)
               + coalesce(1.0 / (60.0 + r1), 0.0), 6) AS rrf
  FROM piv)
SELECT query_id, corpus_id,
       CAST(r0 AS INT) AS rank_0, CAST(r1 AS INT) AS rank_1, rrf,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, corpus_id ASC)
            AS INT) AS fused_rank
FROM sc
ORDER BY query_id, fused_rank
"""
    )


# ----------------------------------------------------------------- ev1
def ev1_retrieval_metrics(spark, sf_dir):
    """Retrieval-quality evaluation (sparkt.functions.evaluate
    .retrieval_metrics): recall@5 / precision@5 / MRR of the sign-LSH
    ANN run against label-match ground truth (a corpus item is
    relevant to a query iff their labels agree) — the TREC-style
    measurement loop a pipeline runs after every embedding change.
    Integer evidence hashes exactly; each hashed float metric is a
    single integer division (4dp) or 1/rank (6dp). The log2-based
    ndcg_at_k column is threshold-only (t6/t11 doctrine) and is
    EXCLUDED from the gate SELECT; pytest pins it vs python."""
    emb = T(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), "embedding", "label"
    )
    run = S.lsh_bucketed_topk(
        queries.drop("label"), corpus.drop("label"),
        dim=64, k=5, n_planes=4,
    )
    qrels = (
        queries.select("query_id", "label")
        .join(corpus.select("corpus_id", "label"), "label")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
    )
    from sparkt.functions.evaluate import retrieval_metrics

    return (
        retrieval_metrics(
            run, qrels, k=5, query_id="query_id", doc_id="corpus_id"
        )
        .drop("ndcg_at_k")
        .orderBy("query_id")
    )


def _ev1_sql() -> str:
    return (
        _ann_cte_body()
        + """,
lab AS (SELECT vec_id, label FROM embeddings),
qrels AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM lab q JOIN lab c ON q.label = c.label AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10),
nrel AS (
  SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
marked AS (
  SELECT r.query_id, r.rank,
         CASE WHEN g.corpus_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM lsh_k r LEFT JOIN qrels g USING (query_id, corpus_id)),
perq AS (
  SELECT query_id, count(*) AS n_ret, sum(rel) AS n_rel_ret,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel
  FROM marked GROUP BY 1)
SELECT n.query_id,
       CAST(n.n_rel AS BIGINT) AS n_rel,
       CAST(coalesce(p.n_ret, 0) AS BIGINT) AS n_ret,
       CAST(coalesce(p.n_rel_ret, 0) AS BIGINT) AS n_rel_ret,
       CAST(coalesce(p.first_rel, 0) AS BIGINT) AS first_rel_rank,
       round(coalesce(p.n_rel_ret, 0) / n.n_rel, 4) AS recall_at_k,
       round(coalesce(p.n_rel_ret, 0) / 5.0, 4) AS precision_at_k,
       coalesce(round(1.0 / p.first_rel, 6), 0.0) AS mrr
FROM nrel n LEFT JOIN perq p USING (query_id)
ORDER BY n.query_id
"""
    )


# ------------------------------------------------------------------ p9
def p9_cluster_split(spark, sf_dir):
    """Leakage-safe dataset split (sparkt.functions.sampling
    .cluster_safe_split): assign train/val/test by hashing the
    exact-dedup FINGERPRINT (md5 of text) instead of the doc id, so
    identical documents can never straddle train and eval — the
    contamination guard from the dedup literature. Pure per-row
    expression; the integer-exact _u32 ladder is shared with p3."""
    from sparkt.functions import sampling as SA

    docs = T(spark, sf_dir, "documents")
    clustered = docs.withColumn("fp", F.md5(F.col("text")))
    out = SA.cluster_safe_split(
        clustered, "fp", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select("doc_id", "fp", "split").orderBy("doc_id")


def _p9_sql() -> str:
    b = []
    cum = 0.0
    for frac in (0.8, 0.1):
        cum += frac
        b.append(int(cum * (1 << 32)))
    return f"""
WITH u AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(('0x' || substr(md5('csplit:' || md5(text)), 1, 8))::UBIGINT
              AS BIGINT) AS u32
  FROM documents)
SELECT doc_id, fp,
       CASE WHEN u32 < {b[0]} THEN 'train'
            WHEN u32 < {b[1]} THEN 'val'
            ELSE 'test' END AS split
FROM u
ORDER BY doc_id
"""


# ------------------------------------------------------------------ g1
def g1_triangles(spark, sf_dir):
    """Per-vertex triangle counts (sparkt.functions.graph
    .triangle_count) of the MinHash candidate-pair graph (d3's edges)
    — the density diagnostic separating real near-dup cliques from
    hash-collision noise. Degree-oriented compact-forward on the Spark
    side (O(sqrt(m)) wedge fan-out per vertex); the oracle's id-ordered
    3-way join is orientation-independent so the counts agree
    exactly."""
    from sparkt.functions.graph import triangle_count

    docs = T(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(
        docs, "text", "doc_id", n_hashes=8, n_bands=4
    )
    return triangle_count(pairs, "id_a", "id_b").orderBy("node")


G1_SQL = f"""
WITH sigs AS (
  SELECT doc_id,
         [{", ".join(_dk_minhash(i) for i in range(8))}] AS sig
  FROM documents),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(sig[2*b+1] || '|' || sig[2*b+2]) AS band_key
  FROM sigs, unnest(generate_series(0, 3)) AS t(b)),
e AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
cnt AS (
  SELECT node, count(*) AS triangles
  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY node)
SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * coalesce(c.triangles, 0)
                       / (d.deg * (d.deg - 1)), 4)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN cnt c USING (node)
ORDER BY node
"""


# ----------------------------------------------------------------- g2
def g2_pagerank(spark, sf_dir):
    """Fixed-3-iteration PageRank (sparkt.functions.graph.pagerank)
    over the g1 MinHash candidate-pair graph — the link-authority
    quality prior; on a similarity graph high rank marks
    template/boilerplate hubs. The oracle unrolls the SAME three
    power-method levels from uniform; ranks rounded 7dp (the
    covariance-class float contract — per-node sums over ~degree
    doubles)."""
    from sparkt.functions.graph import pagerank

    docs = T(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(
        docs, "text", "doc_id", n_hashes=8, n_bands=4
    )
    return pagerank(pairs, "id_a", "id_b").orderBy("node")


def _g2_iter(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT e.v AS node,
         (1 - 0.85) / max(nn.n) + 0.85 * sum(p.r / d.deg) AS r
  FROM eb e
  JOIN {prev} p ON p.node = e.u
  JOIN deg d ON d.u = e.u, nn
  GROUP BY e.v)"""


G2_SQL = f"""
WITH sigs AS (
  SELECT doc_id,
         [{", ".join(_dk_minhash(i) for i in range(8))}] AS sig
  FROM documents),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(sig[2*b+1] || '|' || sig[2*b+2]) AS band_key
  FROM sigs, unnest(generate_series(0, 3)) AS t(b)),
e AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
eb AS (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT u, count(*) AS deg FROM eb GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u AS node, 1.0 / max(nn.n) AS r FROM deg, nn GROUP BY u),
{_g2_iter("r0", "r1")},
{_g2_iter("r1", "r2")},
{_g2_iter("r2", "r3")}
SELECT node, round(r, 7) AS rank FROM r3 ORDER BY node
"""


# ----------------------------------------------------------------- t21
def t21_diversity(spark, sf_dir):
    """Lexical-diversity quality signals
    (sparkt.functions.text.diversity_stats): type–token ratio and
    Gini–Simpson index over each doc's unigram distribution — the
    keyword-stuffing / generation-loop detectors complementing t2's
    adjacency-based repetition signals. All hashed columns are
    rational (Σc² and n are exact integers; floor-quantized 6dp per
    the t2 doctrine); the ln-based token_entropy column is
    threshold-only and EXCLUDED from the hash (t12/t14 doctrine).

    Scale: one shuffle-free run-length HOF scan per doc (scan
    speed at 100 TB, like t2)."""
    docs = T(spark, sf_dir, "documents")
    st = TX.diversity_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").alias("doc"),
        st["n_tokens"].alias("n_tokens"),
        st["n_distinct"].alias("n_distinct"),
        st["ttr"].alias("ttr"),
        st["simpson"].alias("simpson"),
    ).orderBy("doc")


T21_SQL = f"""
WITH t AS (SELECT doc_id AS doc, {_DK_TOKENS} AS toks FROM documents),
tok AS (SELECT doc, unnest(toks) AS tok FROM t),
tc AS (SELECT doc, tok, count(*) AS c FROM tok GROUP BY 1, 2),
st AS (SELECT doc,
              CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS nd,
              CAST(sum(c * c) AS BIGINT) AS s2
       FROM tc GROUP BY doc)
SELECT doc,
       n AS n_tokens,
       nd AS n_distinct,
       floor(nd / greatest(n, 1) * 1000000) / 1000000 AS ttr,
       floor((1.0 - s2 / (greatest(n, 1) * greatest(n, 1)))
             * 1000000) / 1000000 AS simpson
FROM st
ORDER BY doc
"""


# ----------------------------------------------------------------- s14
def s14_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 random projection
    (sparkt.functions.similarity.random_projection — Achlioptas 2003):
    64-d float32 embeddings down to 16-d with an md5-derived sign
    matrix shared verbatim with the oracle. Every output is a
    left-assoc double fold the oracle unrolls term-for-term (the s12
    bit-identical doctrine — no float-boundary risk), scaled by the
    exact dyadic 1/sqrt(16) = 0.25.

    Scale: narrow per-row projection, zero shuffles, zero Python —
    the dimensionality cut in front of ANN/clustering at 100 TB."""
    emb = T(spark, sf_dir, "embeddings")
    return S.random_projection(
        emb, "embedding", "vec_id", dim=64, out_dim=16
    ).orderBy("vec_id")


def _s14_sql() -> str:
    """DuckDB exact emulation: the SAME md5 sign matrix
    (similarity.rp_signs), each output dim an UNROLLED left-assoc
    sum ((t1+t2)+t3)... matching Spark's sequential aggregate fold,
    times 0.25, rounded 6dp — operands bit-identical, so rounding
    agrees regardless of half-way convention."""
    from sparkt.functions.similarity import rp_signs

    signs = rp_signs(64, 16)
    cols = ",\n       ".join(
        # the leading 0.0 replays Spark's fold INIT term too, so even
        # a -0.0 first product normalizes identically in both engines
        "round((0.0 + "
        + " + ".join(
            f"v[{i + 1}] * {signs[j][i]!r}" for i in range(64)
        )
        + f") * 0.25, 6) AS r{j}"
        for j in range(16)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       {cols}
FROM e
ORDER BY vec_id
"""


QUERIES = {
    "d11_incremental_dedup": d11_incremental_dedup,
    "d13_url_dedup": d13_url_dedup,
    "p7_weighted_sample": p7_weighted_sample,
    "c4_curriculum": c4_curriculum,
    "s7_hard_negatives": s7_hard_negatives,
    "f1_fuzzy_join": f1_fuzzy_join,
    "f2_jaro_winkler": f2_jaro_winkler,
    "p4_domain_cap": p4_domain_cap,
    "c2_pack_offsets": c2_pack_offsets,
    "c3_shuffle_shards": c3_shuffle_shards,
    "pl1_preprocess_pipeline": pl1_preprocess_pipeline,
    "s6_kmeans": s6_kmeans,
    "c1_doc_chunks": c1_doc_chunks,
    "t8_hashed_classifier": t8_hashed_classifier,
    "t9_trigram_familiarity": t9_trigram_familiarity,
    "t11_bigram_lm": t11_bigram_lm,
    "t12_char_stats": t12_char_stats,
    "t13_inverted_index": t13_inverted_index,
    "t14_bm25": t14_bm25,
    "t15_collocations": t15_collocations,
    "pr1_profile": pr1_profile,
    "pr2_profile_values": pr2_profile_values,
    "s8_margin_pairs": s8_margin_pairs,
    "t17_strip_html": t17_strip_html,
    "pl3_retrieval_pipeline": pl3_retrieval_pipeline,
    "pl4_dedup_removal": pl4_dedup_removal,
    "pl5_curation_pipeline": pl5_curation_pipeline,
    "s11_centroid_outliers": s11_centroid_outliers,
    "s12_ivfpq": s12_ivfpq,
    "s13_mmr_rerank": s13_mmr_rerank,
    "c5_budget_select": c5_budget_select,
    "d15_lsh_calibration": d15_lsh_calibration,
    "p10_apply_mixture": p10_apply_mixture,
    "p11_dsir_select": p11_dsir_select,
    "p12_zorder": p12_zorder,
    "ft6_basket_pairs": ft6_basket_pairs,
    "ft7_event_transitions": ft7_event_transitions,
    "ft8_rfm": ft8_rfm,
    "mm4_perceptual_hash": mm4_perceptual_hash,
    "mm5_ahash_neardup": mm5_ahash_neardup,
    "t20_sentence_stats": t20_sentence_stats,
    "ev2_calibration": ev2_calibration,
    "d16_simhash_probe": d16_simhash_probe,
    "d17_containment": d17_containment,
    "d18_sentence_spans": d18_sentence_spans,
    "d19_tfidf_cosine": d19_tfidf_cosine,
    "ev3_class_metrics": ev3_class_metrics,
    "ev4_cohens_kappa": ev4_cohens_kappa,
    "ev5_fleiss_kappa": ev5_fleiss_kappa,
    "ev6_krippendorff": ev6_krippendorff,
    "t21_diversity": t21_diversity,
    "s14_random_projection": s14_random_projection,
    "ft9_active_users": ft9_active_users,
    "ft5_attribution": ft5_attribution,
    "t18_readability": t18_readability,
    "t19_boilerplate": t19_boilerplate,
    "s10_rrf_fusion": s10_rrf_fusion,
    "ev1_retrieval_metrics": ev1_retrieval_metrics,
    "p9_cluster_split": p9_cluster_split,
    "g1_triangles": g1_triangles,
    "g2_pagerank": g2_pagerank,
    "ft1_decay_features": ft1_decay_features,
    "s9_pca_cov": s9_pca_cov,
    "mm3_audio_segments": mm3_audio_segments,
    "t16_normalize": t16_normalize,
    "pl2_vector_pipeline": pl2_vector_pipeline,
    "p8_skew_report": p8_skew_report,
    "d14_corpus_diff": d14_corpus_diff,
    "ft2_funnel": ft2_funnel,
    "ft3_retention": ft3_retention,
    "ft4_anomalies": ft4_anomalies,
    "mm2_frame_sample": mm2_frame_sample,
    "d10_span_dupes": d10_span_dupes,
    "s5_quantize_int8": s5_quantize_int8,
    "a1_asof_join": a1_asof_join,
    "a2_range_join": a2_range_join,
    "t2_quality_scores": t2_quality_scores,
    "t3_lang_id": t3_lang_id,
    "d1_exact_dedup": d1_exact_dedup,
    "d3_minhash_pairs": d3_minhash_pairs,
    "d4_simhash": d4_simhash,
    "d5_ngram_jaccard": d5_ngram_jaccard,
    "d7_winnow_pairs": d7_winnow_pairs,
    "d9_dup_clusters": d9_dup_clusters,
    "sd1_semantic_dedup": sd1_semantic_dedup,
    "s1_cosine_topk": s1_cosine_topk,
    "s3_label_centroids": s3_label_centroids,
    "s4_ann_methods": s4_ann_methods,
    "d6_embedding_neardup": d6_embedding_neardup,
    "t4_pii_redact": t4_pii_redact,
    "t6_tfidf_terms": t6_tfidf_terms,
    "d8_decontaminate": d8_decontaminate,
    "p2_salted_join": p2_salted_join,
    "p3_stratified_sample": p3_stratified_sample,
    "p5_quality_buckets": p5_quality_buckets,
    "p6_mixture_weights": p6_mixture_weights,
    "t10_count_min": t10_count_min,
    "d12_bloom_decontaminate": d12_bloom_decontaminate,
    "t7_approx_sketch": t7_approx_sketch,
    "mm1_image_meta": mm1_image_meta,
}

ORACLES = {
    "d11_incremental_dedup": D11_SQL,
    "d13_url_dedup": D13_SQL,
    "p7_weighted_sample": P7_SQL,
    "c4_curriculum": C4_SQL,
    "s7_hard_negatives": S7_SQL,
    "f1_fuzzy_join": F1_SQL,
    "f2_jaro_winkler": F2_SQL,
    "p4_domain_cap": P4_SQL,
    "c2_pack_offsets": C2_SQL,
    "c3_shuffle_shards": C3_SQL,
    "pl1_preprocess_pipeline": PL1_SQL,
    "s6_kmeans": _s6_sql(),
    "c1_doc_chunks": C1_SQL,
    "t8_hashed_classifier": T8_SQL,
    "t9_trigram_familiarity": T9_SQL,
    "t11_bigram_lm": T11_SQL,
    "t12_char_stats": T12_SQL,
    "t13_inverted_index": T13_SQL,
    "t14_bm25": T14_SQL,
    "t15_collocations": T15_SQL,
    "pr1_profile": PR1_SQL,
    "pr2_profile_values": PR2_SQL,
    "s8_margin_pairs": S8_SQL,
    "t17_strip_html": T17_SQL,
    "pl3_retrieval_pipeline": PL3_SQL,
    "pl4_dedup_removal": _pl4_sql(),
    "pl5_curation_pipeline": _pl5_sql(),
    "s11_centroid_outliers": S11_SQL,
    "s12_ivfpq": _s12_sql(),
    "s13_mmr_rerank": _s13_sql(),
    "c5_budget_select": C5_SQL,
    "d15_lsh_calibration": D15_SQL,
    "p10_apply_mixture": P10_SQL,
    "p11_dsir_select": P11_SQL,
    "p12_zorder": _p12_sql(),
    "ft6_basket_pairs": FT6_SQL,
    "ft7_event_transitions": FT7_SQL,
    "ft8_rfm": FT8_SQL,
    "mm4_perceptual_hash": _mm4_sql(),
    "mm5_ahash_neardup": _mm5_sql(),
    "t20_sentence_stats": T20_SQL,
    "ev2_calibration": EV2_SQL,
    "d16_simhash_probe": _d16_sql(),
    "d17_containment": D17_SQL,
    "d18_sentence_spans": D18_SQL,
    "d19_tfidf_cosine": D19_SQL,
    "ev3_class_metrics": EV3_SQL,
    "ev4_cohens_kappa": EV4_SQL,
    "ev5_fleiss_kappa": EV5_SQL,
    "ev6_krippendorff": EV6_SQL,
    "t21_diversity": T21_SQL,
    "s14_random_projection": _s14_sql(),
    "ft9_active_users": FT9_SQL,
    "ft5_attribution": FT5_SQL,
    "t18_readability": T18_SQL,
    "t19_boilerplate": T19_SQL,
    "s10_rrf_fusion": _s10_sql(),
    "ev1_retrieval_metrics": _ev1_sql(),
    "p9_cluster_split": _p9_sql(),
    "g1_triangles": G1_SQL,
    "g2_pagerank": G2_SQL,
    "ft1_decay_features": FT1_SQL,
    "s9_pca_cov": S9_SQL,
    "mm3_audio_segments": MM3_SQL,
    "t16_normalize": T16_SQL,
    "pl2_vector_pipeline": PL2_SQL,
    "p8_skew_report": P8_SQL,
    "d14_corpus_diff": D14_SQL,
    "ft2_funnel": FT2_SQL,
    "ft3_retention": FT3_SQL,
    "ft4_anomalies": FT4_SQL,
    "mm2_frame_sample": MM2_SQL,
    "d10_span_dupes": D10_SQL,
    "s5_quantize_int8": S5_SQL,
    "a1_asof_join": A1_SQL,
    "a2_range_join": A2_SQL,
    "t2_quality_scores": T2_SQL,
    "t3_lang_id": T3_SQL,
    "d1_exact_dedup": D1_SQL,
    "d3_minhash_pairs": D3_SQL,
    "d4_simhash": D4_SQL,
    "d5_ngram_jaccard": D5_SQL,
    "d7_winnow_pairs": D7_SQL,
    "d9_dup_clusters": _d9_sql(),
    "sd1_semantic_dedup": _sd1_sql(),
    "s1_cosine_topk": S1_SQL,
    # s4: exact DuckDB emulation of both deterministic ANN paths (r6 —
    # the constants are md5-derived, so the approximation is replayable)
    "s4_ann_methods": _s4_sql(),
    "s3_label_centroids": S3_SQL,
    "d6_embedding_neardup": D6_SQL,
    "t4_pii_redact": T4_SQL,
    "t6_tfidf_terms": T6_SQL,
    "d8_decontaminate": D8_SQL,
    "p2_salted_join": P2_SQL,
    "p3_stratified_sample": P3_SQL,
    "p5_quality_buckets": P5_SQL,
    "p6_mixture_weights": P6_SQL,
    "t10_count_min": T10_SQL,
    "d12_bloom_decontaminate": D12_SQL,
    "t7_approx_sketch": T7_SQL,
    "mm1_image_meta": MM1_SQL,
}
