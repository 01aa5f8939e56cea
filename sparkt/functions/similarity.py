"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the baseline. The query
  set is broadcast; the corpus is scanned once; dot products run as
  JVM higher-order functions (``zip_with``/``aggregate``) inside
  codegen, no Python. At 100 TB this is the verification path and the
  right choice whenever |queries| is small.
- ``lsh_bucketed_topk``: the scale path — md5-derived deterministic
  random hyperplanes give sign-bit bucket keys; candidates are only
  corpus rows whose bucket matches the query (hamming-0 here;
  multi-probe = join on neighboring buckets). Turns all-pairs into a
  bucket-equijoin, the same shuffle shape as the MinHash LSH dedup.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type-hint resolution
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _const_array(vals: list[float]) -> Column:
    """A constant ``array<double>`` as ONE expression node.

    ``F.lit(list)`` / ``F.array`` desugar to one Literal node per
    element — at dim=768 × 16 planes that is ~12k expression nodes and
    ~26 s of analyzer time before a single row moves (measured r4).
    A JSON string literal decoded by ``from_json`` is 2 nodes; Catalyst
    constant-folds it to a true array Literal at optimization time, so
    runtime cost is identical. Floats round-trip exactly through
    ``json.dumps`` (shortest-repr)."""
    import json

    return F.from_json(F.lit(json.dumps(vals)), "array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def _safe_cos(dot_expr: Column, qn: Column, cn: Column) -> Column:
    """Rounded cosine with a zero-norm guard: an all-zero embedding
    makes the denominator 0, which under ANSI mode (the Spark 4
    default) raises DIVIDE_BY_ZERO and kills the whole job. For any
    nonzero norms the greatest() is a no-op, so oracle parity holds."""
    return F.round(dot_expr / F.greatest(qn * cn, F.lit(1e-12)), 4)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    self_exclude: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query.
    Deterministic: rank by (rounded cosine desc, corpus_id asc).

    ``self_exclude`` (default True) drops pairs whose ids are equal —
    correct when queries and corpus are the SAME collection. Pass
    False when the two sides are independent collections whose id
    spaces may overlap (two languages both 0-based, two snapshots):
    there an id collision is a coincidence, not a self-match."""
    # norms precomputed per ROW: computing them inside the join would
    # re-evaluate the HOF aggregate once per PAIR (measured ~2x bench
    # cost on the brute-force path)
    q = queries.select(
        F.col(query_id), F.col(vec).alias("qv"),
        norm(F.col(vec)).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec).alias("cv"),
        norm(F.col(vec)).alias("cn"),
    )
    scored = broadcast(q).crossJoin(c)
    if self_exclude:
        scored = scored.filter(F.col(query_id) != F.col(corpus_id))
    scored = scored.withColumn(
        "cos",
        _safe_cos(dot(F.col("qv"), F.col("cv")),
                  F.col("qn"), F.col("cn")),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cos"), F.asc(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    label: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (public recipe:
    in-batch/ANN negatives à la DPR, Karpukhin et al. 2020): per
    query, the top-k most-similar corpus items with a DIFFERENT label
    — the near-misses that make the strongest training negatives.

    Same 100 TB shape as :func:`cosine_topk` (broadcast query side,
    single corpus scan, codegen HOF dot products); the label-mismatch
    filter prunes pairs before the ranking window. For corpora too big
    to brute-force, feed the candidate set from :func:`ivf_topk` with
    a trained :func:`kmeans_fit` quantizer and apply the same filter.
    """
    q = queries.select(
        F.col(query_id), F.col(vec).alias("qv"),
        F.col(label).alias("__ql"), norm(F.col(vec)).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec).alias("cv"),
        F.col(label).alias("__cl"), norm(F.col(vec)).alias("cn"),
    )
    scored = (
        broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col(query_id) != F.col(corpus_id))
            & ~F.col("__ql").eqNullSafe(F.col("__cl"))
        )
        .withColumn(
            "cos",
            _safe_cos(dot(F.col("qv"), F.col("cv")),
                      F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cos"), F.asc(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def margin_pairs(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    vec: str = "embedding",
) -> DataFrame:
    """Margin-criterion pair mining (public recipe: Artetxe & Schwenk
    2019, the LASER bitext-mining score): align items across two
    collections (two languages, two snapshots, two modalities) by the
    RATIO of a pair's cosine to the mean cosine of each side's k
    nearest neighbors — absolute cosine thresholds fail because "hub"
    vectors are close to everything; the margin normalizes that out.

      margin(x, y) = cos(x, y) / ((mean_kNN(x) + mean_kNN(y)) / 2)

    Returns the best right-side match per left item ("max" strategy)
    with ``margin >= threshold``: ``left_id, right_id, cos, margin``
    (both rounded at 4dp — the established cross-engine float
    contract of :func:`cosine_topk`).

    Scale shape: two :func:`cosine_topk` passes (forward + backward —
    each a broadcast-query × one-corpus-scan at gate scale; at corpus
    scale feed both from :func:`ivf_topk` candidates, which also
    yield the kNN means) + vocabulary-sized mean aggregates + one
    equijoin on each side's id. No step is quadratic in the corpus.

    The two collections are INDEPENDENT, so ``self_exclude=False``:
    a left id that happens to equal a right id (both sides 0-based is
    the common case) is a legitimate candidate pair, not a self-match.
    """
    # single evaluation (r16): fwd feeds BOTH the left kNN-mean and
    # the candidate spine — without the barrier the whole topk pass
    # (two corpus scans + score + window) executed twice per run.
    # |left|·k rows: the cheap grain. bwd is referenced once.
    fwd = cosine_topk(
        left, right, k=k, query_id=left_id, corpus_id=right_id,
        vec=vec, self_exclude=False,
    ).localCheckpoint(eager=False)
    bwd = cosine_topk(
        right, left, k=k, query_id=right_id, corpus_id=left_id,
        vec=vec, self_exclude=False,
    )
    lmean = fwd.groupBy(left_id).agg(F.avg("cos").alias("__lm"))
    rmean = bwd.groupBy(right_id).agg(F.avg("cos").alias("__rm"))
    cand = (
        fwd.join(lmean, left_id)
        .join(rmean, right_id)
        .withColumn(
            "margin",
            F.round(
                F.col("cos") / ((F.col("__lm") + F.col("__rm")) / 2), 4
            ),
        )
    )
    w = Window.partitionBy(left_id).orderBy(
        F.desc("margin"), F.asc(right_id)
    )
    return (
        cand.withColumn("__mrank", F.row_number().over(w))
        .filter((F.col("__mrank") == 1) & (F.col("margin") >= threshold))
        .select(left_id, right_id, "cos", "margin")
    )


def _plane_weights(p: int, dim: int) -> list[float]:
    """Plane p's weights: md5(p|d) hex → integer in [-500, 500] —
    fully reproducible on any engine, no RNG state to ship. The ONE
    definition shared by :func:`hyperplane_bits` and the s4 DuckDB
    oracle (``sparkt/queries/pipeline.py:_s4_sql``): tuning the scheme
    here keeps the oracle in lockstep automatically."""
    import hashlib

    return [
        float((int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16)
               % 1001) - 500)
        for d in range(dim)
    ]


def hyperplane_bits(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Deterministic pseudo-random hyperplane sign bits."""
    bits = []
    for p in range(n_planes):
        weights = _plane_weights(p, dim)
        proj = F.aggregate(
            F.zip_with(vec, _const_array(weights), lambda x, w: x * w),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def _pseudo_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic pseudo-random centroids from md5 (no RNG state to
    ship; a production IVF would k-means these)."""
    import hashlib

    out = []
    for j in range(n_cells):
        c = []
        for d in range(dim):
            h = int(hashlib.md5(f"c{j}|{d}".encode()).hexdigest()[:8], 16)
            c.append(((h % 2001) - 1000) / 1000.0)
        out.append(c)
    return out


def _cell_assignment(vec: Column, centroids: list[list[float]]) -> Column:
    """argmax-dot cell id via struct-max (ties broken by cell id —
    struct comparison is lexicographic, deterministic)."""
    scored = []
    for j, c in enumerate(centroids):
        d = dot(vec, _const_array([float(x) for x in c]))
        scored.append(F.struct(d.alias("s"), F.lit(j).alias("c")))
    return F.array_max(F.array(*scored))["c"]


# Above this cell count the expression path's k HOF dot-folds per row
# (Spark evaluates higher-order functions INTERPRETED, not codegen)
# become the bottleneck: measured r15, 256 cells × aggregate(zip_with)
# over 20k rows did not finish in 9 min, while the Arrow matmul path
# below does the identical assignment in seconds. The expression path
# stays for small cell counts — it is engine-portable (the DuckDB
# oracles replay it literally), needs no Python workers, and at k ≤ 32
# is faster than a UDF round-trip.
_PANDAS_ASSIGN_MIN_CELLS = 33


def _cell_assign_pandas(vec: Column, centroids: list[list[float]]) -> Column:
    """argmax-dot cell id via one numpy matmul per Arrow batch — the
    large-cell-count twin of :func:`_cell_assignment`, with the SAME
    tie-break (ties take the larger cell id, matching struct-max
    lexicographic comparison) so the two paths are interchangeable."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    k = C.shape[0]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        if M.size == 0:
            return pd.Series([], dtype="int32")
        # reversed-column argmax → ties pick the LARGER cell id
        rev = (M @ C.T)[:, ::-1].argmax(axis=1)
        return pd.Series((k - 1 - rev).astype("int32"))

    return _assign(vec)


def _probe_cells_pandas(
    vec: Column, centroids: list[list[float]], n_probe: int
) -> Column:
    """Top-``n_probe`` cells by dot score per Arrow batch — the
    large-cell-count twin of the expression path's
    reverse(array_sort(struct(s,c))) (descending (s, c): score ties
    take the larger cell id first)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    k = C.shape[0]

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        if M.size == 0:
            return pd.Series([], dtype=object)
        S = (M @ C.T)[:, ::-1]
        # stable argsort on reversed columns → ties larger-id-first
        idx = np.argsort(-S, axis=1, kind="stable")[:, :n_probe]
        cells = (k - 1 - idx).astype("int32")
        return pd.Series(list(cells))

    return _probe(vec)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus rows are assigned to their nearest
    centroid cell; each query probes its ``n_probe`` nearest cells and
    runs exact cosine only there. At 100 TB: cells are the partition
    key (cluster-pruned scan) and the probe join is an equijoin on
    cell id. Pass ``centroids=kmeans_fit(corpus, ...)`` for a trained
    coarse quantizer (the production path — recall tracks data
    geometry); the default md5-derived pseudo-centroids keep the gate
    deterministic without a fit."""
    trained = centroids is not None
    cents = centroids if trained else _pseudo_centroids(dim, n_cells)
    n_cells = len(cents)
    # metric must match how the centroids were produced: kmeans_fit
    # optimizes squared-L2, so trained quantizers assign and probe by
    # argmin-L2 (kmeans_assign — same tie-break as the fit); the
    # md5 pseudo-centroids keep the legacy argmax-dot assignment
    big = n_cells >= _PANDAS_ASSIGN_MIN_CELLS
    if trained:
        assign = (
            (lambda v: kmeans_assign_pandas(v, cents)) if big
            else (lambda v: kmeans_assign(v, cents))
        )
    else:
        assign = (
            (lambda v: _cell_assign_pandas(v, cents)) if big
            else (lambda v: _cell_assignment(v, cents))
        )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec).alias("cv"),
        norm(F.col(vec)).alias("cn"),
        assign(F.col(vec)).alias("cell"),
    )
    # query cells: the n_probe nearest centroids under the SAME metric
    scored = []
    for j, cent in enumerate(cents):
        carr = _const_array([float(x) for x in cent])
        if trained:
            d2 = F.aggregate(
                F.zip_with(F.col(vec), carr,
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
            scored.append(F.struct((-d2).alias("s"), F.lit(j).alias("c")))
        else:
            d = dot(F.col(vec), carr)
            scored.append(F.struct(d.alias("s"), F.lit(j).alias("c")))
    probe_cells = F.slice(
        F.reverse(F.array_sort(F.array(*scored))), 1, n_probe
    )
    q = queries.select(
        F.col(query_id),
        F.col(vec).alias("qv"),
        norm(F.col(vec)).alias("qn"),
        F.explode(probe_cells).alias("__pc"),
    ).select(F.col(query_id), "qv", "qn", F.col("__pc.c").alias("cell"))
    cand = (
        broadcast(q)
        .join(c, "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn(
            "cos",
            _safe_cos(dot(F.col("qv"), F.col("cv")),
                      F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def _pair_scores_arrow(
    left: DataFrame, right: DataFrame, threshold: float, id_type
) -> DataFrame:
    """Cell-cogrouped Arrow pair scorer of :func:`cosine_neardup_pairs`
    (guide §4: hand whole batches to numpy instead of interpreting a
    64-term fold per candidate pair; the per-pair HOF join this
    replaced took 785 s for the 500k/256-cell rung's ~3.9 G pairs,
    dominated by per-pair interpretation AND by materializing every
    joined pair row in the JVM — this scorer took 45.5 s).

    Each vector crosses the Python boundary ONCE PER CELL MEMBERSHIP
    (n·(1+n_probe) rows), never once per pair — the §8 rule: decide
    with a matmul, don't move payloads per decision. Only surviving
    pairs come back.

    BIT-EXACT parity with Spark's ``dot(va, vb) / (na * nb)``
    (pytest-pinned), in two phases per block: (1) a BLAS matmul
    computes PREFILTER scores only — reassociated summation, never
    returned; its deviation from the sequential fold is ≤ dim·eps
    (Cauchy-Schwarz), nine orders below the prefilter margin; (2)
    pairs surviving the prefilter (the
    ~0.1-1% near the threshold at production settings) get their dot
    recomputed as the exact left-assoc fold, one dimension at a time
    (``acc += Ai[:, d] * Bj[:, d]``) — the identical IEEE-double op
    order as ``aggregate(zip_with(va, vb, *), 0.0, +)``; ``na·nb``
    and the division are single IEEE ops in both engines. The 4dp
    HALF_UP round and the authoritative threshold filter stay in the
    JVM — Python prefilters at ``threshold - 1e-4`` (a provable
    superset: round(x,4) >= t implies x >= t - 0.00005), so no
    rounding semantics ever cross the boundary."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("cos", DoubleType()),
    ])
    slack = threshold - 1e-4

    def score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        A = np.array(lpdf["va"].tolist(), dtype=np.float64)
        B = np.array(rpdf["vb"].tolist(), dtype=np.float64)
        na = lpdf["na"].to_numpy(dtype=np.float64)
        nb = rpdf["nb"].to_numpy(dtype=np.float64)
        ida = lpdf["id_a"].to_numpy()
        idb = rpdf["id_b"].to_numpy()
        dim = A.shape[1]
        outs = []
        # block the left axis: bounds the pair score matrix at
        # 1024 × |cell| doubles regardless of cell size
        for s in range(0, len(A), 1024):
            Ab, nab, idab = A[s:s + 1024], na[s:s + 1024], ida[s:s + 1024]
            # phase 1 — BLAS matmul PREFILTER only: reassociated
            # summation, never returned. |matmul − fold| ≤
            # dim·eps·Σ|a_d·b_d| ≤ 64·2.2e-16·(na·nb), i.e. < 2e-14
            # on the cosine — nine orders below the 5e-5 margin the
            # 1e-4 slack leaves, so the mask stays a provable
            # superset of round(cos,4) >= threshold.
            with np.errstate(divide="ignore", invalid="ignore"):
                approx = (Ab @ B.T) / (nab[:, None] * nb[None, :])
            mask = (idab[:, None] < idb[None, :]) & (approx >= slack)
            i, j = np.nonzero(mask)
            if len(i) == 0:
                continue
            # phase 2 — EXACT left-assoc fold, survivors only (the
            # value that crosses back to the JVM): single IEEE
            # multiply + single IEEE add per pair per dim, dims
            # ascending == the HOF fold's exact order
            Ai, Bj = Ab[i], B[j]
            acc = np.zeros(len(i))
            for d in range(dim):
                acc += Ai[:, d] * Bj[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (nab[i] * nb[j])
            outs.append(pd.DataFrame(
                {"id_a": idab[i], "id_b": idb[j], "cos": cos}
            ))
        if not outs:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        return pd.concat(outs, ignore_index=True)

    return (
        left.groupBy("cell")
        .cogroup(right.groupBy("cell"))
        .applyInPandas(score, schema)
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.35,
    dim: int = 64,
    n_cells: int = 8,
    n_probe: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥
    threshold) scored per IVF cell — never an all-pairs nested-loop
    join.

    Every row is assigned its argmax-dot pseudo-centroid cell (the
    right side); the left side emits one row per probed cell.
    ``n_probe=None`` probes ALL cells: every pair then co-occurs in the
    right row's home cell exactly once, so the result is provably
    identical to brute force (same trick as ``ivf_topk`` full-probe) —
    that's the oracle-parity mode the gates run. At 100 TB you set
    ``n_probe`` small: cells become the cogroup key and only nearby
    cells are compared.

    Candidate pairs are scored by :func:`_pair_scores_arrow`, a
    cell-cogrouped numpy block scorer whose cosines are bit-identical
    to the ``dot``/``norm`` expression by construction; the 4dp HALF_UP
    round and the threshold filter stay in the JVM. Rows with a null
    id or vector never pair; a zero vector's cosine is NaN and never
    passes the threshold."""
    df = df.filter(F.col(id_col).isNotNull() & F.col(vec).isNotNull())
    cents = _pseudo_centroids(dim, n_cells)
    big = n_cells >= _PANDAS_ASSIGN_MIN_CELLS
    assign = (
        _cell_assign_pandas(F.col(vec), cents) if big
        else _cell_assignment(F.col(vec), cents)
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("vb"),
        norm(F.col(vec)).alias("nb"),
        assign.alias("cell"),
    )
    if n_probe is None or n_probe >= n_cells:
        probes = F.lit(list(range(n_cells)))
    elif big:
        probes = _probe_cells_pandas(F.col(vec), cents, n_probe)
    else:
        scored = []
        for j, cent in enumerate(cents):
            d = dot(F.col(vec), _const_array([float(x) for x in cent]))
            scored.append(F.struct(d.alias("s"), F.lit(j).alias("c")))
        probes = F.transform(
            F.slice(F.reverse(F.array_sort(F.array(*scored))), 1, n_probe),
            lambda s: s["c"],
        )
    left = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("va"),
        norm(F.col(vec)).alias("na"),
        F.explode(probes).alias("cell"),
    )
    raw = _pair_scores_arrow(
        left, right, threshold, df.schema[id_col].dataType
    )
    return (
        raw.withColumn("cos", F.round("cos", 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's
    sign-bit bucket (equijoin instead of cross join)."""
    q = queries.select(
        F.col(query_id),
        F.col(vec).alias("qv"),
        norm(F.col(vec)).alias("qn"),
        hyperplane_bits(F.col(vec), dim, n_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec).alias("cv"),
        norm(F.col(vec)).alias("cn"),
        hyperplane_bits(F.col(vec), dim, n_planes).alias("bucket"),
    )
    scored = (
        broadcast(q)
        .join(c, "bucket")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn(
            "cos",
            _safe_cos(dot(F.col("qv"), F.col("cv")),
                      F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


# --------------------------------------------------------- quantization
def _q8_scale(v: Column) -> Column:
    """Per-vector int8 scale (max|x|/127, zero-guarded) — the single
    definition quantize_int8 and dequantize_error_stats share."""
    return F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),
    )


def _q8_vec(v: Column, scale_col: Column) -> Column:
    """Quantized int vector (explicit half-up floor(x/scale + 0.5))."""
    return F.transform(
        v, lambda x: F.floor(x / scale_col + F.lit(0.5)).cast("int")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the ANN memory/scale
    path (4× smaller vectors; at 100 TB the quantized corpus rides in
    executor memory where float32 would spill).

    scale = max|x| / 127 per vector; q_i = floor(x_i / scale + 0.5)
    (explicit half-up — identical on any engine, unlike bankers'
    rounding). Reconstruction error is bounded by scale/2 per element.
    Pure codegen projection, no shuffle, no Python.

    Returns (id, scale, qvec array<int>).
    """
    v = F.col(vec).cast("array<double>")
    out = df.select(
        F.col(id_col), v.alias("__v"), _q8_scale(v).alias("scale")
    )
    return out.select(
        F.col(id_col), "scale",
        _q8_vec(F.col("__v"), F.col("scale")).alias("qvec"),
    )


def dequantize_error_stats(
    df: DataFrame, id_col: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-vector reconstruction error of the int8 round-trip:
    (id, q_md5, scale_r, max_err_r, mse_r). The md5 over the quantized
    ints gives an engine-portable identity for the quantized vector."""
    v = F.col(vec).cast("array<double>")
    base = df.select(
        F.col(id_col), v.alias("__v"), _q8_scale(v).alias("__s")
    )
    qvec = _q8_vec(F.col("__v"), F.col("__s"))
    errs = F.zip_with(
        F.col("__v"), F.col("__q"),
        lambda x, qi: F.abs(x - qi.cast("double") * F.col("__s")),
    )
    return (
        base.withColumn("__q", qvec)
        .withColumn("__e", errs)
        .select(
            F.col(id_col),
            F.md5(F.concat_ws(",", F.col("__q"))).alias("q_md5"),
            F.round("__s", 6).alias("scale_r"),
            F.round(F.array_max("__e"), 6).alias("max_err_r"),
            F.round(
                F.aggregate(
                    "__e", F.lit(0.0).cast("double"),
                    lambda a, e: a + e * e,
                ) / F.size("__e"),
                9,
            ).alias("mse_r"),
        )
    )


# ---------------------------------------------------------- k-means
def _const_matrix(rows: list[list[float]]) -> Column:
    """Constant ``array<array<double>>`` as ONE ``from_json`` literal
    (same analyzer-cost rationale as :func:`_const_array`)."""
    import json

    return F.from_json(F.lit(json.dumps(rows)), "array<array<double>>")


def _q6(v: float) -> float:
    """floor-quantize to 1e-6 — floor (unlike round) has identical
    semantics in every engine, so quantized centroids are
    bit-reproducible between Spark and the DuckDB oracle."""
    import math

    return math.floor(v * 1_000_000) / 1_000_000


def kmeans_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmin-cell over a constant-folded centroid matrix — a PURE
    PROJECTION: no join, no shuffle, no Python. Squared L2 runs as a
    sequential ``zip_with``/``aggregate`` fold (array order), ties
    break to the lowest cell via lexicographic struct min."""
    mat = _const_matrix(centroids)
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
    )
    # first occurrence of the minimum = lowest-cell tie-break
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_assign_pandas(
    vec: Column, centroids: list[list[float]]
) -> Column:
    """Argmin-L2 cell via one numpy distance matrix per Arrow batch —
    the large-k twin of :func:`kmeans_assign` (same first-minimum =
    lowest-cell tie-break via np.argmin). Used automatically above
    ``_PANDAS_ASSIGN_MIN_CELLS``: k interpreted HOF folds per row do
    not scale (the r15 256-cell measurement), one matmul per batch
    does. ||q-c||² = ||q||² - 2q·c + ||c||²; the ||q||² term is
    rank-invariant and dropped."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        M = np.array(v.tolist(), dtype=np.float64)
        if M.size == 0:
            return pd.Series([], dtype="int32")
        d = c2[None, :] - 2.0 * (M @ C.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return _assign(vec)


def _argmin_l2_exact_pandas(
    vec: Column, mat: list[list[float]]
) -> Column:
    """Argmin-L2 with :func:`kmeans_assign`'s EXACT arithmetic, one
    vectorized numpy pass per Arrow batch: squared L2 accumulates one
    dimension at a time (``acc += (x−y)·(x−y)``, dims ascending — the
    identical IEEE-double op order as the zip_with/aggregate fold), so
    every distance and the first-minimum tie-break (np.argmin = first
    occurrence = ``array_position``'s lowest index) are bit-identical.
    :func:`kmeans_assign_pandas`'s matmul shortcut reassociates the
    sum and is pinned only empirically — fine for the scale configs,
    not for an oracle-hashed gate. This variant is exact by
    construction (the W1 phase-2 argument applied to argmin). A null
    vector gets a null cell, as the fold's null distances do."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    M = np.array(mat, dtype=np.float64)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        ok = v.notna().to_numpy()
        X = np.array(v[ok].tolist(), dtype=np.float64)
        X = X.reshape(len(X), M.shape[1])
        acc = np.zeros((X.shape[0], M.shape[0]))
        for d in range(M.shape[1]):
            diff = X[:, d, None] - M[None, :, d]
            acc += diff * diff
        out = pd.Series(pd.NA, index=v.index, dtype="Int32")
        out[ok] = acc.argmin(axis=1)
        return out

    return _assign(vec)


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    k: int = 8,
    iters: int = 5,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column — the
    trainer for :func:`ivf_topk`'s centroid table (public design:
    Lloyd 1982; IVF coarse quantizers, Jégou et al. 2011).

    100 TB shape per iteration:
    - ASSIGN: :func:`kmeans_assign` — argmin over a constant-folded
      literal matrix, pure codegen projection (the centroid model
      never crosses a join; contrast a crossJoin with a k-row table,
      which plan-lints as BroadcastNestedLoopJoin);
    - UPDATE: ``posexplode`` dims → ONE map-side-combined groupBy on
      (cell, dim) — k×dim result cells regardless of corpus size —
      then a k×dim ``collect()`` of the MODEL (tiny, driver-side by
      design, like any ML fit).

    Determinism: init = the ``k`` lowest-``id_col`` vectors; each new
    centroid is floor-quantized to 1e-6 (:func:`_q6`) so iteration
    N+1's input — and therefore every assignment — is bit-identical
    across engines and partitionings; distance sums fold sequentially
    in array order on both sides. Empty cells keep their previous
    centroid. Returns the final centroid matrix (list of k vectors);
    call :func:`kmeans_assign` with it for the final labeling.
    """
    first = (
        df.select(F.col(id_col), F.col(vec))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cents = [[_q6(float(x)) for x in r[1]] for r in first]
    dim = len(cents[0])
    # large k: Arrow matmul assignment (same argmin/tie-break; the
    # expression path's k interpreted HOF folds per row dominate the
    # fit wall at k ≥ ~33 — the r15 scale measurement)
    assign_fn = (
        kmeans_assign_pandas if k >= _PANDAS_ASSIGN_MIN_CELLS
        else kmeans_assign
    )
    for _ in range(iters):
        assigned = df.select(
            assign_fn(F.col(vec), cents).alias("cell"),
            F.posexplode(F.col(vec)).alias("dim", "val"),
        )
        new = (
            assigned.groupBy("cell", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("cv"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cells keep old centroid
        for row in new:
            nxt[row["cell"]][row["dim"]] = _q6(row["cv"])
        cents = nxt
    assert all(len(c) == dim for c in cents)
    return cents


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ)
# ---------------------------------------------------------------------------

def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 as a sequential zip_with/aggregate fold (array
    order — bit-reproducible against an oracle that folds the same
    way)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _pq_codebooks(
    dim: int, m: int, n_codes: int
) -> list[list[list[float]]]:
    """Deterministic per-subspace PQ codebooks from md5 (no RNG state
    to ship; a production IVF-PQ would k-means these per subspace the
    same way :func:`kmeans_fit` trains the coarse quantizer). Values
    land on the 1e-3 grid so the literals parse bit-identically in
    Spark and the DuckDB oracle."""
    import hashlib

    sub = dim // m
    books = []
    for j in range(m):
        book = []
        for c in range(n_codes):
            vec = []
            for d in range(sub):
                h = int(
                    hashlib.md5(f"pq{j}|{c}|{d}".encode()).hexdigest()[:8],
                    16,
                )
                vec.append(((h % 2001) - 1000) / 1000.0)
            book.append(vec)
        books.append(book)
    return books


def _pq_codes_pandas(
    vec: Column, books: list[list[list[float]]]
) -> Column:
    """PQ code array via one vectorized numpy pass per Arrow batch.
    BIT-EXACT against the per-subspace ``_l2sq`` fold the DuckDB
    oracle replays: the squared L2 to all codes accumulates one
    dimension at a time (identical IEEE op order) and np.argmin's
    first-occurrence tie-break equals ``array_position``'s lowest index
    (pytest-pinned). A null vector encodes as ``m`` null codes."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.array(books, dtype=np.float64)  # (m, n_codes, sub)
    m, n_codes, sub = B.shape

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        ok = v.notna().to_numpy()
        X = np.array(v[ok].tolist(), dtype=np.float64)
        X = X.reshape(len(X), m * sub)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            Xs = X[:, j * sub:(j + 1) * sub]
            acc = np.zeros((X.shape[0], n_codes))
            for d in range(sub):
                diff = Xs[:, d, None] - B[j, None, :, d]
                acc += diff * diff
            out[:, j] = acc.argmin(axis=1)
        codes = iter(out.tolist())
        return pd.Series(
            [next(codes) if o else [None] * m for o in ok], dtype=object
        )

    return _codes(vec)


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    keep: list[str] | None = None,
) -> DataFrame:
    """Product-quantization encode: each ``dim``-float vector becomes
    ``m`` small integer codes (argmin-L2 sub-quantizer per subspace) —
    a PURE PROJECTION, no join, no shuffle. The codes come from one
    numpy pass per Arrow batch (:func:`_pq_codes_pandas`), bit-exact
    against the sequential squared-L2 fold; a null vector encodes as
    ``m`` null codes.

    This is the memory scale path for ANN corpora beyond
    :func:`quantize_int8`'s 4×: at dim=64/m=8 the stored row shrinks
    from 256 B of floats to 8 code bytes (32×), so a 100 TB embedding
    corpus's searchable index fits in ~3 TB of executor memory and the
    ADC scan in :func:`ivfpq_topk` reads 32× fewer bytes."""
    books = _pq_codebooks(dim, m, n_codes)
    cols = [F.col(id_col)] + [F.col(c) for c in (keep or [])]
    return df.select(
        *cols, _pq_codes_pandas(F.col(vec), books).alias("codes")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int = 8,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate nearest neighbours (the FAISS IVFPQ
    architecture, re-expressed Spark-first): the corpus is coarsely
    partitioned into ``n_cells`` argmin-L2 cells and stored ONLY as
    ``m``-byte PQ codes; each query probes its ``n_probe`` nearest
    cells and scores candidates by asymmetric distance (ADC) — the sum
    over subspaces of ||q_sub - codebook[code]||², i.e. exact query
    side vs quantized corpus side.

    100 TB shape: the probe is an EQUIJOIN on cell id (queries
    broadcast, corpus cluster-pruned by cell — never a cartesian scan),
    and the per-candidate score is ``m`` lookups into the query's
    distance table + an ``m``-term fold over rows 32× smaller than the
    raw vectors. The corpus side — cell assign and PQ encode, the
    per-row cost that grows with the corpus — runs as numpy batch
    passes (:func:`_argmin_l2_exact_pandas`, :func:`_pq_codes_pandas`)
    with the same IEEE fold order and first-minimum tie-break as the
    query side's ``_l2sq`` expressions; a null corpus vector gets a
    null cell and never joins. No residual encoding (FAISS
    ``by_residual=false``): codes quantize the raw vector, which keeps
    the codebooks cell-independent and the oracle exact."""
    sub = dim // m
    cents = _pseudo_centroids(dim, n_cells)
    books = _pq_codebooks(dim, m, n_codes)
    enc = pq_encode(
        corpus.select(
            F.col(corpus_id),
            F.col(vec),
            _argmin_l2_exact_pandas(F.col(vec), cents).alias("cell"),
        ),
        id_col=corpus_id,
        vec=vec,
        dim=dim,
        m=m,
        n_codes=n_codes,
        keep=["cell"],
    )
    # query probe list: the n_probe nearest coarse cells by iterated
    # argmin-L2 with lowest-index tie-break — round p masks the p-1
    # already-selected cells to +inf and takes the argmin of the rest
    # (mirrors the s4 oracle idiom, min instead of max). Closure
    # FACTORY per round, never a multi-param lambda with defaults
    # (the s12 transform-arity trap).
    if not 1 <= n_probe <= n_cells:
        raise ValueError(
            f"n_probe must be in 1..n_cells={n_cells}, got {n_probe}"
        )
    cdists = F.transform(
        _const_matrix(cents), lambda c: _l2sq(F.col(vec), c)
    )
    probed = queries.select(
        F.col(query_id), F.col(vec).alias("qv"), cdists.alias("cd")
    )

    def _mask_prev(p: int):
        def fn(x: Column, i: Column) -> Column:
            cond = F.lit(False)
            for t in range(1, p):
                cond = cond | (i == F.col(f"c{t}"))
            return F.when(cond, F.lit(float("inf"))).otherwise(x)

        return fn

    for p in range(1, n_probe + 1):
        masked = F.transform(F.col("cd"), _mask_prev(p))
        probed = probed.withColumn(
            f"c{p}",
            (F.array_position(masked, F.array_min(masked)) - 1),
        )
    # ADC via a per-query distance TABLE (the FAISS precomputed-table
    # trick, r16): dist(q_sub_j, book_j[c]) is evaluated once per
    # (query, subspace, code) on the |Q|·n_probe-row query side —
    # 128 folds per query row — instead of once per CANDIDATE
    # (m·sub-term folds × millions of join rows; 15 s of the 52 s
    # rung wall). BIT-IDENTICAL: each table entry is the same _l2sq
    # fold the per-candidate expression computed, and the final sum
    # adds the same IEEE doubles in the same subspace order.
    def _dist_to(sv):
        return lambda c: _l2sq(sv, c)

    dtab = F.array(*[
        F.transform(
            _const_matrix(book),
            _dist_to(F.slice(F.col("qv"), j * sub + 1, sub)),
        )
        for j, book in enumerate(books)
    ])
    q = probed.select(
        F.col(query_id), "qv",
        F.explode(
            F.array(*[F.col(f"c{p}").cast("int")
                      for p in range(1, n_probe + 1)])
        ).alias("cell"),
    ).select(F.col(query_id), dtab.alias("dtab"), "cell")
    adc = F.lit(0.0).cast("double")
    for j in range(m):
        adc = adc + F.element_at(
            F.col("dtab").getItem(j), F.col("codes").getItem(j) + 1
        )
    cand = (
        broadcast(q)
        .join(enc, "cell")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("adc", adc)
    )
    w = Window.partitionBy(query_id).orderBy(
        F.asc("adc"), F.asc(corpus_id)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id,
            corpus_id,
            F.round(F.col("adc"), 4).alias("adc_r"),
            "rank",
        )
    )


def centroid_outliers(
    df: DataFrame,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """Mislabel-candidate mining (the distance heuristic behind
    confident-learning-style label auditing, Northcutt et al. 2021):
    per label, the ``k`` vectors FARTHEST from their own label
    centroid — the examples most likely mislabeled, noisy, or
    boundary cases, surfaced for human review or relabeling.

    Returns ``label, <id_col>, dist, rank`` (rank 1 = farthest;
    deterministic tie-break on id). ``dist`` is the euclidean
    distance to the label centroid, rounded 4dp — the s3 float
    doctrine: per-dim sums are float aggregates whose ordering error
    is ~1e-13 relative, absorbed by the 4dp round.

    Scale shape: ONE groupBy(label) computing the 64 dim-sums (the
    centroid model — label-count-sized, broadcasts back), a codegen
    distance projection, then the skew-safe TWO-PHASE top-N
    (domain_quota argument): phase 1 ranks within (label, 16-way
    xxhash64 sub-bucket) so no task ever sorts a mega-label's full
    vector set, phase 2 ranks the <= 16·k survivors — exactly equal
    to the single-window formulation.
    """
    sums = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.element_at(vec, d + 1)).alias(f"__s{d}")
            for d in range(dim)
        ],
    )
    j = df.select(label_col, id_col, vec).join(
        broadcast(sums), label_col
    )
    sq = None
    for d in range(dim):
        diff = F.element_at(vec, d + 1) - F.col(f"__s{d}") / F.col("__n")
        term = diff * diff
        sq = term if sq is None else sq + term
    scored = j.withColumn("dist", F.round(F.sqrt(sq), 4))
    sub = F.pmod(F.xxhash64(id_col), F.lit(16))
    w1 = Window.partitionBy(label_col, sub).orderBy(
        F.desc("dist"), F.asc(id_col)
    )
    w2 = Window.partitionBy(label_col).orderBy(
        F.desc("dist"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(label_col, id_col, "dist", "rank")
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware top-k every retrieval pipeline puts
    between ANN recall and the context window: greedily pick the
    candidate maximizing ``λ·rel(c) − (1−λ)·max_{s∈selected}
    sim(c, s)``, so near-duplicate hits don't crowd out coverage.

    Determinism contract: relevance AND candidate-candidate
    similarities are Spark-computed cosines rounded 4dp BEFORE any
    comparison (the s1 cross-engine contract), ties break to the
    lowest corpus_id, and λ should be dyadic (default 0.5) so
    ``1 − λ`` is exact in every engine — under that contract the
    greedy argmax sequence is bit-reproducible and the DuckDB oracle
    unrolls the same k selection levels.

    Returns ``(query_id, corpus_id, mmr, mmr_rank)``. ``mmr`` is
    deliberately UNROUNDED: it is a fixed-shape expression
    (λ·rel − (1−λ)·pen) over already-4dp-rounded cosines, so it is
    bit-identical across engines — while rounding it AGAIN would
    land on exact .xxxx5 decimal boundaries (λ=0.5 halves a 4dp
    value) where engines disagree on half-rounding. Queries with
    fewer than k candidates emit what they have.

    100 TB shape: candidate generation is :func:`cosine_topk`
    (broadcast queries, the documented brute-force baseline — swap
    in ivfpq_topk/ann at scale); candidate-candidate sims are a
    per-query self-join of n_candidates rows (n² = 400 tiny rows per
    query, norms precomputed per row — the measured 2x trap); the
    greedy loop runs in a cogrouped ``applyInPandas`` over ONE
    query's candidates at a time (bounded n_candidates rows — pure
    argmax bookkeeping over already-rounded doubles, the justified-
    UDF case; no vector math in Python).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # single evaluation (r16): cand feeds the candidate-vector join
    # AND the cogroup's left side (3 references), ce feeds both self-
    # join sides — without the barriers the full topk pass executed
    # 3x and the corpus joined twice more (8 scans in the executed
    # plan). Both relations are |Q|·n_candidates rows: the cheap grain.
    cand = cosine_topk(
        queries, corpus, k=n_candidates,
        query_id=query_id, corpus_id=corpus_id, vec=vec,
    ).select(query_id, corpus_id, F.col("cos").alias("rel")) \
        .localCheckpoint(eager=False)
    ce = cand.join(
        corpus.select(F.col(corpus_id), F.col(vec).alias("__v")),
        corpus_id,
    ).select(
        query_id, corpus_id, "__v", norm(F.col("__v")).alias("__n")
    ).localCheckpoint(eager=False)
    l = ce.select(
        F.col(query_id),
        F.col(corpus_id).alias("id_a"),
        F.col("__v").alias("va"), F.col("__n").alias("na"),
    ).alias("sl")
    r = ce.select(
        F.col(query_id).alias("__q2"),
        F.col(corpus_id).alias("id_b"),
        F.col("__v").alias("vb"), F.col("__n").alias("nb"),
    ).alias("sr")
    sims = (
        l.join(r, F.col(f"sl.{query_id}") == F.col("sr.__q2"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            # fresh key name: sims shares cand's lineage, and cogroup
            # grouping on the same attribute in both plans trips
            # Spark's ambiguous-self-join analysis
            F.col(f"sl.{query_id}").alias("__q"),
            "id_a", "id_b",
            _safe_cos(dot(F.col("va"), F.col("vb")),
                      F.col("na"), F.col("nb")).alias("sim"),
        )
    )
    out_schema = StructType([
        cand.schema[query_id], cand.schema[corpus_id],
        StructField("mmr", DoubleType()),
        StructField("mmr_rank", IntegerType()),
    ])
    one_minus = 1.0 - lam

    def select_fn(cands: pd.DataFrame, sp: pd.DataFrame) -> pd.DataFrame:
        if cands.empty:
            return pd.DataFrame(
                {c.name: pd.Series(dtype="object") for c in out_schema}
            )
        qv = cands[query_id].iloc[0]
        sim = {}
        for a, b, s in zip(sp["id_a"], sp["id_b"], sp["sim"]):
            sim[(a, b)] = sim[(b, a)] = s
        remaining = sorted(
            zip(cands[corpus_id], cands["rel"]), key=lambda t: t[0]
        )
        selected, rows = [], []
        while remaining and len(selected) < k:
            best = None
            for cid, rel in remaining:
                pen = max(
                    (sim.get((cid, s), 0.0) for s in selected),
                    default=0.0,
                )
                # NO second rounding: 0.5*(4dp value) lands on an
                # exact .xxxx5 boundary half the time and engines
                # round halves differently (found by the s13 gate's
                # first run). The score is a FIXED-SHAPE op over
                # already-4dp inputs — bit-identical unrounded.
                score = lam * rel - one_minus * pen
                if best is None or score > best[0]:
                    best = (score, cid, rel)
            _, bcid, _ = best
            selected.append(bcid)
            rows.append((qv, bcid, best[0], len(selected)))
            remaining = [t for t in remaining if t[0] != bcid]
        return pd.DataFrame(
            rows, columns=[query_id, corpus_id, "mmr", "mmr_rank"]
        )

    return (
        cand.groupBy(query_id)
        .cogroup(sims.groupBy("__q"))
        .applyInPandas(select_fn, out_schema)
    )


# ------------------------------------------- random projection (JL)
def rp_signs(dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic ±1 sign matrix for the sparse random projection,
    derived from md5 (no RNG state — the lsh_bucketed_topk hyperplane
    doctrine): sign(j, i) = +1 iff the low bit of
    md5("rp:{j}:{i}") is set. Shared verbatim by the DuckDB oracle,
    so projections are reproducible across engines and sessions."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest(), 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    dim: int,
    out_dim: int = 16,
    prefix: str = "r",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding column
    to ``out_dim`` dimensions with a deterministic ±1 sign matrix
    (Achlioptas 2003: database-friendly projections — ±1 entries
    preserve pairwise distances in expectation with variance 1/k, no
    Gaussian sampling needed). The standard dimensionality cut in
    front of ANN indexing / clustering: at 100 TB, projecting 768-d
    float32 vectors to 64-d before IVF/LSH cuts every downstream
    shuffle and distance evaluation ~12× while keeping neighbour
    ordering approximately intact (the JL lemma bound).

    Output column ``{prefix}{j}`` = (Σ_i x_i · s_ji) / sqrt(out_dim),
    rounded 6dp. Determinism (the s12 doctrine): products of exact
    float32 values widened to double by ±1.0 literals, summed by
    Spark's sequential ``aggregate`` fold — the oracle unrolls the
    same left-assoc sum term-for-term, so the doubles are
    bit-identical before rounding; 1/sqrt(16) = 0.25 is exact.

    100 TB shape: a narrow per-row projection — zero shuffles, zero
    Python; the sign matrix rides into whole-stage codegen as
    ``out_dim`` constant arrays (via ``_const_array`` — one from_json
    node each, not dim·out_dim literal nodes).
    """
    import math

    signs = rp_signs(dim, out_dim)
    scale = 1.0 / math.sqrt(out_dim)
    emb = F.col(emb_col).cast("array<double>")
    return df.select(
        F.col(id_col),
        *[
            F.round(
                dot(emb, _const_array(signs[j])) * F.lit(scale), 6
            ).alias(f"{prefix}{j}")
            for j in range(out_dim)
        ],
    )
