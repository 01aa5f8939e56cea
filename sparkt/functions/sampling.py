"""Deterministic hash-based sampling and train/val/test splitting.

Training-data pipelines need samples and splits that are (a) stable
across reruns and cluster sizes, (b) stratifiable, and (c) cheap.
``rand()``-based sampling fails (a): a retried task re-draws. Keying
on md5(id) gives a uniform, reproducible assignment that any engine
(and the DuckDB oracle) computes identically.

Scale shape: both operators are pure narrow projections/filters over
the scan — no shuffle, no Python, survives any scale-up unchanged.
Reference surface: dbt has no sampler; this extends the pipeline
operator set (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# first hex nibble of md5("<salt>:<id>") → 16 uniform buckets
_TRAIN_NIBBLES = list("0123456789ab")  # 12/16 = 75%
_VAL_NIBBLES = list("cd")  # 2/16 = 12.5%
# remaining "ef" → test


def hash_bucket(id_col: Column, salt: str = "sample") -> Column:
    """First hex nibble of the salted md5 — a uniform 16-way bucket.
    Changing the salt draws an independent assignment."""
    return F.substring(F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string"))), 1, 1)


def train_val_test_split(
    df: DataFrame, id_col: str, salt: str = "split"
) -> DataFrame:
    """Add a ``split`` column with a 75/12.5/12.5 train/val/test
    assignment, stable under reruns, re-partitioning, and engine
    choice."""
    b = hash_bucket(F.col(id_col), salt)
    return df.withColumn(
        "split",
        F.when(b.isin(_TRAIN_NIBBLES), "train")
        .when(b.isin(_VAL_NIBBLES), "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    salt: str = "strata",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the class-rebalancing
    step of a training-data pipeline (e.g. keep 10% of English, all of
    low-resource languages).

    A row survives iff the first 8 hex digits of its salted md5 fall
    below ``fraction × 2³²`` for its stratum — exact, engine-portable
    (md5 is bit-identical everywhere), stable under reruns and
    repartitioning, and embarrassingly parallel: pure filter, NO
    shuffle, no per-group state (contrast ``df.sampleBy``, whose
    Bernoulli draw depends on partition layout and seed plumbing).
    """
    h32 = _u32(id_col, salt)
    cutoff = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        val = F.lit(int(frac * (1 << 32)))
        cutoff = F.when(cond, val) if cutoff is None else cutoff.when(cond, val)
    default = F.lit(int(default_fraction * (1 << 32)))
    cutoff = default if cutoff is None else cutoff.otherwise(default)
    return df.filter(h32 < cutoff)


def _u32(id_col: str, salt: str) -> Column:
    """Deterministic 32-bit uniform from a salted md5 of the id —
    bit-identical in Spark and DuckDB (shared with stratified_sample's
    survival rule)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")


def weighted_bernoulli_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    scale: int,
    salt: str = "wsample",
) -> DataFrame:
    """Probability-proportional-to-size (πps) Bernoulli sampling:
    each row survives independently with P = min(1, weight/scale) —
    the importance-sampling step of a training-data pipeline (e.g.
    sample documents proportional to length or quality weight).

    INTEGER-EXACT survival rule: keep iff ``u32 · scale < w · 2³²``
    (all BIGINT arithmetic; no float rounding anywhere, so every
    engine agrees on the exact survivor set). Both sides must stay
    under 2⁶³: scale < ~2·10⁹ bounds the left, and the weight is
    CLAMPED to ``scale`` before the multiply — P saturates at 1 for
    w >= scale, so the clamp is semantics-preserving and keeps
    byte-size-class weights (>= 2³¹) from overflowing bigint under
    ANSI mode. Pure per-row filter: no shuffle, no global state,
    stable under reruns and repartitioning — embarrassingly parallel
    at 100 TB.
    """
    u = _u32(id_col, salt)
    w_clamped = F.least(
        F.col(weight_col).cast("bigint"), F.lit(int(scale))
    )
    return df.filter(
        u * F.lit(int(scale)) < w_clamped * F.lit(1 << 32)
    )


def domain_quota(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    salt: str = "quota",
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, preferring the lowest
    salted md5(id) — the Common-Crawl-style per-domain quota that stops
    boilerplate-heavy mega-domains from dominating a corpus. The hash
    preference makes the kept subset uniform-random-per-domain yet
    rerun-stable, engine-portable, and independent of partitioning.

    SKEW-SAFE TWO-PHASE TOP-N: a plain ``row_number() over (partition
    by domain)`` puts every row of a mega-domain (at 100 TB: billions)
    into ONE task. Phase 1 ranks within (domain, sub-bucket) — the
    second md5 nibble, 16 buckets — so any task emits at most ``cap``
    rows per bucket; phase 2 ranks the ≤ cap×16 survivors per domain.
    Keeping the top-``cap`` of every sub-bucket is a superset of the
    global top-``cap``, so the result is EXACTLY the single-phase
    answer (same guarantee as Spark's own TakeOrderedAndProject
    partial top-k). Ties are impossible: the order key ends with the
    unique id.
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    sub = F.substring(h, 2, 1)  # 16-way sub-bucket, derived from the id
    w1 = Window.partitionBy(domain_col, sub).orderBy(h, F.col(id_col))
    w2 = Window.partitionBy(domain_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= cap)
        .withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= cap)
        .drop("__rk1", "__rk2")
    )


def rank_quantile_buckets(
    df: DataFrame,
    part_col: str,
    score_col: str,
    id_col: str,
    cuts: tuple = (1 / 3, 2 / 3),
    labels: tuple = ("head", "middle", "tail"),
    coarse: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
    two_phase: bool = True,
) -> DataFrame:
    """CCNet-style per-partition quality bucketing: rank every row
    within its partition (language) by score DESC (best first, ties by
    id ASC) and cut the ranking at ``cuts`` fractions — the published
    CCNet recipe buckets each language's documents into head/middle/
    tail thirds by LM perplexity (Wenzek et al. 2020); this is that
    operator with any monotone score.

    SKEW-SAFE TWO-PHASE RANK (default): a plain ``row_number() over
    (partition by lang)`` sorts an entire language in ONE task — at
    100 TB the 'en' partition is most of the corpus. Phase 1 buckets
    rows by a COARSE monotone grid over the score (``floor((s-lo)/
    (hi-lo)*coarse)``, clamped), ranks only within (partition,
    grid-cell) — small, skew-free windows — and phase 2 adds the
    cell's prefix count (a tiny partitions×coarse aggregate, window
    over it is driver-cheap, then a broadcast-sized join back). Equal
    scores always share a grid cell (the grid is a function of the
    score), so global rank = cell offset + local rank EXACTLY equals
    the single-window formulation — pinned by the parity test.
    ``two_phase=False`` gives the naive single-window reference.

    Bucket thresholds are rank-based (``rank <= ceil(n * cut)``), so
    both engines compute them from the same integers — no engine-
    specific percentile semantics in the contract.
    """
    s = F.col(score_col)
    if two_phase:
        clamped = F.greatest(
            F.least(
                F.floor((s - F.lit(lo)) / F.lit(hi - lo) * coarse),
                F.lit(coarse - 1),
            ),
            F.lit(0),
        ).cast("long")
        # NULL scores sort LAST under the single-window DESC ordering
        # (Spark desc = nulls last); without this branch, least/greatest
        # SKIP nulls and floor(NULL) lands null-score rows in the TOP
        # cell — ranking them 'head' (review-found parity break)
        cell = F.when(s.isNull(), F.lit(-1)).otherwise(clamped)
        wd = df.withColumn("__cell", cell)
        counts = wd.groupBy(part_col, "__cell").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        w_off = (
            Window.partitionBy(part_col)
            .orderBy(F.desc("__cell"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_n = Window.partitionBy(part_col)
        offsets = counts.withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        ).withColumn("__n", F.sum("__cnt").over(w_n))
        w_local = Window.partitionBy(part_col, "__cell").orderBy(
            F.desc(score_col), F.asc(id_col)
        )
        ranked = (
            wd.withColumn("__lr", F.row_number().over(w_local))
            .join(
                F.broadcast(
                    offsets.select(part_col, "__cell", "__off", "__n")
                ),
                [part_col, "__cell"],
            )
            .withColumn(
                "rank", (F.col("__off") + F.col("__lr")).cast("long")
            )
        )
    else:
        w = Window.partitionBy(part_col).orderBy(
            F.desc(score_col), F.asc(id_col)
        )
        ranked = df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy(part_col))
        )
    if len(labels) != len(cuts) + 1:
        raise ValueError("need len(labels) == len(cuts) + 1")
    bucket = None
    for i, c in enumerate(cuts):
        th = F.ceil(F.col("__n") * F.lit(c)).cast("long")
        cond = F.col("rank") <= th
        bucket = (
            F.when(cond, labels[i])
            if bucket is None
            else bucket.when(cond, labels[i])
        )
    bucket = (
        F.lit(labels[-1]) if bucket is None else bucket.otherwise(labels[-1])
    )
    return ranked.select(
        part_col, id_col, score_col, "rank", bucket.alias("bucket")
    )


def curriculum_order(
    df: DataFrame,
    stage_col: str,
    id_col: str,
    seed: str = "curriculum",
    prefix_chars: int = 2,
) -> DataFrame:
    """Curriculum data ordering: a global 0-based training position
    that visits stages in ascending order (easy → hard) with a
    uniform deterministic shuffle WITHIN each stage — the standard
    curriculum-learning layout (stage from any upstream difficulty
    signal: quality bucket, length tercile, perplexity band).

    The global ordering is ``(stage, md5(seed|id), id)``; the position
    is computed WITHOUT a global single-partition window (the naive
    ``row_number() over (order by ...)`` pulls the whole corpus
    through one task). Two-phase prefix sum, the pack_offsets /
    shuffle_shards pattern:

    1. cell = (stage, 16^prefix_chars-way bucket from the shuffle
       key's hex prefix); per-cell counts — one map-side-combined
       groupBy producing |stages|·256 rows;
    2. exclusive cumsum over the tiny cell table in (stage, bucket)
       order (driver-cheap window);
    3. broadcast the offsets back; position = cell offset +
       intra-cell ``row_number() over (shuffle_key, id)`` − 1 —
       every task handles one cell, ~n/(stages·256) rows.

    Bucket-from-hex-prefix is monotone in the key, so cell-major
    order equals the single-window ordering EXACTLY (same argument
    as shuffle_shards; pinned by the parity test).
    """
    key = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    ).alias("__ckey")
    base = df.select(F.col(stage_col), F.col(id_col), key).withColumn(
        "__bucket",
        F.conv(F.substring("__ckey", 1, prefix_chars), 16, 10)
        .cast("bigint"),
    )
    counts = base.groupBy(stage_col, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_cells = (
        Window.orderBy(F.asc(stage_col), F.asc("__bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_cells), F.lit(0))
    )
    w_local = Window.partitionBy(stage_col, "__bucket").orderBy(
        "__ckey", id_col
    )
    return (
        base.join(
            F.broadcast(offsets.select(stage_col, "__bucket", "__off")),
            [stage_col, "__bucket"],
        )
        .withColumn(
            "curriculum_pos",
            (F.col("__off") + F.row_number().over(w_local) - 1)
            .cast("bigint"),
        )
        .select(id_col, stage_col, "curriculum_pos")
    )


def mixture_weights(
    df: DataFrame,
    domain_col: str,
    size_col: str,
    alpha: float = 0.5,
    target_tokens: float = 1_000_000.0,
) -> DataFrame:
    """Temperature-based data-mixture weighting (the published GPT-3 /
    PaLM / multilingual-LM recipe: sample domain d proportionally to
    p_d^alpha, alpha<1 up-weighting small domains): from per-row token
    counts, compute each domain's natural share, its alpha-tempered
    mixture weight, the token budget it receives out of
    ``target_tokens``, and the acceptance rate a sampler applies
    (>1 epochs over a small domain surface as rate 1.0 plus the
    ``epochs`` column).

    Scale shape: ONE map-side-combined groupBy collapses 100 TB of rows
    to |domains| rows; the two global normalizers are unpartitioned
    windows over that tiny domain table (thousands of rows — driver-
    scale, never row-scale). Everything downstream (the actual
    sampling) composes with :func:`apply_mixture` per domain.

    Engine parity: alpha=0.5 uses sqrt (IEEE-correctly-rounded in both
    engines, unlike pow's libm variance); outputs are floor-quantized
    at 6 decimals.
    """
    w_all = Window.partitionBy()
    dom = df.groupBy(domain_col).agg(
        F.sum(size_col).cast("double").alias("__n")
    )
    # zero guards (same pattern as similarity._safe_cos): an all-empty
    # domain — or an all-empty corpus — must yield zero weights, not an
    # ANSI DIVIDE_BY_ZERO that kills the job; greatest(x, eps) is a
    # no-op whenever any tokens exist
    def g(c):
        return F.greatest(c, F.lit(1e-12))

    p = F.col("__n") / g(F.sum("__n").over(w_all))
    tempered = (
        F.sqrt(p) if alpha == 0.5 else F.pow(p, F.lit(float(alpha)))
    )
    dom = dom.withColumn("__w", tempered)
    q = F.col("__w") / g(F.sum("__w").over(w_all))
    budget = q * F.lit(float(target_tokens))

    def q6(c):
        return F.floor(c * 1_000_000) / 1_000_000

    return dom.select(
        F.col(domain_col),
        F.col("__n").cast("long").alias("n_tokens"),
        q6(p).alias("share"),
        q6(q).alias("weight"),
        F.floor(budget).cast("long").alias("token_budget"),
        q6(F.least(budget / g(F.col("__n")), F.lit(1.0))).alias(
            "accept_rate"
        ),
        F.ceil(budget / g(F.col("__n"))).cast("long").alias("epochs"),
    )


# ------------------------------------- deterministic shuffle + shards
def shuffle_shards(
    df: DataFrame,
    id_col: str,
    size_col: str,
    seed: str = "shuffle",
    shard_size: int = 1 << 20,
    prefix_chars: int = 3,
) -> DataFrame:
    """Deterministic corpus shuffle + fixed-size shard assignment —
    the final layout stage of an LLM training pipeline (seeded global
    shuffle so epochs are decorrelated from crawl order, packed into
    fixed-size output shards; composes with ``text.pack_offsets``
    downstream and ``mixture_weights`` upstream).

    Shuffle key = ``md5(seed || '|' || id)`` — NO rand(): rerun-,
    retry- and engine-stable (a retried task re-derives the identical
    order; the DuckDB oracle reproduces it byte-for-byte). Each doc's
    shard is ``floor(exclusive_prefix_sum(size) / shard_size)`` in
    shuffle-key order: greedy size-based packing, every shard within
    one doc of ``shard_size``.

    SCALE SHAPE — no global single-partition stage: the md5 key is
    uniform by construction, so its first ``prefix_chars`` hex chars
    give 16^prefix_chars perfectly-balanced coarse buckets (4096 at
    the default), and the prefix sum is the classic two-phase scan:
    per-bucket sums (map-side-combined groupBy, 4096 rows), tiny
    exclusive cumsum over the bucket table, broadcast back, window
    partitioned BY BUCKET. Sorting by (key) within buckets = sorting
    globally, because the bucket IS the key prefix — at 100 TB this is
    one shuffle on a uniform key and constant-size driver state.

    Returns (id, size, shuffle_key, global_start, shard_id).

    CACHE LIFETIME (VERDICT r8 #2): nothing is persisted — the
    bucket-sum table (≤16^prefix_chars rows, constant and
    driver-scale by construction, same policy as the k-means model
    collect) is computed eagerly, its exclusive cumsum taken on the
    driver, and broadcast back as a literal table, so the narrow base
    projection appears exactly ONCE in the returned plan and the
    result composes freely (orderBy/filter/join) with zero cache
    residue in any long-lived session. The cost is one extra pass
    over the upstream pipeline (the eager bucket-sum aggregation).

    CONSISTENCY REQUIREMENT: the eager bucket-sum pass and the
    returned plan execute the upstream separately, so ``df`` must
    yield the same rows on re-execution — deterministic transforms
    over immutable inputs (the normal corpus case). A
    NONDETERMINISTIC upstream (unseeded ``sample()``, ``rand()``) or
    a table being appended to concurrently must be materialized
    first (write it out, or ``localCheckpoint`` it) so one
    computation feeds both passes. (This is Spark's standard
    recompute-consistency caveat, not unique to this operator — an
    unpersisted plan whose subtree is consumed twice has the same
    exposure within a single job.)
    """
    key = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    ).alias("shuffle_key")
    bucket = (
        F.conv(F.substring("shuffle_key", 1, prefix_chars), 16, 10)
        .cast("bigint").alias("__bucket")
    )
    base = df.select(
        F.col(id_col),
        F.col(size_col).cast("bigint").alias("__sz"),
        key,
    ).select("*", bucket)
    sums = base.groupBy("__bucket").agg(
        F.sum("__sz").alias("__bsum")
    ).collect()
    off = 0
    rows = []
    for r in sorted(
        sums, key=lambda r: (r["__bucket"] is None, r["__bucket"])
    ):
        if r["__bucket"] is None:
            raise ValueError(
                f"shuffle_shards: {id_col!r} contains NULL — the "
                "shuffle key is md5(seed|id), so every doc needs a "
                "non-null id"
            )
        rows.append((int(r["__bucket"]), off))
        off += int(r["__bsum"])
    offsets = df.sparkSession.createDataFrame(
        rows, schema="__bucket bigint, __boff bigint"
    )
    # global_start = bucket offset + intra-bucket exclusive prefix sum
    # in (shuffle_key, id) order
    w_intra = (
        Window.partitionBy("__bucket")
        .orderBy("shuffle_key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gs = (
        F.col("__boff") + F.sum("__sz").over(w_intra) - F.col("__sz")
    ).alias("global_start")
    return base.join(F.broadcast(offsets), "__bucket").select(
        F.col(id_col),
        F.col("__sz").alias("size"),
        "shuffle_key",
        gs,
    ).withColumn(
        "shard_id",
        F.floor(F.col("global_start") / shard_size).cast("bigint"),
    )


def cluster_safe_split(
    df: DataFrame,
    cluster_col: str,
    splits: dict[str, float],
    salt: str = "csplit",
) -> DataFrame:
    """Leakage-safe dataset split: assign train/val/test by hashing
    the CLUSTER id instead of the row id, so every member of a
    duplicate cluster lands in the SAME split. Splitting dedup-related
    rows across train and eval is the classic contamination bug the
    dedup literature warns about (near-duplicates of training docs in
    the test set inflate eval); hashing the cluster key makes it
    structurally impossible. ``cluster_col`` is whatever keys the
    duplicate group — an exact-dedup fingerprint (md5 of normalized
    text), a :func:`sparkt.functions.dedup.duplicate_clusters` root,
    or a SemDeDup representative.

    ``splits`` maps name -> fraction in iteration order; fractions
    must sum to 1 (±1e-9). The assignment rule is the INTEGER-EXACT
    _u32 ladder shared with :func:`stratified_sample`: split i gets
    u32 in [floor(cum_{i-1}·2³²), floor(cum_i·2³²)), the last split
    absorbing the rounding tail — every engine agrees on the exact
    boundary row. Pure per-row expression: no shuffle, no state,
    embarrassingly parallel at 100 TB.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = _u32(cluster_col, salt)
    names = list(splits)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += splits[name]
        bound = F.lit(int(cum * (1 << 32)))
        expr = (
            F.when(u < bound, name)
            if expr is None
            else expr.when(u < bound, name)
        )
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", split)


def budget_select(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_tokens_col: str,
    budget: int,
    coarse: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
    two_phase: bool = True,
) -> DataFrame:
    """Greedy quality-first data selection under a token budget — the
    corpus-curation step "keep the best documents until N tokens":
    order by (score DESC, id ASC) and keep each document iff the
    INCLUSIVE running token total is still ``<= budget`` (the prefix
    rule — deterministic and engine-portable; it stops at the first
    overflowing document rather than knapsack-skipping past it).

    Returns the kept rows: ``<id>, <score>, n_tokens, cum_tokens``.

    SKEW-SAFE TWO-PHASE PREFIX SUM (default): a plain ``sum() over
    (order by score)`` is a single-partition global window. This is
    the :func:`rank_quantile_buckets` two-phase machinery with COUNT
    generalized to SUM: phase 1 buckets rows by the coarse monotone
    score grid and runs the token cumsum only within (cell) — small,
    parallel windows; phase 2 adds the cell's exclusive prefix token
    total (a <= ``coarse``-row aggregate, broadcast back). Equal
    scores share a grid cell, so cell offset + local running sum
    EXACTLY equals the single-window formulation (``two_phase=False``
    gives the naive reference, pinned equal by pytest). NULL scores
    sort last (the rank_quantile_buckets null branch).
    """
    s = F.col(score_col)
    n = F.col(n_tokens_col).cast("long")
    if two_phase:
        clamped = F.greatest(
            F.least(
                F.floor((s - F.lit(lo)) / F.lit(hi - lo) * coarse),
                F.lit(coarse - 1),
            ),
            F.lit(0),
        ).cast("long")
        cell = F.when(s.isNull(), F.lit(-1)).otherwise(clamped)
        wd = df.withColumn("__cell", cell).withColumn("__n", n)
        sums = wd.groupBy("__cell").agg(F.sum("__n").alias("__csum"))
        w_off = Window.orderBy(F.desc("__cell")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = sums.withColumn(
            "__off", F.coalesce(F.sum("__csum").over(w_off), F.lit(0))
        )
        w_local = Window.partitionBy("__cell").orderBy(
            F.desc(score_col), F.asc(id_col)
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cum = (F.col("__off") + F.sum("__n").over(w_local)).alias(
            "cum_tokens"
        )
        out = wd.join(
            F.broadcast(offsets.select("__cell", "__off")), "__cell"
        ).select(id_col, score_col, F.col("__n").alias("n_tokens"), cum)
    else:
        w = Window.orderBy(F.desc(score_col), F.asc(id_col)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = df.select(
            id_col, score_col, n.alias("n_tokens"),
            F.sum(n).over(w).alias("cum_tokens"),
        )
    return out.filter(F.col("cum_tokens") <= int(budget))


def apply_mixture(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    n_tokens_col: str,
    target_weights: dict[str, float],
    budget_tokens: int,
    salt: str = "mix",
) -> DataFrame:
    """APPLY a target domain mixture under a token budget — the
    execution step to :func:`mixture_weights`' planning step: domain
    ``d`` receives ``quota_d = budget·w_d/Σw`` tokens, and each of
    its rows survives independently with ``P = min(1, quota_d/T_d)``
    (``T_d`` = the domain's total tokens), so the EXPECTED post-mix
    token mass matches the target proportions. Domains absent from
    ``target_weights`` are dropped.

    Survival uses the established deterministic-hash thinning (the
    p3/p7 mechanism — rerun-stable, partition-independent): the
    per-domain threshold precomputes as ``floor(min(1, quota/T)·2³²)``
    so the per-row test is a pure integer compare — no ``u32·T``
    product that could overflow at corpus scale, and the only
    non-integer math is one double division per DOMAIN, identical in
    every engine.

    Scale shape: one map-side-combined groupBy(domain) for ``T_d``
    (domain-count-sized, broadcast back), then a shuffle-free per-row
    filter. Exact-count selection would need a per-domain global
    sort; Bernoulli thinning is the corpus-scale trade.
    """
    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    total = sum(target_weights.values())
    quota = {
        d: budget_tokens * w / total for d, w in target_weights.items()
    }
    toks = df.groupBy(domain_col).agg(
        F.sum(F.col(n_tokens_col).cast("long")).alias("__T")
    )
    qexpr = None
    for d, q in quota.items():
        cond = F.col(domain_col) == d
        qexpr = (
            F.when(cond, F.lit(q))
            if qexpr is None
            else qexpr.when(cond, F.lit(q))
        )
    # least()/greatest() SKIP nulls (the rank_quantile_buckets ANSI
    # lesson): least(1.0, NULL) is 1.0, which would keep every
    # unlisted domain — gate the null explicitly
    thr = F.when(
        qexpr.isNotNull(),
        F.floor(
            F.least(F.lit(1.0), qexpr / F.col("__T"))
            * F.lit(float(1 << 32))
        ),
    )
    u = _u32(id_col, salt)
    return (
        df.join(F.broadcast(toks), domain_col)
        .withColumn("__thr", thr)
        .filter(F.col("__thr").isNotNull() & (u < F.col("__thr")))
        .drop("__T", "__thr")
    )


def dsir_logweights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR data-selection log-importance-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw document by how target-like its hashed-bigram
    distribution is — ``log w(x) = Σ_f c_f(x) · (ln p̂_target(f) −
    ln p̂_raw(f))`` over ``n_buckets`` hashed bigram features with
    Laplace-smoothed bag-of-ngram estimates. Selecting the top
    weights (or threshold > 0 = "more target-like than raw-like")
    is the paper's importance-resampling step.

    ``target_col`` is a boolean column marking the in-domain docs
    (the target distribution is estimated from them; raw = ALL
    rows). Feature hash: first 4 hex nibbles of md5(bigram) mod
    ``n_buckets`` — the t8 portable idiom, identical in the DuckDB
    oracle.

    Returns ``(<id>, n_feats, logw)``. ``logw`` is ln-BASED —
    threshold-only downstream per the cross-engine float doctrine
    (select on ``logw > 0`` / rank on it; never hash-compare it):
    ln(exact rational) can differ in the last ulp between engines.
    ``logw == 0.0`` is exact on both engines for docs with zero
    features, so the > 0 selection boundary is stable.

    100 TB shape: one bigram explode + TWO map-side-combined
    aggregates at bucket grain (256 rows — the distribution tables
    are broadcast literals for the rejoin), one doc-grain aggregate.
    The target estimate is a filtered re-aggregate of the SAME
    exploded relation, not a second scan.
    """
    from sparkt.functions.text import bigram_array, tokens

    from sparkt.sources import spread

    ex = spread(df).select(
        F.col(id_col).alias("doc"),
        F.col(target_col).alias("__tgt"),
        F.explode(bigram_array(tokens(F.col(text_col)))).alias("bg"),
    ).select(
        "doc",
        "__tgt",
        (
            F.conv(F.substring(F.md5("bg"), 1, 4), 16, 10)
            .cast("int")
            % n_buckets
        ).alias("f"),
    ).localCheckpoint(eager=False)
    # ^ single evaluation (r16): ex feeds BOTH the bucket distribution
    # (dist -> ratio, whose totals side re-aggregates the same subtree
    # again) and the per-doc counts — without the barrier the
    # tokenize+bigram+md5 explode chain executes 3x per run (Spark 4.1
    # applies no runtime reuse across these branches; p11 isolated
    # warm 18.7 s before). Rows here are (long, bool, int) — the cheap
    # grain to materialize, unlike the W9 exploded-string lesson.
    dist = ex.groupBy("f").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.col("__tgt").cast("long")).alias("c_t"),
    )
    totals = dist.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    from sparkt.functions import join_scalars

    ratio = join_scalars(dist, totals).select(
        "f",
        (
            F.log((F.col("c_t") + 1) / (F.col("n_t") + n_buckets))
            - F.log((F.col("c_r") + 1) / (F.col("n_r") + n_buckets))
        ).alias("__lr"),
    )
    per_doc = ex.groupBy("doc", "f").agg(
        F.count(F.lit(1)).alias("c_f")
    )
    from pyspark.sql.functions import broadcast as _bc

    scored = (
        per_doc.join(_bc(ratio), "f")
        .groupBy("doc")
        .agg(
            F.sum("c_f").cast("long").alias("n_feats"),
            F.sum(F.col("c_f") * F.col("__lr")).alias("logw"),
        )
    )
    # zero-feature docs (< 2 tokens -> no bigrams) vanish from the
    # explode; left-join them back at logw = 0.0 so the returned
    # relation covers the FULL corpus as documented (r12 review: a
    # caller partitioning selected-vs-rejected must not silently
    # lose docs). One doc-grain join against the input keys.
    ids = spread(df).select(F.col(id_col).alias("doc"))
    return ids.join(scored, "doc", "left").select(
        "doc",
        F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
        F.coalesce("logw", F.lit(0.0)).alias("logw"),
    )
