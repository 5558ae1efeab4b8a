"""Deterministic sampling / dataset splitting.

Training pipelines need splits that are STABLE: re-running the pipeline
on a grown corpus must keep yesterday's documents in yesterday's split
(no train/test leakage on refresh), and any engine must agree on the
assignment. RNG-based `sample()` gives neither — so both operators here
key off a content hash (md5, engine-portable like everything in
functions/hashing.py): a document's split is a pure function of its id.

Scale shape: both are map-only row-local expressions — no shuffle, no
state, trivially parallel at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int = 10_000, salt: str = "") -> Column:
    """Uniform bucket in [0, n_buckets) from the md5 of the (salted)
    key — the first 12 hex chars (48 bits < 2^53, exact in every
    engine's integer and double arithmetic) mod n_buckets.

    ``salt`` keys the hash per PURPOSE: splitting and sampling with the
    same unsalted hash compose degenerately (a 5%% sample keeps exactly
    the lowest buckets, which all fall inside the train split's range —
    sampling then splitting would yield 100%% train, empty val/test).
    """
    from ..functions.hashing import md5_bucket48

    bucket = md5_bucket48(key, n_buckets, salt=salt)
    # A NULL key hashes to NULL, and NULL propagates differently through
    # each consumer (filters silently DROP the row, a when-chain's
    # otherwise() routes it to the LAST split — NULL-id docs would
    # concentrate in the test split). One loud failure here keeps every
    # sibling operator consistent with the module's fail-fast stance.
    return F.when(
        key.isNull(),
        F.raise_error(F.lit("hash_bucket: NULL id — clean or filter ids first")),
    ).otherwise(bucket)


def _check_weights(weights: dict[str, float]) -> None:
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        # the last entry would silently absorb every leftover bucket
        raise ValueError(f"split weights must sum to 1.0, got {total}")


def stable_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Assign every row a split label by hashed-id bucket. Default
    90/5/5 train/val/test. Deterministic, engine-portable, and stable
    under corpus growth — new rows hash into splits without moving any
    existing row."""
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    _check_weights(weights)
    bucket = hash_bucket(F.col(id_col), salt="split")
    expr = None
    hi = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        hi += w
        cond = bucket < int(round(hi * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(items[-1][0]) if expr is None else expr.otherwise(items[-1][0])
    return df.withColumn("split", expr)


def _check_rate(name: str, rate: float) -> None:
    """Rates are probabilities. A typo'd percentage (10 for 10%) would
    otherwise silently sample at 100% and a negative rate silently drop
    the stratum — same fail-loudly stance as stable_split's weight
    check."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"{name} must be in [0, 1], got {rate}")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixture dial of a
    training pipeline ("100% of books, 10% of common-crawl"): keep a row
    iff its content-addressed hash bucket falls under its stratum's
    rate; strata not listed get ``default_rate``.
    Row membership is stable under corpus growth and identical across
    engines and runs — re-weighting a mixture never reshuffles which
    rows the kept strata contribute."""
    _check_rate("default_rate", default_rate)
    for name, r in rates.items():
        _check_rate(f"rates[{name!r}]", r)
    bucket = hash_bucket(F.col(id_col), salt="stratum")
    threshold = None
    for name, r in rates.items():
        t = int(round(r * 10_000))
        threshold = (
            F.when(F.col(stratum_col) == name, t)
            if threshold is None
            else threshold.when(F.col(stratum_col) == name, t)
        )
    thr = (
        F.lit(int(round(default_rate * 10_000)))
        if threshold is None
        else threshold.otherwise(int(round(default_rate * 10_000)))
    )
    return df.filter(bucket < thr)


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    n_tokens: Column,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_budget: int = 0,
) -> DataFrame:
    """Fill a per-stratum TOKEN budget instead of sampling by rate — the
    mixture dial training recipes actually specify ("20M tokens of books,
    5M of web"). Documents are taken in stable hash order (salted
    'budget' hash, doc_id tiebreak) until the stratum's cumulative token
    count reaches its budget; the doc that crosses the boundary is kept
    (budgets are floors, and membership stays stable as the corpus
    grows — a new doc sorts into the sequence without evicting more
    than the tail). One window per stratum partition — a single shuffle
    keyed by stratum, running sum computed in order."""
    from pyspark.sql import Window

    # fail loudly rather than silently overwrite-and-drop caller data
    # (the same guard pattern the window helpers use for _salt/_rn)
    for c in ("_nt", "_cum"):
        if c in df.columns:
            raise ValueError(
                f"token_budget_sample: input already has a column named {c!r}; "
                "rename it before sampling"
            )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(hash_bucket(F.col(id_col), salt="budget"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = None
    for name, b in budgets.items():
        budget = (
            F.when(F.col(stratum_col) == name, b)
            if budget is None
            else budget.when(F.col(stratum_col) == name, b)
        )
    budget = (
        F.lit(default_budget) if budget is None else budget.otherwise(default_budget)
    )
    out = df.withColumn("_nt", n_tokens).withColumn("_cum", F.sum("_nt").over(w))
    return (
        out.filter(F.col("_cum") - F.col("_nt") < budget)
        .drop("_nt", "_cum")
    )


def alpha_mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    size: Column | None = None,
) -> DataFrame:
    """Temperature-weighted corpus mixture (the mT5/XLM-R alpha-sampling
    rule): strata are kept at a rate proportional to ``share**(alpha-1)``,
    so with ``alpha < 1`` small strata (rare languages, niche domains)
    are boosted toward parity and dominant strata are down-sampled.
    ``alpha=1`` reproduces the natural distribution (every row kept);
    ``alpha=0`` equalizes the EXPECTED kept mass across strata.

    Unlike :func:`stratified_sample`, the per-stratum rates are derived
    FROM the data (one tiny aggregate over ``size`` — token count when
    given, else row count) instead of hand-specified: the rate for
    stratum i is ``(c_min / c_i) ** (1 - alpha)``, normalized so the
    smallest stratum keeps 100%. Row membership then follows the same
    deterministic salted-hash-bucket rule as every sampler here.

    Scale shape: one partial-aggregable groupBy at stratum cardinality
    (a handful of rows), a broadcast join of the thresholds back onto
    the corpus, and a map-only filter — the corpus is never shuffled.

    With the default ``alpha=0.5`` the rate is ``sqrt(c_min / c_i)``:
    IEEE sqrt and division are correctly rounded, so the computed
    threshold is bit-identical across engines (the registered query's
    DuckDB oracle replays it exactly). Arbitrary ``alpha`` uses
    ``pow``, which libm implementations round differently in the last
    ulp — fine for training mixtures, but pin cross-engine tests to
    alpha=0.5.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    clash = {"_c", "_s", "_thr"} & set(df.columns)
    if clash:
        raise ValueError(
            f"alpha_mixture_sample: input already has column(s) {sorted(clash)}; "
            "rename them before sampling"
        )
    counts = df.groupBy(stratum_col).agg(
        (F.sum(size) if size is not None else F.count(F.lit(1)))
        .cast("double")
        .alias("_c")
    )
    c_min = counts.agg(F.min("_c").alias("_cmin"))
    if alpha == 0.5:
        rate = F.sqrt(F.col("_cmin") / F.col("_c"))
    else:
        rate = F.pow(F.col("_cmin") / F.col("_c"), F.lit(1.0 - alpha))
    thresholds = counts.crossJoin(F.broadcast(c_min)).select(
        F.col(stratum_col).alias("_s"),
        F.floor(rate * 10_000).cast("long").alias("_thr"),
    )
    # null-safe equality: a NULL stratum is a stratum (it aggregated into
    # its own counts row above) — a plain equi-join would silently drop
    # every NULL-stratum row, the silent-NULL routing this module's
    # guards exist to prevent
    out = df.join(
        F.broadcast(thresholds), F.col(stratum_col).eqNullSafe(F.col("_s")), "inner"
    )
    bucket = hash_bucket(F.col(id_col), salt="alpha")
    # _thr == 10000 for the smallest stratum; bucket < 10000 always holds
    return out.filter(bucket < F.col("_thr")).drop("_s", "_thr")


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 1024,
    seed: str = "",
) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global sort
    barrier: every row gets a content-addressed ``order_key`` (md5 of
    the seeded id) and a ``shard`` (the key's top 48 bits mod
    ``n_shards``). Reading shards ``0..n-1``, each sorted by
    ``order_key``, replays one fixed pseudorandom permutation of the
    corpus — the data-order shuffle LLM training needs, reproducible
    across runs, engines, and partitionings. Materialize it by
    ``repartition(n_shards, "shard")`` then
    ``sortWithinPartitions("shard", "order_key")`` (the shard prefix
    stops a partitioned parquet writer from inserting its own unstable
    sort) and a write partitioned by ``shard``.

    Scale shape: assignment is map-only; materializing the order is
    ``repartition(n_shards, shard)`` + ``sortWithinPartitions`` — one
    shuffle whose largest sort is corpus/n_shards rows. A global
    ``ORDER BY rand(seed)`` would funnel 100 TB through a single range
    sort and tie the order to the engine's RNG; this never sorts more
    than a shard and no step depends on Spark internals. Reseeding
    (epoch number in ``seed``) yields an independent permutation.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    for c in ("order_key", "shard"):
        if c in df.columns:
            raise ValueError(
                f"shuffle_shards: input already has a column named {c!r}; "
                "rename it before shuffling"
            )
    key = F.md5(F.concat(F.lit(f"shuffle:{seed}:"), F.col(id_col).cast("string")))
    order_key = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit("shuffle_shards: NULL id — clean or filter ids first")),
    ).otherwise(key)
    # shard derives from the GUARDED key, not the raw md5: a consumer
    # that projects only `shard` (groupBy shard, partitioned write)
    # would otherwise have the raise_error column pruned away and NULL
    # ids would silently land in a NULL shard — the exact silent-NULL
    # routing hash_bucket's guard exists to prevent.
    shard = (
        F.conv(F.substring(order_key, 1, 12), 16, 10).cast("long") % n_shards
    ).cast("int")
    return df.withColumn("order_key", order_key).withColumn("shard", shard)


def curriculum_phases(
    df: DataFrame,
    size: Column,
    n_phases: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum-learning phase assignment: order the corpus into
    ``n_phases`` quantile phases of ``size`` (classic length-based
    curriculum — train on short/simple documents first, graduate to
    long ones). Adds an int ``phase`` column in [0, n_phases).

    Phase boundaries are INTEGER-EXACT, derived from the size
    HISTOGRAM rather than an interpolated percentile: boundary t_k
    (k = 1..n_phases-1) is the smallest size whose cumulative doc count
    reaches ceil(k*n/n_phases) — compared as ``cum * n_phases >= k * n``
    so no division, rounding mode, or FP interpolation can diverge
    across engines (the exact 1-ULP hazard class the multimodal phash
    oracle once hit). Ties share a phase by construction: equal
    sizes can never straddle a boundary, so the assignment is stable
    under any partitioning and identically replayable in ANSI SQL.

    Scale shape: the only full-corpus work is one partial-aggregable
    ``groupBy(size)`` histogram; the cumulative window and the boundary
    argmin run on the DISTINCT-SIZE table (bounded by the max document
    length, ~10^5 rows at any corpus scale), and the n_phases-1
    boundary values — a model, like the BPE rule table — are collected
    to the driver and folded back as a map-only when-chain. No global
    sort, no per-doc window.
    """
    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    for c in ("phase", "_sz"):
        if c in df.columns:
            raise ValueError(
                f"curriculum_phases writes a {c!r} column; input already "
                "has one — rename it first"
            )
    from pyspark.sql import Window

    sized = df.withColumn("_sz", size)
    hist = sized.groupBy("_sz").agg(F.count(F.lit(1)).alias("_c"))
    # the window runs over the distinct-size table only — bounded
    # cardinality, documented above; rangeBetween default is fine since
    # _sz is unique per row here
    cum = hist.withColumn(
        "_cum", F.sum("_c").over(Window.orderBy("_sz"))
    )
    # total doc count = the histogram's own cumulative max — derived on
    # the tiny distinct-size table so the corpus is scanned exactly once
    full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ks = range(1, n_phases)
    bounds = (
        cum.withColumn("_n", F.max("_cum").over(full))
        .crossJoin(
            F.broadcast(
                cum.sparkSession.createDataFrame([(k,) for k in ks], "k int")
            )
        )
        .filter(F.col("_cum") * n_phases >= F.col("k") * F.col("_n"))
        .groupBy("k")
        .agg(F.min("_sz").alias("t"))
        .collect()
    )
    thresholds = sorted(r["t"] for r in bounds)
    phase = sum(
        (F.when(F.col("_sz") > F.lit(t), 1).otherwise(0) for t in thresholds),
        start=F.lit(0),
    ).cast("int")
    return sized.withColumn("phase", phase).drop("_sz")


def walk_forward_days(
    df: DataFrame,
    day_idx: Column,
    n_folds: int = 3,
    test_days: int = 5,
    embargo_days: int = 2,
) -> DataFrame:
    """Leakage-safe walk-forward backtest folds over a time-keyed fact
    table (the purged/embargoed cross-validation of financial ML — the
    split a stock-bars pipeline must use where a hash split would leak
    tomorrow's prices into training). Returns one row per
    (day, fold): ``(day_idx, fold, role)`` with role in
    {'train', 'embargo', 'test', 'future'}.

    Fold k (0-based) tests on the k-th of the last ``n_folds``
    consecutive ``test_days`` blocks; training uses only days STRICTLY
    before the test block minus ``embargo_days`` (the embargo absorbs
    label lookahead/serial correlation at the boundary); days after the
    fold's test block are 'future' (unusable for that fold). Row-level
    assignment is a pure function of the row's day, so the day-level
    table IS the split — join it back on the day for row membership.

    Determinism/scale shape: day boundaries derive from one min/max
    aggregate (two driver scalars); the fold table is
    (distinct days x n_folds) rows built from a broadcast fold list;
    every comparison is integer day arithmetic — no timestamps, no FP,
    no tz.
    """
    if n_folds <= 0 or test_days <= 0 or embargo_days < 0:
        raise ValueError(
            f"need n_folds > 0, test_days > 0, embargo_days >= 0; got "
            f"{n_folds}, {test_days}, {embargo_days}"
        )
    days = df.select(day_idx.cast("long").alias("day_idx")).distinct()
    bounds = days.agg(
        F.min("day_idx").alias("lo"), F.max("day_idx").alias("hi")
    ).first()
    lo, hi = bounds.lo, bounds.hi
    if lo is None:
        raise ValueError("walk_forward_days: no days in input")
    first_test_start = hi - n_folds * test_days + 1
    if first_test_start - embargo_days <= lo:
        raise ValueError(
            f"walk_forward_days: not enough history — fold 0's training "
            f"window is empty (days span [{lo}, {hi}], first test starts "
            f"at {first_test_start}, embargo {embargo_days})"
        )
    folds = days.sparkSession.createDataFrame(
        [(k,) for k in range(n_folds)], "fold int"
    )
    test_start = F.lit(first_test_start) + F.col("fold") * test_days
    test_end = test_start + test_days - 1
    d = F.col("day_idx")
    role = (
        F.when(d < test_start - embargo_days, "train")
        .when(d < test_start, "embargo")
        .when(d <= test_end, "test")
        .otherwise("future")
    )
    return days.crossJoin(F.broadcast(folds)).select(
        "day_idx", "fold", role.alias("role")
    )


def reservoir_k(
    df: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    k: int,
    seed: str = "res",
) -> DataFrame:
    """Deterministic exact-k per-group sample — the distributed,
    re-runnable stand-in for reservoir sampling. Rate-based sampling
    (:func:`stratified_sample`) cannot promise "exactly k docs per
    stratum"; ranking every row by a content hash and keeping the k
    SMALLEST does (bottom-k sketch), and stays stable under corpus
    growth in the bottom-k sense: a new document evicts at most one
    incumbent, it never reshuffles the survivor set.

    The hash is the engine-portable 48-bit md5 prefix (exact integer —
    the ranking is FP-free), salted by ``seed`` so composition with the
    split/sample hashes stays independent (the hash_bucket discipline).
    Bottom-k is also MERGEABLE: the bottom-k of a union is the bottom-k
    of the concatenated bottom-k's, which is why this form (not an
    RNG reservoir) is the 100 TB idiom — per-partition bottom-k
    combines without coordination, and the skew-proof salted ranking
    (operators/skew.py) is exactly that two-phase merge.

    Returns the sampled rows plus their ``rank`` within the group
    (1..k by hash order — a stable priority for downstream truncation).
    """
    from ..functions.hashing import md5_bucket48

    # loud NULL-id guard (the module's fail-fast stance, hash_bucket's
    # rationale): a NULL id hashes to a NULL key, Spark sorts NULLs
    # FIRST ascending, and the row would silently occupy a sample slot
    ranked = df.withColumn(
        "_rkey",
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit("reservoir_k: NULL id — clean or filter ids first")
            ),
        ).otherwise(md5_bucket48(F.col(id_col), 1 << 48, salt=seed)),
    )
    from .skew import salted_topk

    return salted_topk(
        ranked, keys, "_rkey", id_col, k=k, descending=False
    ).drop("_rkey")


def weighted_sample_k(
    df: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "wres",
    round_dp: int = 9,
) -> DataFrame:
    """Weighted exact-k per-group sample without replacement —
    Efraimidis-Spirakis A-ES: each row draws a deterministic uniform
    u from its id hash and ranks by the A-ES key DESCENDING; the top-k
    is a weighted sample without replacement (a row with twice the
    weight has exactly twice the odds of out-ranking a rival). The
    standard corpus-curation primitive for "keep k docs per source,
    favoring the long/high-quality ones", and — like
    :func:`reservoir_k` — mergeable, because a max-k of per-partition
    max-k's is exact.

    The ranking key is ``ln(u)/w`` — the monotone-equivalent log form
    of the textbook ``u**(1/w)`` (ln is strictly increasing, so the
    order is identical before rounding) chosen for DYNAMIC RANGE under
    the pre-rank rounding: at w ~ 1e6 (token counts of huge docs)
    ``u**(1/w)`` compresses into [0.999986, 1] where ``round_dp=9``
    keeps only ~14 distinct values and selection silently degrades to
    the id tiebreak, while ``ln(u)/w`` spans [-1.4e-5, -1e-9] with
    ~10^4 distinct rounded values. Very large weights still compress
    eventually — at w >~ 1e8 consider raising ``round_dp`` on both
    engines.

    Determinism contract: u is (h48 %% 1_000_000 + 1) / 1e6 — one
    correctly-rounded division of exact integers, identical in any
    engine — and the A-ES key is rounded to ``round_dp`` BEFORE the
    ranking with the id as tiebreak, so a sub-ULP ln() difference
    between libms cannot flip an order (the lexranks discipline).
    Weights must be >= 1 (integer token counts are the intended use)
    and ids non-NULL — both enforced loudly: w <= 0 or NULL would make
    the key 0/-Infinity/NULL and silently corrupt the sample (never
    sampled, always sampled, or NULL-ranked), and a NULL id can be
    neither hashed nor tie-broken.
    """
    from ..functions.scalars import round_half_up
    from ..functions.hashing import md5_bucket48
    from .skew import salted_topk

    w = F.col(weight_col).cast("double")
    u = (
        md5_bucket48(F.col(id_col), 1_000_000, salt=seed) + 1
    ) / 1_000_000.0
    key = round_half_up(F.log(u) / w, round_dp)
    guard = (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit("weighted_sample_k: NULL id — clean ids first")
            ),
        )
        .when(
            w.isNull() | (w < 1),
            F.raise_error(
                F.lit(
                    "weighted_sample_k: weights must be >= 1 and "
                    "non-NULL (integer token counts are the intended "
                    "use)"
                )
            ),
        )
        .otherwise(key)
    )
    ranked = df.withColumn("_wkey", guard)
    return salted_topk(
        ranked, keys, "_wkey", id_col, k=k, descending=True
    ).drop("_wkey")
