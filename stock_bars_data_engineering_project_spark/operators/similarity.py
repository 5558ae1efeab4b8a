"""Similarity search over embedding columns.

Two tiers, same output contract (query_id, vec_id, cos, rank):

  * ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
    query set against the full corpus, one pass, no shuffle of the
    corpus side. This is the correctness baseline AND the right plan
    whenever |queries| is small — at 100 TB the corpus streams through
    codegen'd array arithmetic once.

  * ``lsh_ann_topk`` — approximate top-k via random-hyperplane LSH:
    bucket every vector by the sign pattern of ``ANN_PLANES``
    MD5-seeded hyperplanes (deterministic, no RNG state to ship),
    probe only the query's bucket ring (hamming <= ANN_PROBE_RADIUS), rank
    within candidates. Trades recall for a ~(corpus/buckets) read
    reduction — the scale path when queries are many.

Ranking is deterministic: order by (rounded cosine desc, vec_id) so
ties break identically in any engine — required for oracle hashing.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize

from ..functions.hashing import hamming
from ..functions.scalars import round_half_up
from ..functions.vectors import as_double, as_double_sql, cosine, doubles_sql
from ..sources.readers import balance
from .skew import salted_topk


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = balance(
        corpus.select(F.col("vec_id"), F.col("embedding").alias("c_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", round_half_up(cosine("q_vec", "c_vec"), 6))
    )
    # salted two-phase ranking: a plain window on query_id would pull
    # EVERY scored corpus row of a query into one task; salting bounds
    # per-task fan-in at k x n_salt rows per query (operators/skew.py)
    out = salted_topk(
        scored, keys=("query_id",), order_col="cos", tiebreak_col="vec_id", k=k
    )
    return out.select("query_id", "vec_id", "cos", "rank")


def plane_components(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components: component i is
    ``(md5_byte("plane:{p}:{i}") / 255 - 0.5)`` — seedable, identical in
    any engine (the oracle SQL embeds the same doubles as literals; a
    round-tripped repr parses to the identical IEEE double)."""
    return [
        int(hashlib.md5(f"plane:{plane_idx}:{i}".encode()).hexdigest()[:2], 16)
        / 255.0
        - 0.5
        for i in range(dim)
    ]


# LSH blocking keeps 8 sign bits up to this many corpus rows
LSH_BASE_ROWS = 2048
# lsh_ann_topk's sign bits and probe radius
ANN_PLANES, ANN_PROBE_RADIUS = 5, 2


def lsh_planes(corpus: DataFrame) -> int:
    """Sign bits for LSH-blocking ``corpus`` (one count job): 8 up to
    ``LSH_BASE_ROWS`` rows and 2 more per doubling beyond. At a fixed
    plane count the hamming-2 probe ring admits a fixed FRACTION of all
    pairs, so candidate work grows quadratically with the corpus; +2
    planes per doubling keeps the expected candidates per vector flat.
    Capped at 62 so the bucket id stays a positive long."""
    doublings = ((max(corpus.count(), 1) - 1) // LSH_BASE_ROWS).bit_length()
    return min(62, 8 + 2 * doublings)


def lsh_bucket(vec: str, dim: int, n_planes: int) -> F.Column:
    """Sign-pattern bucket id in [0, 2^n_planes) of the SQL array
    ``vec``. The whole bucket expression — per-plane double-literal
    arrays (:func:`doubles_sql`), index-ordered dot folds, sign sum — is
    ONE ``F.expr`` parse (BASELINE.md, "Plan-construction figures"), and
    each fold mirrors ``dot``: left fold in index order from a 0.0
    double seed."""
    v = as_double_sql(vec)
    # dim mismatch must fail loudly: zip_with null-pads, the dot
    # product goes NULL, and every vector would silently land in
    # bucket 0 — degrading the "scale path" to a full cross join
    guarded = (
        f"(CASE WHEN size({v}) = {dim} THEN {v} "
        f"ELSE raise_error('lsh_bucket: embedding dim != {dim}') END)"
    )
    terms = ["0"]
    for p in range(n_planes):
        arr = doubles_sql(plane_components(dim, p))
        dotp = (
            f"aggregate(zip_with({guarded}, {arr}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"((CASE WHEN {dotp} >= 0 THEN 1 ELSE 0 END) * {1 << p})"
        )
    return F.expr("(" + " + ".join(terms) + ")")


def l2sq_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({as_double_sql(a)}, {as_double_sql(b)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
    )


def l2sq(a: str, b: str) -> F.Column:
    """Squared L2 distance, double-promoted, sequential fold — same
    accumulation order as the oracle's index-ordered list sum."""
    return F.expr(l2sq_sql(a, b))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    keep_dist: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2, ties to
    the lowest centroid id) — the IVF coarse quantizer.

    Shuffle-free: the centroid table is collapsed to ONE row holding a
    cid-sorted array of (cid, vector) structs, broadcast, and the argmin
    runs as a per-row fold — no |corpus| x K expansion, no groupBy. At
    100 TB this is a map-only pass; K (hundreds to thousands) bounds the
    broadcast at a few MB.

    ``keep_dist=True`` adds the winning squared-L2 as a ``d2`` column —
    the argmin fold already carries it, so exposing it is free, and it
    lets inertia-style training monitors reuse THIS pass instead of
    re-joining centroids and re-evaluating the distance (the
    kmeans_inertia path)."""
    cent_arr = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), as_double("cv").alias("cv")))
        ).alias("cents")
    )
    # distances materialize ONCE per centroid (transform), then the
    # argmin folds over (cid, d2) pairs — putting l2sq inside the fold's
    # comparison AND its winning struct would evaluate the O(dim) fold
    # twice per centroid (the hashing.py lambda-re-evaluation trap).
    # The whole fold is emitted as ONE F.expr parse (the
    # lsh_bucket discipline).
    dists = (
        "transform(cents, c -> named_struct("
        f"'cid', c.cid, 'd2', {l2sq_sql('c.cv', '_v')}))"
    )
    best = F.expr(
        f"aggregate({dists}, "
        "named_struct('cid', CAST(NULL AS BIGINT), "
        "'d2', CAST(NULL AS DOUBLE)), "
        "(acc, c) -> CASE WHEN acc.cid IS NULL OR c.d2 < acc.d2 "
        "THEN c ELSE acc END)"
    )
    # NULL / dim-mismatched vectors must fail loudly, same contract as
    # lsh_bucket: l2sq over a bad vector goes NULL, the argmin fold's
    # first iteration would then keep the FIRST centroid (acc.cid is
    # null -> take c) and every later `c.d2 < NULL` comparison keeps it
    # — silently assigning garbage to the lowest cid.
    dim_of = F.size(as_double("_v"))
    cent_dim = F.size(F.element_at(F.col("cents"), 1)["cv"])
    slim = balance(
        df.select(F.col("vec_id"), F.col("embedding").alias("_v"))
    )
    return (
        slim.crossJoin(F.broadcast(cent_arr))
        .withColumn(
            "_v",
            F.when(dim_of == cent_dim, F.col("_v")).otherwise(
                F.raise_error(
                    F.lit("ivf_assign: embedding NULL or dim != centroid dim")
                )
            ),
        )
        .withColumn("_best", best)
        .select(
            "vec_id",
            F.col("_v").alias("embedding"),
            F.col("_best.cid").alias("cid"),
            *([F.col("_best.d2").alias("d2")] if keep_dist else []),
        )
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iters: int,
) -> tuple[DataFrame, list[float]]:
    """Lloyd's k-means refinement of an initial (cid, cv) centroid table
    — the iterative-algorithm shape expressed as pure DataFrame ops, no
    driver-side math: per iteration one map-only assignment
    (ivf_assign's broadcast argmin fold) and one mean-recompute
    (posexplode components -> partial-agg avg per (cid, dim) ->
    re-assemble, i.e. ONE shuffle of |corpus| x dim scalars). Empty
    clusters keep their previous centroid. Lineage is truncated per
    iteration so the plan doesn't nest with iteration count.

    Converges in the usual k-means sense (inertia non-increasing —
    pinned by test); intended to polish the deterministic stride seed
    that ivf_topk starts from.

    Returns the refined centroids and the inertia trail: the inertia of
    the centroids ENTERING each iteration, measured on the same pass —
    the winning d2 rides the assignment (``keep_dist``) and its sum
    rides the mean shuffle as one extra partial-agg column, so the
    training monitor costs zero extra corpus passes (the standalone
    ``kmeans_inertia`` probe pays a full assignment per call). The
    (cid, dim)-grained mean table is materialized for the readback —
    it is K x dim rows, a metadata-sized cost — and each row repeats
    its vector's d2 once per dimension, hence the sum(sd2) / dim
    readback (within float-rescaling noise of the direct sum; callers
    compare with relative tolerance)."""
    cents = centroids.select("cid", as_double("cv").alias("cv"))
    inertia_in: list[float] = []
    for _ in range(n_iters):
        assigned = ivf_assign(corpus, cents, keep_dist=True)
        comp = assigned.select(
            "cid", "d2", F.posexplode(as_double("embedding")).alias("pos", "x")
        )
        mean = materialize(
            comp.groupBy("cid", "pos").agg(
                F.avg("x").alias("m"), F.sum("d2").alias("sd2")
            )
        )
        tot = mean.agg(
            F.sum("sd2").alias("s"), (F.max("pos") + 1).alias("dim")
        ).first()
        inertia_in.append(float(tot["s"]) / int(tot["dim"]))
        new = (
            mean.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
        )
        cents = (
            cents.select("cid", F.col("cv").alias("old"))
            .join(new, "cid", "left")
            .select("cid", F.coalesce(F.col("cv"), F.col("old")).alias("cv"))
            .transform(materialize)
        )
    return cents, inertia_in


def kmeans_inertia(corpus: DataFrame, centroids: DataFrame) -> float:
    """Sum of squared distances to assigned centroids — the quantity
    Lloyd iterations must not increase. One map-only pass: the argmin
    fold already computed the winning distance, so this reads it off
    (``keep_dist``) instead of re-joining centroids and re-evaluating
    l2sq — at 100 TB the training monitor costs exactly the assignment
    pass it was going to pay anyway."""
    return (
        ivf_assign(corpus, centroids, keep_dist=True)
        .agg(F.sum("d2"))
        .first()[0]
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-10: partition the corpus into inverted lists by
    nearest centroid (deterministic centroid seed: every 125th vector by
    id), probe each query against its
    ``nprobe`` nearest lists only, exact-rank the candidates.

    The scale shape: assignment is map-only (see ivf_assign); the probe
    join keys on cid, so each query reads ~nprobe/K of the corpus
    instead of all of it — the classic IVF recall/cost dial."""
    cent = (
        centroids
        if centroids is not None
        else corpus.filter(F.col("vec_id") % 125 == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
    )
    assigned = ivf_assign(corpus, cent)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    # nprobe nearest centroids per query (deterministic (d2, cid) order)
    qc = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d2", l2sq("q_vec", "cv"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cid")
            ),
        )
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", "cid")
    )
    cand = assigned.join(F.broadcast(qc), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos", round_half_up(cosine("q_vec", "embedding"), 6)
    )
    # salted two-phase ranking, same as cosine_topk: with large inverted
    # lists a plain per-query window funnels every candidate of a query
    # into one task — the exact skew wall the brute-force path was
    # hardened against; result identical (exact top-k, tie-free order)
    return salted_topk(scored, ("query_id",), "cos", "vec_id", 10).select(
        "query_id", "vec_id", "cos", "rank"
    )


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-10: candidates = corpus vectors whose
    ``ANN_PLANES``-bit bucket is within ``ANN_PROBE_RADIUS`` sign-flips
    of the query's bucket (multi-probe LSH), then exact-rank the
    candidates."""
    c = balance(corpus.select(F.col("vec_id"), F.col("embedding").alias("c_vec"))).select(
        "vec_id",
        "c_vec",
        lsh_bucket("c_vec", 64, ANN_PLANES).alias("c_bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        lsh_bucket("embedding", 64, ANN_PLANES).alias("q_bucket"),
    )
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(
            hamming(F.col("c_bucket"), F.col("q_bucket")) <= ANN_PROBE_RADIUS
        )
        .withColumn("cos", round_half_up(cosine("q_vec", "c_vec"), 6))
    )
    # salted ranking: the bucket ring admits a fixed fraction of the
    # corpus per query, so the per-query candidate set scales with the
    # corpus — rank it with bounded per-task fan-in (see cosine_topk)
    return salted_topk(cand, ("query_id",), "cos", "vec_id", 10).select(
        "query_id", "vec_id", "cos", "rank"
    )


# product quantization: subspaces, dimensions, codebook seed stride,
# and the ADC candidates reranked by exact cosine
PQ_M, PQ_DIM, PQ_STRIDE = 4, 64, 32
PQ_RERANK = 32


def pq_codebook(corpus: DataFrame) -> DataFrame:
    """Deterministic product-quantization codebook: split the
    ``PQ_DIM``-dim space into ``PQ_M`` contiguous subspaces and take
    every ``PQ_STRIDE``-th corpus vector's subvectors as the codewords
    (the same RNG-free seeding rule as IVF's stride centroids, so the
    oracle can replay codeword identity exactly; a Lloyd polish per
    subspace would slot in like kmeans_refine but is deliberately
    omitted from the gated path).

    Returns ONE row {cb: array<struct<s,j,cw>>} sorted by (s, j) —
    m x K codewords of dim/m doubles, a few hundred KB at production K,
    broadcast to every task.

    K = |corpus| / PQ_STRIDE grows with the corpus, so encode cost is
    O(N^2 / PQ_STRIDE): right at this suite's sizes only. Holding K
    constant (classically 256, one byte per code) would need a stride
    that grows with the corpus; encode cost is then O(N * K * dim),
    linear in the corpus."""
    m, stride, sub = PQ_M, PQ_STRIDE, PQ_DIM // PQ_M
    # j MUST be the codeword's dense 0-based rank, not id/stride: the
    # ADC scan looks codewords up by POSITION in the (s, j)-sorted
    # lookup arrays, so gaps in the id space (ids not starting at 0, or
    # not multiples of stride) would otherwise read the wrong codeword's
    # partial — or walk off the array. The rank is ordered by id, a
    # strictly increasing map from id/stride, so argmin tie-breaking
    # (lowest j) picks the same codeword either way and the value-keyed
    # oracle join is unaffected. The global window ranks only the K
    # seed rows, the same bounded-window pattern as the vocab top-100
    # ranking.
    w_seed = Window.orderBy(F.col("vec_id"))
    cw = (
        corpus.filter(F.col("vec_id") % stride == 0)
        .select(F.col("vec_id"), as_double("embedding").alias("cv"))
        .select(
            (F.row_number().over(w_seed) - 1).cast("long").alias("j"), "cv"
        )
    )
    subs = cw.select(
        "j",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(m - 1).cast("long"))
        ).alias("s"),
        "cv",
    ).select(
        "s",
        "j",
        F.slice(F.col("cv"), (F.col("s") * sub + 1).cast("int"), sub).alias("cw"),
    )
    return subs.agg(
        F.array_sort(F.collect_list(F.struct("s", "j", "cw"))).alias("cb")
    )


def pq_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Product-quantization ANN top-10 (IVF-PQ's scoring half): encode
    every corpus vector as ``PQ_M`` codeword ids (its compressed representation —
    m bytes/vector at K<=256 instead of 4*dim, the asymmetric-distance
    trick of Jegou et al.'s PQ paper), score candidates by ADC table
    lookups only, then exact-cosine rerank the top ``PQ_RERANK``.

    Scale shape: encoding is one map-only pass against the broadcast
    codebook (argmin fold per subspace, ties to the lowest codeword id);
    the ADC scan touches ONLY the m-byte codes plus a broadcast
    per-query lookup table (m x K partial dot products) — the full
    vectors are read again just for the |queries| x PQ_RERANK survivors,
    fetched by a broadcast semi-join. No shuffle anywhere except the
    bounded salted ranking. FP determinism: subspace partials are
    looked up in subspace order and left-folded from 0.0, matching the
    oracle's fixed-order sum, so ADC scores are bit-identical."""
    m, dim, sub = PQ_M, PQ_DIM, PQ_DIM // PQ_M
    cb_row = pq_codebook(corpus)

    # m and sub are PYTHON constants, so the inner distance/dot loops
    # unroll into flat expression trees instead of nested HOF lambdas
    # (zip_with + per-element aggregate evaluate interpreted inside a
    # higher-order function — measured ~4x slower for the encode, the
    # same finding that moved the simhash/minhash hashing to codegen).
    # Left-associated sums keep bit-identical FP accumulation with both
    # the fold form and the oracle's list_reduce. The unrolled trees are
    # built as SQL strings and parsed in ONE F.expr per consumer: py4j
    # pays a driver round-trip per Column node (BASELINE.md,
    # "Plan-construction figures").
    def unrolled_l2(s):
        # sum_i (cw_i - v_{s*sub+i})^2, i = 1..sub, left-assoc; the
        # square is an explicit product, not pow(x, 2) — POW may route
        # through Math.pow, which is not guaranteed bit-identical
        def sq(i):
            d = f"(element_at(c.cw, {i}) - element_at(_v, {s * sub + i}))"
            return f"({d} * {d})"

        return "(" + " + ".join(sq(i) for i in range(1, sub + 1)) + ")"

    def unrolled_dot(s):
        return "(" + " + ".join(
            f"(element_at(q_vec, {s * sub + i}) * element_at(c.cw, {i}))"
            for i in range(1, sub + 1)
        ) + ")"

    # per-row encode: for each subspace, fold argmin over that
    # subspace's codewords (cb is (s,j)-sorted, filter preserves order).
    # Distances materialize once per codeword (transform) before the
    # fold — the lambda-re-evaluation trap ivf_assign documents.
    def argmin_code(s):
        return (
            f"aggregate("
            f"transform(filter(cb, c -> c.s = {s}), "
            f"c -> named_struct('j', c.j, 'd2', {unrolled_l2(s)})), "
            f"named_struct('j', CAST(NULL AS BIGINT), "
            f"'d2', CAST(NULL AS DOUBLE)), "
            f"(acc, c) -> CASE WHEN acc.j IS NULL OR c.d2 < acc.d2 "
            f"THEN c ELSE acc END"
            f").j"
        )

    codes_expr = F.expr(
        "array(" + ", ".join(argmin_code(s) for s in range(m)) + ")"
    )
    # NULL/short vectors would silently encode to codeword 0 via the
    # null-poisoned fold — same loud contract as ivf_assign
    guarded_v = F.when(
        F.size(F.col("_v")) == dim, F.col("_v")
    ).otherwise(F.raise_error(F.lit(f"pq_topk: embedding NULL or dim != {dim}")))
    corpus_codes = (
        balance(
            corpus.select(
                F.col("vec_id"), as_double("embedding").alias("_v")
            )
        )
        .crossJoin(F.broadcast(cb_row))
        .withColumn("_v", guarded_v)
        .select("vec_id", codes_expr.alias("codes"))
    )

    # per-query ADC lookup table tq[s][j] = <q_sub(s), cw(s,j)> — the
    # nested-array layout makes each scan lookup O(1) element_at
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("q_vec")
    )
    def tq_for(s):
        return (
            f"transform(filter(cb, c -> c.s = {s}), "
            f"c -> {unrolled_dot(s)})"
        )

    # qt deliberately does NOT carry q_vec: the crossJoin replicates qt's
    # columns onto every ADC row, and a 64-double query vector riding the
    # N x |queries| salted shuffle would cost more at scale than the one
    # extra broadcast-build job the rerank's separate q join costs here
    qt = (
        q.crossJoin(F.broadcast(cb_row))
        .withColumn(
            "tq",
            F.expr("array(" + ", ".join(tq_for(s) for s in range(m)) + ")"),
        )
        .select("query_id", "tq")
    )

    # approx = sum_s tq[s][codes[s]], left-assoc in subspace order
    approx = F.expr(
        " + ".join(
            f"element_at(element_at(tq, {s + 1}), "
            f"CAST(element_at(codes, {s + 1}) + 1 AS INT))"
            for s in range(m)
        )
    )
    # project to exactly the ranking triple — codes and the tq table
    # must not ride the salted shuffle
    adc = (
        corpus_codes.crossJoin(F.broadcast(qt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", round_half_up(approx, 6).alias("approx")
        )
    )
    cand = salted_topk(adc, ("query_id",), "approx", "vec_id", PQ_RERANK).select(
        "query_id", "vec_id"
    )

    # rerank: fetch full vectors for the |queries| x PQ_RERANK survivors
    scored = (
        corpus.select(F.col("vec_id"), F.col("embedding").alias("c_vec"))
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", round_half_up(cosine("q_vec", "c_vec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))
    )
