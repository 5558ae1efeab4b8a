"""Deduplication operators for training-data pipelines, at five rigor
levels: exact, MinHash+LSH, SimHash, inverted-index n-gram Jaccard, and
embedding-cosine. Every operator is a pure ``DataFrame -> DataFrame``
transform built from joins/groupBys/higher-order array functions — no
Python in the hot path, no driver-side materialization.

Scale shapes (the part that matters at 100 TB):
  * exact: one hash-aggregate shuffle on the content key.
  * minhash_lsh: rows explode x bands (small constant), ONE shuffle on
    (band_idx, band_hash) into bucket-local pair expansion — collision
    groups are tiny by construction, the hashing stage is scanned exactly
    once (a self-join would recompute it per side), and candidate pairs
    are then verified with exact Jaccard.
  * ngram_jaccard: inverted-index join on shingle, count-intersections
    aggregate with a lossless length prune ahead of it — the standard
    all-pairs-similarity shape (cf. Vernica et al.); hot shingles are
    the skew hazard.
  * simhash: 60-bit fingerprint per doc, pairs blocked on a matching
    (block, sub-block) key of a two-level pigeonhole split -> hamming
    <= 3 filter, each pair emitted from one canonical bucket.
  * embedding: hyperplane-LSH blocked pair cosine
    (``embedding_dup_pairs_blocked``, the scale path), next to the
    brute-force cross join that is its recall baseline.

``dedup_clusters`` turns any of these pair sets into duplicate clusters
(large-star/small-star connected components), and
``canonical_selection`` picks each cluster's keeper and split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    SIMHASH_BITS,
    SIMHASH_BLOCK_BITS,
    SIMHASH_BLOCKS,
    MINHASH_SIGS,
    hamming,
    lsh_band_hashes,
)
from ..functions.scalars import round_half_up
from ..functions.text import tokens, word_shingles
from ..functions.vectors import cosine, cosine_from_norms_sql, dot_sql, norm
from ..materialize import materialize
from ..sources.readers import balance


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5 content key -> (n_copies, keeper =
    lowest id). One shuffle; at 100 TB the md5-of-text beats shuffling
    full documents as the group key."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("content_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep exactly one row (lowest id) per distinct content."""
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    )


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sig) from a ``_shingled`` frame — explode +
    codegen aggregation, bit-identical to the per-row
    ``minhash_signature`` fold (pinned in test_dedup).

    Same restructuring as ``simhash_fingerprints``: the HOF fold
    evaluates its 16-md5 lambda body interpreted per shingle; here each
    shingle becomes a row, the 16 seeded md5s are codegen expressions,
    and the signature is 16 MIN() aggregates (plus COUNT for the
    length-prune payload) — whole-stage codegen end to end, one
    partial-aggregated row per doc into the shuffle. Measured ~2-4x at
    the x64 soak scale (minhash_lsh_pairs 12.2 s warm-JVM vs 27-48 s
    for the HOF fold in an isolated soak)."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("_sh"))
    ex = ex.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("_sh"))).alias(f"_h{s}")
            for s in range(MINHASH_SIGS)
        ],
    )
    agg = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[F.min(f"_h{s}").alias(f"_m{s}") for s in range(MINHASH_SIGS)],
    )
    return agg.select(
        "doc_id",
        "n_sh",
        F.array(*[F.col(f"_m{s}") for s in range(MINHASH_SIGS)]).alias("sig"),
    )


def _shingled(df: DataFrame) -> DataFrame:
    slim = balance(
        df.select(F.col("doc_id"), F.col("text").alias("_text"))
    )
    return slim.select(
        "doc_id",
        F.array_distinct(word_shingles("_text", 3)).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def _bucket_combos(df: DataFrame, keys: list[str], item):
    """The shared in-bucket ordered-pair expansion: groupBy the bucket
    keys, collect the sorted item set, and build the a<b combination
    array. Consumers explode ``combos`` and apply their OWN dedup
    strategy (``_bucket_pairs``: filter + dropDuplicates; the blocked
    embedding path: canonical-group emission) — keeping the expansion
    expression in one place so a fix to its evaluation trade-offs (see
    the interpreted-lambda note in ``_bucket_pairs``) cannot drift."""
    buckets = (
        df.groupBy(*keys)
        .agg(F.array_sort(F.collect_set(item)).alias("items"))
        .filter(F.size("items") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size("items")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return buckets, combos


def _bucket_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    payload_cols: tuple[str, ...] = (),
    pair_pred=None,
    pred_keys: tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """Distinct ordered id pairs that share a bucket key — via ONE
    groupBy + in-bucket pair expansion instead of a self-join. A
    self-join would scan (and recompute) the upstream plan twice; here
    the expensive hashing stage upstream runs exactly once, and the only
    shuffle payload is (key, id, small payload). Bucket sizes are small
    by construction for LSH-style keys, so the in-bucket expansion never
    goes quadratic globally; a pathological all-identical corpus is
    quadratic in ANY pairing scheme.

    ``pair_pred(a, b)`` (struct Columns with fields id, *payload_cols)
    is applied between the bucket expansion and the distinct-pair
    shuffle. When the verify predicate is payload-computable (hamming
    over fingerprint payloads), this collapses the candidate set before
    it ever shuffles: dropDuplicates then carries only verified pairs
    (hundreds) instead of every co-bucketed candidate (hundreds of
    thousands when the corpus is block-collision-heavy — short texts
    collide on 15-bit simhash blocks far more than long ones). The
    filter runs ROW-level after the explode — whole-stage-codegen
    territory — NOT inside the array expression: higher-order-function
    lambdas evaluate interpreted per element, and measured 4x slower
    than the codegen'd row filter on the same corpus.

    ``pred_keys`` names bucket-key columns to pass to ``pair_pred`` as
    extra positional Columns — a predicate that can decide, from the
    payloads plus the bucket key, that THIS bucket is the pair's one
    canonical emission site makes the output distinct by construction;
    such callers pass ``distinct=False`` and skip the distinct-pair
    shuffle entirely.

    Returns struct columns ``a``/``b`` with fields (id, *payload_cols),
    ordered ``a.id < b.id``.
    """
    item = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in payload_cols])
    buckets, combos = _bucket_combos(df, keys, item)
    exploded = buckets.select(
        *[F.col(k) for k in pred_keys], F.explode(combos).alias("p")
    ).select(*pred_keys, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    if pair_pred is not None:
        exploded = exploded.filter(
            pair_pred(F.col("a"), F.col("b"), *[F.col(k) for k in pred_keys])
        )
    exploded = exploded.select("a", "b")
    return exploded.dropDuplicates(["a", "b"]) if distinct else exploded


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-Jaccard verified.

    shingle -> 16 MD5-minhash sigs -> 4 bands -> explode band keys ->
    bucket-aggregate pair expansion on (band, key) -> distinct candidate
    pairs -> verify with exact Jaccard >= 0.7. Banding bounds the
    candidate set: only docs agreeing on an entire band ever meet. The
    bucket aggregation (vs. a band self-join) computes the per-shingle
    minhash signatures exactly once and never shuffles the shingle
    arrays with the band keys. The verify joins stream the full shingled
    relation on each side (the candidate-id filter does not push below
    the shingling projection), so shingling itself runs once per verify
    side — what stays candidate-sized is the SHUFFLE/JOIN payload, the
    part that dominates at scale. (Incremental ingestion's verify
    semi-joins the docs to the candidate ids first and re-shingles only
    those — see operators/incremental_dedup.py.)
    """
    shingled = _shingled(df)
    # codegen explode+agg signatures (see minhash_signatures); the agg
    # output is materialized ahead of the band expressions, so the
    # per-shingle hashing runs exactly once per doc
    sig = minhash_signatures(shingled)
    banded = sig.select(
        "doc_id",
        "n_sh",
        F.posexplode(lsh_band_hashes(F.col("sig"))).alias("band_idx", "band_key"),
    )
    # length filter (lossless): jaccard >= t forces the smaller shingle
    # set to be >= t of the larger (|A∩B| <= min <= max <= |A∪B|), so
    # size-ratio violations can be dropped BEFORE the distinct-pair
    # shuffle and the shingle-array verify join — the standard prefix/
    # length prune from the similarity-join literature, carried as an
    # 8-byte bucket payload. The emit contract downstream is the
    # ROUNDED jaccard >= t (round_half_up to 4), so the prune must keep
    # pairs whose true J sits within half an ulp-at-scale-4 below t
    # (J = 0.69995 rounds to 0.7000 and must be emitted); the 1e-3
    # slack covers that boundary band plus double-repr of t, and only
    # admits extra candidates — never drops one.
    pairs = _bucket_pairs(
        banded,
        ["band_idx", "band_key"],
        "doc_id",
        ("n_sh",),
        pair_pred=lambda a, b: F.least(a["n_sh"], b["n_sh"])
        >= F.lit(0.7 - 1e-3) * F.greatest(a["n_sh"], b["n_sh"]),
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    cand = (
        pairs.select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = round_half_up(inter / union, 4)
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact all-pairs 3-shingle Jaccard >= 0.7 — no LSH recall loss.

    Full inverted index: every pair sharing >= 1 shingle meets in the
    postings join and the intersection is COUNTED inside the
    (partial-aggregable) groupBy, so no shingle array is ever
    re-fetched. Measured faster than SSJoin prefix filtering on this
    corpus at every scale tried (x16 replication: 9.3s vs 19.9s steady)
    because the verify is free and the join stays aggregate-bound.
    """
    shingled = _shingled(df)
    inv = shingled.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    a = inv.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = inv.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # lossless length prune ahead of the pair-count aggregate:
        # a size-ratio below the threshold already caps jaccard
        # under it, so those rows never enter the groupBy shuffle.
        # 1e-3 slack: the emit contract is ROUNDED jaccard >= t
        # (half-up at 4 decimals), so true J in [t - 5e-5, t) must
        # survive the prune — slack only admits extra candidates.
        .filter(
            F.least("n_a", "n_b")
            >= F.lit(0.7 - 1e-3) * F.greatest("n_a", "n_b")
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = round_half_up(
        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """Per-document 60-bit SimHash fingerprint, explode + codegen
    aggregation.

    Bit-identical to the per-row ``simhash60`` expression (test_dedup
    pins it to a hashlib replay of that definition), but restructured
    for throughput: higher-order-function
    lambdas (aggregate/transform/zip_with) evaluate INTERPRETED per
    array element — measured ~94 us/doc at the x64 soak scale, the
    whole cost of the dedup pipeline. Here each token becomes a row
    (explode_outer keeps token-less docs), the per-token md5 runs ONCE
    as a codegen expression, and the 60 vote counters are plain
    SUM(CASE) aggregates — everything inside WholeStageCodegen.
    Measured ~3x faster at the x64 soak scale (fingerprints 30.1 s ->
    10.8 s, full simhash_pairs 34.1 s -> ~5 s warm-JVM) and
    work-linear per doubling. The groupBy(doc_id) introduces one
    shuffle the old map-only plan didn't have, but a doc's votes all
    sit in one partition, so the map-side partial aggregate collapses
    them to ONE row per doc before it moves — n skinny rows, nothing
    like the token volume."""
    slim = balance(
        df.select(F.col("doc_id"), F.col("text").alias("_text"))
    )
    tok = slim.select(
        "doc_id", F.explode_outer(tokens("_text")).alias("_tok")
    )
    # same h1/h2 split as simhash60: md5 prefix 60 bits as two
    # double-exact halves (28 high via h1, 32 low via h2)
    h1 = F.conv(F.substring(F.md5("_tok"), 1, 7), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5("_tok"), 8, 8), 16, 10).cast("long")
    tok = tok.select("doc_id", h1.alias("_h1"), h2.alias("_h2"))

    # The 60 vote aggregates and the 60-piece fingerprint assembly are
    # each ONE F.expr parse instead of loop-built Column trees: py4j
    # constructs expressions one round-trip per operator node (~2 s of
    # pure driver time per call for these two loops, measured), while
    # the SQL parser builds the identical trees in a
    # few ms. CASE WHEN b IS NULL handles the explode_outer row of a
    # NULL-text doc (split of non-null text never yields an empty
    # array): zero votes, and the _ntok guard below turns the whole
    # fingerprint NULL to match simhash60's fold over a NULL token
    # array.
    def vote_sql(j: int) -> str:
        src, off = ("_h2", j) if j < 32 else ("_h1", j - 32)
        b = f"(shiftright({src}, {off}) & 1)"
        return (
            f"sum(CASE WHEN {b} IS NULL THEN 0 "
            f"WHEN {b} = 1 THEN 1 ELSE -1 END)"
        )

    agg = tok.groupBy("doc_id").agg(
        F.count("_h1").alias("_ntok"),
        *[
            F.expr(vote_sql(j)).alias(f"_s{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    fingerprint_sql = " | ".join(
        f"(CASE WHEN _s{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    # NULL text -> NULL fingerprint, exactly like the per-row simhash60
    # over tokens(NULL); NULL fingerprints then never pair downstream
    # (NULL bucket values survive to the expansion, but the hamming
    # predicate is NULL there and the filter drops the pair — the same
    # way the old path behaved)
    return agg.select(
        "doc_id",
        F.expr(
            f"CASE WHEN _ntok > 0 THEN ({fingerprint_sql}) END"
        ).alias("simhash"),
    )


# 45 remainder bits split into 4 sub-blocks; derived-constant guard: a
# change to SIMHASH_BITS/SIMHASH_BLOCK_BITS without updating these
# widths would silently lose candidate pairs
_SIMHASH_SUB_WIDTHS = (12, 11, 11, 11)
assert sum(_SIMHASH_SUB_WIDTHS) == SIMHASH_BITS - SIMHASH_BLOCK_BITS, (
    "simhash sub_widths must cover every remainder bit exactly"
)
assert len(_SIMHASH_SUB_WIDTHS) == SIMHASH_BLOCKS


def _simhash_block_pieces(col: str):
    """Yield (flat_idx, block_val, sub_val) SQL-string triples for every
    (block i, sub-block j) of a 60-bit fingerprint — THE one definition
    of the two-level split, shared by the bucket keys and the canonical
    first-match index so they cannot drift. SQL strings rather than
    Column trees: py4j pays one driver round-trip per
    expression node, so the loop-built Column form cost ~0.5 s of pure
    plan construction per call where F.expr parses the identical tree
    in single-digit ms."""
    bb = SIMHASH_BLOCK_BITS
    mask = (1 << bb) - 1
    for i in range(SIMHASH_BLOCKS):
        block_val = f"(shiftright({col}, {i * bb}) & {mask})"
        # remainder: all fingerprint bits except block i, packed low
        low = f"({col} & {(1 << (bb * i)) - 1})"
        high = f"shiftright({col}, {bb * (i + 1)})"
        rem = f"({low} | shiftleft({high}, {bb * i}))"
        off = 0
        for j, w in enumerate(_SIMHASH_SUB_WIDTHS):
            sub_val = f"(shiftright({rem}, {off}) & {(1 << w) - 1})"
            off += w
            yield i * SIMHASH_BLOCKS + j, block_val, sub_val


def _simhash_first_match_idx(x: str, y: str) -> Column:
    """The smallest flat (block, sub) index where two fingerprints agree
    on BOTH the block and the sub-block — pure bit arithmetic over
    x XOR y (a piece matches iff its bits of the diff are all zero).
    Every hamming<=3 pair has at least one such index (the two-level
    pigeonhole), so emitting a pair ONLY from that bucket makes the
    pair output distinct by construction — no duplicate emissions to
    shuffle, no distinct-pair stage at all. ``x``/``y`` are SQL column
    references (struct-field paths allowed), one parse total."""
    diff = f"({x} ^ {y})"
    whens = " ".join(
        f"WHEN ({block_d} = 0 AND {sub_d} = 0) THEN {flat}"
        for flat, block_d, sub_d in _simhash_block_pieces(diff)
    )
    return F.expr(f"CASE {whens} ELSE -1 END")


def simhash_pairs_from_fingerprints(fp: DataFrame) -> DataFrame:
    """Blocking + verify over precomputed (doc_id, simhash) rows — see
    ``simhash_pairs``; split out so completeness can be pinned against
    brute force on synthetic fingerprints without text hashing."""
    keys_sql = ", ".join(
        # one long key: block value in the high bits, sub value low
        f"(shiftleft({block_val}, 12) | {sub_val})"
        for _, block_val, sub_val in _simhash_block_pieces("simhash")
    )
    blocked = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(f"array({keys_sql})")).alias(
            "block_idx", "block_val"
        ),
    )
    # hamming <= k verified INSIDE the bucket expansion: the shuffle
    # after it sees only true near-dups, not every block collision
    # (277k collisions vs 512 survivors on the sf0.1 corpus); the
    # first-match-index check makes each pair's emission unique across
    # the 16 buckets it may share, so no distinct stage follows
    pairs = _bucket_pairs(
        blocked,
        ["block_idx", "block_val"],
        "doc_id",
        ("simhash",),
        pair_pred=lambda a, b, block_idx: (
            hamming(a["simhash"], b["simhash"]) <= F.lit(3)
        )
        & (_simhash_first_match_idx("a.simhash", "b.simhash") == block_idx),
        pred_keys=("block_idx",),
        distinct=False,
    )
    return pairs.select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        hamming(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
    )


def simhash_pairs(df: DataFrame) -> DataFrame:
    """SimHash near-dup pairs, Manku-style TWO-LEVEL pigeonhole blocking
    with canonical single-bucket emission.

    Level 1: split the 60-bit fingerprint into 4 x 15-bit blocks —
    hamming <= 3 over 4 blocks forces at least one block identical.
    Level 2 (the fixed-bucket-space fix): GIVEN the matched block, the
    remaining 45 bits still carry <= 3 errors, so splitting them into 4
    sub-blocks (12+11+11+11) forces one sub-block identical too. Keying
    buckets on (block, block_val, sub, sub_val) is therefore still
    candidate-complete for hamming <= 3, while the key space grows from
    4*2^15 to 16*2^26. With single-level blocking the bucket COUNT is
    fixed, so occupancy grows linearly with the corpus and candidate
    pairs quadratically — measured super-linear on the x16 -> x32 soak
    (28 s -> 63 s for 2x docs); two-level keeps expected occupancy near
    zero through x32 at the cost of 16 explode rows per doc instead
    of 4. The fingerprint (an int64) rides along as bucket payload, so
    the token-hashing stage runs once and the exact hamming check needs
    no re-join. A verified pair can co-bucket in up to all 16 keys; it
    is emitted ONLY from its first matching (block, sub) index
    (map-side bit math over the XOR), so the former distinct-pair
    shuffle — up to 16x the true pair count on collision-heavy
    corpora — is gone entirely."""
    fp = simhash_fingerprints(df)
    return simhash_pairs_from_fingerprints(fp)


# Round budget of the connected-components loop: past it the labels
# are not yet minimal, so the loop raises instead of answering.
STAR_ROUNDS = 30


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs -> duplicate clusters:
    every doc labeled with the smallest doc_id reachable through the
    pair graph (the canonical keeper). THE dedup endgame — pairwise
    output alone can't answer "which copies do I drop" when dups chain
    (a~b, b~c but not a~c).

    Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14), which
    contract paths exponentially: O(log n) rounds on any topology, so
    a template that drifts one token per revision (a path graph of
    diameter n) costs O(log n) rounds, not O(n):

    - large-star: every node's strictly-larger neighbors re-wire to
      the minimum of its closed neighborhood (one groupBy-min + join
      on the directed edge list);
    - small-star: every node's smaller-or-equal neighbors re-wire the
      same way, keeping the graph connected while flattening it toward
      a star per component.

    Both steps are one aggregate + one join over the (pair-graph-
    sized, corpus-small) edge set, shuffle-keyed on node id; the fixed
    point is a forest of stars whose centers are the component minima.

    Input: pairs with columns doc_a, doc_b. Output: (doc_id, cluster_id)
    for every doc that appears in some non-self pair; singleton docs
    are their own cluster by definition and need no row.

    Each round materializes through ``materialize``, so the
    ``spark.graft.durableCheckpoint`` session conf picks executor-local
    blocks or a reliable ``checkpoint()`` for it as for every other
    materializing operator.
    """
    # (larger, smaller)-oriented edge list, one row per undirected edge;
    # materialized BEFORE iterating: `pairs` usually arrives as the
    # un-materialized LSH pipeline, which every round would re-run
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = materialize(edges)
    members = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    members = materialize(members)

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetrize, then every strictly-larger neighbor of u hooks
        # onto m(u) = min(N(u) ∪ {u}); output re-oriented (larger,
        # smaller) because m(u) <= u < v
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is (larger, smaller)-oriented, so N(u) here is exactly the
        # smaller neighborhood: every neighbor (and u itself) hooks
        # onto its minimum; orientation is preserved (v > m, u > m)
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        j = e.join(m, "u")
        return (
            j.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
            .distinct()
        )

    for _ in range(STAR_ROUNDS):
        new_edges = materialize(_small_star(_large_star(edges)))
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        # Silent wrong answers are worse than failure: unconverged
        # labels are not yet minimal and "keeper" semantics would
        # split one cluster.
        raise RuntimeError(
            f"dedup_clusters did not converge in {STAR_ROUNDS} "
            "alternating rounds"
        )
    # fixed point: a star forest of (child, root) edges, root = the
    # component minimum; roots appear only on the v side, so their own
    # label rows come from the members complement.
    child = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    roots = members.join(
        child.select(F.col("doc_id").alias("node")), "node", "left_anti"
    ).select(F.col("node").alias("doc_id"), F.col("node").alias("cluster_id"))
    return child.unionByName(roots)


def embedding_dup_pairs(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs — brute force all-pairs baseline.
    O(n^2) in corpus size: this is the RECALL ORACLE for tests, not the
    production path. ``embedding_dup_pairs_blocked`` is the default at
    scale (and the registered query)."""
    slim = balance(df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")))
    a = slim.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"))
    b = slim.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", round_half_up(cosine("v_a", "v_b"), 4))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b", "cos")
    )


def embedding_dup_pairs_blocked(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs, hyperplane-LSH blocked — the
    scale path. Every 64-dim vector gets a deterministic n-bit sign
    bucket (similarity.lsh_bucket; n = similarity.lsh_planes, 8 at this
    suite's sizes, growing with the corpus); a pair becomes a candidate
    iff the buckets are within hamming distance 2, realized WITHOUT a
    self-join: each vector emits its bucket plus the n one-bit flips as
    probe keys, and two key sets intersect exactly when
    hamming(bucket_a, bucket_b) <= 2. Candidates then get the exact
    cosine verify. Plan shape: one map-only bucket pass, one
    (n+1)-way key explode, one groupBy-expand over tiny buckets
    (_bucket_pairs), two id-equi-joins to re-fetch vectors for the
    candidate set only — no cross join anywhere, linear in corpus size
    for bounded bucket occupancy.

    The candidate rule is deterministic, so the DuckDB oracle replays it
    exactly (same md5-derived plane literals, same hamming cut) — like
    ann_topk_ivf, bucket membership itself is correctness-gated. Blocking
    trades recall for scale: pairs at cosine >= 0.4 whose buckets differ
    by > 2 bits are not emitted (measured against the exact baseline in
    tests/test_dedup.py)."""
    from .similarity import lsh_bucket, lsh_planes

    n_planes = lsh_planes(df)
    slim = balance(df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")))
    bucketed = slim.select(
        "_id", lsh_bucket("_v", 64, n_planes).alias("_bucket")
    )
    probe_keys = F.array(
        F.col("_bucket"),
        *[F.col("_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
    )
    probed = bucketed.select(
        "_id", "_bucket", F.explode(probe_keys).alias("_probe")
    )
    item = F.struct(F.col("_id").alias("id"), F.col("_bucket").alias("bucket"))
    groups, combos = _bucket_combos(probed, ["_probe"], item)
    pairs = groups.select("_probe", F.explode(combos).alias("p"))
    # Canonical-group filter instead of a dropDuplicates shuffle: a
    # hamming-0 pair co-occurs in all n_planes+1 key groups, a
    # hamming-1/2 pair in exactly 2 — so each pair is emitted ONLY from
    # the group whose key equals the minimum of the pair's shared probe
    # keys, which both sides can compute from the two buckets alone.
    ba, bb = F.col("p.a.bucket"), F.col("p.b.bucket")
    x = ba.bitwiseXOR(bb)
    lowbit = x.bitwiseAND(-x)
    canonical = (
        F.when(x == 0, F.least(ba, *[ba.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]))
        .when(F.bit_count(x) == 1, F.least(ba, bb))
        .otherwise(F.least(ba.bitwiseXOR(lowbit), ba.bitwiseXOR(x.bitwiseXOR(lowbit))))
    )
    cand = pairs.filter(F.col("_probe") == canonical).select(
        F.col("p.a.id").alias("id_a"), F.col("p.b.id").alias("id_b")
    )
    # Verify stage: norms hoisted to once-per-vector (not once-per-pair
    # as the naive cosine() would — at hamming<=2 blocking the pair set
    # is ~15% of n^2 for 8-bit buckets, so per-pair work is the cost
    # driver). The dot stays the compact aggregate fold: an expanded
    # per-element arithmetic tree was measured 4x faster steady-state
    # but blew whole-stage codegen compilation (~45 s first run — the
    # 64 KB method limit), a bad trade for a once-per-corpus operator.
    # Values are bit-identical to cosine()'s fold, so the oracle holds.
    va = slim.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("v_a"),
        norm("_v").alias("_na"),
    )
    vb = slim.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("v_b"),
        norm("_v").alias("_nb"),
    )
    pair_cos = round_half_up(
        F.expr(cosine_from_norms_sql(dot_sql("v_a", "v_b"), "_na", "_nb")), 4
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", pair_cos)
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b", "cos")
    )


def canonical_selection(
    clusters: DataFrame,
    docs: DataFrame,
) -> DataFrame:
    """Cluster-level dedup endgame: pick the KEEPER of each duplicate
    cluster and assign every member a leakage-safe split label.

    Real pipelines don't keep the minimum doc_id — they keep the
    best-quality copy (longest text, highest quality score). And they
    must not hash-split cluster members independently: near-identical
    documents straddling train and test leak evaluation data, which is
    exactly what dedup was supposed to prevent. Both decisions are made
    here at CLUSTER granularity:

      * ``keep``: True for the member maximizing ``n_chars``
        (tie -> lowest id) within its cluster.
      * ``split``: ``stable_split`` keyed on cluster_id, so every
        member of a cluster lands in the SAME train/val/test split.

    Scale shape: ``clusters`` holds only docs that appear in some dup
    pair — a small fraction of the corpus — so the quality lookup is one
    equi-join on the id (AQE broadcasts the cluster side when it fits),
    and the keeper window partitions by cluster_id over duplicate-sized
    groups, the same bound ``dedup_clusters`` already carries. The split
    assignment is map-only.
    """
    from .sampling import stable_split

    # withColumn would silently overwrite an existing keep/split (e.g.
    # re-running selection on an already-labeled frame) — same stance
    # as salted_topk's and shuffle_shards' collision guards
    taken = {"keep", "split"}
    colliding = sorted(taken & set(clusters.columns))
    if colliding:
        raise ValueError(
            f"canonical_selection: column names {colliding} are reserved "
            "for the output; rename them on the input first"
        )
    quality = docs.select(F.col("doc_id"), F.col("n_chars"))
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = joined.withColumn("keep", F.row_number().over(w) == F.lit(1))
    return stable_split(ranked, id_col="cluster_id")
