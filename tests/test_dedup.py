"""Dedup operator semantics on crafted corpora."""

from __future__ import annotations

from stock_bars_data_engineering_project_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the old river bend"),  # near-dup of 1
    (3, "completely different content about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the old river bank"),  # exact dup of 1
    (5, "tiny doc"),  # < 3 words after split -> no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    df = _docs(spark)
    groups = {r.keeper_doc_id: r.n_copies for r in exact_dedup_groups(df).collect()}
    assert groups[1] == 2  # docs 1 and 4
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 2, 3, 5]  # 4 dropped, lowest id kept


def test_minhash_lsh_finds_near_and_exact_dups(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup -> jaccard 1
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_exact_all_pairs(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark)).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    # inverted-index join must also relate the dup pair (2,4)
    assert (2, 4) in pairs


def test_simhash_pairs_exact_dups_distance_zero(spark):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(_docs(spark)).collect()}
    assert pairs[(1, 4)] == 0


def test_short_doc_yields_no_pairs(spark):
    pairs = minhash_lsh_pairs(_docs(spark)).collect()
    assert not any(5 in (r.doc_a, r.doc_b) for r in pairs)


def test_dedup_clusters_chains_transitively(spark):
    from stock_bars_data_engineering_project_spark.operators.dedup import dedup_clusters

    # chain 1-2-3 (no direct 1~3 edge) + separate pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_simhash_fingerprints_match_per_row_expression(spark):
    """The explode+codegen-aggregate fingerprint path must be
    bit-identical to a hashlib replay of the simhash60 definition (the
    per-row expression text_metrics and the DuckDB oracle use),
    including the empty/null/double-space edge docs: single-space
    tokens, per token md5's first 7 hex chars as bits 32-59 and the
    next 8 as bits 0-31, +1/-1 votes, bit set when its sum is positive."""
    import hashlib

    from stock_bars_data_engineering_project_spark.operators.dedup import (
        simhash_fingerprints,
    )

    def replay(text):
        if text is None:
            return None
        sums = [0] * 60
        for tok in text.split(" "):
            h = hashlib.md5(tok.encode("utf-8")).hexdigest()
            bits = int(h[:7], 16) << 32 | int(h[7:15], 16)
            for j in range(60):
                sums[j] += 1 if bits >> j & 1 else -1
        return sum(1 << j for j in range(60) if sums[j] > 0)

    docs = _docs(spark).unionByName(
        spark.createDataFrame(
            [(90, ""), (91, None), (92, "solo"), (93, "a  b")],
            "doc_id long, text string",
        )
    )
    want = {r.doc_id: replay(r.text) for r in docs.collect()}
    got = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert got == want
    assert want[91] is None and want[90] is not None


def test_minhash_signatures_match_per_row_expression(spark):
    """The explode+codegen-aggregate signature path must be
    bit-identical (per seed, per doc) to the per-row minhash_signature
    HOF fold the DuckDB oracle replays."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.functions.hashing import (
        minhash_signature,
    )
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        _shingled,
        minhash_signatures,
    )

    sh = _shingled(_docs(spark))
    old = sh.select(
        "doc_id",
        F.size("shingles").alias("want_n"),
        minhash_signature(F.col("shingles")).alias("want"),
    )
    got = minhash_signatures(sh)
    assert old.count() == got.count()
    bad = (
        old.join(got, "doc_id")
        .filter("want_n <> n_sh OR to_json(want) <> to_json(sig)")
        .count()
    )
    assert bad == 0


def test_simhash_null_text_docs_never_pair(spark):
    """Two NULL-text docs have NULL fingerprints and must NOT be
    emitted as a hamming-0 pair (the 0-fingerprint regression a
    null-blind equality check would hide)."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "hello world")], "doc_id long, text string"
    )
    assert simhash_pairs(docs).count() == 0


def test_simhash_blocking_complete_vs_bruteforce(spark):
    """Candidate-completeness + emission-uniqueness of the two-level
    pigeonhole with canonical single-bucket emission, pinned against
    brute force on synthetic fingerprints: seeded random 60-bit values
    plus planted <=3-bit perturbations (including errors spread one per
    block — the pigeonhole's worst case) and a >3-bit control. The
    blocked output must equal ALL hamming<=3 pairs exactly, with no
    duplicate emissions (the operator no longer runs a distinct)."""
    import random

    from stock_bars_data_engineering_project_spark.operators.dedup import (
        simhash_pairs_from_fingerprints,
    )

    rng = random.Random(7)
    rows = [(i, rng.getrandbits(60)) for i in range(60)]
    base = rows[0][1]
    rows += [
        (100, base ^ 0b1),  # hamming 1
        (101, base ^ (1 << 59) ^ (1 << 30)),  # hamming 2, far-apart bits
        # hamming 3 spread across three DIFFERENT 15-bit blocks — only
        # the remaining clean block (+ its clean sub) can catch it
        (102, base ^ (1 << 2) ^ (1 << 17) ^ (1 << 32)),
        (103, base ^ 0b1111),  # hamming 4: must NOT pair with base
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = simhash_pairs_from_fingerprints(fp).collect()
    got_pairs = {(r.doc_a, r.doc_b): r.hamming for r in got}
    assert len(got) == len(got_pairs), "duplicate pair emissions"
    want = {}
    for i, (ida, fa) in enumerate(rows):
        for idb, fb in rows[i + 1 :]:
            h = bin(fa ^ fb).count("1")
            if h <= 3:
                lo, hi = min(ida, idb), max(ida, idb)
                want[(lo, hi)] = h
    assert got_pairs == want


def test_dedup_clusters_durable_checkpoint_mode(spark):
    """Cluster-safe iteration: the durable session conf must (a) make
    it refuse to run without a fault-tolerant checkpoint dir and (b)
    produce identical clusters to the local mode once one is set."""
    from stock_bars_data_engineering_project_spark.materialize import DURABLE_CONF
    from stock_bars_data_engineering_project_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    # The refusal contract is order-dependent (setCheckpointDir has no
    # unset): assert it when this test runs before anything set a dir,
    # and make the skip VISIBLE rather than silent otherwise.
    spark.conf.set(DURABLE_CONF, "true")
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            try:
                dedup_clusters(pairs)
                raise AssertionError("expected ValueError without checkpoint dir")
            except ValueError as e:
                assert "setCheckpointDir" in str(e)
        else:  # pragma: no cover - depends on test ordering
            import warnings

            warnings.warn("checkpoint dir already set; refusal branch not exercised")
        # a stable dir, NOT pytest's function-scoped tmp_path: the session
        # outlives this test and would otherwise point its checkpoint dir at
        # a deleted directory for the rest of the suite
        import tempfile

        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        )
        got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert got == want
    finally:
        spark.conf.unset(DURABLE_CONF)


def test_dedup_clusters_raises_when_unconverged(spark, monkeypatch):
    from stock_bars_data_engineering_project_spark.operators import dedup
    from stock_bars_data_engineering_project_spark.operators.dedup import dedup_clusters

    # a 7-node chain is not a star after one alternating round, so a
    # 1-round budget ends unconverged: silent wrong labels are
    # forbidden — the operator must fail loudly instead
    monkeypatch.setattr(dedup, "STAR_ROUNDS", 1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    try:
        dedup_clusters(chain)
        raise AssertionError("expected RuntimeError for unconverged clustering")
    except RuntimeError as e:
        assert "did not converge" in str(e)


def test_ngram_df_cap_keeps_exact_dup_pairs(spark):
    """Identical docs that share a hot shingle with every other doc
    still score exactly 1.0, and the hot shingle alone pairs nothing
    else."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    hot = "x y z"
    docs = spark.createDataFrame(
        [
            (1, f"{hot} alpha beta gamma delta"),
            (2, f"{hot} alpha beta gamma delta"),  # identical to 1
            (3, f"{hot} one two three four"),
            (4, f"{hot} five six seven eight"),
            (5, f"{hot} nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in pairs] == [(1, 2, 1.0)]


def test_embedding_blocked_is_subset_of_exact_with_identical_scores(spark):
    """The LSH-blocked embedding pairs must be a subset of the exact
    all-pairs result with bit-identical cosine scores — blocking may
    lose recall (pairs in distant buckets) but must never invent a pair
    or change a score. On the testdata corpus the blocked plan must also
    retain a non-trivial fraction of the exact pairs."""
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_blocked,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos for r in embedding_dup_pairs(emb).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_dup_pairs_blocked(emb).collect()
    }
    assert set(blocked) <= set(exact)
    for pair, cos in blocked.items():
        assert cos == exact[pair]
    assert len(exact) == 0 or len(blocked) >= 0.2 * len(exact)


def test_embedding_blocked_candidates_equal_hamming_ring(spark, monkeypatch):
    """Property pin for the canonical-group pair emission: at several
    plane counts (the 500-row corpus gets 8 planes, and 10 once the
    base row count is below its size), the blocked operator must return
    EXACTLY the exact all-pairs matches whose buckets are within hamming
    distance 2 — each emitted once (no duplicates lost or invented by
    the min-shared-key rule)."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators import similarity
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_blocked,
    )
    from stock_bars_data_engineering_project_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb).collect()}
    for base_rows, n_planes in ((2048, 8), (256, 10)):
        monkeypatch.setattr(similarity, "LSH_BASE_ROWS", base_rows)
        assert similarity.lsh_planes(emb) == n_planes
        blocked = embedding_dup_pairs_blocked(emb).collect()
        got = {(r.id_a, r.id_b) for r in blocked}
        assert len(got) == len(blocked)  # no duplicate emissions
        buckets = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id", similarity.lsh_bucket("embedding", 64, n_planes).alias("b")
            ).collect()
        }
        ids = sorted(buckets)
        want = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(buckets[a] ^ buckets[b]).count("1") <= 2
            and (a, b) in exact
        }
        assert got == want, f"n_planes={n_planes}"


def test_canonical_selection_keeper_and_leakage_safe_split(spark):
    from stock_bars_data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )

    # two clusters: {1,2,4} (cluster_id 1) and {7,8} (cluster_id 7)
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        # quality: doc 2 longest in cluster 1; 7 and 8 tie in cluster 7
        [(1, 10), (2, 30), (4, 30), (7, 5), (8, 5), (99, 100)],
        "doc_id long, n_chars long",
    )
    out = canonical_selection(clusters, docs).collect()
    assert len(out) == 5  # doc 99 is not in any cluster
    keep = {r.doc_id: r.keep for r in out}
    # max quality wins; quality tie (2 vs 4, 7 vs 8) -> lowest doc_id
    assert keep == {1: False, 2: True, 4: False, 7: True, 8: False}
    splits = {}
    for r in out:
        splits.setdefault(r.cluster_id, set()).add(r.split)
    # leakage-safe: every member of a cluster lands in the SAME split
    assert all(len(s) == 1 for s in splits.values())


def test_canonical_selection_rejects_reserved_columns(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )

    clusters = spark.createDataFrame(
        [(1, 1, True)], "doc_id long, cluster_id long, keep boolean"
    )
    docs = spark.createDataFrame([(1, 2)], "doc_id long, n_chars long")
    with pytest.raises(ValueError, match="reserved"):
        canonical_selection(clusters, docs)


def test_canonical_selection_rejects_prelabeled_clusters(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.dedup import (
        canonical_selection,
    )

    clusters = spark.createDataFrame(
        [(1, 1, "train")], "doc_id long, cluster_id long, split string"
    )
    docs = spark.createDataFrame([(1, 2)], "doc_id long, n_chars long")
    with pytest.raises(ValueError, match="reserved"):
        canonical_selection(clusters, docs)
