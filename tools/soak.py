"""Scale soak: replicate the sf0.1 tables Nx with content perturbation
and measure operator runtime scaling — the empirical answer to "would
this plan survive a 100x scale-up?".

Replicas are perturbed so the workload grows REALISTICALLY:
  * documents: per-replica vowel rotation (translate) changes most
    shingles, so near-dup structure (and pair output) grows linearly
    with the corpus instead of quadratically as verbatim copies would;
  * events: timestamps shifted by a day per replica and ids offset, so
    keys/windows grow linearly.

Usage: python tools/soak.py [--isolated] [--ops a,b,c] [scales ...]
(default scales 1 2 4 8). Writes one JSON line per (operator, scale)
and a final summary of the runtime ratio vs. the linear ideal.

``--isolated`` runs each scale in its OWN subprocess JVM with one
untimed warm-up pass of every measured op followed by min-of-2: a
long-lived local[32] session accumulates heap pressure whose
multi-second full-GC pauses land on whichever scale happens to be
running (BASELINE.md, "Other figures moved out of code comments",
records one such inverted curve) — while a COLD fresh JVM runs its first
heavy job 3-6x slower until C2 compiles the eval paths, which
min-of-N of the same query does not recover. Use isolated mode for
any curve that feeds a scaling decision.
``--ops`` limits the measured operators (staging still writes all
tables).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stock_bars_data_engineering_project_spark.operators.analysis import (  # noqa: E402
    bars_analysis,
)
from stock_bars_data_engineering_project_spark.operators.asof import asof_join  # noqa: E402
from stock_bars_data_engineering_project_spark.operators.dedup import (  # noqa: E402
    dedup_clusters,
    embedding_dup_pairs_blocked,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from stock_bars_data_engineering_project_spark.operators.contamination import (  # noqa: E402
    boilerplate_scrub,
    contamination_overlap,
    dedup_paragraphs,
    exact_substr_scrub,
)
from stock_bars_data_engineering_project_spark.operators.fuzzy import (  # noqa: E402
    fuzzy_dedup_pairs,
)
from stock_bars_data_engineering_project_spark.operators.retrieval import (  # noqa: E402
    bm25_topk,
    prf_expand,
    rrf_fuse,
)
from stock_bars_data_engineering_project_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
)
from stock_bars_data_engineering_project_spark.functions.vectors import (  # noqa: E402
    dequantize_int8,
    quantize_int8,
    truncate_dims,
)
from stock_bars_data_engineering_project_spark.functions.quality_model import (  # noqa: E402
    quality_scores,
)
from stock_bars_data_engineering_project_spark.operators.bloom import (  # noqa: E402
    bloom_bitmap,
    bloom_semi_join,
)
from stock_bars_data_engineering_project_spark.operators.heavy import (  # noqa: E402
    merged_heavy_hitters,
    mg_summaries,
)
from stock_bars_data_engineering_project_spark.operators.drift import (  # noqa: E402
    mad_outliers,
    psi_drift,
)
from stock_bars_data_engineering_project_spark.operators.ema import ewma_per_key  # noqa: E402
from stock_bars_data_engineering_project_spark.operators.rollup import (  # noqa: E402
    rollup_increment,
    rollup_metrics,
)
from stock_bars_data_engineering_project_spark.operators.sketches import (  # noqa: E402
    member_day_sets,
    retention_day_over_day,
)
from stock_bars_data_engineering_project_spark.operators.funnel import (  # noqa: E402
    cohort_retention,
    funnel_steps,
    touch_attribution,
)
from stock_bars_data_engineering_project_spark.operators.gapfill import (  # noqa: E402
    calendar_fill,
)
from stock_bars_data_engineering_project_spark.operators.merge import (  # noqa: E402
    scd2_init,
    scd2_merge,
)
from stock_bars_data_engineering_project_spark.operators.quality import (  # noqa: E402
    bigram_surprisal,
    pmi_collocations,
    unigram_surprisal,
    word_counts,
)
from stock_bars_data_engineering_project_spark.operators.graph import pagerank  # noqa: E402
from stock_bars_data_engineering_project_spark.operators.trigram import (  # noqa: E402
    substring_search,
)
from stock_bars_data_engineering_project_spark.operators.semantic import (  # noqa: E402
    semantic_decontaminate,
    semantic_decontaminate_blocked,
)
from stock_bars_data_engineering_project_spark.operators.sessionize import session_stats  # noqa: E402
from stock_bars_data_engineering_project_spark.operators.skew import salted_topk  # noqa: E402
from stock_bars_data_engineering_project_spark.streaming.joins import interval_join  # noqa: E402
from stock_bars_data_engineering_project_spark.session import get_spark  # noqa: E402
from stock_bars_data_engineering_project_spark.sources.readers import load_table  # noqa: E402
from stock_bars_data_engineering_project_spark.streaming.windows import tumbling_agg  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/soak_data"
# Per-replica token suffixing: every word gets the replica index
# appended — a bijection on the token alphabet, so within-replica
# shingle/fingerprint structure (and thus the operator's work per
# replica) is preserved EXACTLY, while replicas share no alphanumeric
# tokens at all, for ANY replica count. Case-insensitive on purpose:
# an earlier [a-z0-9]-only pattern left all-caps acronyms
# byte-identical across replicas, slightly flattering cross-replica
# shingle independence. Pure punctuation runs still pass through —
# they carry no shingle identity. (Earlier schemes rotated: vowel
# rotation had 5 states and Caesar 26, so at x8/x32 some replicas were
# verbatim copies and the cross-replica pair space grew quadratically
# by construction — a soak artifact, not an operator property.)
TOKEN_RE = "([a-zA-Z0-9]+)"


def stage(spark, scale: int) -> str:
    if scale > 128:
        # embedding perturbation period: rotation mod 64 x sign-flip era
        # mod 2 = 128 distinct isometries; replicas k and k+128 would be
        # verbatim copies, and cross-replica pair growth would go
        # quadratic by construction — the exact soak artifact the
        # perturbations exist to prevent
        raise ValueError(
            "soak scales > 128 exceed the embedding perturbation period"
        )
    out = os.path.join(WORK, f"x{scale}")
    # completion marker, not bare isdir: the directory exists from the
    # first parquet write, so an interrupted staging (or one from an
    # older perturbation scheme) must not be mistaken for a complete one
    done = os.path.join(out, "_STAGED")
    if os.path.isfile(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    docs = load_table(spark, SF_DIR, "documents")
    events = load_table(spark, SF_DIR, "events")
    emb = load_table(spark, SF_DIR, "embeddings")
    n_docs = docs.count()
    n_events = events.count()
    n_emb = emb.count()
    d_parts, e_parts, v_parts = [], [], []
    for k in range(scale):
        d_parts.append(
            docs.select(
                (F.col("doc_id") + k * n_docs).alias("doc_id"),
                F.regexp_replace(F.col("text"), TOKEN_RE, f"$1q{k}").alias(
                    "text"
                ),
            )
        )
        e_parts.append(
            events.select(
                (F.col("event_id") + k * n_events).alias("event_id"),
                (F.col("user_id") + k * 100000).alias("user_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k} DAYS")).alias("ts"),
                "event_type",
                "value",
            )
        )
        # component rotation: norm-preserving, decorrelates replicas so
        # near-dup pair structure grows linearly, not quadratically;
        # past k=63 the rotation repeats, so odd ERAS (k // 64) addition-
        # ally negate the even components — also an isometry (diagonal
        # +-1), and for generic vectors the flipped copy's cosine against
        # its unflipped twin is ~0, keeping cross-replica pairs dark
        r = k % 64
        rot = F.concat(
            F.slice("embedding", r + 1, 64 - r), F.slice("embedding", 1, r)
        )
        if (k // 64) % 2 == 1:
            rot = F.zip_with(
                rot,
                F.sequence(F.lit(0), F.lit(63)),
                lambda x, i: F.when(i % 2 == 0, -x).otherwise(x),
            )
        v_parts.append(
            emb.select(
                (F.col("vec_id") + k * n_emb).alias("vec_id"),
                rot.alias("embedding"),
            )
        )
    d = d_parts[0]
    for p in d_parts[1:]:
        d = d.unionByName(p)
    ev = e_parts[0]
    for p in e_parts[1:]:
        ev = ev.unionByName(p)
    vv = v_parts[0]
    for p in v_parts[1:]:
        vv = vv.unionByName(p)
    d.write.mode("overwrite").parquet(os.path.join(out, "documents"))
    ev.write.mode("overwrite").parquet(os.path.join(out, "events"))
    vv.write.mode("overwrite").parquet(os.path.join(out, "embeddings"))
    with open(done, "w") as f:
        f.write("ok")
    return out


_BM25_SOAK_WH: dict = {}


def _bm25_probe(spark, path: str, docs):
    """Query the persisted BM25 index for the staged corpus, building
    it on first touch (the warm-up pass in isolated mode, so timed runs
    pay only the probe — an index is a build-once artifact)."""
    from stock_bars_data_engineering_project_spark.operators.incremental_retrieval import (
        BM25,
        bm25_query,
    )
    from stock_bars_data_engineering_project_spark.operators.index_maint import (
        build_lexical_index,
    )
    from stock_bars_data_engineering_project_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    wh = _BM25_SOAK_WH.get(path)
    if wh is None:
        wh = ParquetWarehouse(spark, os.path.join(path, "_bm25_idx"))
        build_lexical_index(wh, docs.filter(F.col("doc_id") >= 25), "idx", BM25)
        _BM25_SOAK_WH[path] = wh
    queries = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_query(wh, queries, table="idx")


def run(
    spark,
    path: str,
    scale: int = 1,
    ops_filter: set[str] | None = None,
    repeats: int = 2,
    warmup: bool = False,
) -> dict[str, float]:
    docs = spark.read.parquet(os.path.join(path, "documents"))
    events = spark.read.parquet(os.path.join(path, "events"))
    emb = spark.read.parquet(os.path.join(path, "embeddings"))
    marks = events.groupBy(
        "user_id", F.window("ts", "1 hour")["start"].alias("mark_ts")
    ).agg(F.sum("value").alias("mark_value"))
    buyers = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("buyer_id")
    )
    ops = {
        "minhash_lsh": lambda: minhash_lsh_pairs(docs),
        "ngram_jaccard": lambda: ngram_jaccard_pairs(docs),
        "simhash_pairs": lambda: simhash_pairs(docs),
        "asof_join": lambda: asof_join(
            events.select("event_id", "user_id", "ts", "value"),
            marks,
        ),
        "tumbling_agg": lambda: tumbling_agg(events),
        "salted_topk": lambda: salted_topk(
            events, ("user_id",), "value", "event_id", k=3, n_salt=8
        ),
        # LSH blocking grows its bucket space with the corpus
        # (similarity.lsh_planes: +2 planes per doubling past 2048 rows,
        # i.e. per soak scale doubling over the sf0.1 base): at a FIXED
        # plane count the hamming ring admits a fixed FRACTION of all
        # pairs (quadratic growth); scaled planes keep expected bucket
        # occupancy flat
        "embedding_blocked": lambda: embedding_dup_pairs_blocked(emb),
        "contamination": lambda: contamination_overlap(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
        ),
        "ewma": lambda: ewma_per_key(events),
        # corpus-boilerplate scrub: replica token-suffixing keeps each
        # replica's hot-gram structure intact while sharing none across
        # replicas, so the hot set and covered positions grow linearly —
        # the curve should track the gram-df shuffle (the largest stage)
        "boilerplate": lambda: boilerplate_scrub(docs),
        # hashed-classifier scoring: one explode + partial-agg groupBy,
        # all codegen — the curve should track scan+explode cost
        "qscore": lambda: quality_scores(docs),
        # corpus-unigram-model quality scoring: wordcount shuffle +
        # token-keyed join of the exploded corpus against its own
        # count table — the join fan-in is token cardinality, which
        # grows sub-linearly (Heaps' law) while the scored side grows
        # linearly, so the curve should track the explode cost
        "surprisal": lambda: unigram_surprisal(docs, word_counts(docs)),
        # large-star/small-star components over the verified near-dup
        # pair graph — O(log n) rounds of join+agg on the (corpus-small)
        # edge set; the iterative rounds execute eagerly inside the
        # lambda (per-round checkpoints), so the timing covers them
        "dedup_clusters": lambda: dedup_clusters(minhash_lsh_pairs(docs)),
        # bigram-LM surprisal (stupid backoff): one bigram partial-agg
        # wordcount + pruned-bigram/unigram joins against the exploded
        # pair stream — bigram-table cardinality grows sub-linearly
        # under min_count pruning while the scored side grows linearly,
        # so the curve should track the pair explode (the unigram
        # surprisal shape, one extra count shuffle)
        "bigram_lm": lambda: bigram_surprisal(docs, word_counts(docs)),
        # calendar gap-fill over per-user daily bars: replica day-shifts
        # grow spans (and with them the synthetic rows) linearly; the
        # per-key ffill window sorts calendar days, not ticks
        "gap_fill": lambda: calendar_fill(
            events.groupBy(
                "user_id", F.to_date("ts").alias("day")
            ).agg(F.max("value").alias("close_v")),
            "user_id",
            ("close_v",),
        ),
        # ordered funnel: per-step type-filtered min(ts) aggs +
        # user-keyed joins over user-cardinality frames — the curve
        # should track the three filtered scans, with join inputs
        # growing in users (replica id offsets), not ticks
        "funnel": lambda: funnel_steps(
            events, ("view", "click", "purchase")
        ),
        # single-touch attribution: user-keyed range join (conversions x
        # touches inside the lookback, the irreducible attribution
        # relation) + conversion-keyed ROW_NUMBER — replica id offsets
        # grow users linearly, per-user journey size is constant, so
        # the curve should track the join inputs
        "attribution": lambda: touch_attribution(events, model="last"),
        # cohort retention triangle: first-day agg + (user, day)
        # distinct + one keyed join; replica day-shifts grow cohorts
        # linearly while the offset cap bounds each cohort's row count
        "cohort": lambda: cohort_retention(events),
        # SCD2 dimension merge: per-user current-value dim vs a
        # half-perturbed re-extract — keys grow linearly with replica
        # id offsets; one null-safe keyed full-outer join
        "scd2_merge": lambda: scd2_merge(
            scd2_init(
                events.groupBy("user_id").agg(
                    F.max("value").alias("v")
                ),
                ("user_id",),
                1,
            ),
            events.groupBy("user_id").agg(
                F.when(
                    F.col("user_id") % 2 == 0, F.max("value") + 1.0
                )
                .otherwise(F.max("value"))
                .alias("v")
            ),
            ("user_id",),
            ("v",),
            2,
        ),
        # Misra-Gries heavy hitters: one Arrow-batched map pass over the
        # exploded token stream (k counters per partition, budget rows
        # aside) + a k-x-partitions merge — the curve should track the
        # explode, with the merge a constant
        "heavy_mg": lambda: (
            lambda s: merged_heavy_hitters(s)[0]
        )(
            mg_summaries(
                docs.select(
                    F.explode(F.split(F.lower(F.col("text")), " ")).alias(
                        "token"
                    )
                ).filter(F.col("token") != ""),
                "token",
                k=64,
            )
        ),
        # bloom pre-filtered semi join: bitmap build is one partial-agg
        # pass over the (linearly growing) purchase slice, membership a
        # map-only codegen filter on the full stream — the curve should
        # track the two scans. The bitmap is a fixed 2^16 bits, so at
        # large scales it saturates and the pre-filter passes more rows
        "bloom_semi": lambda: bloom_semi_join(
            events.select("event_id", "user_id"),
            buyers,
            key="user_id",
            build_key="buyer_id",
            words=bloom_bitmap(buyers, "buyer_id"),
        ),
        # PSI distribution drift: one partial-agg (key, bucket) pass
        # over the fact table, then windows/folds on the (keys x bins)
        # count table — the curve should track the scan, like
        # sketch_rollup
        "psi": lambda: psi_drift(
            events,
            is_reference=F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            )
            % 2
            == 0,
        ),
        # sketch-extended rollup state build: one partial-aggregating
        # pass; state size is O(groups), so the curve should track the
        # scan. HLL/KLL union cost is per-group-constant.
        "sketch_rollup": lambda: rollup_metrics(
            rollup_increment(events)
        ),
        # per-day Theta member sets + day-over-day set intersection:
        # O(days) state rows however large the fact side grows (replica
        # day-shift makes days grow linearly with scale)
        "theta_retention": lambda: retention_day_over_day(
            member_day_sets(events)
        ),
        # paragraph-level exact dedup: the synthetic corpus has no
        # newline paragraphs, so each doc is ONE paragraph — the curve
        # still exercises the full pipeline (md5 keying, partial-agg
        # winner, non-winner join, rebuild) at one occurrence per doc;
        # within-replica exact duplicates are the only winners
        "paragraph_dedup": lambda: dedup_paragraphs(docs),
        # exact-substring dedup (Lee et al.): replica token-suffixing
        # keeps duplicated 8-gram structure within each replica and
        # shares none across, so winners and covered spans grow
        # linearly; the curve should track the gram partial-agg plus
        # the occurrence/winner join (the two corpus-sized exchanges)
        "exact_substr": lambda: exact_substr_scrub(docs),
        # blocked fuzzy entity-resolution self-join over first-3-token
        # names: first-token blocks grow linearly in COUNT (suffixed
        # vocab) at roughly constant size, so candidate pairs — and the
        # bounded-levenshtein verify, the only real CPU — grow linearly
        "fuzzy_names": lambda: fuzzy_dedup_pairs(
            docs.select(
                "doc_id",
                F.concat_ws(
                    " ", F.slice(F.split(F.col("text"), " "), 1, 3)
                ).alias("name"),
            ),
            "doc_id",
        ),
        # BM25: FIXED 25-query set (replica ids are offset, so doc_id
        # < 25 stays 25 rows at every scale) against the linearly
        # growing corpus — the curve should track the corpus
        # explode + broadcast vocab semi-join, the only corpus-sized
        # stage
        "bm25": lambda: bm25_topk(
            docs.filter(F.col("doc_id") >= 25),
            docs.filter(F.col("doc_id") < 25).select(
                F.col("doc_id").alias("query_id"), "text"
            ),
        ),
        # hybrid retrieval: both legs (bm25 recompute + brute cosine,
        # each individually soaked above/below) + the RRF fusion —
        # fusion input is legs x k x queries rows at ANY scale, so the
        # curve should track the two legs' sum, fusion adding a
        # constant
        "rrf_hybrid": lambda: rrf_fuse(
            [
                bm25_topk(
                    docs.filter(F.col("doc_id") >= 25),
                    docs.filter(F.col("doc_id") < 25).select(
                        F.col("doc_id").alias("query_id"), "text"
                    ),
                ).select("query_id", "doc_id", "rank"),
                cosine_topk(
                    emb.filter(F.col("vec_id") >= 25),
                    emb.filter(F.col("vec_id") < 25),
                    k=10,
                ).select(
                    "query_id", F.col("vec_id").alias("doc_id"), "rank"
                ),
            ],
        ),
        # int8 quantized serving: symmetric per-vector quantize +
        # dequantize (map-only, all codegen) feeding the brute cosine
        # top-k against the FIXED 25-query set — the curve should track
        # the corpus scan, quantization adding a per-row constant
        "ann_int8": lambda: cosine_topk(
            emb.filter(F.col("vec_id") >= 25)
            .select("vec_id", quantize_int8("embedding").alias("qs"))
            .select("vec_id", dequantize_int8("qs").alias("embedding")),
            emb.filter(F.col("vec_id") < 25),
            k=10,
        ),
        # Matryoshka prefix serving: both sides truncated to 16 dims —
        # 4x less dot-product work per row at every scale; the curve
        # should track (and sit under) ann_int8's corpus scan
        "ann_mrl": lambda: cosine_topk(
            emb.filter(F.col("vec_id") >= 25).select(
                "vec_id",
                truncate_dims("embedding", 16).alias("embedding"),
            ),
            emb.filter(F.col("vec_id") < 25).select(
                "vec_id",
                truncate_dims("embedding", 16).alias("embedding"),
            ),
            k=10,
        ),
        # PRF: first pass + query-set-sized expansion + second full
        # pass — the curve should run ~2x the bm25 recompute op (two
        # corpus scans), with the expansion stages contributing O(1)
        "bm25_prf": lambda: (
            lambda corpus, queries: bm25_topk(
                corpus,
                prf_expand(
                    corpus,
                    queries,
                    bm25_topk(corpus, queries).select(
                        "query_id", "doc_id", "rank"
                    ),
                ),
            )
        )(
            docs.filter(F.col("doc_id") >= 25),
            docs.filter(F.col("doc_id") < 25).select(
                F.col("doc_id").alias("query_id"), "text"
            ),
        ),
        # persisted-BM25 probe: the index is built ONCE per staged
        # corpus (inside the untimed warm-up pass via the memo below),
        # so the timed runs measure what a serving loop pays — the
        # statically-pruned postings probe — against the same linearly
        # growing corpus the 'bm25' recompute op re-tokenizes per call
        "bm25_index_probe": lambda: _bm25_probe(spark, path, docs),
        "interval_join": lambda: interval_join(
            events.filter(F.col("event_type") == "purchase"),
            events.filter(F.col("event_type") == "view"),
        ),
        # Pathological window skew: EVERY event lands on one key (the
        # case AQE cannot split — a window sorts the whole key in one
        # task). The one-Exchange-one-Sort plan's curve degrades with
        # scale as the single task sorts everything.
        "window_hot_single": lambda: bars_analysis(
            events.select(
                F.lit("HOT").alias("stock"),
                F.col("ts").alias("timestamp"),
                F.col("value").alias("close"),
            )
        ),
        # trigram substring search: FIXED 4-pattern set against the
        # linearly growing corpus — the curve should track the posting
        # build (explode of per-doc distinct trigrams, the only
        # corpus-sized stage); the candidate gate and contains() verify
        # run on the match set, which replica vowel-rotation keeps
        # roughly linear
        "trgm_search": lambda: substring_search(
            docs.filter(F.col("doc_id") >= 25),
            docs.filter(F.col("doc_id").isin(1, 7, 13, 19)).select(
                F.col("doc_id").alias("pattern_id"),
                F.substring("text", 11, 12).alias("pattern"),
            ),
        ),
        # median/MAD outlier fence: three partial-agg passes over the
        # fact table with broadcast group-stats joins — the curve
        # should track 3x the scan, no window over raw rows
        "mad_outliers": lambda: mad_outliers(events),
        # PMI collocations: bigram + unigram partial-agg wordcounts,
        # then joins on the min_count-PRUNED pair table — vocabulary
        # (and with it the join fan-in) grows sub-linearly under
        # replica token-suffixing, so the curve should track the pair
        # explode
        "pmi": lambda: pmi_collocations(docs, word_counts(docs)),
        # 3-round PageRank over the verified near-dup pair graph: the
        # LSH pair emission is the corpus-sized stage (same input as
        # dedup_clusters); each rank round is a join+agg on the
        # pair-graph-sized edge set, which replica vowel-rotation keeps
        # linear — the curve should track minhash_lsh plus a
        # graph-sized constant per round
        "pagerank": lambda: pagerank(minhash_lsh_pairs(docs)),
        # embedding decontamination, exact arm: FIXED 100-vector eval
        # set (replica ids are offset, so vec_id < 100 stays the base
        # replica's rows at every scale — benchmarks do not grow with
        # the corpus) broadcast against the linearly growing train side
        # — the curve should track the single map-only scan (|eval|
        # dot folds per row) plus the train-sized partial-agg max
        "decontam_exact": lambda: semantic_decontaminate(
            emb.filter(F.col("vec_id") >= 100),
            emb.filter(F.col("vec_id") < 100),
        ),
        # blocked arm: the big-eval path exercised with the same fixed
        # eval set; the plane count grows with the training corpus (the
        # embedding_blocked occupancy policy) so candidate volume stays
        # a bounded fraction — the curve should track the two bucket
        # passes (corpus-side map-only) plus candidate verify
        "decontam_blocked": lambda: semantic_decontaminate_blocked(
            emb.filter(F.col("vec_id") >= 100),
            emb.filter(F.col("vec_id") < 100),
        ),
        # gap-based sessionization stats: replica id offsets grow users
        # linearly at constant per-user history, so the user-hash
        # exchange and per-partition sorts grow linearly; the ordered
        # chain rides the same sort the labeling pays
        "sessionize_stats": lambda: session_stats(events),
    }
    measured = {
        n: f for n, f in ops.items() if ops_filter is None or n in ops_filter
    }
    if warmup:
        # One untimed pass first: a cold JVM runs the interpreted/codegen
        # infrastructure 3-6x slower until C2 compiles it, and min-of-N
        # of the SAME query does not fully recover (measured: 29 s
        # min-of-3 cold vs 15 s after one different warm-up job). On a
        # real cluster executors are long-lived, so the warm number is
        # the one that predicts scaling.
        for fn in measured.values():
            fn().write.mode("overwrite").format("noop").save()
    times = {}
    for name, fn in measured.items():
        # min of N runs: a long local[32] session takes occasional
        # multi-second full-GC pauses (48 GiB single-JVM heap) that
        # would otherwise read as scaling regressions
        best = None
        for _ in range(repeats):
            t0 = time.time()
            fn().write.mode("overwrite").format("noop").save()
            t = time.time() - t0
            best = t if best is None else min(best, t)
        times[name] = round(best, 2)
    return times


def _parse_args(argv: list[str]):
    isolated = "--isolated" in argv
    single = "--single" in argv
    keep = "--keep" in argv  # leave /tmp staging for iterative re-runs
    ops_filter = None
    rest = []
    it = iter(a for a in argv if a not in ("--isolated", "--single", "--keep"))
    for a in it:
        if a == "--ops":
            try:
                ops_filter = set(next(it).split(","))
            except StopIteration:
                raise SystemExit(
                    "usage: soak.py [--isolated] [--keep] "
                    "[--ops a,b,c] [scales ...] (--ops needs a value)"
                ) from None
        else:
            rest.append(int(a))
    return isolated, single, keep, ops_filter, rest


def main() -> None:
    isolated, single, keep, ops_filter, scales = _parse_args(sys.argv[1:])
    scales = scales or [1, 2, 4, 8]

    if single:
        # child mode: one scale in a fresh JVM, warm-up pass then
        # min-of-2, leave staging in place for sibling children
        spark = get_spark("soak")
        path = stage(spark, scales[0])
        times = run(
            spark,
            path,
            scale=scales[0],
            ops_filter=ops_filter,
            repeats=2,
            warmup=True,
        )
        print(json.dumps({"scale": scales[0], "times": times}), flush=True)
        return

    results: dict[int, dict[str, float]] = {}
    if isolated:
        import subprocess

        for s in scales:
            cmd = [sys.executable, os.path.abspath(__file__), "--single", str(s)]
            if ops_filter:
                cmd += ["--ops", ",".join(sorted(ops_filter))]
            out = subprocess.run(
                cmd, capture_output=True, text=True, check=True
            ).stdout
            line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
            results[s] = json.loads(line)["times"]
            print(json.dumps({"scale": s, "times": results[s]}), flush=True)
    else:
        spark = get_spark("soak")
        for s in scales:
            path = stage(spark, s)
            results[s] = run(spark, path, scale=s, ops_filter=ops_filter)
            print(json.dumps({"scale": s, "times": results[s]}), flush=True)
    base = results[scales[0]]
    summary = {}
    for op in base:
        top = scales[-1]
        ideal = base[op] * top / scales[0]
        summary[op] = {
            "t1": base[op],
            f"t{top}": results[top][op],
            "vs_linear": round(results[top][op] / ideal, 2) if ideal > 0 else None,
        }
    print(json.dumps({"summary": summary, "scales": scales}))
    if not keep:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
