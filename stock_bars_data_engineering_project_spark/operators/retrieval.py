"""BM25 lexical retrieval over a document corpus.

The search-side counterpart of the TF-IDF statistics suite
(plans/extensions.py): given a small query set, score every matching
document with Okapi BM25 and return the top-k per query — the standard
mining primitive for hard-negative retrieval, eval-set construction,
and keyword audits over a training corpus.

Scale shape (corpus N docs, query set q docs, q << N):

1. the query vocabulary is exploded, deduped, and BROADCAST — the
   corpus-side scan drops every token not in it map-side, so the only
   corpus-sized shuffle is
2. per-(doc, token) term frequencies restricted to query terms: ONE
   partial-aggregable groupBy whose map-side combine collapses repeated
   terms before the exchange; doc length rides the same pass as a
   grouping constant (computed map-side from the token array, no second
   corpus shuffle);
3. document frequencies FOR QUERY TERMS ONLY — a query-vocabulary-sized
   aggregate of stage 2's output, broadcast back; the full corpus
   vocabulary table is never built;
4. corpus cardinality and average doc length are 1-row broadcast
   aggregates (the sanctioned broadcast-scalar idiom);
5. per-(query, doc) score = sum of per-term contributions — partial
   aggregable; top-k per query via the skew-proof salted ranking
   (operators/skew.py), fan-in bounded at k x n_salt rows per query
   however many documents match.

A term is a token of the corpus word model (functions/text.py
``corpus_tokens``), the one definition the corpus-model operators
share.

IDF uses the +1 ("BM25+" / Lucene) form ln(1 + (N - df + 0.5)/(df +
0.5)), which stays positive for df > N/2 terms instead of flipping the
score's sign.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import corpus_tokens
from .skew import salted_topk


def _term_counts(
    df: DataFrame, id_col: str, vocab: DataFrame | None = None
) -> DataFrame:
    """(id, token, tf, dl): term frequencies + doc length in one
    partial-aggregable pass; dl is map-side (size of the FULL token
    array — BM25's length normalization wants total doc length) and
    rides the groupBy as a per-doc constant. ``vocab`` (a 1-column
    ``token`` frame, broadcast) drops out-of-vocabulary tokens between
    the explode and the groupBy, so they never enter the tf shuffle."""
    # Pre-project the token array ONCE per row before exploding it
    # next to a sibling column: explode's siblings live in the Project
    # ABOVE Generate, which evaluates per OUTPUT row — an inline array
    # expression there re-tokenizes the document once per token,
    # O(len^2) per doc (measured 7x this stage's cost at sf0.1).
    arr = df.select(
        F.col(id_col).alias("id"), corpus_tokens().alias("__toks")
    )
    exploded = arr.select(
        "id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("token"),
    )
    if vocab is not None:
        exploded = exploded.join(F.broadcast(vocab), "token", "left_semi")
    return exploded.groupBy("id", "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )


# documents kept per query by bm25_topk, bm25_query and rrf_fuse
TOP_K = 10


def bm25_topk(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-``TOP_K`` BM25 documents per query: (query_id, doc_id, bm25,
    rank), rank 1..TOP_K by descending score, doc_id ascending as the
    deterministic tiebreak. Documents sharing no term with a query
    score 0 and are absent (the inverted-index contract); a query with
    no non-empty tokens matches nothing.
    """
    qterms = _term_counts(queries, "query_id").select(
        F.col("id").alias("query_id"), "token"
    )
    qvocab = qterms.select("token").distinct()

    # corpus-side: non-query tokens are dropped BEFORE the tf shuffle
    doc_terms = _term_counts(docs, "doc_id", vocab=qvocab)

    # document frequency for query terms only (query-vocab-sized)
    dfreq = doc_terms.groupBy("token").agg(
        F.countDistinct("id").alias("df")
    )

    # ONE corpus pass for both broadcast scalars (a separate count +
    # avg job would re-tokenize the whole corpus a second time).
    # Convention: n_docs counts every corpus row; avgdl averages over
    # docs whose text tokenizes (avg skips the NULL dl of NULL text) —
    # the oracle's COUNT(*) / AVG() pair behaves identically.
    stats = docs.select(F.size(corpus_tokens()).alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    return score_topk(doc_terms, qterms, dfreq, stats)


# BM25 term-frequency saturation and length normalization
K1, B = 1.2, 0.75


def score_topk(
    doc_terms: DataFrame,
    qterms: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
) -> DataFrame:
    """Shared BM25 scoring + ranking tail: ``doc_terms`` is
    (id, dl, token, tf) from either a live corpus scan (:func:`bm25_topk`)
    or the persisted postings (operators/incremental_retrieval.bm25_query);
    ``qterms``/``dfreq``/``stats`` are the broadcast-sized sides. One
    shared expression tree keeps the two paths' per-term doubles
    bit-identical."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (K1 + 1)
        / (
            F.col("tf")
            + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        )
    )

    scored = (
        doc_terms.join(F.broadcast(qterms), "token")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "id")
        .agg(F.sum(contrib).alias("bm25"))
        .withColumnRenamed("id", "doc_id")
    )
    # Rank on the ROUNDED score (6 dp), raw score still returned: the
    # per-(query, doc) sum's term order is partition-dependent, so two
    # semantically-tied documents (identical term profiles) can differ
    # by an ulp in one engine/run and not another — ranking raw doubles
    # would then flip their ranks while every displayed score matches.
    # Rounding quantizes the tie back to exact equality before the
    # deterministic doc_id tiebreak.
    from ..functions.scalars import round_half_up

    out = salted_topk(
        scored.withColumn("_bm25_r", round_half_up(F.col("bm25"), 6)),
        keys=("query_id",),
        order_col="_bm25_r",
        tiebreak_col="doc_id",
        k=TOP_K,
        n_salt=8,
    )
    return out.select(
        "query_id", "doc_id", "bm25", F.col("rank").cast("int").alias("rank")
    )


def rrf_fuse(rankings: list[DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists —
    the standard hybrid-retrieval combiner (lexical BM25 + semantic ANN
    being the canonical pair): each list contributes ``1 / (60 + rank)``
    for the items it ranked, the per-(query, item) contributions sum,
    and the fused top-``TOP_K`` is ranked on the 6-dp ROUNDED score with an
    item-id tiebreak (the bm25_topk ranking discipline — raw-double
    ranking would tie-break differently per engine).

    Every input must carry (query_id, doc_id, rank). Scale shape:
    the legs are already top-k-blocked, so the union holds at most
    ``len(rankings) * TOP_K`` rows per query — the fusion window's fan-in is
    bounded by construction and no salting is needed. With two legs the
    score is a sum of at most two doubles (FP addition is commutative,
    so the aggregate is deterministic); with more legs the 6-dp rounding
    absorbs the accumulation-order ulp.
    """
    from functools import reduce

    from pyspark.sql import Window

    from ..functions.scalars import round_half_up

    legs = [
        r.select(
            F.col("query_id"),
            F.col("doc_id").alias("__rrf_item"),
            (
                F.lit(1.0) / (F.lit(60.0) + F.col("rank").cast("double"))
            ).alias("__rrf_c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), legs)
        .groupBy("query_id", "__rrf_item")
        .agg(F.sum("__rrf_c").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        round_half_up(F.col("score"), 6).desc(), F.col("__rrf_item")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id"),
            F.col("__rrf_item").alias("doc_id"),
            "score",
            "rank",
        )
    )


def prf_expand(
    corpus: DataFrame,
    queries: DataFrame,
    lex_ranks: DataFrame,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the Rocchio/RM-family
    first-pass trick, integer-weighted variant): take each query's top
    5 first-pass documents, rank THEIR terms by total term
    frequency within that feedback set (an exact integer, so the
    cross-engine ranking needs no FP tolerance; term-ascending
    tiebreak), drop terms the query already contains, and append the
    top 10 to the query text. BM25 treats the query as a term
    SET, so append order is immaterial — the expansion is a set union.

    ``lex_ranks`` is the first-pass ranking (query_id, doc_id, rank) —
    pass the frame you already computed; this function does not re-run
    retrieval. Scale shape: the feedback doc set is ≤ queries × 5
    rows however large the corpus, so every stage here is
    query-set-sized: one semi-join pulls the feedback texts, one
    explode+groupBy counts their terms, one window takes the top-n. The
    second retrieval pass the caller runs afterwards pays one more
    corpus scan — the honest cost of PRF everywhere.

    Returns (query_id, text) with the expanded text — feed it straight
    back to :func:`bm25_topk`. Queries whose feedback terms are all
    already in the query expand to themselves.
    """
    from pyspark.sql import Window

    fb = lex_ranks.filter(F.col("rank") <= 5).select(
        "query_id", F.col("doc_id")
    )
    fb_texts = fb.join(
        corpus.select("doc_id", "text"), "doc_id"
    ).select("query_id", "text")
    fb_counts = (
        fb_texts.select("query_id", F.explode(corpus_tokens()).alias("token"))
        .groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    qterms = queries.select(
        "query_id", F.explode(corpus_tokens()).alias("token")
    ).distinct()
    new_terms = fb_counts.join(qterms, ["query_id", "token"], "left_anti")
    wnd = Window.partitionBy("query_id").orderBy(
        F.col("w").desc(), F.col("token")
    )
    picked = (
        new_terms.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= 10)
        .groupBy("query_id")
        .agg(F.concat_ws(" ", F.collect_list("token")).alias("_exp"))
    )
    return queries.join(picked, "query_id", "left").select(
        "query_id",
        F.when(
            F.col("_exp").isNull(), F.col("text")
        )
        .otherwise(F.concat(F.col("text"), F.lit(" "), F.col("_exp")))
        .alias("text"),
    )
