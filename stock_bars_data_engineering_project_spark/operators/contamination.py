"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation/benchmark set.

The training-data counterpart of dedup (operators/dedup.py): before
training, every corpus document is checked for shingle overlap against
the benchmark suite so evaluation data can be excised from the training
set. Same inverted-index machinery as n-gram Jaccard, but asymmetric —
the benchmark side is tiny relative to the corpus, so its distinct
shingle set is broadcast and the 100-TB corpus side never shuffles:
the whole check is a map-side broadcast semi-join + one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import round_half_up
from ..functions.text import tokens, word_shingles

# exact_substr_scrub's span length in tokens
SUBSTR_K = 8


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Per corpus document: how many of its distinct 3-word shingles
    appear anywhere in the benchmark set, plus the contaminated
    fraction. Returns only documents with at least one overlapping
    shingle (the candidates to drop/inspect).

    Output: (doc_id, n_shingles, n_overlap, contamination) where
    contamination = n_overlap / n_shingles rounded to 4 places.
    """
    from ..sources.readers import balance

    # shingling is the per-row CPU here; balance() guards against a
    # coarse upstream (one row-group) serializing it on one core
    shingled = balance(corpus).select(
        F.col("doc_id"),
        F.array_distinct(word_shingles("text", 3)).alias("shingles"),
    ).filter(F.size("shingles") > 0)

    bench_shingles = (
        benchmark.select(
            F.explode(
                F.array_distinct(word_shingles("text", 3))
            ).alias("shingle")
        )
        .distinct()
    )

    exploded = shingled.select(
        "doc_id", F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("shingle")
    )
    hits = (
        exploded.join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))  # shingles pre-distinct per doc
    )
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        round_half_up(F.col("n_overlap") / F.col("n_shingles"), 4).alias(
            "contamination"
        ),
    )


def boilerplate_scrub(df: DataFrame, df_cap: int = 5) -> DataFrame:
    """Corpus-level boilerplate removal (the C4/RefinedWeb-style scrub):
    any 3-token span that appears in >= ``df_cap`` DISTINCT documents is
    treated as boilerplate (headers, footers, license banners, nav
    text), and every token position covered by a hot span is removed
    from every document.

    Three passes, all shuffle-bounded:
    1. positional k-grams per doc — map-side array ops (sequence +
       slice + concat_ws), one explode;
    2. gram document-frequency — ONE partial-aggregable groupBy; grams
       at or over ``df_cap`` form the hot set, whose size is bounded by
       total_grams/df_cap and in real corpora is a tiny fraction, so
       it is broadcast;
    3. covered positions per doc — the hot-occurrence join fans out k
       positions per hit, then ONE groupBy(doc) collect_set; the
       rebuild is a map-side indexed array filter.

    The corpus text itself is never shuffled except for the k-gram
    explode feeding pass 2's partial aggregation — at 100 TB the
    map-side combine collapses the Zipf head before the exchange.

    Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY input
    document; ``clean_text`` is the kept tokens re-joined with single
    spaces (a normalized token join, both engines reassemble
    identically). Documents shorter than 3 tokens pass through intact.
    """
    from ..sources.readers import balance

    pos_grams = positional_grams(df, 3)
    hot = (
        gram_doc_frequency(pos_grams)
        .filter(F.col("gram_df") >= df_cap)
        .select("gram")
    )
    base = balance(df).select(F.col("doc_id"), tokens("text").alias("toks"))
    covered = (
        pos_grams.join(F.broadcast(hot), "gram")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("p"))
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    return _rebuild_minus_covered(base, covered)


def positional_grams(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): every k-token span with its 1-based start
    position — map-side array ops (sequence + slice + concat_ws), one
    explode."""
    from ..sources.readers import balance

    toks = tokens("text")
    base = balance(df).select(F.col("doc_id"), toks.alias("toks"))
    n = F.size("toks")
    empty_pg = F.array().cast("array<struct<pos:int,gram:string>>")
    return base.select(
        "doc_id",
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice(F.col("toks"), i, k)).alias(
                            "gram"
                        ),
                    ),
                ),
            ).otherwise(empty_pg)  # sequence(1, n-k+1) would DESCEND for n<k
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))


def gram_doc_frequency(pos_grams: DataFrame) -> DataFrame:
    """(gram, gram_df): distinct-document frequency per gram — ONE
    partial-aggregable groupBy. Per-batch frames are MERGEABLE by
    summing gram_df (append-only corpora count each doc in exactly one
    batch), which is what the incremental path exploits."""
    return pos_grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("gram_df")
    )


def _rebuild_minus_covered(base: DataFrame, covered: DataFrame) -> DataFrame:
    """Shared rebuild: drop each document's covered 1-based positions
    and re-join the kept tokens. ``base`` is (doc_id, toks); ``covered``
    is (doc_id, _cov array<int>), absent docs pass through intact.
    NULL text (toks NULL) passes through as NULL — n_tokens NULL,
    n_removed 0, clean_text NULL — not as the empty string a
    fully-scrubbed document legitimately produces (dedup_paragraphs'
    NULL contract; found by review)."""
    joined = base.join(covered, "doc_id", "left")
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    # kept positions via set difference, then positions -> tokens: an
    # array_contains probe per token would be O(n_tokens * n_covered)
    # inside one row — a boilerplate-heavy long doc could dominate its
    # task. array_except preserves the first argument's (already
    # sorted) order, so the rebuild stays in document order.
    kept = F.transform(
        F.array_except(F.sequence(F.lit(1), F.size("toks")), cov),
        lambda p: F.element_at(F.col("toks"), p),
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(cov).cast("bigint").alias("n_removed"),
        F.when(F.col("toks").isNotNull(), F.concat_ws(" ", kept)).alias(
            "clean_text"
        ),
    )


def exact_substr_scrub(df: DataFrame) -> DataFrame:
    """Exact-substring dedup (the suffix-array pass of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed at k-gram granularity): every occurrence of a k-token
    span that appears twice or more ANYWHERE in the corpus
    — across documents or repeated within one — is removed EXCEPT the
    globally first occurrence (ordered by (doc_id, position)), which
    survives in place. Overlapping duplicated grams merge into longer
    scrubbed spans via the position union, so a long duplicated passage
    is kept once and excised everywhere else, which is the paper's
    semantics without materializing a suffix array.

    Contrast with :func:`boilerplate_scrub`: that pass keys on
    document frequency (>= df_cap distinct docs) and scrubs EVERY
    occurrence; this pass keys on raw occurrence count (>= 2) and keeps
    a canonical copy — dedup, not removal.

    Scale shape: the winner table (gram -> count + min-(doc_id,pos)) is
    ONE partial-aggregable groupBy whose Zipf head collapses map-side;
    it is corpus-sized, so the occurrence/winner join is a sort-merge
    join on the gram key (AQE-skew-eligible) rather than a broadcast —
    the document text itself never rides either shuffle, only
    (doc_id, pos, gram). A window (row_number per gram) would do it in
    one shuffle but serializes each hot gram's occurrence list in a
    single task; the agg+join shape is the skew-safe choice at 100 TB.

    Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY input
    document, same contract as :func:`boilerplate_scrub`.
    """
    from ..sources.readers import balance
    toks = tokens("text")
    base = balance(df).select(F.col("doc_id"), toks.alias("toks"))
    k = SUBSTR_K
    pos_grams = positional_grams(df, k)
    winners = (
        pos_grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("keep"),
        )
        .filter(F.col("n_occ") >= 2)
        .select("gram", "keep")
    )
    dup_occ = pos_grams.join(winners, "gram").filter(
        ~(
            (F.col("doc_id") == F.col("keep.doc_id"))
            & (F.col("pos") == F.col("keep.pos"))
        )
    )
    covered = (
        dup_occ.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    return _rebuild_minus_covered(base, covered)


def dedup_paragraphs(df: DataFrame) -> DataFrame:
    """Corpus-global exact paragraph dedup (the C4/RefinedWeb pass that
    complements :func:`boilerplate_scrub`): every paragraph occurrence
    that is not the globally FIRST occurrence of its normalized form is
    removed; first occurrences — ordered by ``(doc_id, position)`` so
    the keeper is deterministic — survive in place.

    Matching normalizes each paragraph (trim + inner-whitespace
    collapse + lowercase) and keys on the 128-bit md5 of the normalized
    form — the same exact-dedup key discipline as ``dedup_exact``
    (operators/dedup.py). Paragraphs that normalize to the empty string
    are exempt (always kept): empty fragments would otherwise both be
    destroyed corpus-wide AND form a degenerate hot key.

    Scale shape (the 100-TB question is the boilerplate paragraph that
    appears in millions of documents):
    1. split + posexplode — map-side;
    2. winner per key via ``min(struct(doc_id, pos))`` — a partial
       aggregate, so the Zipf-head key collapses to one row per map
       task BEFORE the exchange (a window over the key would drag every
       occurrence of the hottest paragraph into one task);
    3. occurrences ⋈ winners on the md5 key to mark non-winners — a
       plain shuffle equi-join, AQE skew-split eligible, carrying only
       ``(key, doc_id, pos)`` — never the paragraph text;
    4. per-doc rebuild — groupBy(doc) collect_set of removed positions,
       indexed array filter, re-join with a blank line (the
       boilerplate_scrub idiom).

    Output: ``(doc_id, n_paragraphs, n_removed, clean_text)`` for EVERY
    input document (docs with no duplicate paragraphs pass through with
    n_removed=0; ``clean_text`` keeps the ORIGINAL paragraph text, only
    the inter-paragraph delimiter is normalized to one blank line).
    """
    from ..sources.readers import balance

    # NULL text is treated as "" (one empty, exempt paragraph) — explode
    # of a NULL array would silently DROP the document from the output
    paras = F.split(F.coalesce(F.col("text"), F.lit("")), r"\n{2,}")
    base = balance(df).select(F.col("doc_id"), paras.alias("paras"))

    norm = F.lower(F.trim(F.regexp_replace(F.col("para"), r"\s+", " ")))
    occ = (
        base.select("doc_id", F.posexplode("paras").alias("pos", "para"))
        .select("doc_id", "pos", norm.alias("norm"))
        .filter(F.length("norm") >= 1)
        .select("doc_id", "pos", F.md5(F.col("norm")).alias("pkey"))
    )
    winners = occ.groupBy("pkey").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    removed = (
        occ.join(winners, "pkey")
        .filter(
            ~((F.col("doc_id") == F.col("w.doc_id")) & (F.col("pos") == F.col("w.pos")))
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_rm"))
    )
    joined = base.join(removed, "doc_id", "left")
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    # positions -> kept paragraphs via set difference on the 0-based
    # index range; array_except preserves the (sorted) first argument's
    # order, so the rebuild stays in document order
    kept = F.transform(
        F.array_except(F.sequence(F.lit(0), F.size("paras") - 1), rm),
        lambda i: F.element_at(F.col("paras"), i + 1),
    )
    return joined.select(
        "doc_id",
        F.size("paras").cast("bigint").alias("n_paragraphs"),
        F.size(rm).cast("bigint").alias("n_removed"),
        F.array_join(kept, "\n\n").alias("clean_text"),
    )
