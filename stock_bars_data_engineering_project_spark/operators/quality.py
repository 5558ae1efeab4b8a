"""Corpus-model quality scoring — signals that need the corpus itself
as the model (unlike functions/text.py's per-row heuristics, which are
map-only): the CCNet-style unigram-LM surprisal gate and its bigram
stupid-backoff upgrade.

Scale shape: the model is the corpus's own token-count table —
token-cardinality-sized (the same bound TF-IDF's document-frequency
table carries), built by one partial-aggregable wordcount shuffle whose
map-side combine absorbs Zipf skew. Scoring is one token-keyed join of
the exploded corpus against that table plus a broadcast 1-row total,
then one per-doc mean aggregate. Nothing quadratic, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import corpus_tokens

# The Gopher paper's stop-word presence list (Rae et al. 2021, §A1.1) —
# distinct from functions/text.py's EN_STOPWORDS, which feeds the
# language-ID ratio; this one gates on "contains >= 2 of these words".
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def word_counts(docs: DataFrame) -> DataFrame:
    """(token, n) under the corpus word model (functions/text.py
    ``corpus_tokens``): one explode and one partial-aggregable count,
    whose map-side combine absorbs the Zipf head before the shuffle.
    Vocabulary-sized (Heaps'-law sub-linear) at any corpus scale."""
    return (
        docs.select(F.explode(corpus_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def adjacent_pairs(docs: DataFrame, *ids: str) -> DataFrame:
    """(*ids, prev, cur) adjacent pairs of the corpus word model: zip
    the token array with its own 1-shifted copy; zip_with NULL-pads the
    shorter side, so the last element pairs (last_token, NULL) and the
    filter drops it. Map-only, and no lambda body re-evaluates the
    tokenization (the word_shingles discipline, functions/text.py)."""
    toks = corpus_tokens()
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
        lambda s: s["cur"].isNotNull(),
    )
    return docs.select(*ids, F.explode(bigrams).alias("bg")).select(
        *ids, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )


def unigram_surprisal(docs: DataFrame, counts: DataFrame) -> DataFrame:
    """Per-document mean surprisal -ln p(token) under the corpus's own
    unigram model (the corpus word model's ``counts``, from
    :func:`word_counts`). Boilerplate, gibberish, and wrong-language
    documents have unusual token mixes and score HIGH — the standard
    perplexity-style quality gate, with the corpus itself as the
    language model so no external artifact is needed.

    Documents with no non-empty tokens have no defined score and emit
    no row (they drop out of the token join on any engine).

    Returns (doc_id, score) with the RAW double score — display
    rounding belongs to the caller (functions.scalars.round_half_up).
    """
    total = counts.agg(F.sum("n").cast("double").alias("total"))
    return (
        docs.select("doc_id", F.explode(corpus_tokens()).alias("token"))
        .join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.avg(-F.log(F.col("n").cast("double") / F.col("total"))).alias(
                "score"
            )
        )
    )


# bigrams seen fewer times are pruned from the bigram model
# (bigram_surprisal, lm_state) and from pmi_collocations' pair table
BIGRAM_MIN_COUNT = 2
PMI_MIN_COUNT = 5


def bigram_surprisal(
    docs: DataFrame,
    unigram_counts: DataFrame,
    bigram_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own bigram
    LM with stupid backoff (Brants et al. 2007): for each adjacent token
    pair (prev, cur),

        p = c2(prev, cur) / c1(prev)        if the bigram survives
                                            BIGRAM_MIN_COUNT pruning,
          = 0.4 * c1(cur) / total           otherwise (backoff to the
                                            unigram model),

    and the score is mean(-ln p). This is the KenLM-shaped upgrade of
    ``unigram_surprisal``: it additionally penalizes locally implausible
    TRANSITIONS (shuffled words, templated gibberish with common tokens
    in uncommon orders) that a bag-of-words model cannot see.

    BIGRAM_MIN_COUNT pruning is the scale lever, not a tuning nicety: at corpus
    scale the bigram table's cardinality is dominated by singletons
    (Zipf tail squared), and pruning them bounds the only model-sized
    join table while making the backoff branch real work — with the
    corpus as its own model and no pruning, every observed bigram would
    trivially hit the seen branch.

    Scale shape: one partial-aggregable bigram wordcount (map-side
    combine absorbs skew), one pruned-bigram left join, two
    token-keyed unigram joins (the pruned tables are candidates for
    AQE broadcast), one per-doc mean. Bigram pairing is map-only
    zip_with over the token array — no lambda-body re-evaluation (the
    word_shingles discipline, functions/text.py:101-107).

    Documents with fewer than two non-empty tokens have no bigrams and
    emit no row (they drop out of the explode on any engine). Returns
    (doc_id, score, n_bigrams) with the RAW double score — display
    rounding belongs to the caller.

    ``unigram_counts`` is the (token, n) table of the corpus word model
    (:func:`word_counts`), so a caller that already built the
    vocabulary shares it instead of paying a second corpus pass.

    ``bigram_counts`` optionally supplies a (prev, cur, n2) table — a
    FROZEN reference model (e.g. persisted from a trusted corpus via the
    warehouse) instead of the scored corpus's own bigrams. This is the
    realistic 100 TB shape: the gate scores incoming batches against a
    fixed LM rather than re-deriving the model from the batch (which
    would let a batch of correlated garbage normalize itself). The
    supplied table is used as-is — apply BIGRAM_MIN_COUNT pruning before
    persisting it; when supplied, ``unigram_counts`` should come from
    the SAME reference corpus.

    OOV contract (the frozen-model case that matters): tokens absent
    from ``unigram_counts`` are scored KenLM-style as ``<unk>`` with
    count 1 — the unigram joins are LEFT joins, an unseen ``cur`` backs
    off to ``p = 0.4 * 1/total``, and a bigram whose ``prev`` is
    unseen takes the backoff branch regardless of ``bigram_counts``.
    Novel-garbage batches therefore get their most suspicious
    transitions scored at maximum surprisal instead of silently dropped
    from the per-doc mean, and a fully-OOV document still emits a score
    row. In self-model mode every token is in the table, so the left
    joins match inner-join behavior exactly.
    """
    pairs = adjacent_pairs(docs, "doc_id")
    if bigram_counts is None:
        c2 = (
            pairs.groupBy("prev", "cur")
            .agg(F.count(F.lit(1)).alias("n2"))
            .filter(F.col("n2") >= BIGRAM_MIN_COUNT)
        )
    else:
        c2 = bigram_counts.select("prev", "cur", "n2")
    total = unigram_counts.agg(F.sum("n").cast("double").alias("total"))

    c1p = unigram_counts.select(
        F.col("token").alias("prev"), F.col("n").cast("double").alias("n_prev")
    )
    c1c = unigram_counts.select(
        F.col("token").alias("cur"), F.col("n").cast("double").alias("n_cur")
    )
    # seen branch requires BOTH the bigram and its prev count (a frozen
    # model could in principle carry a bigram whose prev fell out of the
    # unigram table — treat that as unseen rather than divide by NULL)
    p = F.when(
        F.col("n2").isNotNull() & F.col("n_prev").isNotNull(),
        F.col("n2").cast("double") / F.col("n_prev"),
    ).otherwise(
        F.lit(0.4) * F.coalesce(F.col("n_cur"), F.lit(1.0)) / F.col("total")
    )
    return (
        pairs.join(c2, ["prev", "cur"], "left")
        .join(c1p, "prev", "left")
        .join(c1c, "cur", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.avg(-F.log(p)).alias("score"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def gopher_panel(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_fraction: float = 0.8,
    min_distinct_stopwords: int = 2,
    max_dup_line_fraction: float = 0.3,
    max_dup_line_char_fraction: float = 0.2,
    max_top_2gram_fraction: float = 0.2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    standard pre-training heuristic filter), as ONE map-only pass: every
    signal is a per-row array/regexp expression inside whole-stage
    codegen — no shuffle, no Python, safe to run inline in the scan of a
    100-TB corpus (the cheapest possible gate, which is why production
    pipelines run it FIRST, before any dedup shuffle).

    Rules (each emitted as a boolean ``rule_*`` column; thresholds are
    the paper's defaults, all keyword-overridable):
      - word count within [min_words, max_words];
      - mean word length within [min, max];
      - symbol-to-word ratio <= max for '#' chars AND for '...'/'…'
        runs, tested SEPARATELY per symbol as the paper specifies
        (a summed ratio would reject documents the paper keeps);
      - fraction of bullet-started lines <= max, ellipsis-ended <= max;
      - fraction of words containing an alphabetic char >= min;
      - >= min_distinct_stopwords of GOPHER_STOPWORDS present;
      - repetition: duplicate-line fraction (by count AND by character
        mass) <= max, top-2-gram token share <= max (the fuller n-gram
        ladder is functions/text.top_gram_share over other k).

    ``keep`` = AND of all rules, NULL-proofed to false (an empty or
    NULL document fails closed, not open). Returns the input columns
    plus n_words and the flag columns; refuses loudly if the input
    already carries any of those names (the bpe_segment/salted_topk
    collision discipline).
    """
    # The whole rule panel is emitted as SQL strings and parsed by ONE
    # selectExpr: the loop-built Column form pays py4j round-trips per
    # node (each higher-order lambda the most), where the parser builds
    # the identical trees at once (BASELINE.md, "Plan-construction
    # figures"). Thresholds interpolate as literals —
    # ints verbatim, floats as repr + the `D` suffix, which parses to
    # the identical IEEE double (the lsh_bucket rule). Repeated
    # sub-expression TEXT (toks/lines appear in several rules) costs
    # nothing at runtime: the old Column reuse also expanded to
    # repeated subtrees in the analyzed plan, and codegen
    # subexpression elimination dedups both forms identically.
    def lit_sql(v) -> str:
        return str(int(v)) if isinstance(v, int) else f"{float(v)!r}D"

    text = f"coalesce(`{text_col}`, '')"
    toks = f"filter(split({text}, '\\\\s+'), t -> t != '')"
    n_words = f"size({toks})"
    nw = f"CAST({n_words} AS DOUBLE)"

    def sum_lengths(arr: str) -> str:
        return f"aggregate({arr}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"

    # ALL ratios go through try_divide: ANSI mode (the Spark 4 default)
    # turns a zero divisor — empty doc, no lines — into a hard error,
    # and a quality GATE must fail such docs closed, not kill the job
    mean_wlen = f"try_divide({sum_lengths(toks)}, {nw})"

    n_hash = f"(length({text}) - length(replace({text}, '#', '')))"
    n_ell = (
        f"(((length({text}) - length(replace({text}, '...', ''))) / 3) "
        f"+ length({text}) - length(replace({text}, '…', '')))"
    )
    # per-symbol ratios, each tested against the threshold on its own —
    # the paper's rule is "hash OR ellipsis ratio above 0.1", not a sum
    hash_ratio = f"try_divide({n_hash}, {nw})"
    ell_ratio = f"try_divide({n_ell}, {nw})"

    lines = (
        f"filter(transform(split({text}, '\\\\n'), l -> trim(l)), "
        f"l -> l != '')"
    )
    n_lines = f"CAST(size({lines}) AS DOUBLE)"
    bullet_ratio = (
        f"try_divide(size(filter({lines}, l -> l rlike '^[-*•]')), {n_lines})"
    )
    ellipsis_ratio = (
        f"try_divide(size(filter({lines}, "
        f"l -> l rlike '(\\\\.\\\\.\\\\.|…)$')), {n_lines})"
    )

    alpha_frac = (
        f"try_divide(size(filter({toks}, t -> t rlike '[A-Za-z]')), {nw})"
    )

    stops = "array(" + ",".join(f"'{s}'" for s in GOPHER_STOPWORDS) + ")"
    n_stops = (
        f"size(array_intersect(transform({toks}, t -> lower(t)), {stops}))"
    )

    distinct_lines = f"array_distinct({lines})"
    dup_line_frac = (
        f"try_divide(size({lines}) - size({distinct_lines}), {n_lines})"
    )
    dup_line_char_frac = (
        f"try_divide({sum_lengths(lines)} - {sum_lengths(distinct_lines)}, "
        f"CAST({sum_lengths(lines)} AS DOUBLE))"
    )

    # word_shingles(flat, 2) + top_gram_share, same zip/fold shapes as
    # functions/text.py (k=2: one zip_with of the shifted token array,
    # incomplete tail shingles null out and are filtered)
    flat = f"trim(regexp_replace({text}, '\\\\s+', ' '))"
    ftoks = f"split({flat}, ' ')"
    grams2 = (
        f"filter(zip_with({ftoks}, slice({ftoks}, 2, size({ftoks})), "
        f"(x, y) -> concat(x, ' ', y)), x -> x IS NOT NULL)"
    )
    run_best = (
        f"aggregate(array_sort({grams2}), "
        f"named_struct('prev', CAST(NULL AS STRING), "
        f"'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
        f"(acc, g) -> named_struct('prev', g, "
        f"'run', CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1 END, "
        f"'best', greatest(acc.best, "
        f"CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1 END))).best"
    )
    top2 = (
        f"(CASE WHEN size({grams2}) > 0 "
        f"THEN {run_best} / size({grams2}) ELSE 0.0D END)"
    )

    def ok(c: str) -> str:
        return f"coalesce({c}, false)"

    rules = {
        "rule_word_count": ok(
            f"{n_words} >= {lit_sql(min_words)} "
            f"AND {n_words} <= {lit_sql(max_words)}"
        ),
        "rule_mean_word_len": ok(
            f"{mean_wlen} >= {lit_sql(min_mean_word_len)} "
            f"AND {mean_wlen} <= {lit_sql(max_mean_word_len)}"
        ),
        "rule_symbol_ratio": ok(
            f"{hash_ratio} <= {lit_sql(max_symbol_word_ratio)} "
            f"AND {ell_ratio} <= {lit_sql(max_symbol_word_ratio)}"
        ),
        # a doc with no surviving lines trivially passes the line-shape
        # rules (nothing to object to) — hence the n_lines==0 branch
        "rule_bullet_lines": ok(
            f"{n_lines} = 0 OR {bullet_ratio} <= "
            f"{lit_sql(max_bullet_line_ratio)}"
        ),
        "rule_ellipsis_lines": ok(
            f"{n_lines} = 0 OR {ellipsis_ratio} <= "
            f"{lit_sql(max_ellipsis_line_ratio)}"
        ),
        "rule_alpha_words": ok(
            f"{alpha_frac} >= {lit_sql(min_alpha_word_fraction)}"
        ),
        "rule_stopwords": ok(
            f"{n_stops} >= {lit_sql(min_distinct_stopwords)}"
        ),
        "rule_dup_lines": ok(
            f"{n_lines} = 0 OR {dup_line_frac} <= "
            f"{lit_sql(max_dup_line_fraction)}"
        ),
        "rule_dup_line_chars": ok(
            f"{n_lines} = 0 OR {dup_line_char_frac} <= "
            f"{lit_sql(max_dup_line_char_fraction)}"
        ),
        "rule_top_2gram": ok(
            f"{top2} <= {lit_sql(max_top_2gram_fraction)}"
        ),
    }
    clash = ({"n_words", "keep"} | set(rules)) & set(docs.columns)
    if clash:
        raise ValueError(
            f"gopher_panel writes column(s) {sorted(clash)}; rename them "
            "on the input first"
        )
    out = docs.selectExpr(
        "*",
        f"CAST({n_words} AS BIGINT) AS n_words",
        *[f"{expr} AS {name}" for name, expr in rules.items()],
    )
    # keep references the NAMED rule columns so each rule expression is
    # analyzed once, not inlined ten more times
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.select("*", keep.alias("keep"))


def pmi_collocations(docs: DataFrame, unigram_counts: DataFrame) -> DataFrame:
    """Collocation mining by pointwise mutual information — the phrase
    detector behind word2vec-phrases / Gensim ``Phrases``: token pairs
    that co-occur far more than their unigram frequencies predict
    ("new york", "machine learning") are the multi-word units a
    tokenizer or vocabulary pass should treat as one symbol.

        PMI(a, b) = ln( p(a,b) / (p(a) p(b)) )
                  = ln( (c2/N2) / ((c1a/N1) * (c1b/N1)) )

    with c2 the adjacent-pair count (N2 pairs total) and c1 the unigram
    counts (N1 tokens total). Every input is an exact integer count, so
    the score is one double expression per surviving bigram — the
    cross-engine contract is the same as the surprisal arms (round the
    ln for display/ranking).

    ``PMI_MIN_COUNT`` prunes the Zipf singleton tail BEFORE the joins —
    PMI's known failure mode is that hapax pairs of hapax words get the
    maximum score, and the pruning is also what bounds the join tables
    at corpus scale (the bigram_surprisal lever).

    Scale shape: one partial-aggregable bigram wordcount, two
    token-keyed joins of the PRUNED pair table to the
    unigram table (AQE broadcasts the pruned side), and two 1-row
    scalars — the pair total comes from a map-only size aggregate over
    the scan (size(tokens)-1 per doc, integer-identical to counting
    the exploded pairs), never a second corpus explode. Returns
    (prev, cur, n2, pmi) with the RAW double pmi; ranking/rounding
    belong to the caller (ranking the full table is a
    vocabulary-sized sort, not a corpus-sized one).

    Tokens and pairs are the corpus word model's (:func:`word_counts`,
    :func:`adjacent_pairs`). ``unigram_counts`` is consumed three times
    (total + two joins), so a caller passes it materialized (the tfidf
    suite's shared wordcount)."""
    uni = unigram_counts
    c2 = (
        adjacent_pairs(docs).groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("n2"))
        .filter(F.col("n2") >= PMI_MIN_COUNT)
    )
    n1 = uni.agg(F.sum("n").cast("double").alias("_n1"))
    # total pair count WITHOUT a second corpus explode: per-doc pair
    # counts are size(tokens)-1, a map-only aggregate over the scan —
    # integer-identical to counting the exploded pairs
    n2tot = docs.agg(
        F.sum(F.greatest(F.size(corpus_tokens()) - 1, F.lit(0)))
        .cast("double")
        .alias("_n2tot")
    )
    scored = (
        c2.join(
            uni.select(
                F.col("token").alias("prev"),
                F.col("n").cast("double").alias("_ca"),
            ),
            "prev",
        )
        .join(
            uni.select(
                F.col("token").alias("cur"),
                F.col("n").cast("double").alias("_cb"),
            ),
            "cur",
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2tot))
        .select(
            "prev",
            "cur",
            "n2",
            F.log(
                (F.col("n2") / F.col("_n2tot"))
                / ((F.col("_ca") / F.col("_n1")) * (F.col("_cb") / F.col("_n1")))
            ).alias("pmi"),
        )
    )
    return scored
