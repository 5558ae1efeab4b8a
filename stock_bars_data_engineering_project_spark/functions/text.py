"""Text-analysis column functions for large-scale corpus pipelines.

All pure JVM-side Column expressions (no Python UDFs) so they vectorize
inside whole-stage codegen over billions of documents: tokenization,
shingling, language-ID heuristics, quality scoring, and a rolling-hash
document fingerprint. Each has an exact ANSI-SQL twin used by the DuckDB
oracles (see plans/extensions.py) — the arithmetic is engine-portable by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small closed-class English function-word list for the n-gram/stopword
# language heuristic. Deliberately tiny: the signal is the RATIO, and a
# short list keeps the oracle SQL identical.
EN_STOPWORDS = ("a", "an", "the", "of", "to", "and", "in", "is", "it", "that")


# ``*_sql`` twins + str fast paths (the vectors.py
# discipline): a str argument is a SQL column reference/expression and
# the helper parses the identical tree in ONE F.expr instead of a py4j
# driver round-trip per node. Same fold shapes, same literal types
# (``D``-suffixed doubles), so values are bit-identical to the Column
# forms (verified by join-compare on testdata at conversion time).


def tokens_sql(text: str) -> str:
    return f"split({text}, ' ')"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization -> array<string>."""
    if isinstance(text, str):
        return F.expr(tokens_sql(text))
    return F.split(text, " ")


def token_count_sql(text: str) -> str:
    return f"size({tokens_sql(text)})"


def token_count(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(token_count_sql(text))
    return F.size(tokens(text))


def bpe_ish_token_count_sql(text: str) -> str:
    return (
        f"(size(filter(split(lower({text}), '[^a-z0-9]+'), "
        "x -> x != '')) "
        f"+ length(regexp_replace({text}, '[a-zA-Z0-9\\\\s]', '')))"
    )


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via a BPE-flavored regex: words are split
    from punctuation/digits, so counts approximate LLM tokenizer load
    better than whitespace counts."""
    if isinstance(text, str):
        return F.expr(bpe_ish_token_count_sql(text))
    return F.size(
        F.filter(
            F.split(F.lower(text), r"[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        )
    ) + F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", F.lit("")))


def stopword_ratio_sql(text: str) -> str:
    toks = tokens_sql(text)
    arr = "array(" + ",".join(f"'{s}'" for s in EN_STOPWORDS) + ")"
    return (
        f"(size(filter({toks}, t -> array_contains({arr}, lower(t)))) "
        f"/ size({toks}))"
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are closed-class function words."""
    if isinstance(text, str):
        return F.expr(stopword_ratio_sql(text))
    toks = tokens(text)
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))
    return n_stop / F.size(toks)


def punct_ratio_sql(text: str) -> str:
    return (
        f"(length(regexp_replace({text}, '[a-zA-Z0-9\\\\s]', '')) "
        f"/ length({text}))"
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are neither word chars nor whitespace."""
    if isinstance(text, str):
        return F.expr(punct_ratio_sql(text))
    return (
        F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", F.lit("")))
        / F.length(text)
    )


def mean_word_len_sql(text: str) -> str:
    toks = tokens_sql(text)
    return f"((length({text}) - size({toks}) + 1) / size({toks}))"


def mean_word_len(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(mean_word_len_sql(text))
    return (F.length(text) - F.size(tokens(text)) + 1) / F.size(tokens(text))


def lang_id_sql(text: str) -> str:
    return (
        f"(CASE WHEN {stopword_ratio_sql(text)} >= 0.03D "
        "THEN 'en' ELSE 'unknown' END)"
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: stopword density >= 0.03 -> 'en'.
    (A real n-gram profile model drops in here; the Spark plumbing —
    per-document closed-vocabulary scan, no shuffle — is the point.)"""
    if isinstance(text, str):
        return F.expr(lang_id_sql(text))
    return F.when(stopword_ratio(text) >= 0.03, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def quality_score_sql(text: str) -> str:
    from .scalars import sql_round

    length_credit = f"least(1.0D, ({token_count_sql(text)} / 100.0D))"
    prose = f"(1.0D - least(1.0D, ({punct_ratio_sql(text)} * 5.0D)))"
    stop = f"least(1.0D, ({stopword_ratio_sql(text)} * 10.0D))"
    # left association matches the Column form: (0.4*lc + 0.3*prose) + 0.3*stop
    return sql_round(
        f"(((0.4D * {length_credit}) + (0.3D * {prose})) + (0.3D * {stop}))",
        4,
    )


def quality_score(text: Column | str) -> Column:
    """Composite document-quality score in [0,1]:
    length credit (saturates at 100 tokens) + prose-likeness (low
    punctuation density) + function-word density (saturates at 10%)."""
    if isinstance(text, str):
        # scalars.sql_round emits engine-portable ANSI SQL (the same
        # text the DuckDB oracles use), so it serves as the Spark-side
        # single-parse twin of round_half_up here
        return F.expr(quality_score_sql(text))
    from .scalars import round_half_up

    length_credit = F.least(F.lit(1.0), token_count(text) / 100.0)
    prose = 1.0 - F.least(F.lit(1.0), punct_ratio(text) * 5.0)
    stop = F.least(F.lit(1.0), stopword_ratio(text) * 10.0)
    return round_half_up(0.4 * length_credit + 0.3 * prose + 0.3 * stop, 4)


def rolling_fingerprint_sql(text: str) -> str:
    return (
        f"aggregate(transform(split({text}, ''), ch -> ascii(ch)), "
        "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647)"
    )


def rolling_fingerprint(text: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over characters,
    ``h = (h*31 + ascii(ch)) mod (2^31-1)`` — a content fingerprint that
    is cheap, incremental, and identical in any engine with 64-bit
    integer arithmetic."""
    if isinstance(text, str):
        return F.expr(rolling_fingerprint_sql(text))
    codes = F.transform(F.split(text, ""), F.ascii)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 2147483647,
    )


def word_shingles_sql(text: str, k: int = 3) -> str:
    """SQL text for :func:`word_shingles` over a SQL column reference —
    one parse at the consumer instead of k zip_with lambdas' worth of
    py4j round trips."""
    toks = f"split({text}, ' ')"
    acc = toks
    for off in range(1, k):
        acc = (
            f"zip_with({acc}, slice({toks}, {off + 1}, size({toks})), "
            f"(x, y) -> concat(x, ' ', y))"
        )
    return f"filter({acc}, x -> x IS NOT NULL)"


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Overlapping k-word shingles; documents shorter than k words yield
    an empty array.

    Built by zipping k-1 shifted copies of the token array (``zip_with``
    NULL-pads the shorter side, ``concat`` nulls out the incomplete tail
    shingles, ``filter`` drops them). The obvious alternative —
    ``transform(sequence(...), j -> slice(toks, j, k))`` — references
    ``toks`` inside a lambda BODY, which re-evaluates the tokenization
    per shingle index (O(n^2) in document length) after projection
    collapse; the zip shape touches each token O(k) times total.

    A str argument (SQL column reference) parses the identical tree in
    ONE F.expr."""
    if isinstance(text, str):
        return F.expr(word_shingles_sql(text, k))
    toks = tokens(text)
    acc = toks
    for off in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, off + 1, F.size(toks)),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.filter(acc, lambda x: x.isNotNull())


def top_gram_share(grams: Column | str) -> Column:
    """Fraction of the gram stream taken by its single most frequent
    gram — the Gopher-style "top n-gram fraction" repetition filter
    (dup_ratio catches BREADTH of repetition; this catches one phrase
    looping). NULL-safe only in the sense the caller gates on
    ``size(grams) > 0``, like dup_ratio.

    O(n log n) map-only: sort the array, then one fold tracking the
    longest run of equal adjacent elements (the max multiplicity).
    Counts are integers, so any engine computing multiplicity any other
    way (the oracle uses an O(n^2) count-max over distincts) agrees
    exactly; only the final division is FP.

    A str argument is SQL text for the gram array (e.g. from
    :func:`word_shingles_sql`): the whole run fold parses as ONE
    F.expr."""
    if isinstance(grams, str):
        nxt = "CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1 END"
        return F.expr(
            f"aggregate(array_sort({grams}), "
            f"named_struct('prev', CAST(NULL AS STRING), "
            f"'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
            f"(acc, g) -> named_struct('prev', g, 'run', {nxt}, "
            f"'best', greatest(acc.best, {nxt}))).best / size({grams})"
        )
    run = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return run["best"] / F.size(grams)


# Closed-class function-word profiles for the multilingual ID heuristic
# (common published stopword lists, ~10 words each — the signal is the
# per-language RATIO, so tiny lists suffice; shared Romance articles
# like 'la'/'que' are outvoted by the language-unique entries).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "mit", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "dans", "que", "pour", "une", "pas"),
    "es": ("el", "los", "las", "que", "y", "es", "en", "un", "por", "con"),
    "it": ("il", "che", "di", "e", "un", "per", "sono", "con", "non", "della"),
}


def lang_id_profiles(text: Column | str) -> Column:
    """Multilingual language ID: argmax of per-language function-word
    density over ``LANG_PROFILES``, 'unknown' below 0.05 — the
    n-language upgrade of :func:`lang_id`, still one map-only codegen
    expression (no model artifact, no shuffle, no Python). Ties break
    toward the profile dict's insertion order, so classification is
    deterministic.

    A real n-gram profile model (textcat) or fastText drops in at the
    same call site; the per-document closed-vocabulary scan shape is
    identical.
    """
    if isinstance(text, str):
        # SQL column reference -> the whole argmax as ONE F.expr parse
        # (the loop-built Column form paid ~0.1 s of py4j
        # round-trips per call; same fold shape, -1.0D init, identical
        # tie-break toward dict insertion order)
        toks_sql = f"filter(split(lower({text}), '\\\\s+'), t -> t != '')"
        cands_sql = ",".join(
            f"named_struct('lang', '{lang}', 'r', "
            f"try_divide(size(filter({toks_sql}, t -> array_contains(array("
            + ",".join(f"'{w}'" for w in words)
            + f"), t))), size({toks_sql})))"
            for lang, words in LANG_PROFILES.items()
        )
        best_sql = (
            f"aggregate(array({cands_sql}), "
            f"named_struct('lang', CAST(NULL AS STRING), 'r', -1.0D), "
            f"(acc, c) -> CASE WHEN c.r > acc.r THEN c ELSE acc END)"
        )
        return F.expr(
            f"CASE WHEN {best_sql}.r >= 0.05D "
            f"THEN {best_sql}.lang ELSE 'unknown' END"
        )
    # \s+ split, NOT tokens()' single-space split: multi-line prose
    # (hard-wrapped text, tab-indented docs) would otherwise glue
    # newlines into tokens that match no profile word, deflating every
    # ratio toward 'unknown'
    toks = F.filter(
        F.split(F.lower(text), r"\s+"), lambda t: t != F.lit("")
    )
    n = F.size(toks)

    def _cand(lang: str, words: tuple[str, ...]) -> Column:
        # bind the literal array OUTSIDE the lambda: a second lambda
        # parameter would receive the element INDEX column from
        # F.filter, not the word list. try_divide: a zero-token
        # document must classify 'unknown', not kill the job with an
        # ANSI divide-by-zero (the NULL ratio loses to the -1.0 init
        # below, matching the oracle's COALESCE(greatest(...), -1.0))
        stops = F.array(*[F.lit(w) for w in words])
        ratio = F.try_divide(
            F.size(F.filter(toks, lambda t: F.array_contains(stops, t))), n
        )
        return F.struct(F.lit(lang).alias("lang"), ratio.alias("r"))

    cands = F.array(*[_cand(lang, words) for lang, words in LANG_PROFILES.items()])
    best = F.aggregate(
        cands,
        F.struct(F.lit(None).cast("string").alias("lang"), F.lit(-1.0).alias("r")),
        lambda acc, c: F.when(c["r"] > acc["r"], c).otherwise(acc),
    )
    return F.when(best["r"] >= 0.05, best["lang"]).otherwise(F.lit("unknown"))
