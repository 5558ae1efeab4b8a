"""Text-analysis column functions for large-scale corpus pipelines.

All pure JVM-side Column expressions (no Python UDFs) so they vectorize
inside whole-stage codegen over billions of documents: tokenization,
shingling, language-ID heuristics, quality scoring, and a rolling-hash
document fingerprint.

Every helper takes SQL text (a column reference or expression, e.g.
``"text"`` or ``"lower(text)"``) and builds its whole tree in ONE
``F.expr`` parse, from the ``*_sql`` twin that also composes into larger
SQL text. The arithmetic is ANSI SQL with ``D``-suffixed double
literals, so the DuckDB oracles (see plans/extensions.py) replay it
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small closed-class English function-word list for the n-gram/stopword
# language heuristic. Deliberately tiny: the signal is the RATIO, and a
# short list keeps the oracle SQL identical.
EN_STOPWORDS = ("a", "an", "the", "of", "to", "and", "in", "is", "it", "that")


def tokens_sql(text: str) -> str:
    return f"split({text}, ' ')"


def tokens(text: str) -> Column:
    """Whitespace tokenization -> array<string>."""
    return F.expr(tokens_sql(text))


# The corpus word model: lower-cased single-space tokens of ``text``,
# empties dropped. Every corpus-model consumer (surprisal, PMI, LM
# state, BPE, BM25, the quality classifier) tokenizes through it, so
# the cross-engine contract cannot desynchronize between operators.
# array_remove equals filter(t -> t != '') on split output (split never
# yields NULL elements) and stays in whole-stage codegen, where the
# higher-order filter would run interpreted.
CORPUS_TOKENS_SQL = f"array_remove({tokens_sql('lower(text)')}, '')"


def corpus_tokens() -> Column:
    return F.expr(CORPUS_TOKENS_SQL)


def token_count_sql(text: str) -> str:
    return f"size({tokens_sql(text)})"


def token_count(text: str) -> Column:
    return F.expr(token_count_sql(text))


def bpe_ish_token_count_sql(text: str) -> str:
    return (
        f"(size(filter(split(lower({text}), '[^a-z0-9]+'), "
        "x -> x != '')) "
        f"+ length(regexp_replace({text}, '[a-zA-Z0-9\\\\s]', '')))"
    )


def bpe_ish_token_count(text: str) -> Column:
    """Sub-word-ish token count via a BPE-flavored regex: words are split
    from punctuation/digits, so counts approximate LLM tokenizer load
    better than whitespace counts."""
    return F.expr(bpe_ish_token_count_sql(text))


def stopword_ratio_sql(text: str) -> str:
    toks = tokens_sql(text)
    arr = "array(" + ",".join(f"'{s}'" for s in EN_STOPWORDS) + ")"
    return (
        f"(size(filter({toks}, t -> array_contains({arr}, lower(t)))) "
        f"/ size({toks}))"
    )


def stopword_ratio(text: str) -> Column:
    """Fraction of tokens that are closed-class function words."""
    return F.expr(stopword_ratio_sql(text))


def punct_ratio_sql(text: str) -> str:
    """Fraction of characters that are neither word chars nor whitespace;
    NULL for the empty string (try_divide, DuckDB's x/0), so one empty
    document cannot stop the job with an ANSI DIVIDE_BY_ZERO."""
    return (
        f"try_divide(length(regexp_replace({text}, '[a-zA-Z0-9\\\\s]', '')), "
        f"length({text}))"
    )


def mean_word_len_sql(text: str) -> str:
    toks = tokens_sql(text)
    return f"((length({text}) - size({toks}) + 1) / size({toks}))"


def mean_word_len(text: str) -> Column:
    return F.expr(mean_word_len_sql(text))


def lang_id_sql(text: str) -> str:
    return (
        f"(CASE WHEN {stopword_ratio_sql(text)} >= 0.03D "
        "THEN 'en' ELSE 'unknown' END)"
    )


def lang_id(text: str) -> Column:
    """Heuristic language ID: stopword density >= 0.03 -> 'en'.
    (A real n-gram profile model drops in here; the Spark plumbing —
    per-document closed-vocabulary scan, no shuffle — is the point.)"""
    return F.expr(lang_id_sql(text))


def quality_score_sql(text: str) -> str:
    from .scalars import sql_round

    length_credit = f"least(1.0D, ({token_count_sql(text)} / 100.0D))"
    prose = f"(1.0D - least(1.0D, ({punct_ratio_sql(text)} * 5.0D)))"
    stop = f"least(1.0D, ({stopword_ratio_sql(text)} * 10.0D))"
    # left association, as the oracle sums: (0.4*lc + 0.3*prose) + 0.3*stop
    return sql_round(
        f"(((0.4D * {length_credit}) + (0.3D * {prose})) + (0.3D * {stop}))",
        4,
    )


def quality_score(text: str) -> Column:
    """Composite document-quality score in [0,1]:
    length credit (saturates at 100 tokens) + prose-likeness (low
    punctuation density) + function-word density (saturates at 10%).
    Rounded by scalars.sql_round, the same ANSI SQL text the DuckDB
    oracles use."""
    return F.expr(quality_score_sql(text))


# PII scrub: e-mail addresses and phone numbers become typed tags. The
# DuckDB oracles interpolate the same patterns; production plugs a
# fuller ruleset into the same shape.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\d{3}[-.]\d{3,4}[-.]\d{4}"


def pii_scrub_sql(text: str) -> str:
    """Backslashes in the patterns double for the SQL string literal;
    the parsed pattern is byte-identical."""
    email, phone = (p.replace("\\", "\\\\") for p in (EMAIL_RE, PHONE_RE))
    return (
        f"regexp_replace(regexp_replace({text}, '{email}', '<EMAIL>'), "
        f"'{phone}', '<PHONE>')"
    )


def pii_scrub(text: str) -> Column:
    return F.expr(pii_scrub_sql(text))


def rolling_fingerprint_sql(text: str) -> str:
    return (
        f"aggregate(transform(split({text}, ''), ch -> ascii(ch)), "
        "CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647)"
    )


def rolling_fingerprint(text: str) -> Column:
    """Order-sensitive polynomial rolling hash over characters,
    ``h = (h*31 + ascii(ch)) mod (2^31-1)`` — a content fingerprint that
    is cheap, incremental, and identical in any engine with 64-bit
    integer arithmetic."""
    return F.expr(rolling_fingerprint_sql(text))


def word_shingles_sql(text: str, k: int = 3) -> str:
    toks = f"split({text}, ' ')"
    acc = toks
    for off in range(1, k):
        acc = (
            f"zip_with({acc}, slice({toks}, {off + 1}, size({toks})), "
            f"(x, y) -> concat(x, ' ', y))"
        )
    return f"filter({acc}, x -> x IS NOT NULL)"


def word_shingles(text: str, k: int = 3) -> Column:
    """Overlapping k-word shingles; documents shorter than k words yield
    an empty array.

    Built by zipping k-1 shifted copies of the token array (``zip_with``
    NULL-pads the shorter side, ``concat`` nulls out the incomplete tail
    shingles, ``filter`` drops them). The obvious alternative —
    ``transform(sequence(...), j -> slice(toks, j, k))`` — references
    ``toks`` inside a lambda BODY, which re-evaluates the tokenization
    per shingle index (O(n^2) in document length) after projection
    collapse; the zip shape touches each token O(k) times total."""
    return F.expr(word_shingles_sql(text, k))


def top_gram_share(grams: str) -> Column:
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

    ``grams`` is SQL text for the gram array (e.g. from
    :func:`word_shingles_sql`)."""
    nxt = "CASE WHEN g = acc.prev THEN acc.run + 1 ELSE 1 END"
    return F.expr(
        f"aggregate(array_sort({grams}), "
        f"named_struct('prev', CAST(NULL AS STRING), "
        f"'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
        f"(acc, g) -> named_struct('prev', g, 'run', {nxt}, "
        f"'best', greatest(acc.best, {nxt}))).best / size({grams})"
    )


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


def lang_id_profiles(text: str) -> Column:
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
    # \s+ split, NOT tokens()' single-space split: multi-line prose
    # (hard-wrapped text, tab-indented docs) would otherwise glue
    # newlines into tokens that match no profile word, deflating every
    # ratio toward 'unknown'. try_divide: a zero-token document must
    # classify 'unknown', not kill the job with an ANSI divide-by-zero
    # (the NULL ratio loses to the -1.0D init, matching the oracle's
    # COALESCE(greatest(...), -1.0))
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
