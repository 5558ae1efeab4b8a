"""Distributed BPE tokenizer training (byte-pair-encoding merge learning).

Training an LLM tokenizer is itself a corpus-scale job: the classic BPE
loop (Sennrich et al. 2016, the algorithm behind GPT-2/RoBERTa vocab
construction) repeatedly merges the most frequent adjacent symbol pair.
The naive reading — rewrite the whole corpus every round — is dead at
100 TB. The trick every production trainer uses (HuggingFace tokenizers
does the same) is that BPE only needs WORD COUNTS: the corpus is
scanned exactly once into a (word, n) table of vocabulary cardinality
(Heaps'-law sub-linear), and all subsequent rounds operate on that
small table.

Spark-first shape:

- corpus -> word counts (``quality.word_counts``, the corpus word
  model): one explode + one partial-aggregable groupBy — the only
  corpus-sized stage, the same table the vocab pass in
  plans/extensions.py reads;
- per round: adjacent-pair counts via a map-side zip_with of two array
  slices weighted by the word count, ONE vocabulary-sized partial-agg
  shuffle, and a 1-row TakeOrdered argmax (a sanctioned driver-side
  scalar: the merge table IS the model and is O(n_merges) by
  definition);
- merge application: a left-fold over each word's symbol array
  (``F.aggregate`` with a carry — leftmost-first, non-overlapping: the
  exact sequential semantics of the reference algorithm). The fold is
  an interpreted higher-order function, which this engine normally
  avoids on corpus-sized inputs (see the simhash history in
  BASELINE.md) — here it runs on the VOCAB table, whose cardinality the
  wordcount pass already collapsed.

Rounds are inherently sequential (each merge changes the pair
distribution, like Lloyd iterations in similarity.kmeans_refine); each
round materializes its symbol table with a lineage-truncating
checkpoint so the plan stays O(1) deep however many merges are
learned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .quality import word_counts

EOW = "</w>"


def _sql_str(s: str) -> str:
    """SQL string literal with backslash/quote escaping — merge-rule
    symbols come from corpus tokens and may contain either."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _initial_symbols(word: str) -> str:
    """SQL text for the initial per-character symbol array. SQL strings
    rather than Column trees: the nested merge folds pay a py4j driver
    round-trip per node, where one F.expr parse at the consumer does not
    (BASELINE.md, "Plan-construction figures")."""
    chars = f"filter(split({word}, ''), c -> c != '')"
    return f"concat({chars}, array({_sql_str(EOW)}))"


def _apply_merge(syms: str, a: str, b: str) -> str:
    """Leftmost-first, non-overlapping replacement of the adjacent pair
    (a, b) with a+b — a single left fold with a one-symbol carry, as
    SQL text over a symbol-array expression.

    Walking the array: the carry holds the previous unmerged symbol.
    Seeing ``x`` with carry == a and x == b emits the merged symbol and
    clears the carry (so the merged token cannot immediately re-merge —
    'aaa' under (a,a) becomes ['aa','a'], the reference semantics);
    otherwise the carry is flushed and ``x`` becomes the new carry.
    (NULL-carry semantics: NULL AND
    false short-circuits false, NULL AND true stays NULL, and CASE
    routes both to the flush branch.)
    """
    sa, sb, sm = _sql_str(a), _sql_str(b), _sql_str(a + b)
    flush = (
        "CASE WHEN acc.carry IS NULL THEN acc.out "
        "ELSE concat(acc.out, array(acc.carry)) END"
    )
    return (
        f"aggregate({syms}, "
        f"named_struct('out', CAST(array() AS ARRAY<STRING>), "
        f"'carry', CAST(NULL AS STRING)), "
        f"(acc, x) -> CASE WHEN acc.carry = {sa} AND x = {sb} "
        f"THEN named_struct('out', concat(acc.out, array({sm})), "
        f"'carry', CAST(NULL AS STRING)) "
        f"ELSE named_struct('out', {flush}, 'carry', x) END, "
        f"acc -> {flush})"
    )


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-pair frequencies weighted by word count —
    map-side zip_with of two slices, one partial-agg shuffle."""
    sz = F.size("syms")
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice("syms", 1, sz - 1),
            F.slice("syms", 2, sz - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        symtab.select("n", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def train_bpe(df: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a corpus. Returns the
    ordered rule list ``[(a, b, pair_count), ...]`` — the tokenizer
    model. Deterministic: ties on count break lexicographically on
    (a, b), so the learned vocabulary is reproducible across runs,
    partitionings, and engines.

    Stops early (returns fewer rules) when no remaining pair occurs at
    least twice — merging singleton pairs only memorizes the corpus.

    One cluster round (pair-count argmax + symtab rewrite) per merge:
    the exact sequential algorithm."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    wc = word_counts(df)
    # localCheckpoint per round, NOT persist: persist caches blocks but
    # leaves the logical plan intact, so each round would nest another
    # fold and analysis cost would grow quadratically with n_merges
    # (Catalyst stack overflow at real vocab sizes). Same per-iteration
    # truncation as similarity.kmeans_refine / dedup_clusters' star
    # rounds; same cluster-durability caveat and remedy as
    # dedup_clusters discusses.
    symtab = wc.select(
        "n", F.expr(_initial_symbols("token")).alias("syms")
    ).transform(materialize)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        top = (
            _pair_counts(symtab)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b, int(top[0]["cnt"])))
        symtab = symtab.select(
            "n", F.expr(_apply_merge("syms", a, b)).alias("syms")
        ).transform(materialize)
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge sequence to a table of words: adds a
    ``pieces`` array<string> column — the tokenizer's ENCODE side,
    replaying each rule in training order (the defining property of
    BPE: encode applies merges in learned order, not greedily by
    frequency).

    Rules are applied in chunks of 64 nested folds with a
    lineage-truncating materialization between chunks: a
    production merge list (tens of thousands of rules) folded into ONE
    column expression would build a Catalyst tree deep enough to blow
    analysis/codegen. A merge list at most one chunk long stays a pure
    single-plan transform."""
    if "pieces" in df.columns:
        # same collision discipline as salted_topk:
        # silently overwriting a caller's column is a data bug, not a
        # convenience
        raise ValueError("bpe_segment writes a 'pieces' column; input already has one")
    syms = _initial_symbols("`word`")
    out = df
    for i, rule in enumerate(merges):
        a, b = rule[0], rule[1]
        syms = _apply_merge(syms, a, b)
        if (i + 1) % 64 == 0 and (i + 1) < len(merges):
            out = materialize(out.withColumn("pieces", F.expr(syms)))
            syms = "pieces"
    return out.withColumn("pieces", F.expr(syms))
