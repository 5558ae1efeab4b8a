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

- corpus -> word counts: one explode + one partial-aggregable groupBy —
  the only corpus-sized stage, identical to the vocab pass in
  plans/extensions.py;
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

EOW = "</w>"


def word_counts(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """Corpus -> (word, n): the single corpus-sized pass of BPE
    training. Map-side combine absorbs the Zipf head before the
    shuffle."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.select(F.explode(F.split(text, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_str(s: str) -> str:
    """SQL string literal with backslash/quote escaping — merge-rule
    symbols come from corpus tokens and may contain either."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _initial_symbols(word: str, eow: str | None) -> str:
    """SQL text for the initial per-character symbol array. SQL strings
    rather than Column trees: the nested merge folds pay a py4j driver
    round-trip per node, where one F.expr parse at the consumer does not
    (BASELINE.md, "Plan-construction figures")."""
    chars = f"filter(split({word}, ''), c -> c != '')"
    if eow:
        chars = f"concat({chars}, array({_sql_str(eow)}))"
    return chars


def _apply_merge(syms: str, a: str, b: str) -> str:
    """Leftmost-first, non-overlapping replacement of the adjacent pair
    (a, b) with a+b — a single left fold with a one-symbol carry, as
    SQL text over a symbol-array expression.

    Walking the array: the carry holds the previous unmerged symbol.
    Seeing ``x`` with carry == a and x == b emits the merged symbol and
    clears the carry (so the merged token cannot immediately re-merge —
    'aaa' under (a,a) becomes ['aa','a'], the reference semantics);
    otherwise the carry is flushed and ``x`` becomes the new carry.
    (NULL-carry semantics match the old Column form exactly: NULL AND
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


def _select_batch(
    cands, want: int, min_pair_count: int
) -> list[tuple[str, str, int]]:
    """Greedy non-interacting rule selection from ONE pair-count
    snapshot, in (cnt desc, a, b) order. A candidate is skipped when it
    shares a symbol with an already-picked rule or with a string a pick
    will create (applying the picks could change its count or its
    leftmost-first match positions); non-interacting candidates' counts
    are INVARIANT under the picks (a merge only consumes occurrences of
    its own symbols and creates pairs containing its new token), which
    is what makes applying them from the stale snapshot sound."""
    picked: list[tuple[str, str, int]] = []
    touched: set[str] = set()
    for r in cands:
        if len(picked) >= want:
            break
        if r["cnt"] < min_pair_count:
            break
        a, b = r["a"], r["b"]
        if a in touched or b in touched or (a + b) in touched:
            continue
        picked.append((a, b, int(r["cnt"])))
        touched.update((a, b, a + b))
    return picked


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    lowercase: bool = True,
    eow: str | None = EOW,
    min_pair_count: int = 2,
    batch_size: int = 1,
    stats: dict | None = None,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a corpus. Returns the
    ordered rule list ``[(a, b, pair_count), ...]`` — the tokenizer
    model. Deterministic: ties on count break lexicographically on
    (a, b), so the learned vocabulary is reproducible across runs,
    partitionings, and engines.

    Stops early (returns fewer rules) when no remaining pair reaches
    ``min_pair_count`` — merging singleton pairs only memorizes the
    corpus.

    ``batch_size=1`` (default) is the exact sequential reference
    algorithm: one cluster round (pair-count argmax + symtab rewrite)
    PER MERGE — 32k jobs for a 32k-merge production vocab, which is
    scheduling-bound long before it is data-bound. ``batch_size>1``
    learns up to that many NON-INTERACTING rules per round from one
    count snapshot (the same batching discipline fast trainers use):
    rules sharing no symbols — and not colliding with a string another
    pick creates — have snapshot-invariant counts, so applying them
    together equals applying them sequentially; the approximation is
    only that rules after the first were RANKED against the stale
    snapshot, so a pair created mid-batch cannot jump the queue until
    the next round. Where the round's top candidates don't interact at
    all, the batched model is IDENTICAL to sequential (pinned in
    tests/test_bpe.py); cluster rounds drop ~batch_size-fold.
    ``stats`` (optional dict) receives {'rounds': ...} so callers can
    assert the merges-per-round ratio."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    wc = word_counts(df, text_col=text_col, lowercase=lowercase)
    # localCheckpoint per round, NOT persist: persist caches blocks but
    # leaves the logical plan intact, so each round would nest another
    # fold and analysis cost would grow quadratically with n_merges
    # (Catalyst stack overflow at real vocab sizes). Same per-iteration
    # truncation as similarity.kmeans_refine / dedup's label
    # propagation; same cluster-durability caveat and remedy as
    # dedup_clusters discusses.
    symtab = wc.select(
        "n", F.expr(_initial_symbols("word", eow)).alias("syms")
    ).transform(materialize)
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # over-fetch so interaction skips can still fill the batch; the
        # top rule is never skipped, so progress is guaranteed
        cands = (
            _pair_counts(symtab)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(max(4 * want, 8))
            .collect()
        )
        rounds += 1
        picked = _select_batch(cands, want, min_pair_count)
        if not picked:
            break
        merges.extend(picked)
        syms = "syms"
        for a, b, _cnt in picked:
            syms = _apply_merge(syms, a, b)
        symtab = symtab.select(
            "n", F.expr(syms).alias("syms")
        ).transform(materialize)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    word_col: str = "word",
    eow: str | None = EOW,
    checkpoint_every: int = 64,
) -> DataFrame:
    """Apply a learned merge sequence to a table of words: adds a
    ``pieces`` array<string> column — the tokenizer's ENCODE side,
    replaying each rule in training order (the defining property of
    BPE: encode applies merges in learned order, not greedily by
    frequency).

    Rules are applied in chunks of ``checkpoint_every`` nested folds
    with a lineage-truncating materialization between chunks: a
    production merge list (tens of thousands of rules) folded into ONE
    column expression would build a Catalyst tree deep enough to blow
    analysis/codegen. A merge list at most one chunk long stays a pure
    single-plan transform."""
    if checkpoint_every <= 0:
        raise ValueError(f"checkpoint_every must be positive, got {checkpoint_every}")
    if "pieces" in df.columns:
        # same collision discipline as salted_topk:
        # silently overwriting a caller's column is a data bug, not a
        # convenience
        raise ValueError("bpe_segment writes a 'pieces' column; input already has one")
    syms = _initial_symbols(f"`{word_col}`", eow)
    out = df
    for i, rule in enumerate(merges):
        a, b = rule[0], rule[1]
        syms = _apply_merge(syms, a, b)
        if (i + 1) % checkpoint_every == 0 and (i + 1) < len(merges):
            out = materialize(out.withColumn("pieces", F.expr(syms)))
            syms = "pieces"
    return out.withColumn("pieces", F.expr(syms))
