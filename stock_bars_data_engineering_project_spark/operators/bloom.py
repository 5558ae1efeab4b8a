"""Bloom-filter pre-filtered joins — runtime row-level filtering.

The classic big-join scale lever (and what Spark's own
`spark.sql.optimizer.runtime.bloomFilter.enabled` injects for shuffle
joins): when the probe side is orders of magnitude larger than the
build side, ship a BITMAP of the build side's key fingerprints to every
probe task and drop non-matching rows BEFORE they reach the join
shuffle. A bloom filter can only false-POSITIVE, so the join result is
EXACTLY the plain join's — the filter is purely shuffle-volume
reduction, which is what makes it oracle-gateable by plain equality.

Spark ships this as an internal optimizer rule over internal
expressions (`bloom_filter_agg` / `might_contain` are not in the public
function registry), and the rule only fires on shuffle-join shapes it
recognizes. This module is the EXPLICIT, composable form, built from
the engine-portable md5 idiom everything else here uses:

- k = ``N_HASHES`` positions per key from salted
  :func:`functions.hashing.md5_bucket48` (bit-identical in any engine);
- the bitmap is ``M_BITS`` bits packed into 32-bit words, built by ONE
  partial-aggregable pass over the build side (groupBy word,
  bit_or — at most m/32 groups however large the build side);
- the bitmap rides into the probe plan as ONE array literal (the
  flat-literal discipline of the LSH hyperplanes / PCA components:
  O(m) driver bytes, O(1) plan nodes per word access), and membership
  is a pure codegen expression — no join, no Python.

Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k; 2^16 bits / 4
hashes reads ~4-5%% fp at n = 10k build keys. The bitmap is fixed at
that size, so a build side far past ~10k keys saturates it and the
pre-filter passes more probe rows; the join result stays exact.

Bit arithmetic avoids shift-by-column (Spark's shiftleft/shiftright
take literal shift amounts): the word value stays < 2^32 and the bit
value 2^(pos%%32) comes from ``pow`` — both exact in IEEE doubles far
below 2^53, so the extraction is integer-exact by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket48

_WORD = 32
M_BITS = 1 << 16
N_HASHES = 4


def _positions(key: Column) -> list[Column]:
    return [
        md5_bucket48(key, M_BITS, salt=f"bloom{i}") for i in range(N_HASHES)
    ]


def bloom_bitmap(build: DataFrame, key: str) -> list[int]:
    """The build side's bloom bitmap as ``M_BITS/32`` ints — a bounded
    model artifact (like the BPE rule list or the PCA components): its
    size is O(M_BITS) regardless of build-side cardinality, so the
    collect is sanctioned. One partial-aggregable pass, at most
    M_BITS/32 groups."""
    pos = F.explode(F.array(*_positions(F.col(key)))).alias("pos")
    rows = (
        # NULL build keys contribute nothing: an equi-join never matches
        # NULL, so leaving them out preserves exact join semantics (and
        # a NULL md5 position would poison the word assembly). The probe
        # side needs no guard — a NULL key's membership test is NULL,
        # the filter drops the row, and a semi join would have dropped
        # it anyway.
        build.filter(F.col(key).isNotNull()).select(pos)
        .select(
            (F.col("pos") / _WORD).cast("int").alias("w"),
            F.pow(F.lit(2.0), F.col("pos") % _WORD).cast("long").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    ).collect()
    words = [0] * (M_BITS // _WORD)
    for r in rows:
        words[r.w] = int(r.bits)
    return words


def bloom_might_contain(key: str, words: list[int]) -> Column:
    """Codegen membership test of the SQL expression ``key`` against a
    literal bitmap: true unless some hash position's bit is unset.
    False positives possible by design; false negatives impossible.

    The whole test — bitmap literal, the ``N_HASHES`` md5 positions, and
    the bit checks — is ONE ``F.expr`` parse: ``F.lit(list)`` would
    issue one py4j call per bitmap word (~1 s per bloom join at 2^16
    bits). (A bit-STRING literal is far worse: SQL ``substr`` on
    UTF8String scans from byte 0 to find the character offset, so a
    64k-char bitmap costs O(M_BITS) per row per probe.) ``forall`` over
    the position array references the bitmap literal ONCE and keeps
    three-valued NULL semantics: any false position -> false, else any
    NULL (NULL key) -> NULL."""
    arr = "array(" + ",".join(str(int(w)) for w in words) + ")"
    positions = ",".join(
        f"(CAST(conv(substring(md5(concat('bloom{i}:', "
        f"CAST({key} AS STRING))), 1, 12), 16, 10) AS BIGINT) "
        f"% {M_BITS})"
        for i in range(N_HASHES)
    )
    # exact bit extraction without shift-by-column: word < 2^32 and
    # 2^(p%32) are both exact doubles, so floor(word / 2^bit) % 2
    # is the bit
    return F.expr(
        f"forall(array({positions}), p -> "
        f"(CAST(floor(element_at({arr}, CAST((p / {_WORD}) AS INT) + 1) "
        f"/ power(2.0D, p % {_WORD})) AS BIGINT) % 2) = 1)"
    )


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    build_key: str,
    words: list[int],
) -> DataFrame:
    """LEFT SEMI join with a bloom pre-filter on the probe side: rows
    whose key cannot be in the build side never reach the join
    exchange. Result is EXACTLY ``probe ⋉ build`` (no false negatives);
    at scale the win is the probe rows that never shuffle. The bitmap
    collects to a flat array literal (zero joins, pure codegen).

    ``words``: the bitmap :func:`bloom_bitmap` built over ``build_key``
    of the SAME build side. A bloom bitmap is a build-once artifact (the
    BPE-rules/PCA-components class): a serving loop amortizes the two
    build jobs (bitmap agg + collect) across every probe. A stale
    bitmap silently changes results — the caller owns that
    invariant."""
    pre = probe.filter(bloom_might_contain(key, words))
    return pre.join(build, pre[key] == build[build_key], "left_semi")


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    build_key: str,
    words: list[int],
) -> DataFrame:
    """LEFT ANTI join with a bloom SHORTCUT: a probe row whose
    membership test fails is a CERTAIN non-member (a bloom has no
    false negatives) and is kept without ever touching the join — only
    the passing rows (true members plus false positives) pay the exact
    anti join. Result is EXACTLY ``probe ▷ build``; at scale the win is
    that the typically-dominant non-matching majority never shuffles.

    NULL probe keys never equi-match, so the anti join must KEEP them:
    the NULL membership test routes them to the certain-miss branch
    (a NULL key's test is NULL — ``~NULL`` would silently drop the row,
    the exact hazard hash_bucket's guard documents — so the split is on
    ``test IS TRUE``).

    ``words``: the build side's bitmap, as for :func:`bloom_semi_join`."""
    hit = F.coalesce(bloom_might_contain(key, words), F.lit(False))
    tagged = probe.withColumn("_bloom_hit", hit)
    certain_miss = tagged.filter(~F.col("_bloom_hit")).drop("_bloom_hit")
    candidates = tagged.filter(F.col("_bloom_hit")).drop("_bloom_hit")
    survivors = candidates.join(
        build, candidates[key] == build[build_key], "left_anti"
    )
    return certain_miss.unionByName(survivors)
