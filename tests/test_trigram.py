"""Trigram-index substring search: index path ≡ scan path (the law the
driver arm also pins cross-engine), the false-positive kill, the
short-pattern fallback, and a pure-Python replay."""

from __future__ import annotations

from stock_bars_data_engineering_project_spark.operators.trigram import (
    char_ngrams,
    substring_scan,
    substring_search,
    trigram_postings,
)

from stock_bars_data_engineering_project_spark.operators import incremental_trgm
from stock_bars_data_engineering_project_spark.operators.incremental_trgm import (
    TRGM,
    trgm_query,
)
from stock_bars_data_engineering_project_spark.operators.index_maint import (
    BUCKETED,
    apply_deletes,
    build_lexical_index,
    delete_ids,
    ingest_docs,
)

import pyspark.sql.functions as F

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick brown dog outpaces a quick fox"),
    (3, "lorem ipsum dolor sit amet"),
    # trigram decoy for pattern "abcdef": posts abc/bcd/cde/def without
    # containing the pattern — only the contains() verify rejects it
    (4, "abcd cdef bcd cde xyz"),
    (5, "abcdef embedded right here"),
    (6, "ab"),  # shorter than one trigram: posts nothing
]
PATTERNS = [
    (100, "quick brown"),
    (101, "abcdef"),
    (102, "zzz-absent"),
    (103, "ox"),  # < 3 chars: documented scan fallback
]


def _expected():
    return sorted(
        (pid, did)
        for pid, pat in PATTERNS
        for did, text in DOCS
        if pat in text
    )


def test_index_equals_scan_and_python(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(PATTERNS, ["pattern_id", "pattern"])
    got = sorted(
        (r.pattern_id, r.id)
        for r in substring_search(docs, pats).collect()
    )
    via_scan = sorted(
        (r.pattern_id, r.id) for r in substring_scan(docs, pats).collect()
    )
    assert got == via_scan == _expected()
    # the decoy is a candidate killed by verify; the real doc survives
    assert (101, 5) in got and (101, 4) not in got
    # the 2-char pattern matched through the fallback arm
    assert (103, 1) in got and (103, 2) in got


def test_candidate_gate_admits_decoy_before_verify(spark):
    """Pins WHY the verify is mandatory: the all-trigrams gate alone
    admits doc 4 for pattern 'abcdef'."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    post = trigram_postings(docs)
    tris = ["abc", "bcd", "cde", "def"]
    cand = (
        post.filter(F.col("trigram").isin(tris))
        .groupBy("id")
        .count()
        .filter(F.col("count") == len(tris))
    )
    assert sorted(r.id for r in cand.collect()) == [4, 5]


def test_char_ngrams_edges(spark):
    df = spark.range(1).select(
        char_ngrams(F.lit("abcd")).alias("a"),
        char_ngrams(F.lit("ab")).alias("b"),
        char_ngrams(F.lit("")).alias("c"),
    )
    row = df.collect()[0]
    assert row.a == ["abc", "bcd"]
    assert row.b == []
    assert row.c == []


def test_postings_are_distinct_per_doc(spark):
    docs = spark.createDataFrame([(1, "aaaaaa")], ["doc_id", "text"])
    post = trigram_postings(docs).collect()
    assert [(r.trigram, r.id) for r in post] == [("aaa", 1)]


def test_external_postings_reused(spark, tmp_path):
    """A persisted index answers the probe from its stored postings —
    no docs-side trigram work — with the in-plan search's answer."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(
        [(100, "quick brown")], ["pattern_id", "pattern"]
    )
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs, "tg", TRGM)
    got = sorted(
        (r.pattern_id, r.id) for r in trgm_query(wh, docs, pats, table="tg").collect()
    )
    assert got == [(100, 1), (100, 2)]
    want = sorted((r.pattern_id, r.id) for r in substring_search(docs, pats).collect())
    assert got == want


def _wh(spark, tmp_path):
    from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

    return ParquetWarehouse(spark, str(tmp_path / "wh"))


def test_persisted_index_build_ingest_equals_scan(spark, tmp_path):
    """Index built on even ids + odd ids ingested must answer exactly
    like the scan (and substring_search) over the union corpus —
    including the short-pattern fallback and the trigram decoy."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(PATTERNS, ["pattern_id", "pattern"])
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs.filter(F.col("doc_id") % 2 == 0), "tg", TRGM)
    n = ingest_docs(wh, docs.filter(F.col("doc_id") % 2 == 1), "tg", TRGM)
    assert n == 3
    got = sorted(
        (r.pattern_id, r.id)
        for r in trgm_query(wh, docs, pats, table="tg").collect()
    )
    assert got == _expected()


def test_persisted_index_replay_is_noop(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(
        [(101, "abcdef")], ["pattern_id", "pattern"]
    )
    wh = _wh(spark, tmp_path)
    half = docs.filter(F.col("doc_id") % 2 == 1)
    build_lexical_index(wh, half, "tg", TRGM)
    before = sorted(
        (r.pattern_id, r.id)
        for r in trgm_query(wh, docs, pats, table="tg").collect()
    )
    assert ingest_docs(wh, half, "tg", TRGM) == 0
    assert wh.read("tg__docs").count() == half.count()
    after = sorted(
        (r.pattern_id, r.id)
        for r in trgm_query(wh, docs, pats, table="tg").collect()
    )
    assert after == before == [(101, 5)]


def test_persisted_index_short_doc_is_member(spark, tmp_path):
    """Doc 6 ('ab') posts no trigram but must be a member, so its
    re-ingest is a no-op rather than a perpetual re-append."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs, "tg", TRGM)
    assert ingest_docs(wh, docs.filter(F.col("doc_id") == 6), "tg", TRGM) == 0


def test_probe_scans_only_pattern_buckets(spark, tmp_path):
    """The postings read must carry the probe-bucket partition filter —
    at 100 TB this is the difference between touching the pattern's
    buckets and the whole index."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(
        [(101, "abcdef")], ["pattern_id", "pattern"]
    )
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs, "tg", TRGM)
    plan = (
        trgm_query(wh, docs, pats, table="tg")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the probe-bucket IN list must land in the scan's PartitionFilters
    # clause — a mere bkt column reference elsewhere doesn't prune files
    pf = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf and any("bkt" in ln and " IN " in ln.replace("IN (", " IN (")
                      for ln in pf), plan

def test_persisted_index_tombstone_delete_and_apply(spark, tmp_path):
    """delete_ids tombstones: indexed probes AND the short-pattern scan
    fallback immediately answer over survivors only; deletion is
    idempotent; a tombstoned id is dead to re-ingest; apply_deletes
    folds tombstones physically (bkt hive layout preserved) with
    answers unchanged, after which the id re-ingests fresh — delete
    parity with the BM25/ANN indexes."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(PATTERNS, ["pattern_id", "pattern"])
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs.filter(F.col("doc_id") % 2 == 0), "tg", TRGM)
    ingest_docs(wh, docs.filter(F.col("doc_id") % 2 == 1), "tg", TRGM)

    # delete docs 1 (matches 'quick brown' + the 'ox' fallback) and 5
    # (the only true 'abcdef' match)
    delete_ids(wh, spark.createDataFrame([(1,), (5,)], "doc_id long"), "tg", BUCKETED)
    # idempotent re-delete
    delete_ids(wh, spark.createDataFrame([(1,)], "doc_id long"), "tg", BUCKETED)
    want = sorted(
        (pid, did)
        for pid, pat in PATTERNS
        for did, text in DOCS
        if pat in text and did not in (1, 5)
    )

    def _got():
        return sorted(
            (r.pattern_id, r.id)
            for r in trgm_query(wh, docs, pats, table="tg").collect()
        )

    assert _got() == want
    assert (103, 1) not in _got()  # fallback arm also excludes tombstones

    # tombstoned ids are dead to re-ingest until physically applied
    assert ingest_docs(wh, docs.filter(F.col("doc_id") == 1), "tg", TRGM) == 0
    assert _got() == want

    apply_deletes(wh, "tg", BUCKETED)
    assert _got() == want
    assert not wh.exists("tg__deleted")
    assert wh.read("tg__postings").filter(F.col("doc_id").isin([1, 5])).count() == 0
    # physical apply preserved the bkt hive layout (static pruning path)
    plan = (
        trgm_query(wh, docs, spark.createDataFrame(
            [(101, "abcdef")], ["pattern_id", "pattern"]), table="tg")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert any("bkt" in ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    # after apply, a deleted id re-ingests as a fresh document
    assert ingest_docs(wh, docs.filter(F.col("doc_id") == 1), "tg", TRGM) == 1
    assert (100, 1) in _got() and (103, 1) in _got()


def test_trgm_query_pattern_size_cap_is_loud(spark, tmp_path, monkeypatch):
    """An oversized pattern frame must fail fast with the documented
    guard, not silently build a huge broadcast."""
    import pytest

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pats = spark.createDataFrame(PATTERNS, ["pattern_id", "pattern"])
    wh = _wh(spark, tmp_path)
    build_lexical_index(wh, docs, "tg", TRGM)
    monkeypatch.setattr(incremental_trgm, "MAX_PATTERN_TRIGRAMS", 3)
    with pytest.raises(ValueError, match="MAX_PATTERN_TRIGRAMS"):
        trgm_query(wh, docs, pats, table="tg")
