"""Unit tests: benchmark-contamination overlap and the interval join
(batch semantics of the stream-stream join)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.operators.contamination import (
    contamination_overlap,
)
from stock_bars_data_engineering_project_spark.streaming.joins import interval_join


def test_contamination_flags_only_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here padding more tokens"),
            (3, "quick brown fox appears again in this text"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox ran away")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in contamination_overlap(corpus, benchmark).collect()}
    # doc 2 shares no 3-gram with the benchmark -> absent
    assert set(got) == {1, 3}
    # doc 1 shares "the quick brown" and "quick brown fox"
    assert got[1].n_overlap == 2
    assert got[3].n_overlap == 1  # "quick brown fox"
    for r in got.values():
        assert 0 < r.contamination <= 1.0


def test_interval_join_bounds_are_inclusive(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, etype):
        return (eid, 7, t0 + dt.timedelta(minutes=minutes), etype)

    events = spark.createDataFrame(
        [
            ev(1, 0, "purchase"),
            ev(10, -60, "view"),   # exactly max_lag before -> included
            ev(11, -61, "view"),   # just beyond -> excluded
            ev(12, 0, "view"),     # same instant -> included
            ev(13, 1, "view"),     # after the purchase -> excluded
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    got = interval_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts", max_lag="1 hour"
    )
    view_ids = sorted(r.r_event_id for r in got.collect())
    assert view_ids == [10, 12]


def test_interval_join_requires_same_user(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 7, t0, "purchase"),
            (2, 8, t0, "view"),  # other user, same instant
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = interval_join(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "view"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
    )
    assert got.count() == 0


def test_ewma_matches_hand_computation(spark):
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.ema import ewma_per_key

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(hours=i), v)
        for i, v in enumerate([10.0, 20.0, 30.0, 40.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r.event_id: r.ema
        for r in ewma_per_key(df, alpha=0.5).collect()
    }
    # y1=10, y2=.5*10+.5*20=15, y3=.5*15+.5*30=22.5, y4=.5*22.5+.5*40=31.25
    assert got == {0: 10.0, 1: 15.0, 2: 22.5, 3: 31.25}


def test_ewma_supports_string_keys(spark):
    import datetime as dt

    from stock_bars_data_engineering_project_spark.operators.ema import ewma_per_key

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("AAPL", 1, t0, 10.0), ("AAPL", 2, t0 + dt.timedelta(hours=1), 20.0)],
        "symbol string, seq int, ts timestamp, value double",
    )
    got = ewma_per_key(
        df, key="symbol", ts="ts", value="value", tiebreak="seq", alpha=0.5
    ).collect()
    assert {r.symbol for r in got} == {"AAPL"}
    assert sorted(r.ema for r in got) == [10.0, 15.0]


def test_boilerplate_scrub_known_corpus(spark):
    """Repeated 3-gram spans across >= df_cap docs are removed at every
    covered position; overlapping hot spans merge; short and clean docs
    pass through intact (normalized token join)."""
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        boilerplate_scrub,
    )

    boiler = "all rights reserved"
    rows = [(i, f"body text {i} " + boiler) for i in range(5)]  # df = 5
    rows.append((10, f"{boiler} extra tail words here"))  # hot span at head
    rows.append((11, "unique words only in this doc"))  # untouched
    rows.append((12, "too short"))  # n < k: passes through
    # overlapping hot spans: "all rights reserved" + "rights reserved forever"
    rows += [(20 + i, f"pre {boiler} forever post {i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in boilerplate_scrub(docs, k=3, df_cap=5).collect()
    }
    assert len(out) == len(rows)  # every doc comes back
    # df("all rights reserved") = 11 >= 5 -> removed everywhere
    assert out[11] == (6, 0, "unique words only in this doc")
    assert out[12] == (2, 0, "too short")
    n, rm, txt = out[0]
    assert (n, rm) == (6, 3) and txt == "body text 0"
    assert out[10][2] == "extra tail words here"
    # overlap docs 20..24 share "pre all rights reserved forever post":
    # every gram in the shared scaffold hits df=5 ("pre all rights",
    # "all rights reserved", "rights reserved forever", "reserved
    # forever post" are ALL hot), so overlapping spans merge to cover
    # positions 1..6 and only the per-doc suffix survives
    n, rm, txt = out[20]
    assert (n, rm) == (7, 6) and txt == "0"


def test_boilerplate_scrub_no_hot_grams_identity(spark):
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        boilerplate_scrub,
    )

    docs = spark.createDataFrame(
        [(i, f"totally distinct words {i} here") for i in range(4)],
        "doc_id long, text string",
    )
    out = boilerplate_scrub(docs, k=3, df_cap=5).collect()
    assert all(r.n_removed == 0 for r in out)
    assert all(r.clean_text.endswith(f"{r.doc_id} here") for r in out)


def test_dedup_paragraphs_global_first_occurrence(spark):
    """Cross-doc + in-doc duplicate paragraphs: only the globally first
    occurrence by (doc_id, pos) survives; normalization (case + inner
    whitespace) unifies variants; short paragraphs are exempt."""
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        dedup_paragraphs,
    )

    dup = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (1, f"unique intro one\n\n{dup}\n\nbody of doc one"),
            # same paragraph, different case + extra inner spaces -> dup
            (2, f"Subscribe  TO our\tnewsletter today\n\nbody of doc two"),
            # in-doc repeat: second copy inside doc 3 also removed
            (3, f"{dup}\n\nmiddle part\n\n{dup}"),
            (4, "no duplicates here at all\n\nsecond clean paragraph"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_paragraphs(docs, min_chars=3).collect()}
    assert got[1].n_removed == 0
    assert got[1].clean_text == f"unique intro one\n\n{dup}\n\nbody of doc one"
    # doc 2 loses the normalized duplicate but keeps its body
    assert got[2].n_removed == 1
    assert got[2].clean_text == "body of doc two"
    # doc 3: both copies are later than doc 1's -> both removed
    assert got[3].n_removed == 2
    assert got[3].clean_text == "middle part"
    assert got[4].n_removed == 0
    assert got[4].n_paragraphs == 2


def test_dedup_paragraphs_min_chars_exemption_and_null(spark):
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [(1, "ok\n\nok\n\nlong enough paragraph"), (2, "long enough paragraph"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_paragraphs(docs, min_chars=5).collect()}
    # "ok" under min_chars: kept in BOTH positions of doc 1
    assert got[1].n_removed == 0
    assert got[1].clean_text == "ok\n\nok\n\nlong enough paragraph"
    # the long paragraph's first occurrence is doc 1 -> doc 2 loses it
    assert got[2].n_removed == 1
    assert got[2].clean_text == ""
    # NULL text must not vanish from the output
    assert got[3].n_removed == 0
    assert got[3].clean_text == ""


def test_dedup_paragraphs_matches_python_reference(spark):
    """Replay against a direct Python implementation on a generated
    corpus with a Zipf-ish paragraph pool (heavy repeats + uniques)."""
    import random

    from stock_bars_data_engineering_project_spark.operators.contamination import (
        dedup_paragraphs,
    )

    rng = random.Random(42)
    pool = [f"paragraph number {i} with shared content" for i in range(8)]
    rows = []
    for d in range(25):
        paras = [
            pool[rng.randrange(len(pool))] if rng.random() < 0.6
            else f"unique to doc {d} index {j}"
            for j in range(rng.randrange(1, 6))
        ]
        rows.append((d, "\n\n".join(paras)))

    def norm(p):
        return " ".join(p.split()).lower()

    seen: set[str] = set()
    expect = {}
    for d, text in sorted(rows):
        paras = text.split("\n\n")
        kept, removed = [], 0
        for p in paras:
            n = norm(p)
            if len(n) < 1:
                kept.append(p)
            elif n in seen:
                removed += 1
            else:
                seen.add(n)
                kept.append(p)
        expect[d] = (len(paras), removed, "\n\n".join(kept))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paragraphs, r.n_removed, r.clean_text)
        for r in dedup_paragraphs(docs).collect()
    }
    assert got == expect


def _exact_substr_replay(rows, k, min_count=2):
    """Direct Python reference for exact_substr_scrub."""
    toks = {d: text.split(" ") for d, text in rows}
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, ts in sorted(toks.items()):
        for i in range(len(ts) - k + 1):
            occ.setdefault(" ".join(ts[i : i + k]), []).append((d, i + 1))
    cov: dict[int, set[int]] = {d: set() for d in toks}
    for g, os_ in occ.items():
        if len(os_) < min_count:
            continue
        keep = min(os_)
        for d, p in os_:
            if (d, p) != keep:
                cov[d].update(range(p, p + k))
    return {
        d: (
            len(ts),
            len(cov[d]),
            " ".join(t for j, t in enumerate(ts, start=1) if j not in cov[d]),
        )
        for d, ts in toks.items()
    }


def test_exact_substr_scrub_matches_python_reference(spark):
    """Generated corpus with cross-doc shared passages AND within-doc
    repetition — the operator must equal the direct replay exactly
    (counts and rebuilt text)."""
    import random

    from stock_bars_data_engineering_project_spark.operators.contamination import (
        exact_substr_scrub,
    )

    rng = random.Random(7)
    passages = [
        " ".join(f"shared{i}w{j}" for j in range(6)) for i in range(4)
    ]
    rows = []
    for d in range(30):
        parts = []
        for _ in range(rng.randrange(1, 4)):
            if rng.random() < 0.5:
                parts.append(passages[rng.randrange(len(passages))])
            else:
                parts.append(
                    " ".join(f"d{d}u{rng.randrange(1000)}" for _ in range(5))
                )
        rows.append((d, " ".join(parts)))
    # plant within-doc repetition: one doc repeats a passage twice
    rows.append((30, passages[0] + " filler " + passages[0]))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in exact_substr_scrub(docs, k=3).collect()
    }
    assert got == _exact_substr_replay(rows, k=3)


def test_exact_substr_scrub_keeper_and_identity(spark):
    """The globally first (doc_id, pos) occurrence survives in place;
    a corpus with no duplicated k-gram passes through untouched; docs
    shorter than k tokens are exempt; min_count < 2 is rejected."""
    import pytest

    from stock_bars_data_engineering_project_spark.operators.contamination import (
        exact_substr_scrub,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"{shared} other trailing content here"),
            (3, "totally distinct vocabulary nothing shared whatsoever"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in exact_substr_scrub(docs, k=8).collect()}
    # doc 1 holds the first occurrence (pos 3) -> intact
    assert got[1].n_removed == 0 and shared in got[1].clean_text
    # doc 2's copy starts at pos 1 but doc_id orders after doc 1 -> scrubbed
    assert got[2].n_removed == 8 and shared not in got[2].clean_text
    assert got[2].clean_text == "other trailing content here"
    assert got[3].n_removed == 0
    assert got[4].n_removed == 0 and got[4].clean_text == "tiny"

    with pytest.raises(ValueError):
        exact_substr_scrub(docs, k=8, min_count=1)


def test_scrubs_pass_null_text_through_as_null(spark):
    """NULL text emits (NULL, 0, NULL) — distinct from the '' a
    fully-scrubbed document produces (found by review: the rebuild
    previously collapsed NULL text to '')."""
    from stock_bars_data_engineering_project_spark.operators.contamination import (
        boilerplate_scrub,
        exact_substr_scrub,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "some ordinary words here now")],
        "doc_id long, text string",
    )
    for fn in (
        lambda d: boilerplate_scrub(d, k=3, df_cap=2),
        lambda d: exact_substr_scrub(d, k=3),
    ):
        got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
               for r in fn(docs).collect()}
        assert got[1] == (None, 0, None)
        assert got[2] == (5, 0, "some ordinary words here now")
