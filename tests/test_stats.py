"""Dataset statistics: approx sketches vs exact, within documented bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_bars_data_engineering_project_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def test_approx_count_distinct_error_bound(spark):
    events = load_table(spark, SF, "events")
    exact = events.select(F.countDistinct("user_id")).first()[0]
    approx = events.select(
        F.approx_count_distinct("user_id", rsd=0.02)
    ).first()[0]
    assert abs(approx - exact) / exact < 0.05  # HLL++ at rsd=0.02


def test_approx_percentile_error_bound(spark):
    events = load_table(spark, SF, "events")
    exact = events.select(F.expr("percentile(value, 0.95D)")).first()[0]
    approx = events.select(
        F.expr("approx_percentile(value, 0.95D, 10000)")
    ).first()[0]
    assert abs(approx - exact) <= abs(exact) * 0.01 + 1e-9


def test_stable_split_deterministic_and_stable(spark):
    from stock_bars_data_engineering_project_spark.operators.sampling import (
        stable_split,
    )

    docs = load_table(spark, SF, "documents")
    a = {r.doc_id: r.split for r in stable_split(docs).select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in stable_split(docs).select("doc_id", "split").collect()}
    assert a == b  # run-to-run deterministic

    # growing the corpus never moves an existing row's split
    grown = stable_split(docs.limit(100))
    g = {r.doc_id: r.split for r in grown.select("doc_id", "split").collect()}
    assert all(a[k] == v for k, v in g.items())

    # proportions roughly honored
    from collections import Counter
    c = Counter(a.values())
    n = sum(c.values())
    assert 0.85 < c["train"] / n < 0.95
    assert c["val"] > 0 and c["test"] > 0


def _budget_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, n long")


def test_token_budget_edges(spark):
    """token_budget_sample edge cases: a zero budget
    takes nothing from a stratum, unlisted strata fall to
    default_budget, and the document that CROSSES the budget boundary
    is kept (budgets are floors)."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, "a", 40) for i in range(10)] + [(i + 100, "b", 40) for i in range(10)]
    docs = _budget_docs(spark, rows)

    # zero budget for 'a', zero default for unlisted 'b' -> empty
    none = token_budget_sample(
        docs, budgets={"a": 0}, n_tokens=F.col("n"), default_budget=0
    )
    assert none.count() == 0

    # budget 100 with 40-token docs: 40+40 < 100 <= 40+40+40 -> the
    # crossing third doc is kept, the fourth is not
    some = token_budget_sample(
        docs, budgets={"a": 100}, n_tokens=F.col("n"), default_budget=0
    ).collect()
    assert len(some) == 3
    assert all(r.source == "a" for r in some)

    # unlisted stratum takes from default_budget
    dflt = token_budget_sample(
        docs, budgets={"a": 0}, n_tokens=F.col("n"), default_budget=100
    ).collect()
    assert len(dflt) == 3
    assert all(r.source == "b" for r in dflt)


def test_token_budget_membership_stable_under_growth(spark):
    """Adding new documents must never evict a previously kept doc
    except by pushing the tail boundary — i.e. kept-set changes are
    limited to docs whose salted-hash order position moved past the
    budget, and any doc kept after growth that existed before was
    either kept before or sits where a new doc displaced the tail."""
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        token_budget_sample,
    )

    base_rows = [(i, "a", 10) for i in range(50)]
    grown_rows = base_rows + [(i + 1000, "a", 10) for i in range(20)]
    kept_base = {
        r.doc_id
        for r in token_budget_sample(
            _budget_docs(spark, base_rows), budgets={"a": 200},
            n_tokens=F.col("n"), default_budget=0,
        ).collect()
    }
    kept_grown = {
        r.doc_id
        for r in token_budget_sample(
            _budget_docs(spark, grown_rows), budgets={"a": 200},
            n_tokens=F.col("n"), default_budget=0,
        ).collect()
    }
    # same budget, same doc size -> same kept count; old docs that stay
    # kept keep their membership, and every change is explained by new
    # docs hashing ahead of the old tail
    assert len(kept_grown) == len(kept_base)
    old_docs_grown = {d for d in kept_grown if d < 1000}
    assert old_docs_grown <= kept_base


def test_token_budget_raises_on_temp_column_collision(spark):
    import pytest
    from pyspark.sql import functions as F

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(1, "a", 5, 0)], "doc_id long, source string, n long, _cum long"
    )
    with pytest.raises(ValueError, match="_cum"):
        token_budget_sample(docs, budgets={"a": 10}, n_tokens=F.col("n"))


def test_warehouse_write_lock_blocks_second_writer(spark, tmp_path):
    """Concurrent-writer guard: a held lock makes the
    second writer fail loudly instead of silently losing the first
    writer's rows; the lock clears after a successful write."""
    import os

    import pytest

    from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse

    # lock_retries=0: the strict fail-fast posture (a PERSISTENT lock
    # must fail loudly even with retries — that slower path is covered
    # by the race test's default-config sibling)
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), lock_retries=0)
    df = spark.range(5).select(F.col("id").alias("k"))
    wh.overwrite(df, "t")  # lock taken and released

    lock = os.path.join(wh.table_path("t"), "._writer_lock")
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as f:
        f.write("99999")
    with pytest.raises(RuntimeError, match="concurrent writer"):
        wh.append(df, "t")
    os.remove(lock)
    wh.append(df, "t")  # works again once the stale lock is cleared
    assert wh.read("t").count() == 10


def test_warehouse_write_lock_transient_contention_retries(spark, tmp_path):
    """Contention policy: a writer arriving while another holds
    the lock backs off and succeeds once the holder releases (one
    winner + one clean retry, no lost update); a lock held past the
    whole retry budget still fails loudly."""
    import os
    import threading
    import time

    import pytest

    from stock_bars_data_engineering_project_spark.sinks import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    df = spark.range(5).select(F.col("id").alias("k"))
    wh.overwrite(df, "t")

    lock = os.path.join(wh.table_path("t"), "._writer_lock")
    with open(lock, "w") as f:
        f.write("winner")
    releaser = threading.Thread(target=lambda: (time.sleep(0.4), os.remove(lock)))
    releaser.start()
    wh.append(df, "t")  # retries through the backoff, then commits
    releaser.join()
    assert wh.read("t").count() == 10
    assert not os.path.exists(lock)

    # a lock held past the entire budget is an operational error
    wh_fast = ParquetWarehouse(
        spark, str(tmp_path / "wh"), lock_retries=2, lock_retry_base_s=0.01
    )
    with open(lock, "w") as f:
        f.write("stuck")
    with pytest.raises(RuntimeError, match="past 2 backoff retries"):
        wh_fast.append(df, "t")
    os.remove(lock)


def test_zscore_arm_guards_and_known_value(spark, tmp_path):
    """window_functions_suite's z-score columns: NULL for one-event and
    constant-valued users, exact value otherwise, flag from raw z."""
    import datetime as dt

    from stock_bars_data_engineering_project_spark.plans.registry import QUERIES

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: values 1,2,3 -> mean 2, std 1 -> z = -1, 0, 1
        (1, t0, 1, "a", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "a", 2.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 1, "a", 3.0, "{}"),
        # user 2: single event -> stddev NULL -> z NULL
        (4, t0, 2, "a", 5.0, "{}"),
        # user 3: constant values -> stddev 0 -> z NULL
        (5, t0, 3, "a", 7.0, "{}"),
        (6, t0 + dt.timedelta(minutes=1), 3, "a", 7.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.write.parquet(f"{tmp_path}/events.parquet")
    out = {
        r.event_id: (r.zscore, r.is_outlier)
        for r in QUERIES["window_functions_suite"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1] == (-1.0, 0)
    assert out[2] == (0.0, 0)
    assert out[3] == (1.0, 0)
    assert out[4] == (None, None)
    assert out[5] == (None, None)
    assert out[6] == (None, None)


def test_alpha_mixture_membership_matches_python_replay(spark):
    """alpha=0.5 membership is a pure function of (per-stratum token
    mass, salted doc hash): a hashlib + math.sqrt replay on the driver
    must agree row-for-row (the registered query's DuckDB oracle replays
    the same rule cross-engine)."""
    import hashlib
    import math

    from stock_bars_data_engineering_project_spark.functions.text import token_count
    from stock_bars_data_engineering_project_spark.operators.sampling import (
        alpha_mixture_sample,
    )

    docs = load_table(spark, SF, "documents")
    kept = {
        r.doc_id
        for r in alpha_mixture_sample(
            docs, alpha=0.5, size=token_count(F.col("text"))
        ).select("doc_id").collect()
    }

    rows = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n")
    ).collect()
    mass: dict[str, float] = {}
    for r in rows:
        mass[r.source] = mass.get(r.source, 0.0) + float(r.n)
    cmin = min(mass.values())
    thr = {s: math.floor(math.sqrt(cmin / c) * 10_000) for s, c in mass.items()}
    expect = {
        r.doc_id
        for r in rows
        if int(hashlib.md5(f"alpha:{r.doc_id}".encode()).hexdigest()[:12], 16)
        % 10_000
        < thr[r.source]
    }
    assert kept == expect
    # the smallest stratum is kept in full (rate exactly 1.0)
    smallest = min(mass, key=mass.get)
    n_smallest = sum(1 for r in rows if r.source == smallest)
    assert sum(1 for r in rows if r.source == smallest and r.doc_id in kept) == n_smallest


def test_alpha_mixture_laws(spark):
    from stock_bars_data_engineering_project_spark.operators.sampling import (
        alpha_mixture_sample,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else ("small" if i < 990 else None), 10)
         for i in range(1000)],
        "doc_id long, source string, n long",
    )
    # alpha=1 reproduces the natural distribution: every row kept
    assert alpha_mixture_sample(df, alpha=1.0, size=F.col("n")).count() == 1000

    # alpha=0 equalizes expected mass: each stratum's keep-rate is
    # c_min/c_i, so expected kept tokens per stratum == c_min (hash
    # noise bounded on 1000 rows)
    kept0 = alpha_mixture_sample(df, alpha=0.0, size=F.col("n")).groupBy(
        "source"
    ).count().collect()
    by = {r.source: r["count"] for r in kept0}
    # NULL stratum (10 rows) is its own stratum, NOT silently dropped
    assert by.get(None) == 10  # smallest stratum: kept in full
    assert by["small"] in range(5, 16)  # 90 rows * 10/90 ≈ 10
    assert by["big"] in range(3, 25)  # 900 rows * 10/900 ≈ 10

    # collision guard is loud
    import pytest

    with pytest.raises(ValueError, match="_thr"):
        alpha_mixture_sample(df.withColumn("_thr", F.lit(1)), size=F.col("n"))
    with pytest.raises(ValueError, match="alpha"):
        alpha_mixture_sample(df, alpha=1.5, size=F.col("n"))


def test_curriculum_phases_matches_python_replay(spark):
    """curriculum_phases equals a pure-Python replay of its own
    histogram-boundary contract on the real corpus: boundary t_k is the
    smallest size whose cumulative count satisfies cum*P >= k*n (the
    division-free form of ceil(k*n/P)), phase = #{boundaries strictly
    below the doc's size}. Exact dict equality — the integer-only
    boundary rule leaves nothing to tolerance."""
    from collections import Counter

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        curriculum_phases,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    size = F.size(F.split(F.col("text"), " "))
    rows = docs.select("doc_id", size.alias("sz")).collect()
    n, P = len(rows), 10
    hist = Counter(r.sz for r in rows)
    cum, c = {}, 0
    for s in sorted(hist):
        c += hist[s]
        cum[s] = c
    thresholds = [
        min(s for s in cum if cum[s] * P >= k * n) for k in range(1, P)
    ]
    expected = {
        r.doc_id: sum(1 for t in thresholds if r.sz > t) for r in rows
    }
    got = {
        r.doc_id: r.phase
        for r in curriculum_phases(docs, size=size)
        .select("doc_id", "phase")
        .collect()
    }
    assert got == expected
    # every phase is populated on the real corpus, and equal sizes
    # never straddle a boundary (ties share a phase by construction)
    assert set(got.values()) == set(range(P))
    by_sz = {}
    for r in rows:
        by_sz.setdefault(r.sz, set()).add(got[r.doc_id])
    assert all(len(ph) == 1 for ph in by_sz.values())


def test_curriculum_phases_guards(spark):
    import pytest

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        curriculum_phases,
    )

    df = spark.createDataFrame([(1, 5)], "doc_id long, n long")
    with pytest.raises(ValueError, match="n_phases"):
        curriculum_phases(df, size=F.col("n"), n_phases=1)
    with pytest.raises(ValueError, match="phase"):
        curriculum_phases(
            df.withColumn("phase", F.lit(0)), size=F.col("n")
        )


def test_psi_drift_matches_python_replay(spark):
    """psi_drift equals a hand-rolled Python replay (Laplace-smoothed
    PSI over the observed bin support) on a fixture with a real shift,
    keeps a NULL key group (window totals, not an equi-join), and
    reports the exact audit integers."""
    import math

    from stock_bars_data_engineering_project_spark.operators.drift import (
        psi_drift,
    )

    rows = []
    # key 'a': reference centered low, current shifted high -> PSI > 0
    for i in range(40):
        rows.append(("a", float(5 + (i % 3) * 10), True))
        rows.append(("a", float(25 + (i % 3) * 10), False))
    # NULL key: identical distributions -> PSI ~ 0 (value cycles
    # independently of the split parity)
    for i in range(20):
        rows.append((None, float((i // 2) % 4) * 10.0, i % 2 == 0))
    df = spark.createDataFrame(rows, "k string, value double, is_ref boolean")
    got = {
        r.k: r
        for r in psi_drift(
            df, "value", is_reference=F.col("is_ref"), keys=("k",)
        ).collect()
    }

    def replay(items):
        from collections import Counter

        cr, cc = Counter(), Counter()
        for v, ref in items:
            (cr if ref else cc)[math.floor(v / 10.0)] += 1
        bins = set(cr) | set(cc)
        nr, nc, nb = sum(cr.values()), sum(cc.values()), len(bins)
        psi = sum(
            ((cr[b] + 1.0) / (nr + nb) - (cc[b] + 1.0) / (nc + nb))
            * math.log(
                ((cr[b] + 1.0) / (nr + nb)) / ((cc[b] + 1.0) / (nc + nb))
            )
            for b in bins
        )
        return psi, nr, nc, nb

    for key in ("a", None):
        items = [(v, ref) for k, v, ref in rows if k == key]
        psi, nr, nc, nb = replay(items)
        r = got[key]
        assert abs(r.psi - psi) < 1e-6, (key, r.psi, psi)
        assert (r.n_ref, r.n_cur, r.n_bins) == (nr, nc, nb)
    assert got["a"].psi > 0.25  # the shifted key reads as actionable drift
    assert abs(got[None].psi) < 0.05  # identical distributions read stable

    import pytest

    with pytest.raises(ValueError, match="bin_width"):
        psi_drift(df, "value", is_reference=F.col("is_ref"), bin_width=0.0)


def test_psi_vs_reference_matches_python_replay(spark):
    """psi_vs_reference (the frozen-reference monitoring form feeding
    the streaming arm): per-window PSI against a fixed per-key
    reference histogram — reference bins absent from a window still
    vote (a vanished mode is drift), window bins absent from the
    reference still vote, and an identical window reads ~0."""
    import math

    from stock_bars_data_engineering_project_spark.operators.drift import (
        psi_vs_reference,
    )

    ref_rows = [("a", 0, 30), ("a", 1, 10), ("b", 0, 20)]
    cur_rows = [
        ("a", 100, 0, 30), ("a", 100, 1, 10),   # window 100 ≡ reference
        ("a", 101, 2, 40),                       # window 101: new mode only
        ("b", 100, 0, 5),
    ]
    ref = spark.createDataFrame(ref_rows, "k string, bucket long, n long")
    cur = spark.createDataFrame(
        cur_rows, "k string, w long, bucket long, n long"
    )
    got = {
        (r.k, r.w): r
        for r in psi_vs_reference(
            cur, ref, ref_keys=("k",), window_cols=("w",)
        ).collect()
    }

    def replay(refc, curc):
        bins = set(refc) | set(curc)
        nr, nc, nb = sum(refc.values()), sum(curc.values()), len(bins)
        psi = sum(
            ((refc.get(b, 0) + 1.0) / (nr + nb)
             - (curc.get(b, 0) + 1.0) / (nc + nb))
            * math.log(((refc.get(b, 0) + 1.0) / (nr + nb))
                       / ((curc.get(b, 0) + 1.0) / (nc + nb)))
            for b in bins
        )
        return psi, nr, nc, nb

    cases = {
        ("a", 100): ({0: 30, 1: 10}, {0: 30, 1: 10}),
        ("a", 101): ({0: 30, 1: 10}, {2: 40}),
        ("b", 100): ({0: 20}, {0: 5}),
    }
    assert set(got) == set(cases)
    for key, (refc, curc) in cases.items():
        psi, nr, nc, nb = replay(refc, curc)
        r = got[key]
        assert abs(r.psi - psi) < 1e-6, (key, r.psi, psi)
        assert (r.n_ref, r.n_cur, r.n_bins) == (nr, nc, nb), key
    assert abs(got[("a", 100)].psi) < 0.01   # identical window: stable
    assert got[("a", 101)].psi > 0.25        # disjoint window: actionable
    # the reference's vanished bins were included in window 101's support
    assert got[("a", 101)].n_bins == 3


def test_walk_forward_days_laws(spark):
    """walk_forward_days: per-fold leakage laws on the real events
    table — max train day + embargo < min test day, test blocks are
    exactly test_days wide, consecutive folds' test blocks tile the
    calendar tail, roles partition every (day, fold), and the
    not-enough-history guard is loud."""
    from collections import defaultdict

    from stock_bars_data_engineering_project_spark.functions.scalars import (
        event_micros,
    )
    from stock_bars_data_engineering_project_spark.operators.sampling import (
        walk_forward_days,
    )

    ev = load_table(spark, SF, "events")
    day = F.floor(event_micros(ev, "ts") / F.lit(86400000000.0))
    out = walk_forward_days(
        ev, day_idx=day, n_folds=3, test_days=5, embargo_days=2
    ).collect()
    days = {r.day_idx for r in out}
    by_fold = defaultdict(lambda: defaultdict(set))
    for r in out:
        by_fold[r.fold][r.role].add(r.day_idx)
    assert set(by_fold) == {0, 1, 2}
    hi = max(days)
    for k in range(3):
        roles = by_fold[k]
        test = roles["test"]
        assert len(test) == 5
        assert max(test) - min(test) == 4  # contiguous block
        # the three test blocks tile the last 15 days, newest fold last
        assert min(test) == hi - (3 - k) * 5 + 1
        # leakage law: every train day precedes test by > embargo
        assert max(roles["train"]) + 2 < min(test)
        assert roles["embargo"] == {min(test) - 2, min(test) - 1}
        # partition law: each (day, fold) has exactly one role
        assert sum(len(v) for v in roles.values()) == len(days)

    import pytest

    with pytest.raises(ValueError, match="not enough history"):
        walk_forward_days(
            ev, day_idx=day, n_folds=6, test_days=5, embargo_days=2
        )
    with pytest.raises(ValueError, match="n_folds"):
        walk_forward_days(ev, day_idx=day, n_folds=0)


def test_mad_outliers_matches_python_replay(spark):
    from stock_bars_data_engineering_project_spark.operators.drift import mad_outliers

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 2.5), ("a", 3.0), ("a", 2.2),
        ("a", 100.0),                      # the obvious outlier
        ("b", 5.0), ("b", 5.0), ("b", 5.0),  # MAD = 0: any v != med flags
        ("b", 5.1),
        ("c", None), ("c", 7.0),           # NULLs never count
        (None, 1.0), (None, 50.0), (None, 1.2),  # NULL group survives
    ]
    df = spark.createDataFrame(rows, ["grp", "value"])
    got = {
        r.grp: (r.median, r.mad, r.n, r.n_outliers)
        for r in mad_outliers(df, "value", keys=("grp",)).collect()
    }

    def _med(vs):
        vs = sorted(vs)
        n = len(vs)
        m = (
            vs[n // 2]
            if n % 2
            else vs[n // 2 - 1] + (vs[n // 2] - vs[n // 2 - 1]) * 0.5
        )
        return round(m, 6)

    for grp in ("a", "b", "c", None):
        vs = [v for g, v in rows if g == grp and v is not None]
        med = _med(vs)
        mad = _med([abs(v - med) for v in vs])
        # MAD=0 degenerate contract: the count is NULL, not
        # everything-off-median
        n_out = (
            None
            if mad == 0
            else sum(1 for v in vs if abs(v - med) > 3 * 1.4826 * mad)
        )
        assert got[grp] == (med, mad, len(vs), n_out), grp
    # sanity on the shape of the fixture itself: 'b' (3 of 4 values at
    # the median) and single-valued 'c' are the degenerate cases
    assert got["a"][3] == 1 and got["b"][3] is None and got["c"][3] is None


def test_mad_outliers_ungrouped_broadcast_scalar(spark):
    from stock_bars_data_engineering_project_spark.operators.drift import mad_outliers

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5, 1000]], ["value"]
    )
    row = mad_outliers(df, "value").collect()[0]
    assert row.n == 6 and row.n_outliers == 1 and row.median == 3.5


def test_reservoir_k_matches_python_replay(spark):
    import hashlib

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        reservoir_k,
    )

    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    got = sorted(
        (r.src, r.rank, r.doc_id)
        for r in reservoir_k(df, ("src",), "doc_id", k=4).collect()
    )

    def h(i):
        return int(hashlib.md5(f"res:{i}".encode()).hexdigest()[:12], 16)

    want = []
    for s in ("s0", "s1", "s2"):
        ids = sorted(
            (i for i, g in rows if g == s), key=lambda i: (h(i), i)
        )[:4]
        want += [(s, r + 1, i) for r, i in enumerate(ids)]
    assert got == sorted(want)


def test_weighted_sample_k_favors_heavy_and_replays(spark):
    import hashlib

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        weighted_sample_k,
    )

    # weight 1000 vs 1: the heavy half should dominate the sample
    rows = [(i, "g", 1000 if i < 50 else 1) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "w"])
    got = [
        r.doc_id
        for r in weighted_sample_k(
            df, ("src",), "doc_id", "w", k=10
        ).collect()
    ]

    import math

    def key(i, w):
        u = (int(hashlib.md5(f"wres:{i}".encode()).hexdigest()[:12], 16)
             % 1_000_000 + 1) / 1_000_000.0
        # The monotone-equivalent log form of u**(1/w) — same
        # order pre-rounding, usable dynamic range at large w
        return round(math.log(u) / w, 9)

    want = sorted(
        rows, key=lambda r: (-key(r[0], r[2]), r[0])
    )[:10]
    assert sorted(got) == sorted(i for i, _, _ in want)
    assert sum(1 for i in got if i < 50) >= 8  # heavy side dominates


def test_weighted_sample_k_large_weights_keep_resolution(spark):
    """At w ~ 1e6 the old u**(1/w) key collapsed to
    ~14 distinct 9dp values and selection degraded to the id tiebreak;
    the log key must keep weight-proportional randomness — the picked
    set follows the hash order, not the lowest ids."""
    import hashlib
    import math

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        weighted_sample_k,
    )

    rows = [(i, "g", 1_000_000) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "w"])
    got = sorted(
        r.doc_id
        for r in weighted_sample_k(df, ("src",), "doc_id", "w", k=10).collect()
    )

    def key(i, w=1_000_000):
        u = (int(hashlib.md5(f"wres:{i}".encode()).hexdigest()[:12], 16)
             % 1_000_000 + 1) / 1_000_000.0
        return round(math.log(u) / w, 9)

    want = sorted(sorted(range(100), key=lambda i: (-key(i), i))[:10])
    assert got == want
    assert got != list(range(10))  # not the id-tiebreak degeneracy


def test_sampler_guards_raise_loudly(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException

    from stock_bars_data_engineering_project_spark.operators.sampling import (
        reservoir_k,
        weighted_sample_k,
    )

    bad_id = spark.createDataFrame(
        [(None, "g", 5), (1, "g", 5)],
        "doc_id long, src string, w long",
    )
    with pytest.raises(SparkRuntimeException, match="NULL id"):
        reservoir_k(bad_id, ("src",), "doc_id", k=1).collect()
    with pytest.raises(SparkRuntimeException, match="NULL id"):
        weighted_sample_k(bad_id, ("src",), "doc_id", "w", k=1).collect()
    bad_w = spark.createDataFrame(
        [(1, "g", 0), (2, "g", 5)],
        "doc_id long, src string, w long",
    )
    with pytest.raises(SparkRuntimeException, match="weights must be"):
        weighted_sample_k(bad_w, ("src",), "doc_id", "w", k=1).collect()


def test_mad_outliers_degenerate_mad_reports_null(spark):
    """When >50% of a group equals the median, MAD=0
    and the fence zero-width — the count must be NULL (undefined), not
    'everything off the median is an outlier'; a healthy group in the
    same frame still counts normally."""
    from stock_bars_data_engineering_project_spark.operators.drift import mad_outliers

    rows = (
        # degenerate: 6 of 8 values at the median
        [("const", 5.0)] * 6 + [("const", 1.0), ("const", 9.0)]
        # healthy spread with one extreme value
        + [("ok", float(v)) for v in (1, 2, 3, 4, 5, 6, 7, 100)]
    )
    df = spark.createDataFrame(rows, "grp string, value double")
    got = {r.grp: r for r in mad_outliers(df, "value", keys=("grp",)).collect()}
    assert got["const"].mad == 0.0
    assert got["const"].n_outliers is None
    assert got["const"].n == 8 and got["const"].median == 5.0
    assert got["ok"].mad > 0 and got["ok"].n_outliers == 1
