"""In-engine training of the hashed linear quality classifier:
arithmetic vs a direct numpy replay, the training laws the driver arm
flags, and the trained-weight scoring path."""

from __future__ import annotations

import hashlib
import math

import pytest

from stock_bars_data_engineering_project_spark.functions.quality_model import (
    GAIN,
    LR,
    N_BUCKETS,
    N_ITERS,
    score_with_weights,
    train_quality_classifier,
)

ROWS = [
    (0, "fast join fast join query", 1.0),
    (1, "fast join plan with fast join inside", 1.0),
    (2, "slow scan slow scan table", 0.0),
    (3, "slow scan pass over slow scan rows", 0.0),
    (4, "fast join beats slow scan here", 1.0),
    (5, "mixed words fast join again", 1.0),
    (6, "mixed words slow scan again", 0.0),
    (7, "unrelated filler text entirely", 0.0),
]


def _features(text: str) -> list[int]:
    toks = [t for t in text.lower().split(" ") if t != ""]
    feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    return [
        int(hashlib.md5(f.encode()).hexdigest()[:12], 16) % N_BUCKETS
        for f in feats
    ]


def _replay(rows, n_iters, lr):
    docs = {d: (_features(t), y) for d, t, y in rows}
    w: dict[int, float] = {
        b: 0.0 for feats, _ in docs.values() for b in feats
    }
    losses, accs = [], []
    for i in range(n_iters + 1):
        p = {}
        for d, (feats, y) in docs.items():
            s = sum(w[b] for b in feats)
            p[d] = 1.0 / (1.0 + math.exp(-GAIN * s / len(feats)))
        losses.append(
            -sum(
                y * math.log(max(p[d], 1e-12))
                + (1 - y) * math.log(max(1 - p[d], 1e-12))
                for d, (_, y) in docs.items()
            )
            / len(docs)
        )
        accs.append(
            sum(
                1.0 for d, (_, y) in docs.items() if (p[d] >= 0.5) == (y == 1.0)
            )
            / len(docs)
        )
        if i == n_iters:
            break
        bucket_r: dict[int, list[float]] = {}
        for d, (feats, y) in docs.items():
            r = GAIN * (p[d] - y) / len(feats)
            for b in feats:
                bucket_r.setdefault(b, []).append(r)
        for b, rs in bucket_r.items():
            w[b] -= lr * (sum(rs) / len(rs))
    return w, losses, accs


def test_training_matches_numpy_replay(spark):
    """Weights, per-iteration loss AND accuracy equal the direct Python
    replay (tolerance covers float-order in the partial aggregations;
    the per-bucket MEAN residual is exactly the operator's
    preconditioner)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string, label double")
    stats: dict = {}
    w = {
        r.bucket: r.weight
        for r in train_quality_classifier(
            df, "label", stats=stats
        ).collect()
    }
    ref_w, ref_loss, ref_acc = _replay(ROWS, n_iters=N_ITERS, lr=LR)
    assert set(w) == set(ref_w)
    for b in ref_w:
        assert abs(w[b] - ref_w[b]) <= 1e-9 * max(1.0, abs(ref_w[b])), b
    assert len(stats["loss"]) == N_ITERS + 1 == len(stats["acc"])
    for got, want in zip(stats["loss"], ref_loss):
        assert abs(got - want) <= 1e-9
    for got, want in zip(stats["acc"], ref_acc):
        assert abs(got - want) <= 1e-12


def test_training_laws_on_learnable_labels(spark):
    """The driver arm's laws on the fixture: init loss = ln 2, loss
    monotone non-increasing, final accuracy above the label prior."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string, label double")
    stats: dict = {}
    train_quality_classifier(df, "label", stats=stats)
    losses, accs = stats["loss"], stats["acc"]
    assert abs(losses[0] - math.log(2.0)) <= 1e-12
    for a, b in zip(losses, losses[1:]):
        assert b <= a * (1 + 1e-9)
    prior = max(sum(1 for r in ROWS if r[2] == 1.0), sum(1 for r in ROWS if r[2] == 0.0)) / len(ROWS)
    assert accs[-1] >= prior
    assert accs[-1] == 1.0  # linearly separable fixture


def test_trained_weights_score_and_separate(spark):
    """score_with_weights on the trained table separates the classes;
    all-zero weights give exactly 0.5 everywhere (unseen-bucket
    contract)."""
    df = spark.createDataFrame(ROWS, "doc_id long, text string, label double")
    w = train_quality_classifier(df, "label")
    scored = {r.doc_id: r.qscore for r in score_with_weights(df, w).collect()}
    labels = {d: y for d, _, y in ROWS}
    pos = min(v for d, v in scored.items() if labels[d] == 1.0)
    neg = max(v for d, v in scored.items() if labels[d] == 0.0)
    assert pos > 0.5 > neg

    zero = w.withColumn("weight", w.weight * 0.0)
    flat = {r.doc_id: r.qscore for r in score_with_weights(df, zero).collect()}
    assert all(abs(v - 0.5) <= 1e-12 for v in flat.values())


def test_training_guards(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string, label double")
    with pytest.raises(ValueError):
        train_quality_classifier(df, "nope")
