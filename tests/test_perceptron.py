"""Distributed batch-perceptron training
(operators/text.py perceptron_train)."""

from __future__ import annotations

import hashlib
from collections import Counter

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
    perceptron_train,
)


def _feat(tok: str, mod: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % mod


def _ref_train(rows, mod, rounds):
    """Pure-Python third implementation of the batch perceptron."""
    X = []
    for doc_id, pos, text in rows:
        cnt = Counter(_feat(t, mod) for t in text.strip().split())
        if cnt:
            X.append((pos, cnt))
    w: dict[int, int] = {}
    curve = []
    for r in range(1, rounds + 1):
        errs = []
        for pos, cnt in X:
            m = sum(v * w.get(f, 0) for f, v in cnt.items())
            if (pos and m <= 0) or (not pos and m >= 0):
                errs.append((pos, cnt))
        for pos, cnt in errs:
            for f, v in cnt.items():
                w[f] = w.get(f, 0) + (v if pos else -v)
        curve.append((r, len(errs), sum(abs(v) for v in w.values())))
    return w, curve


def _train(spark, rows, mod, rounds):
    df = spark.createDataFrame(
        rows, "doc_id long, __label boolean, text string"
    )
    return perceptron_train(
        df, "__label", "doc_id", feature_mod=mod, rounds=rounds
    )


def test_matches_pure_python_reference(spark):
    rows = []
    for i in range(60):
        pos = i % 3 != 0
        words = (
            "good clean signal words " if pos else "bad noisy junk spam "
        ) + f"shared common filler {i % 7}"
        rows.append((i, pos, words))
    got_w, got_curve = _train(spark, rows, mod=97, rounds=4)
    ref_w, ref_curve = _ref_train(
        [(i, p, t) for i, p, t in rows], 97, 4
    )
    assert got_curve == ref_curve
    assert {f: w for f, w in got_w.items() if w != 0} == {
        f: w for f, w in ref_w.items() if w != 0
    }


def test_separable_corpus_reaches_zero_errors(spark):
    rows = [(i, True, "alpha beta gamma") for i in range(0, 20, 2)]
    rows += [(i, False, "delta epsilon zeta") for i in range(1, 20, 2)]
    _, curve = _train(spark, rows, mod=211, rounds=4)
    assert curve[0][1] == 20  # round 1: zero weights, everything errs
    assert curve[-1][1] == 0  # linearly separable -> convergence


def test_deterministic_across_partitionings(spark):
    rows = [
        (i, i % 2 == 0, f"tok{i % 5} tok{i % 11} tok{i % 3}")
        for i in range(50)
    ]
    df1 = spark.createDataFrame(
        rows, "doc_id long, __label boolean, text string"
    )
    w1, c1 = perceptron_train(
        df1, "__label", "doc_id", feature_mod=53, rounds=3
    )
    w2, c2 = perceptron_train(
        df1.repartition(13), "__label", "doc_id", feature_mod=53, rounds=3
    )
    assert c1 == c2 and w1 == w2


def test_rounds_take_error_counts_from_the_checkpoint(spark, monkeypatch):
    # each round's error count is observed by its checkpoint job, so no
    # DataFrame.count() action runs inside the training loop
    rows = [
        (i, i % 2 == 0, f"tok{i % 5} tok{i % 11} tok{i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, __label boolean, text string"
    )

    def no_count(self):
        raise AssertionError("DataFrame.count() called")

    # patch the concrete class: pyspark.sql.DataFrame may be an
    # abstract base whose implementation class overrides count()
    monkeypatch.setattr(type(df), "count", no_count)
    got_w, got_curve = perceptron_train(
        df, "__label", "doc_id", feature_mod=53, rounds=3
    )
    ref_w, ref_curve = _ref_train(rows, 53, 3)
    assert got_curve == ref_curve
    assert {f: w for f, w in got_w.items() if w != 0} == {
        f: w for f, w in ref_w.items() if w != 0
    }
