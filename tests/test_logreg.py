"""Tests for operators/logreg.py — numpy-twin parity, separability,
partition invariance, and the pure-JVM scoring path."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_lake_medallion_architecture_project_spark.operators.logreg import (
    fit_logreg,
    score_logreg,
)

from tests.conftest import SF_SMALL


def _numpy_fit(x, y, n_iters, lr, l2=0.0):
    mean, std = x.mean(axis=0), np.maximum(x.std(axis=0), 1e-12)
    xs = (x - mean) / std
    w = np.zeros(x.shape[1])
    b = 0.0
    for _ in range(n_iters):
        r = 1.0 / (1.0 + np.exp(-(xs @ w + b))) - y
        w = w - lr * (xs.T @ r / len(y) + l2 * w)
        b = b - lr * r.mean()
    return mean, std, w, b


def _doc_features(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("f_chars"),
        F.size(F.split("text", " ")).cast("double").alias("f_tokens"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("double")
        .alias("f_distinct"),
        (F.col("lang") == "en").cast("double").alias("label"),
    )


def test_fit_matches_numpy_twin(spark):
    df = _doc_features(spark).repartition(8)
    rows = df.orderBy("doc_id").collect()
    x = np.array([[r["f_chars"], r["f_tokens"], r["f_distinct"]] for r in rows])
    y = np.array([r["label"] for r in rows])
    model = fit_logreg(
        df, ["f_chars", "f_tokens", "f_distinct"], "label", n_iters=40, lr=0.5
    )
    mean, std, w, b = _numpy_fit(x, y, 40, 0.5)
    np.testing.assert_allclose(model.mean, mean, rtol=1e-12)
    np.testing.assert_allclose(model.weights, w, rtol=1e-7, atol=1e-10)
    assert abs(model.bias - b) < 1e-8


def test_partition_count_invariance(spark):
    df = _doc_features(spark)
    cols = ["f_chars", "f_tokens", "f_distinct"]
    m2 = fit_logreg(df.repartition(2), cols, "label", n_iters=20, lr=0.5)
    m16 = fit_logreg(df.repartition(16), cols, "label", n_iters=20, lr=0.5)
    np.testing.assert_allclose(m2.weights, m16.weights, rtol=1e-9)
    assert abs(m2.bias - m16.bias) < 1e-10


def test_learns_separable_data(spark):
    # y = 1 iff f0 > 0 — linearly separable; enough GD must drive accuracy
    # to 100% on train.
    rng = np.random.RandomState(7)
    x = rng.normal(size=(400, 2))
    x = x[np.abs(x[:, 0]) > 0.2][:300]  # margin: GD reaches 100% in finitely many steps
    rows = [(float(a), float(b), float(a > 0)) for a, b in x]
    n = len(rows)
    df = spark.createDataFrame(rows, ["f0", "f1", "label"]).repartition(4)
    model = fit_logreg(df, ["f0", "f1"], "label", n_iters=150, lr=1.0)
    scored = df.withColumn("p", score_logreg(df, model))
    acc = scored.filter(
        ((F.col("p") > 0.5).cast("double")) == F.col("label")
    ).count() / n
    assert acc == 1.0
    # The informative feature dominates the noise feature.
    assert abs(model.weights[0]) > 5 * abs(model.weights[1])


def test_jvm_scoring_matches_numpy_sigmoid(spark):
    df = _doc_features(spark)
    cols = ["f_chars", "f_tokens", "f_distinct"]
    model = fit_logreg(df, cols, "label", n_iters=10, lr=0.5)
    rows = df.withColumn("p", score_logreg(df, model)).orderBy("doc_id").collect()
    x = np.array([[r["f_chars"], r["f_tokens"], r["f_distinct"]] for r in rows])
    xs = (x - model.mean) / model.std
    p = 1.0 / (1.0 + np.exp(-(xs @ model.weights + model.bias)))
    np.testing.assert_allclose([r["p"] for r in rows], p, rtol=1e-12)
    # The scoring expression must be UDF-free (whole-stage codegen path).
    plan = (
        df.withColumn("p", score_logreg(df, model))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pinned_model_matches_fresh_fit(spark):
    """Drift guard for the doc_source_logreg_scores gate (the PCA/PQ
    precedent): a fresh fit with the pinned schedule on the gate corpus
    must reproduce plans/_pinned_logreg.py exactly — if the fitter or the
    feature definitions change, this fails before the oracle does."""
    from pyspark.sql import functions as F

    from data_lake_medallion_architecture_project_spark.functions.text import (
        distinct_token_count,
        token_count,
        tokenize,
        total_token_chars,
    )
    from data_lake_medallion_architecture_project_spark.plans._pinned_logreg import (
        _LOGREG_BIAS,
        _LOGREG_FEATURES,
        _LOGREG_MEAN,
        _LOGREG_STD,
        _LOGREG_WEIGHTS,
    )
    from data_lake_medallion_architecture_project_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    toks = tokenize("text")
    feats = docs.select(
        token_count(toks).alias("n_tokens"),
        distinct_token_count(toks).alias("n_unique_tokens"),
        total_token_chars(toks).alias("n_token_chars"),
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("source") == "src0").cast("int").alias("is_src0"),
    )
    model = fit_logreg(
        feats, list(_LOGREG_FEATURES), "is_src0", n_iters=200, lr=0.5, l2=1e-4
    )
    np.testing.assert_allclose(model.mean, _LOGREG_MEAN, rtol=1e-12)
    np.testing.assert_allclose(model.std, _LOGREG_STD, rtol=1e-12)
    np.testing.assert_allclose(model.weights, _LOGREG_WEIGHTS, rtol=1e-9)
    assert abs(model.bias - _LOGREG_BIAS) < 1e-9 * max(1.0, abs(_LOGREG_BIAS))


def test_logreg_gate_query_ranks_the_clean_source(spark):
    """The pinned classifier is not vacuous: ranking documents by its logit
    separates src0 from the rest better than chance, and the logit column
    is finite everywhere. Honest bar: the SYNTHETIC corpus carries little
    source signal in surface statistics (best single feature AUC 0.57,
    measured; a real web corpus separates far harder) — the assertion
    guards against a broken/degenerate model (AUC ≈ 0.5), not for
    production-grade separation."""
    import math

    from data_lake_medallion_architecture_project_spark.plans import REGISTRY

    rows = REGISTRY["doc_source_logreg_scores"].build(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert all(math.isfinite(r["logit"]) for r in rows)
    pos = sorted(r["logit"] for r in rows if r["is_src0"])
    neg = sorted(r["logit"] for r in rows if not r["is_src0"])
    assert pos and neg
    # AUC by direct pair counting (corpus is gate-sized).
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert auc > 0.55, auc


def test_fit_logreg_empty_input_raises_value_error(spark):
    import pytest as _pytest

    from data_lake_medallion_architecture_project_spark.operators.logreg import fit_logreg

    empty = spark.createDataFrame([], "f double, y long")
    with _pytest.raises(ValueError, match="empty input"):
        fit_logreg(empty, ["f"], "y", n_iters=1)
