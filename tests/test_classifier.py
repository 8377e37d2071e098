"""Quality classifier: distributed training on hashed features, broadcast
linear scoring, gate composition."""

from __future__ import annotations

import math

import pytest

SF_DIR = "/root/testdata/sf0.01"


def _labeled(spark):
    """Separable synthetic set: clean English-ish docs (label 1) vs
    keyboard-mash garbage (label 0)."""
    rows = []
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
             "market", "report", "science", "daily", "news", "article"]
    for i in range(300):
        txt = " ".join(words[(i + j) % len(words)] for j in range(30))
        rows.append((i, txt, 1))
    for i in range(300, 600):
        txt = " ".join(f"zx{i}{j}qv" for j in range(30))
        rows.append((i, txt, 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_train_and_gate_accuracy(spark):
    from restructure_hdfs_topic_spark.operators.classifier import (
        classifier_scores,
        quality_classifier_gate,
        train_quality_classifier,
    )
    from restructure_hdfs_topic_spark.operators.sampling import holdout_split

    labeled = _labeled(spark)
    split = holdout_split(labeled, "doc_id", {"train": 0.8, "test": 0.2})
    train = split.filter("split = 'train'").drop("split")
    test = split.filter("split = 'test'").drop("split")
    model = train_quality_classifier(train, dim=256, max_iter=32)
    assert len(model["weights"]) == 256

    scored = classifier_scores(test, model).join(
        test.selectExpr("doc_id as id", "label"), "id"
    )
    rows = scored.collect()
    acc = sum((r["score"] >= 0.5) == (r["label"] == 1) for r in rows) / len(rows)
    assert acc >= 0.95, acc

    gated = quality_classifier_gate(test, model, threshold=0.5)
    kept = {r["doc_id"] for r in gated.collect()}
    want = {r["id"] for r in rows if r["score"] >= 0.5}
    assert kept == want
    assert "score" in gated.columns


def test_classifier_scores_exact_model(spark):
    """Scores equal a pure-numpy recomputation of the same kernel math
    (tokenize -> poly hash -> signed bucket -> L2 norm -> round -> dot ->
    sigmoid) — the scoring pass is deterministic and engine-independent."""
    import re

    import numpy as np

    from restructure_hdfs_topic_spark.functions.text import HASH_BASE, HASH_MOD
    from restructure_hdfs_topic_spark.operators.classifier import classifier_scores

    dim = 64
    rng = np.random.RandomState(7)
    model = {
        "weights": [float(x) for x in rng.randn(dim)],
        "intercept": 0.25,
        "dim": dim,
    }
    rows = [
        (1, "The quick brown fox"),
        (2, "  spaced   out\ttokens\nhere "),
        (3, None),
        (4, ""),
        (5, "unicode café naïve 中文"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["score"] for r in classifier_scores(df, model).collect()}

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def phash(tok):
        acc = 0
        for ch in tok:
            acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
        return acc

    w = np.asarray(model["weights"])
    for doc_id, text in rows:
        t = (text or "").strip().lower()
        z = model["intercept"]
        if t:
            h = np.array([phash(tk) for tk in ws.split(t)], dtype=np.int64)
            v = np.zeros(dim)
            np.add.at(v, h % dim, np.where((h // dim) % 2 == 1, 1.0, -1.0))
            n = float(np.linalg.norm(v))
            if n > 0:
                v /= n
            z = float(np.round(v, 6) @ w) + model["intercept"]
        want = round(1.0 / (1.0 + math.exp(-z)), 6)
        assert got[doc_id] == pytest.approx(want, abs=1e-9), doc_id


def test_classifier_rejects_bad_model(spark):
    from restructure_hdfs_topic_spark.operators.classifier import classifier_scores

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        classifier_scores(df, {"weights": [0.0] * 3, "intercept": 0.0, "dim": 4})
