"""Model-based document quality classification (the GPT-3/WebText /
Llama-style "quality classifier" stage: train a LINEAR classifier on
hashed bag-of-words features against a labeled seed set — curated pages
as positives, random crawl as negatives — then score and gate the whole
corpus).

The feature space is the repo's hashing-trick vectorizer
(``operators/embed.feature_hash_embed`` — Weinberger et al. 2009, the same
signed-bucket scheme fastText uses), so features are deterministic,
training-free, and engine-reproducible.  Training uses Spark MLlib's
``LogisticRegression`` — the standard DISTRIBUTED L-BFGS fit
(``treeAggregate`` gradient passes, no driver-side data), so the labeled
set may itself be large.  The fitted model is returned as a plain
``{"weights": [...], "intercept": b, "dim": d}`` dict: engine-agnostic,
JSON-serializable (ships in a job manifest), and scoring needs no MLlib at
all — one Arrow crossing re-derives the features and applies w·x + b with
the weights broadcast (O(dim) bytes per executor).

Scale shape: training cost is the labeled set (thousands to millions of
rows — bounded by labeling budget, not corpus size); corpus scoring is a
single narrow ``mapInPandas`` pass, no shuffle, partitioning untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.text import HASH_BASE, HASH_MOD
from restructure_hdfs_topic_spark.operators.embed import feature_hash_embed


def train_quality_classifier(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    dim: int = 1024,
    max_iter: int = 64,
    reg: float = 1e-4,
) -> dict:
    """Fit a linear quality classifier on hashed features: ``labeled``
    carries a 0/1 ``label_col`` (1 = high quality).  Returns the plain
    model dict (weights / intercept / dim) described above.

    ``standardization=False`` keeps the learned weights in the raw
    hashed-feature space so scoring is exactly ``sigmoid(w·x + b)`` over
    the same vectors ``feature_hash_embed`` produces."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = feature_hash_embed(labeled, id_col, text_col, dim=dim).join(
        labeled.select(F.col(id_col).alias("id"), F.col(label_col)), "id"
    )
    train = feats.select(
        array_to_vector("vec").alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg, standardization=False
    )
    model = lr.fit(train)
    return {
        "weights": [float(w) for w in model.coefficients.toArray()],
        "intercept": float(model.intercept),
        "dim": int(dim),
    }


def classifier_scores(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """``(id, score)`` — ``sigmoid(w·x + b)`` per document, where ``x`` is
    the document's hashing-trick vector.  ONE Arrow crossing (tokenize →
    hash → signed-bucket accumulate → dot), weights shipped once per
    executor as a Spark broadcast; scores rounded so cross-engine float
    order cannot flip a comparison.  Empty/NULL text scores
    ``sigmoid(b)`` (the zero vector)."""
    import math

    dim = int(model["dim"])
    if len(model["weights"]) != dim:
        raise ValueError("model weights length != dim")
    b = float(model["intercept"])
    bc = docs.sparkSession.sparkContext.broadcast(
        [float(w) for w in model["weights"]]
    )

    def kernel(batches):
        import re

        import numpy as np
        import pandas as pd

        w = np.asarray(bc.value, dtype=np.float64)
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        cache: dict[str, int] = {}

        def phash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                acc = 0
                for ch in tok:
                    acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
                cache[tok] = h = acc
            return h

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            scores = []
            for text in pdf[text_col]:
                t = (text or "").strip().lower()
                z = b
                if t:
                    toks = ws.split(t)
                    h = np.fromiter(
                        (phash(tk) for tk in toks), dtype=np.int64, count=len(toks)
                    )
                    v = np.zeros(dim, dtype=np.float64)
                    # Identical accumulation to feature_hash_embed —
                    # bucket-independent sign bit, L2 normalization,
                    # same rounding — so trained weights apply verbatim.
                    np.add.at(v, h % dim, np.where((h // dim) % 2 == 1, 1.0, -1.0))
                    norm = float(np.linalg.norm(v))
                    if norm > 0.0:
                        v /= norm
                    v = np.round(v, 6)
                    z = float(v @ w) + b
                scores.append(round(1.0 / (1.0 + math.exp(-z)), round_digits))
            yield pd.DataFrame({"id": ids, "score": scores})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        kernel, schema=f"id {id_type}, score double"
    )


def quality_classifier_gate(
    docs: DataFrame,
    model: dict,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep documents scoring ≥ ``threshold``, score attached — the
    classifier analogue of ``perplexity_filter``.  One Arrow scoring pass
    + one id equi-join back to the corpus (AQE-sided)."""
    keep = (
        classifier_scores(docs, model, id_col, text_col)
        .filter(F.col("score") >= F.lit(float(threshold)))
        .select(F.col("id").alias(id_col), "score")
    )
    return docs.join(keep, id_col)
