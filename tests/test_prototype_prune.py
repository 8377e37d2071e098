"""prototype_prune (SSL-prototypes / D4 cluster pruning): exact Python
witness over the deterministic k-means labels, partitioning
independence, and parameter edges."""

import numpy as np
import pytest

from restructure_hdfs_topic_spark.operators.similarity import (
    QUANT,
    kmeans_clusters,
    prototype_prune,
)

SF_DIR = "/root/testdata/sf0.001"


def _witness(ids, vecs, clusters, drop_frac, keep):
    out = {}
    for c in sorted(set(clusters)):
        sel = [i for i, cl in enumerate(clusters) if cl == c]
        cids = np.array([ids[i] for i in sel], dtype=np.int64)
        x = np.stack([vecs[i] for i in sel]).astype(np.int64)
        cent = x.sum(axis=0) // len(x)
        dots = (x * cent).sum(axis=1).astype(np.float64)
        nx = np.sqrt((x.astype(np.float64) ** 2).sum(axis=1))
        nc = float(np.sqrt((cent.astype(np.float64) ** 2).sum()))
        nx[nx == 0] = 1.0
        cos = np.round(dots / (nx * (nc if nc else 1.0)), 9)
        order = np.lexsort((cids, -cos))
        grid = min(round(drop_frac * 10**9), 10**9 - 1)
        n_drop = len(cids) * grid // 10**9
        dropped = set(
            (order[:n_drop] if keep == "hard" else order[len(cids) - n_drop:]).tolist()
        )
        for j, i in enumerate(sel):
            out[int(ids[i])] = (int(c), float(cos[j]), j not in dropped)
    return out


def test_prototype_prune_exact_witness(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # Same deterministic k-means the operator runs internally.
    labels = {
        r["id"]: r["cluster"]
        for r in kmeans_clusters(emb, n_clusters=8).collect()
    }
    raw = {
        r["vec_id"]: np.rint(np.array(r["embedding"], dtype=np.float64) * QUANT).astype(np.int64)
        for r in emb.collect()
    }
    ids = sorted(raw)
    exp = _witness(
        ids,
        [raw[i] for i in ids],
        [labels[i] for i in ids],
        drop_frac=0.25,
        keep="hard",
    )

    got = {
        int(r["id"]): (int(r["cluster"]), float(r["cos_centroid"]), bool(r["kept"]))
        for r in prototype_prune(emb, drop_frac=0.25, keep="hard", n_clusters=8).collect()
    }
    assert got == exp
    # The drop budget actually bites on this data.
    assert any(not v[2] for v in got.values())
    assert any(v[2] for v in got.values())


def test_prototype_prune_partitioning_independent(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {
        (r["id"], r["cluster"], r["cos_centroid"], r["kept"])
        for r in prototype_prune(emb, drop_frac=0.2, n_clusters=8).collect()
    }
    b = {
        (r["id"], r["cluster"], r["cos_centroid"], r["kept"])
        for r in prototype_prune(
            emb.repartition(13), drop_frac=0.2, n_clusters=8
        ).collect()
    }
    assert a == b


def test_prototype_prune_keep_easy_complements_hard_ordering(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    hard = prototype_prune(emb, drop_frac=0.3, keep="hard", n_clusters=4).collect()
    easy = prototype_prune(emb, drop_frac=0.3, keep="easy", n_clusters=4).collect()
    cos = {r["id"]: r["cos_centroid"] for r in hard}
    h_dropped = {r["id"] for r in hard if not r["kept"]}
    e_dropped = {r["id"] for r in easy if not r["kept"]}
    assert len(h_dropped) == len(e_dropped) > 0
    # keep="hard" drops high-cos (prototypical) rows; keep="easy" drops
    # low-cos rows — within a cluster every hard-dropped row has
    # cos >= every easy-dropped row.
    clusters = {r["id"]: r["cluster"] for r in hard}
    for hid in h_dropped:
        for eid in e_dropped:
            if clusters[hid] == clusters[eid] and hid != eid:
                assert cos[hid] >= cos[eid]


def test_prototype_prune_edges(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    zero = prototype_prune(emb, drop_frac=0.0, n_clusters=4)
    assert zero.filter(~zero.kept).count() == 0
    with pytest.raises(ValueError, match="drop_frac"):
        prototype_prune(emb, drop_frac=1.0)
    with pytest.raises(ValueError, match="keep"):
        prototype_prune(emb, keep="bogus")
    # Singletons always survive — including at a drop_frac so close to
    # 1.0 that the 1e-9 grid would round it up without the cap.
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = prototype_prune(one, drop_frac=0.9, n_clusters=2).collect()
    assert len(rows) == 1 and rows[0]["kept"]
    rows = prototype_prune(one, drop_frac=1 - 1e-10, n_clusters=2).collect()
    assert len(rows) == 1 and rows[0]["kept"]
