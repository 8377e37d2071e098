"""export_jsonl_shards: roundtrip, shard determinism, manifest totals."""

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.sampling import KNUTH, MOD
from restructure_hdfs_topic_spark.plans.export import export_jsonl_shards


def test_roundtrip_and_manifest(spark, tmp_path):
    rows = [(i, f"text number {i}", (i % 7) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_tokens long")
    out = str(tmp_path / "export")
    manifest = export_jsonl_shards(
        df, out, n_shards=8, token_count_col="n_tokens"
    ).collect()
    assert sum(r["n_rows"] for r in manifest) == 500
    assert sum(r["n_tokens"] for r in manifest) == sum(r[2] for r in rows)
    assert len(manifest) <= 8 and all(r["n_rows"] > 0 for r in manifest)

    back = spark.read.json(f"{out}/data")
    assert back.count() == 500
    # shard assignment is the deterministic Knuth hash
    got = {(r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()}
    want = {(i, (i * KNUTH) % MOD % 8) for i in range(500)}
    assert got == want
    # every row's content survives
    sample = back.filter(F.col("doc_id") == 42).collect()[0]
    assert sample["text"] == "text number 42"
    # manifest matches per-shard reality
    per_shard = {r["shard"]: r["n_rows"] for r in manifest}
    for s, n in per_shard.items():
        assert back.filter(F.col("shard") == s).count() == n
    # manifest written as a single json part
    mf = spark.read.json(f"{out}/manifest")
    assert {r["shard"] for r in mf.collect()} == set(per_shard)


def test_parquet_format_and_no_tokens(spark, tmp_path):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(50)], "doc_id long, text string")
    out = str(tmp_path / "p")
    manifest = export_jsonl_shards(df, out, n_shards=4, fmt="parquet").collect()
    assert "n_tokens" not in manifest[0].asDict()
    assert spark.read.parquet(f"{out}/data").count() == 50


def test_export_epoch_shards_order_and_manifest(spark, tmp_path):
    """Each shard file's PHYSICAL line order is the epoch order (pos
    ascending = the seeded hash permutation); different seeds permute
    differently; manifest totals match."""
    import glob
    import json as _json

    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.packing import epoch_shuffle
    from restructure_hdfs_topic_spark.plans.export import export_epoch_shards

    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n_tokens")
    )
    path = str(tmp_path / "epoch0")
    manifest = export_epoch_shards(
        df, path, n_shards=4, seed=3, token_count_col="n_tokens"
    )
    m = {r["shard"]: (r["n_rows"], r["n_tokens"]) for r in manifest.collect()}
    assert sum(v[0] for v in m.values()) == 400

    want = {}
    for r in epoch_shuffle(df, "doc_id", n_shards=4, seed=3).collect():
        want.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    for shard, pairs in want.items():
        pairs.sort()
        files = glob.glob(f"{path}/data/shard={shard}/part-*")
        assert len(files) == 1  # one task, one file per shard dir
        lines = [
            _json.loads(ln)
            for ln in open(files[0]).read().splitlines()
            if ln.strip()
        ]
        got_ids = [ln["doc_id"] for ln in lines]
        assert got_ids == [d for _, d in pairs], f"shard {shard} out of order"
        assert m[shard][0] == len(got_ids)

    # A different seed produces a different physical order somewhere.
    path1 = str(tmp_path / "epoch1")
    export_epoch_shards(df, path1, n_shards=4, seed=4)
    any_diff = False
    for shard in range(4):
        f0 = glob.glob(f"{path}/data/shard={shard}/part-*")
        f1 = glob.glob(f"{path1}/data/shard={shard}/part-*")
        if f0 and f1 and open(f0[0]).read() != open(f1[0]).read():
            any_diff = True
    assert any_diff


def test_read_shards_round_trip_and_verify(spark, tmp_path):
    """read_shards loads an export back (all shards or a pruned subset)
    and fails loudly when the data no longer matches the manifest."""
    import glob
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.plans.export import (
        export_jsonl_shards,
        read_shards,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    out = str(tmp_path / "exp")
    export_jsonl_shards(df, out, n_shards=4)

    back = read_shards(spark, out)
    assert back.count() == 500
    assert {r["doc_id"] for r in back.collect()} == set(range(500))

    # Pruned load: only the requested shards' rows.
    two = read_shards(spark, out, shards=[0, 2])
    assert set(r["shard"] for r in two.select("shard").distinct().collect()) == {0, 2}
    manifest = {
        int(r["shard"]): int(r["n_rows"])
        for r in spark.read.json(f"{out}/manifest").collect()
    }
    assert two.count() == manifest[0] + manifest[2]

    # Damage one shard: verification must fail loudly.
    victim = glob.glob(f"{out}/data/shard=1/part-*")[0]
    _os.remove(victim)
    with pytest.raises(ValueError, match="shard verification failed"):
        read_shards(spark, out)
    # But unverified / other-shard reads still work.
    assert read_shards(spark, out, shards=[0], verify=True).count() == manifest[0]


def test_read_shards_unknown_requested_shard_raises(spark, tmp_path):
    """Review r8 #5: asking for a shard the manifest never had must fail
    loudly, not silently load fewer shards."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.plans.export import (
        export_jsonl_shards,
        read_shards,
    )

    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    out = str(tmp_path / "exp")
    export_jsonl_shards(df, out, n_shards=3)
    with pytest.raises(ValueError, match="not in the manifest"):
        read_shards(spark, out, shards=[0, 99])
