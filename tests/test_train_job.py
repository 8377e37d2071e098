"""train_data_job (VERDICT r10 #2): the terminal composed pipeline —
attrition identity (every input doc in exactly one terminal bucket),
leakage-safe split composition, packed-train export round-trip."""

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.plans.export import read_shards
from restructure_hdfs_topic_spark.plans.train_job import train_data_job

SF_DIR = "/root/testdata/sf0.001"
FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("train_job") / "out")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    report = train_data_job(
        docs,
        out,
        fractions=FRACTIONS,
        decontaminate_benchmark=benchmark,
        n_shards=4,
    )
    return docs, out, report


def test_attrition_identity(spark, job):
    """input == dropped_by_quality + dropped_by_near_dup + train + valid
    + test, and the per-doc disposition assigns every input id exactly
    one terminal bucket."""
    docs, _out, report = job
    c = report["counts"]
    assert c["input"] == docs.count() > 0
    assert c["input"] == (
        c["dropped_by_quality"]
        + c["dropped_by_near_dup"]
        + c["train"]
        + c["valid"]
        + c["test"]
    )
    assert c["train"] > 0  # the pipeline actually produces a train set

    disp = report["disposition"]
    rows = disp.collect()
    assert len(rows) == c["input"]
    assert len({r["doc_id"] for r in rows}) == c["input"]  # exactly once
    by_bucket = {}
    for r in rows:
        by_bucket[r["disposition"]] = by_bucket.get(r["disposition"], 0) + 1
    assert by_bucket == {
        k: v
        for k, v in c.items()
        if k
        in ("dropped_by_quality", "dropped_by_near_dup", "train", "valid", "test")
        and v > 0
    }


def test_export_round_trip_matches_counts(spark, job):
    _docs, out, report = job
    for name in FRACTIONS:
        df = read_shards(spark, f"{out}/{name}")  # verify=True checks manifest
        assert df.count() == report["counts"][name]
        manifest_rows = sum(m["n_rows"] for m in report["manifests"][name])
        assert manifest_rows == report["counts"][name]
    # Train rows carry the pack manifest; eval rows don't.
    train = read_shards(spark, f"{out}/train")
    assert {"pack_id", "start_off", "n_packs_spanned", "n_tokens"} <= set(
        train.columns
    )
    valid = read_shards(spark, f"{out}/valid")
    assert "pack_id" not in valid.columns and "n_tokens" in valid.columns
    # Every train doc got exactly one pack assignment.
    assert train.select("doc_id").distinct().count() == train.count()


def test_split_is_leakage_safe(spark, job):
    """No near-dup PAIR among the SURVIVORS straddles splits, under the
    job's own similarity notion (verified Jaccard ≥ group_threshold —
    the r12 one-signature-family contract: the split-leakage notion
    matches the dedup notion)."""
    from restructure_hdfs_topic_spark.operators.dedup import lsh_near_dup_pairs

    _docs, out, report = job
    survivors = None
    for name in FRACTIONS:
        part = read_shards(spark, f"{out}/{name}").select(
            "doc_id", "text", F.lit(name).alias("split")
        )
        survivors = part if survivors is None else survivors.unionByName(part)
    pairs = lsh_near_dup_pairs(survivors, "doc_id", "text", threshold=0.3)
    assign = survivors.select("doc_id", "split")
    straddlers = (
        pairs.join(assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")), "id_a")
        .join(assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddlers == 0


def test_disposition_persisted_and_stages_timed(spark, job):
    """The audit artifact is on disk next to the shards and replays the
    attrition identity offline; every composed stage carries a wall
    time (r11 stretch)."""
    _docs, out, report = job
    disk = spark.read.parquet(f"{out}/_disposition")
    on_disk = {r["disposition"]: r["n"] for r in disk.groupBy("disposition").agg(F.count(F.lit(1)).alias("n")).collect()}
    c = report["counts"]
    assert sum(on_disk.values()) == c["input"]
    for k in ("dropped_by_quality", "dropped_by_near_dup", "train", "valid", "test"):
        assert on_disk.get(k, 0) == c[k]
    ss = report["stage_seconds"]
    assert {"input_count", "quality_gate_and_scrub", "near_dup_drop", "group_and_split", "disposition_audit"} <= set(ss)
    assert all(v >= 0 for v in ss.values())


def test_group_threshold_validated(spark, tmp_path):
    docs = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="group_threshold"):
        train_data_job(docs, str(tmp_path / "out"), group_threshold=0.9, jaccard_threshold=0.5)


def test_all_docs_dropped_still_accounts_and_exports(spark, tmp_path):
    """A corpus the quality gate empties must still produce a complete,
    consistent report (empty splits exported, attrition identity holds)
    — the empty-stratum shape a real pipeline hits."""
    docs = spark.createDataFrame(
        [(i, "tiny", "s") for i in range(5)],
        "doc_id long, text string, source string",
    )
    rep = train_data_job(docs, str(tmp_path / "out"), n_shards=2)
    c = rep["counts"]
    assert c["input"] == 5 and c["dropped_by_quality"] == 5
    assert c["train"] == c["valid"] == c["test"] == 0
    disp = rep["disposition"].collect()
    assert len(disp) == 5
    assert {r["disposition"] for r in disp} == {"dropped_by_quality"}


def test_fractions_must_contain_train_split(spark):
    docs = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="train split"):
        train_data_job(docs, "/tmp/never", fractions={"valid": 1.0})


def test_reserved_split_names_rejected(spark):
    docs = spark.createDataFrame(
        [(1, "x", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="reserved"):
        train_data_job(
            docs, "/tmp/never", fractions={"train": 0.5, "input": 0.5}
        )
