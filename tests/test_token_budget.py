"""token_budget_sample: exact-model equivalence (the two-pass coarse-bucket
plan must be row-identical to the naive per-document greedy rule), DuckDB
window cross-check over the real documents table, monotonicity,
partitioning independence."""

import random

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.sampling import (
    KNUTH,
    MOD,
    token_budget_sample,
)


def _model(rows, budgets):
    """Naive rule: per stratum in ((id*KNUTH) mod 2^32, id) order, keep a
    doc iff the token sum of docs before it is < budget."""
    keep = set()
    for s, bud in budgets.items():
        docs = sorted(
            (r for r in rows if r[1] == s),
            key=lambda r: ((r[0] * KNUTH) % MOD, r[0]),
        )
        cum = 0
        for i, _s, n in docs:
            if cum < bud:
                keep.add(i)
            cum += n
    return keep


def test_matches_naive_model_with_boundary_zeros(spark):
    rng = random.Random(7)
    rows = [
        (i, f"s{i % 3}", rng.choice([0, 0, 1, 3, 10, 50]))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    budgets = {"s0": 200, "s1": 0, "s2": 10_000_000}
    got = {
        r["doc_id"]
        for r in token_budget_sample(df, "doc_id", "source", budgets).collect()
    }
    assert got == _model(rows, budgets)
    # s1 budget 0 -> empty; s2 budget >= total -> whole stratum.
    assert not any(i % 3 == 1 for i in got)
    assert {i for i in range(500) if i % 3 == 2} <= got


def test_monotone_in_budget(spark):
    rows = [(i, "s", (i * 13) % 40 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    small = {
        r["doc_id"]
        for r in token_budget_sample(df, "doc_id", "source", {"s": 500}).collect()
    }
    big = {
        r["doc_id"]
        for r in token_budget_sample(df, "doc_id", "source", {"s": 2000}).collect()
    }
    assert small <= big and len(small) < len(big)


def test_duckdb_cross_check(spark):
    import duckdb

    from restructure_hdfs_topic_spark.functions.text import token_count
    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    sf_dir = "/root/testdata/sf0.01"
    configure(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    budgets = {"src0": 1500, "src1": 700, "src2": 100_000_000}
    got = sorted(
        r["doc_id"]
        for r in token_budget_sample(docs, "doc_id", "source", budgets).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(
        r"""
        WITH t AS (
          SELECT doc_id, source,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 END AS n,
                 (doc_id * 2654435761) % 4294967296 AS h
          FROM documents
          WHERE source IN ('src0', 'src1', 'src2')
        ), c AS (
          SELECT *, coalesce(sum(n) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM t
        )
        SELECT doc_id FROM c
        WHERE cum < CASE source WHEN 'src0' THEN 1500 WHEN 'src1' THEN 700
                    ELSE 100000000 END
        ORDER BY doc_id
        """
    ).fetchall()
    assert got == [r[0] for r in rows]


def test_partitioning_independence(spark):
    rows = [(i, f"s{i % 2}", (i * 7) % 30) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    budgets = {"s0": 900, "s1": 1200}
    a = sorted(
        r["doc_id"]
        for r in token_budget_sample(
            df.repartition(17), "doc_id", "source", budgets
        ).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in token_budget_sample(
            df.repartition(2), "doc_id", "source", budgets
        ).collect()
    )
    assert a == b


def test_weighted_hash_sample(spark):
    import duckdb

    from restructure_hdfs_topic_spark.operators.sampling import weighted_hash_sample

    rows = [(i, [0.0, 0.25, 0.5, 1.0, None, 1.7, -0.3][i % 7]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = sorted(r["doc_id"] for r in weighted_hash_sample(df, "doc_id", "w").collect())
    # DuckDB reproduces the exact keep set (engine-portable hash coin).
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = [
        r[0]
        for r in con.execute(
            """SELECT doc_id FROM t
               WHERE (doc_id * 2654435761) % 4294967296 <
                     CAST(least(greatest(coalesce(w, 0.0), 0.0), 1.0)
                          * 4294967296 AS BIGINT)
               ORDER BY doc_id"""
        ).fetchall()
    ]
    assert got == want
    # weight 1.0 rows always kept, <=0 / NULL rows never.
    kept = set(got)
    assert all(i in kept for i in range(2000) if i % 7 == 3)
    assert all(i not in kept for i in range(2000) if i % 7 in (0, 4, 6))
    # rate roughly follows the weight for the 0.5 class.
    half = [i for i in range(2000) if i % 7 == 2]
    frac = sum(i in kept for i in half) / len(half)
    assert 0.35 < frac < 0.65
