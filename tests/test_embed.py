"""feature_hash_embed: DuckDB bit-for-bit cross-check (shared polynomial
token hash), cosine fixture semantics, contracts."""

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.embed import feature_hash_embed


def test_contracts_and_cosine_sanity(spark):
    rows = [
        (1, "apple banana cherry apple"),
        (2, "apple banana cherry"),       # near-dup of 1 (TF differs by one)
        (3, "totally different words entirely"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["vec"] for r in feature_hash_embed(df, dim=32).collect()}
    assert len(out) == 5 and all(len(v) == 32 for v in out.values())
    assert out[4] == [0.0] * 32 and out[5] == [0.0] * 32

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    assert cos(out[1], out[2]) > 0.9
    assert cos(out[1], out[3]) < 0.7
    # unit norm for non-empty docs
    assert abs(sum(x * x for x in out[1]) - 1.0) < 1e-4


def test_duckdb_cross_check(spark):
    import duckdb

    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    sf_dir = "/root/testdata/sf0.01"
    dim = 16
    configure(spark)
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        (r["id"], b, v)
        for r in feature_hash_embed(docs, dim=dim).collect()
        for b, v in enumerate(r["vec"])
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    tokhash = (
        "list_reduce(list_transform(string_split(tk, ''), "
        "x -> CAST(ascii(x) AS BIGINT)), (a, x) -> (a * 131 + x) % 2147483647)"
    )
    rows = con.execute(
        rf"""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tk
          FROM documents WHERE trim(coalesce(text, '')) <> ''
        ), h AS (
          SELECT doc_id, {tokhash} AS th FROM tok
        ), acc AS (
          SELECT doc_id, th % {dim} AS bucket,
                 sum(CASE WHEN (th // {dim}) % 2 = 1 THEN 1.0 ELSE -1.0 END) AS s
          FROM h GROUP BY doc_id, th % {dim}
        ), fl AS (
          SELECT d.doc_id, g.bucket, coalesce(a.s, 0.0) AS s
          FROM (SELECT DISTINCT doc_id FROM acc) d
          CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS bucket) g
          LEFT JOIN acc a ON a.doc_id = d.doc_id AND a.bucket = g.bucket
        ), n AS (
          SELECT doc_id, sqrt(sum(s * s)) AS norm FROM fl GROUP BY doc_id
        )
        SELECT f.doc_id, f.bucket,
               round(CASE WHEN n.norm > 0 THEN f.s / n.norm ELSE 0.0 END, 6) AS v
        FROM fl f JOIN n USING (doc_id)
        ORDER BY f.doc_id, f.bucket
        """
    ).fetchall()
    want = sorted((r[0], r[1], r[2]) for r in rows)
    assert got == want


def test_partitioning_independence_and_ann_composition(spark):
    rows = [(i, f"token{i % 9} shared common words {i % 4}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, feature_hash_embed(df.repartition(11)).collect()))
    b = sorted(map(tuple, feature_hash_embed(df.repartition(3)).collect()))
    assert [(i, tuple(v)) for i, v in a] == [(i, tuple(v)) for i, v in b]
    # Composes with the exact cosine top-k consumer end-to-end.
    from restructure_hdfs_topic_spark.operators.similarity import cosine_topk

    emb = feature_hash_embed(df).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    top = cosine_topk(emb, k=3, queries=emb.orderBy("vec_id").limit(5))
    assert top.count() == 15
