"""Training-loader export: hash-sharded JSONL (or parquet) + manifest.

The last mile of a curation pipeline: materialize the curated corpus as
N balanced shards a data loader streams independently, with a manifest
(rows + token totals per shard) the loader uses for planning.  Sharding
is the repo's deterministic Knuth hash — shard membership is reproducible
across runs and engines, and decorrelated from source order (the
"shuffle" a training run needs, without a global sort).

Scale shape: ONE repartition on the shard id (each output file written by
exactly one task — no tiny-file explosion, no two-task contention on one
shard), then Spark's native committer handles atomicity (_SUCCESS, task
retries).  The manifest is a |shards|-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.sampling import hash_bucket


def _shard_route(spark, n_shards: int):
    """Broadcast (shard → pre-image) route table.  A raw
    ``repartition(n_shards, "shard")`` does NOT put one shard value per
    partition: HashPartitioning places shard k at ``pmod(murmur3(k), n)``,
    and that map has collisions (two shards in one task, empty tasks, two
    files in one ``shard=K`` dir).  Route instead through a per-shard key
    PRE-IMAGE: for each shard k, any int m_k with
    ``pmod(hash(m_k), n) == k`` — found by probing Spark's own hash (no
    Python reimplementation to drift), a |shards|-row driver table.
    Partition k then holds exactly shard k: one task, one file per dir."""
    from pyspark.sql.functions import broadcast

    route = _ROUTE_MEMO.get(n_shards)
    if route is None:
        probe = 64
        rows = (
            spark.range(0, probe * n_shards)
            .select(
                F.col("id").cast("int").alias("m"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_shards)).alias("b"),
            )
            .collect()
        )
        route = {}
        for r in rows:
            route.setdefault(r["b"], r["m"])
        if len(route) < n_shards:  # P ≈ n·e^-64 — effectively never
            raise RuntimeError("shard route probe under-delivered; raise probe")
        # The (shard → pre-image) map is a pure property of Spark's
        # murmur3 int hash — session- and data-independent — so probe it
        # once per shard count, not once per export call (each probe was
        # a 4096-row driver job serialized into every export).
        _ROUTE_MEMO[n_shards] = route
    return broadcast(
        spark.createDataFrame(
            [(k, route[k]) for k in range(n_shards)], "shard int, _route int"
        )
    )


_ROUTE_MEMO: dict[int, dict[int, int]] = {}


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    fmt: str = "json",
    persist_scope: str = "export.shards.tagged",
) -> DataFrame:
    """Write ``df`` as ``n_shards`` hash-balanced shards under
    ``path/data`` (Hive layout ``shard=K/``) and a single-file manifest
    under ``path/manifest``; returns the manifest DataFrame
    ``(shard, n_rows[, n_tokens])``.

    ``fmt`` is any Spark batch sink format ("json" → JSONL, "parquet",
    "csv").  Pick ``n_shards`` so one shard ≈ one loader worker's slice;
    at 100 TB that's thousands — still one row-group of driver state.

    ``persist_scope`` names the scoped-persist generation for the tagged
    frame; CONCURRENT exports (e.g. ``train_data_job`` overlapping its
    per-split exports) must pass distinct scopes from a bounded set, or
    each call releases the previous call's cache mid-flight and the
    manifest aggregate recomputes the pipeline tail.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from pyspark.sql.functions import broadcast

    from restructure_hdfs_topic_spark.caching import scoped_persist

    spark = df.sparkSession
    shard = (hash_bucket(id_col) % F.lit(n_shards)).cast("int").alias("shard")
    # Persisted across the save action and the manifest aggregate: the
    # input is typically the tail of a multi-shuffle curation pipeline,
    # and recomputing that whole lineage just to count rows per shard
    # would double the export's cluster cost.
    tagged = scoped_persist(df.select("*", shard), scope=persist_scope)
    route_df = _shard_route(spark, n_shards)
    (
        tagged.join(route_df, "shard")
        .repartition(n_shards, "_route")
        .drop("_route")
        .write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(f"{path}/data")
    )
    return _write_manifest(spark, tagged, path, token_count_col)


def _write_manifest(spark, tagged: DataFrame, path: str, token_count_col):
    """Aggregate the per-shard manifest ONCE (r14, guide §1.4): the
    |shards|-row result is collected, the manifest file is written from
    the driver (Hadoop FS bytes — the rows are already local, no Spark
    job), and a single-slice local frame with the same schema/contents
    is returned — the caller's near-universal ``manifest.collect()``
    costs one 1-partition task instead of re-running the aggregate over
    the tagged frame (a whole extra pipeline-tail job at 100 TB shard
    counts).  The JSON lines match Spark's writer byte-for-byte (schema
    field order, compact separators), so ``read_shards`` and any other
    ``spark.read.json`` consumer is unaffected.

    Measured traps (why the driver-side write and the VALUES return, not
    a Spark write/collect of a ``createDataFrame`` frame): a
    ``createDataFrame(rows)`` frame is backed by a defaultParallelism-
    sliced Python RDD — ``coalesce(1).write`` pays one sequential
    Python-worker roundtrip PER PARENT SLICE (~6 s for a 4-row manifest
    on local[32]), and even a 1-slice variant makes every caller collect
    spawn a Python worker, which measurably loses under the export
    pool's concurrency.  A SQL ``VALUES`` LocalRelation collects via
    ``executeCollect`` — no job, no Python worker."""
    import json as _json

    from restructure_hdfs_topic_spark import storage

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_count_col is not None:
        aggs.append(
            F.sum(F.coalesce(F.col(token_count_col).cast("long"), F.lit(0))).alias(
                "n_tokens"
            )
        )
    agg = tagged.groupBy("shard").agg(*aggs).orderBy("shard")
    rows = agg.collect()
    fields = agg.schema.fieldNames()
    payload = "".join(
        _json.dumps({f: r[f] for f in fields}, separators=(",", ":")) + "\n"
        for r in rows
    )
    st = storage.store(path, spark)
    st.delete(f"{path}/manifest", recursive=True)
    st.write(f"{path}/manifest/part-00000.json", payload.encode("utf-8"))
    st.write(f"{path}/manifest/_SUCCESS", b"")
    if not rows:
        return spark.createDataFrame([], agg.schema)
    # All-integer manifest rows → a literal VALUES relation (safe to
    # inline, nothing user-controlled survives int()).
    types = {f.name: f.dataType.simpleString() for f in agg.schema.fields}
    vals = ",".join(
        "(" + ",".join(str(int(r[f])) for f in fields) + ")" for r in rows
    )
    cols = ",".join(f"CAST({f} AS {types[f]}) AS {f}" for f in fields)
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {vals}) AS t({','.join(fields)})"
    )


def export_epoch_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    seed: int = 0,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    fmt: str = "json",
) -> DataFrame:
    """Epoch-ORDERED shard export: the corpus in one epoch's deterministic
    training order (``packing.epoch_shuffle``), one file per shard with
    rows physically sorted by their epoch position — a loader streams the
    files top-to-bottom and consumes exactly the seeded permutation, no
    loader-side shuffle buffer needed.  Different ``seed`` → a different
    reproducible epoch.  Returns the manifest ``(shard, n_rows[,
    n_tokens])``.

    Scale shape: ``epoch_shuffle``'s one hash shuffle + per-shard sort IS
    the write layout — the pre-image route pins shard k to task k and
    ``sortWithinPartitions(pos)`` makes the task's external sort the file
    order.  Nothing else shuffles; the manifest is a |shards|-row
    aggregate."""
    from restructure_hdfs_topic_spark.caching import scoped_persist
    from restructure_hdfs_topic_spark.operators.packing import epoch_shuffle

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    spark = df.sparkSession
    tagged = scoped_persist(
        epoch_shuffle(df, id_col, n_shards=n_shards, seed=seed),
        scope="export.epoch_shards.tagged",
    )
    route_df = _shard_route(spark, n_shards)
    (
        tagged.join(route_df, "shard")
        .repartition(n_shards, "_route")
        # The partitioned writer REQUIRES ordering by the partition column
        # and would insert its own Sort(shard) above a pos-only sort —
        # a planner sort that is not stability-guaranteed under spill,
        # which would scramble the epoch order this function exists to
        # materialize.  Leading with "shard" (constant within a routed
        # partition) satisfies the requirement, so OUR sort is the only
        # one in the plan and pos order reaches the file verbatim.
        .sortWithinPartitions("shard", "pos")
        .drop("_route")
        .write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(f"{path}/data")
    )
    return _write_manifest(spark, tagged, path, token_count_col)


def read_shards(
    spark,
    path: str,
    fmt: str = "json",
    schema: str | None = None,
    shards: list[int] | None = None,
    verify: bool = True,
) -> DataFrame:
    """Load an export back: the shard data under ``path/data`` (optionally
    only the listed ``shards`` — partition pruning via the Hive
    ``shard=K`` layout makes that a subdirectory read, the loader-worker
    access pattern) plus, when ``verify`` is set, a per-shard row-count
    check against the stored manifest — a truncated or partially-copied
    export fails LOUDLY here instead of silently training on fewer rows.
    Returns the data frame with its ``shard`` column."""
    # Without an explicit schema, JSONL pays one inference pass — exports
    # are self-describing enough for it (ids/token counts are longs).
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(f"{path}/data")
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    if verify:
        manifest = {
            int(r["shard"]): int(r["n_rows"])
            for r in spark.read.json(f"{path}/manifest").collect()
        }
        if shards is not None:
            # A requested shard the manifest never had is the silent-
            # truncation case verify exists to catch — dropping it from
            # the check would pass a partial load as complete.
            unknown = sorted(set(map(int, shards)) - set(manifest))
            if unknown:
                raise ValueError(
                    f"shard verification failed at {path}: requested shards "
                    f"{unknown} are not in the manifest ({sorted(manifest)})"
                )
        got = {
            int(r["shard"]): int(r["n"])
            for r in df.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want = (
            manifest
            if shards is None
            else {s: manifest[s] for s in map(int, shards)}
        )
        if got != want:
            missing = {s: v for s, v in want.items() if got.get(s) != v}
            raise ValueError(
                f"shard verification failed at {path}: manifest says "
                f"{missing}, data has { {s: got.get(s, 0) for s in missing} }"
            )
    return df
