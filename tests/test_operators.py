"""Unit tests pinning the reference's operator semantics (SURVEY §5):
time-bin derivation and fallback, ID sanitize, filename parse,
keep-last dedup order, offset-interval merge/contains/remove algebra.
"""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.time import event_time, time_bin
from restructure_hdfs_topic_spark.functions.paths import parse_source_filename, sanitize_id
from restructure_hdfs_topic_spark.operators.dedup import (
    keep_last_dedup,
    ngram_jaccard_pairs,
    shingles_from,
)
from restructure_hdfs_topic_spark.operators.offsets import (
    filter_unseen_records,
    merge_offset_intervals,
    remove_offsets,
)


def test_time_bin_reference_golden(spark):
    # RadarHdfsRestructureTest.kt:27-59 — value.time 1493711175.0 → 20170502_0700;
    # fallback key.start (1h earlier, ms) → 20170502_0600.
    df = spark.createDataFrame(
        [(1493711175.0, 1493707575000), (None, 1493707575000)],
        "time double, start long",
    )
    out = df.select(
        time_bin(event_time(time_s=F.col("time"), start_ms=F.col("start"))).alias("bin")
    ).collect()
    assert out[0].bin == "20170502_0700"
    assert out[1].bin == "20170502_0600"


def test_time_bin_null_is_unknown_date(spark):
    df = spark.createDataFrame([(None,)], "time double")
    out = df.select(time_bin(event_time(time_s=F.col("time"))).alias("bin")).collect()
    assert out[0].bin == "unknown_date"


def test_sanitize_reference_semantics(spark):
    # path/RecordPathFactory.kt:120-129: strip [^a-zA-Z0-9_-]; empty → default.
    df = spark.createDataFrame([("u@ser/1",), ("",), (None,), ("ok-id_9",)], "u string")
    out = [r.s for r in df.select(sanitize_id(F.col("u"), "unknown-user").alias("s")).collect()]
    assert out == ["user1", "unknown-user", "unknown-user", "ok-id_9"]


def test_filename_parse_range_and_single(spark):
    # TopicPartitionOffsetRange.kt:50-61 filename variants.
    df = spark.createDataFrame(
        [("dir/topic_a+3+100+199.avro",), ("topic_b+0+42.avro",)], "filename string"
    )
    rows = df.select(*parse_source_filename(F.col("filename"))).collect()
    assert rows[0].topic == "topic_a" and rows[0].partition == 3
    assert rows[0].offset_from == 100 and rows[0].offset_to == 199
    assert rows[1].topic == "topic_b" and rows[1].offset_from == 42 and rows[1].offset_to == 42


def test_keep_last_dedup_semantics(spark):
    # CsvAvroConverterTest.kt:159-191 — keep LAST occurrence per key.
    df = spark.createDataFrame(
        [(1, "k1", "old"), (2, "k1", "new"), (3, "k2", "only")],
        "ord int, key string, payload string",
    )
    out = {r.key: r.payload for r in keep_last_dedup(df, ["key"], "ord").collect()}
    assert out == {"k1": "new", "k2": "only"}


def test_interval_merge_adjacent_and_overlap(spark):
    # OffsetIntervals.kt:84-101 — [0,2]+[3,4] merge (adjacent); [10,20]+[15,25] merge.
    df = spark.createDataFrame(
        [("t", 0, 0, 2), ("t", 0, 3, 4), ("t", 0, 10, 20), ("t", 0, 15, 25), ("t", 1, 0, 5)],
        "topic string, partition int, offset_from long, offset_to long",
    )
    out = sorted(
        (r.partition, r.offset_from, r.offset_to)
        for r in merge_offset_intervals(df).collect()
    )
    assert out == [(0, 0, 4), (0, 10, 25), (1, 0, 5)]


def test_interval_remove_splits(spark):
    # OffsetIntervals.kt:120-199 — removing mid-range splits the interval;
    # multiple removals against one interval all apply.
    state = spark.createDataFrame(
        [("t", 0, 0, 100)], "topic string, partition int, offset_from long, offset_to long"
    )
    rm = spark.createDataFrame(
        [("t", 0, 10, 20), ("t", 0, 30, 40)],
        "topic string, partition int, offset_from long, offset_to long",
    )
    out = sorted((r.offset_from, r.offset_to) for r in remove_offsets(state, rm).collect())
    assert out == [(0, 9), (21, 29), (41, 100)]


def test_seen_record_filter_mtime_dimension(spark):
    # OffsetIntervalsTest "futureModified": a record inside a committed range
    # but with NEWER mtime must reprocess (not be filtered).
    ts_old = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ts_new = datetime(2024, 2, 1, tzinfo=timezone.utc)
    records = spark.createDataFrame(
        [("t", 0, 5, ts_old, "committed-old"), ("t", 0, 6, ts_new, "rewritten"), ("t", 0, 50, ts_old, "new-offset")],
        "topic string, partition int, offset long, mtime timestamp, tag string",
    )
    state = spark.createDataFrame(
        [("t", 0, 0, 10, datetime(2024, 1, 15, tzinfo=timezone.utc))],
        "topic string, partition int, offset_from long, offset_to long, last_processed timestamp",
    )
    tags = sorted(r.tag for r in filter_unseen_records(records, state).collect())
    assert tags == ["new-offset", "rewritten"]


def test_shingles_short_doc_is_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    toks = df.select(F.split("text", " ").alias("toks"))
    out = toks.select(shingles_from(F.col("toks"), 3).alias("sh")).collect()
    assert out[0].sh == []
    assert out[1].sh == ["a b c", "b c d"]


def test_minhash_kernel_semantics(spark):
    """The numpy minhash kernel: identical docs agree on hashed sets AND
    signatures; case/extra-whitespace variants normalize to the same
    tokens; docs shorter than n tokens are dropped; results don't depend
    on how rows batch into Arrow chunks."""
    from restructure_hdfs_topic_spark.operators.dedup import _minhash_kernel

    rows = [
        (1, "Alpha  beta\tgamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "zz yy xx ww vv"),
        (4, "too short"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r
        for r in df.mapInPandas(
            _minhash_kernel(3, 8), schema="id long, hashed array<long>, sig array<long>"
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # <3-token and empty docs dropped
    assert sorted(out[1]["hashed"]) == sorted(out[2]["hashed"])
    assert out[1]["sig"] == out[2]["sig"]
    assert len(out[1]["sig"]) == 8
    assert sorted(out[1]["hashed"]) != sorted(out[3]["hashed"])
    # Partitioning independence: one row per partition gives identical rows.
    out1 = {
        r["id"]: r
        for r in df.repartition(6)
        .mapInPandas(
            _minhash_kernel(3, 8), schema="id long, hashed array<long>, sig array<long>"
        )
        .collect()
    }
    assert {k: (sorted(v["hashed"]), v["sig"]) for k, v in out.items()} == {
        k: (sorted(v["hashed"]), v["sig"]) for k, v in out1.items()
    }


def test_lsh_near_dup_pairs_finds_identical_docs(spark):
    from restructure_hdfs_topic_spark.operators.dedup import lsh_near_dup_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "qq ww ee rr tt yy uu"),
        ],
        "doc_id long, text string",
    )
    pairs = lsh_near_dup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b, pairs[0].jaccard) == (1, 2, 1.0)


def test_simhash_near_dup_banding_is_exact(spark):
    """Pigeonhole banding must return the IDENTICAL pair set as the O(n²)
    all-pairs Hamming scan — banding is candidate pruning, not
    approximation."""
    from restructure_hdfs_topic_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different sentence with other words entirely"),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "some unrelated text about spark and data processing"),
        ],
        "doc_id long, text string",
    )
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(docs, "doc_id", "text", bits=32, max_hamming=4).collect()
    }
    sims = simhash(docs, "doc_id", "text", bits=32)
    a = sims.toDF("id_a", "sh_a")
    b = sims.toDF("id_b", "sh_b")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    assert banded == brute
    assert (1, 4, 0) in banded  # identical docs
    assert any(p[:2] == (1, 2) for p in banded)  # one-word difference


def test_ivf_ann_topk_clustered_recall(spark):
    """IVF with planted clusters: tight clusters around two orthogonal
    directions must recover each vector's true within-cluster neighbors;
    output shape is (query, rank<=k, neighbor, cosine) with self excluded."""
    import random

    from restructure_hdfs_topic_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    rng = random.Random(7)
    rows = []
    for cid, base in enumerate([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]):
        for i in range(20):
            vec = [b + rng.uniform(-0.05, 0.05) for b in base]
            rows.append((cid * 100 + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    approx = ivf_ann_topk(emb, k=3, n_centroids=4, nprobe=2)
    got = approx.collect()
    assert all(1 <= r["rank"] <= 3 for r in got)
    assert all(r["query_id"] != r["neighbor_id"] for r in got)
    # Clustered data is the IVF sweet spot: near-perfect recall at nprobe=2.
    exact = cosine_topk(emb, k=3)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits / exact.count() >= 0.9


def test_ivf_nprobe_calibration_and_degenerate_routing(spark):
    """Default (nprobe=None) behavior: clustered corpora calibrate a SMALL
    probe depth and stay on IVF; a corpus whose calibrated depth exceeds
    half the centroids (no cluster structure) routes to the LSH path —
    either way, default-settings recall@5 must reach the 0.9 target."""
    import math
    import random

    import numpy as np

    from restructure_hdfs_topic_spark.operators.similarity import (
        _calibrate_nprobe,
        cosine_topk,
        ivf_ann_topk,
    )

    rng = random.Random(11)
    # Clustered: calibration on the planted-cluster geometry needs few probes.
    clustered = np.array(
        [
            [b + rng.uniform(-0.05, 0.05) for b in base]
            for base in ([1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1])
            for _ in range(25)
        ]
    )
    quant = (clustered * 127).astype(np.int64)
    probes = _calibrate_nprobe(quant, quant[:8].copy(), k=3, target_recall=0.9)
    assert probes <= 4  # half of 8 centroids: stays on the IVF path
    # Uniform: every direction random — cluster rank carries no signal, so
    # the calibrated depth blows past half the centroids.
    uniform = np.array(
        [[rng.gauss(0, 1) for _ in range(32)] for _ in range(200)]
    )
    uq = (uniform * 127).astype(np.int64)
    n_cent = max(2, int(math.isqrt(200)))
    deep = _calibrate_nprobe(uq, uq[:n_cent].copy(), k=3, target_recall=0.9)
    assert deep > n_cent // 2  # triggers the LSH route
    # End-to-end default call on the uniform corpus: routed, recall >= 0.9.
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(uniform)],
        "vec_id long, embedding array<double>",
    )
    approx = ivf_ann_topk(emb, k=5)
    exact = cosine_topk(emb, k=5)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits / exact.count() >= 0.9


def test_connected_components_chain_and_islands(spark):
    """Pointer jumping must collapse a worst-case chain (diameter = n-1)
    within the round budget; isolated vertices keep their own label."""
    from restructure_hdfs_topic_spark.operators.dedup import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    verts = spark.range(0, n + 3).selectExpr("id")  # n..n+2 isolated
    got = {r["id"]: r["group_id"] for r in connected_components(verts, edges).collect()}
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == i for i in range(n, n + 3))


def test_interval_algebra_randomized(spark):
    """Property-style check of the O16 interval algebra (the reference has
    no property tests — SURVEY §5 upgrade): 200 seeded random cases run as
    ONE Spark job each for merge and remove, compared point-by-point
    against a brute-force membership model.

    merge: x is covered by the merged set iff x is covered by some input
    interval (adjacency [a,b]+[b+1,c] also fuses); intervals come out
    disjoint, sorted, non-adjacent.
    remove: x is covered afterwards iff covered before and not removed.
    """
    import random

    from restructure_hdfs_topic_spark.operators.offsets import (
        merge_offset_intervals,
        remove_offsets,
    )

    rng = random.Random(42)
    cases = []
    for case in range(200):
        n_iv = rng.randint(1, 8)
        ivs = []
        for _ in range(n_iv):
            lo = rng.randint(0, 40)
            ivs.append((lo, lo + rng.randint(0, 10)))
        n_rm = rng.randint(0, 4)
        rms = []
        for _ in range(n_rm):
            lo = rng.randint(0, 45)
            rms.append((lo, lo + rng.randint(0, 8)))
        cases.append((ivs, rms))

    state = spark.createDataFrame(
        [(f"c{i}", 0, lo, hi) for i, (ivs, _) in enumerate(cases) for lo, hi in ivs],
        "topic string, partition int, offset_from long, offset_to long",
    )
    removals = spark.createDataFrame(
        [(f"c{i}", 0, lo, hi) for i, (_, rms) in enumerate(cases) for lo, hi in rms]
        or [("none", 0, 0, 0)],
        "topic string, partition int, offset_from long, offset_to long",
    )
    merged = merge_offset_intervals(state)
    merged_rows = {}
    for r in merged.collect():
        merged_rows.setdefault(r["topic"], []).append((r["offset_from"], r["offset_to"]))
    removed = remove_offsets(merged, removals)
    removed_rows = {}
    for r in removed.collect():
        removed_rows.setdefault(r["topic"], []).append((r["offset_from"], r["offset_to"]))

    for i, (ivs, rms) in enumerate(cases):
        key = f"c{i}"
        got_m = sorted(merged_rows.get(key, []))
        # Membership equivalence on every point in range.
        for x in range(0, 60):
            want = any(lo <= x <= hi for lo, hi in ivs)
            assert any(lo <= x <= hi for lo, hi in got_m) == want, (i, x, ivs, got_m)
        # Disjoint, sorted, non-adjacent (adjacent would have merged).
        for (a1, b1), (a2, b2) in zip(got_m, got_m[1:]):
            assert b1 + 1 < a2, (i, got_m)
        got_r = sorted(removed_rows.get(key, []))
        for x in range(0, 60):
            want = any(lo <= x <= hi for lo, hi in ivs) and not any(
                lo <= x <= hi for lo, hi in rms
            )
            assert any(lo <= x <= hi for lo, hi in got_r) == want, (i, x, ivs, rms, got_r)


def test_chunk_documents_overlap_semantics(spark):
    """Chunk windows: stride = chunk - overlap; last chunk may be short;
    short docs yield one chunk; empty docs yield none."""
    from restructure_hdfs_topic_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                                # short: one chunk
            (3, ""),                                     # empty: no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=8, overlap=2)
    rows = {(r["id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: starts at 0 and 6 → chunks of 8 and 4 tokens.
    assert rows[(1, 0)]["chunk_text"] == "w0 w1 w2 w3 w4 w5 w6 w7"
    assert rows[(1, 1)]["chunk_text"] == "w6 w7 w8 w9"
    assert rows[(1, 0)]["n_chunk_tokens"] == 8 and rows[(1, 1)]["n_chunk_tokens"] == 4
    assert rows[(2, 0)]["chunk_text"] == "a b c"
    assert set(rows) == {(1, 0), (1, 1), (2, 0)}


def test_ngram_repetition_semantics(spark):
    """Bigram repetition ratio: repeats counted per OCCURRENCE; short and
    empty docs are 0 (the sequence(0, negative) descent trap)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import (
        ngrams_from,
        repetition_metrics_from,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),   # bigrams: ab ba ab ba → 4 total, 2 distinct
            (2, "x y z"),       # xy yz → no repeats
            (3, "solo"),        # < 2 tokens → no bigrams
            (4, ""),            # empty → no bigrams
        ],
        "doc_id long, text string",
    )
    grammed = docs.select(
        "doc_id", ngrams_from(tokens(F.col("text")), 2).alias("grams")
    )
    out = {
        r["doc_id"]: r
        for r in grammed.select(
            "doc_id",
            *[c.alias(n) for n, c in repetition_metrics_from(F.col("grams"))],
        ).collect()
    }
    assert (out[1]["n_grams"], out[1]["n_distinct_grams"]) == (4, 2)
    assert out[1]["repetition_ratio"] == 0.5
    assert out[2]["repetition_ratio"] == 0.0 and out[2]["n_grams"] == 2
    assert out[3]["n_grams"] == 0 and out[3]["repetition_ratio"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["repetition_ratio"] == 0.0


def test_shingle_contamination(spark):
    """Docs sharing an n-gram with the benchmark flag; counts are DISTINCT
    shared shingles; clean docs survive with 0."""
    from restructure_hdfs_topic_spark.operators.dedup import shingle_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox jumps over something else entirely"),
            (3, "completely unrelated words without any overlap here"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in shingle_contamination(corpus, bench, "doc_id", "text", n=5).collect()
    }
    # doc 1 shares "the quick brown fox jumps" and "quick brown fox jumps over"
    assert out[1]["contaminated"] and out[1]["n_hit_shingles"] == 2
    assert out[2]["contaminated"] and out[2]["n_hit_shingles"] == 1
    assert not out[3]["contaminated"] and out[3]["n_hit_shingles"] == 0
    assert not out[4]["contaminated"]  # < n tokens: no shingles at all
    assert set(out) == {1, 2, 3, 4}


def test_duplication_weights_duckdb_cross_check(spark):
    """Soft-dedup inverse-frequency weights: exact-cluster sizes equal a
    DuckDB GROUP BY over the raw text (the engine keys on xxhash64 —
    identical counts absent a 64-bit collision), NULL text weights 1.0,
    the REAL near_dup_groups output composes (group_id contract), and
    weights feed weighted_hash_sample deterministically."""
    import duckdb

    from restructure_hdfs_topic_spark.operators.dedup import (
        duplication_weights,
        near_dup_groups,
    )
    from restructure_hdfs_topic_spark.operators.sampling import (
        weighted_hash_sample,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [(100001, None), (100002, None), (100003, "only once")],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    out = duplication_weights(docs, "doc_id", "text")
    assert out.columns == ["doc_id", "cluster_size", "weight"]
    got = {
        r["doc_id"]: (r["cluster_size"], r["weight"]) for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW d AS SELECT * FROM read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    want = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT doc_id, count(*) OVER (PARTITION BY text) FROM d"
        ).fetchall()
    }
    for did, c in want.items():
        w = __import__("math").floor(1.0 / c * 1e6 + 0.5) / 1e6
        assert got[did] == (c, w), did
    # NULL text is never a duplicate of another NULL.
    assert got[100001] == (1, 1.0) and got[100002] == (1, 1.0)
    assert got[100003] == (1, 1.0)
    # The REAL producer composes: near_dup_groups' (doc_id, group_id)
    # output feeds straight in, and cluster sizes match its group sizes.
    nd = near_dup_groups(docs, "doc_id", "text")
    via = duplication_weights(docs, "doc_id", "text", groups=nd)
    sizes = {
        r["group_id"]: r["n"]
        for r in nd.groupBy("group_id").agg(F.count("*").alias("n")).collect()
    }
    gid = {r["doc_id"]: r["group_id"] for r in nd.collect()}
    for r in via.collect():
        expect = sizes.get(gid.get(r["doc_id"]), 1)
        assert r["cluster_size"] == expect, r["doc_id"]
    # weighted_hash_sample composes on the weight column: every
    # singleton (weight 1.0) survives; duplicate-cluster mass shrinks.
    joined = docs.join(out, "doc_id")
    kept = weighted_hash_sample(joined, "doc_id", "weight")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    singletons = {d for d, (c, _) in got.items() if c == 1}
    assert singletons <= kept_ids
    dups = {d for d, (c, _) in got.items() if c > 1}
    if dups:
        assert len(kept_ids & dups) < len(dups)
    # Partitioning independence.
    again = {
        r["doc_id"]: (r["cluster_size"], r["weight"])
        for r in duplication_weights(
            docs.repartition(7), "doc_id", "text"
        ).collect()
    }
    assert again == got


def test_benchmark_leak_report(spark):
    """Per-benchmark-example leak accounting (the GPT-3 §C table): exact
    Python re-derivation of n_shingles / n_leaked / leak_frac /
    docs-hit over planted overlaps, plus partitioning independence."""
    import re
    from collections import defaultdict

    from restructure_hdfs_topic_spark.operators.dedup import (
        benchmark_leak_report,
    )

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox jumps over something else entirely"),
        (3, "completely unrelated words without any overlap here"),
        (4, "the quick brown fox jumps again and again today"),
    ]
    bench_rows = [
        (100, "the quick brown fox jumps over a fence"),
        (101, "completely unrelated words without any overlap here"),
        (102, "tiny"),  # < n tokens: zero shingles, leak_frac 0
        (103, "nothing from this one appears in the training corpus"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    n = 5
    out = {
        r["id"]: r
        for r in benchmark_leak_report(
            corpus, bench, "doc_id", "text", n=n
        ).collect()
    }

    def sh(text):
        toks = re.split(r"\s+", text.strip(" ").lower()) if text.strip(" ") else []
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    corpus_sh = {i: sh(t) for i, t in corpus_rows}
    for bid, btext in bench_rows:
        b = sh(btext)
        leaked = {s for s in b if any(s in c for c in corpus_sh.values())}
        docs_hit = {i for i, c in corpus_sh.items() if c & b}
        r = out[bid]
        assert r["n_shingles"] == len(b), bid
        assert r["n_leaked_shingles"] == len(leaked), bid
        assert r["n_corpus_docs_hit"] == len(docs_hit), bid
        want_frac = round(len(leaked) / len(b), 6) if b else 0.0
        assert abs(r["leak_frac"] - want_frac) < 1e-9, bid
    assert set(out) == {100, 101, 102, 103}
    # Semantics spot checks: 101 fully leaked (exact copy in corpus),
    # 103 clean, 100 partially leaked from two docs.
    assert out[101]["leak_frac"] == 1.0
    assert out[103]["n_leaked_shingles"] == 0
    assert 0 < out[100]["leak_frac"] < 1.0
    assert out[100]["n_corpus_docs_hit"] >= 2
    # Partitioning independence.
    again = {
        r["id"]: tuple(r)
        for r in benchmark_leak_report(
            corpus.repartition(5), bench.repartition(3), "doc_id", "text", n=n
        ).collect()
    }
    assert again == {k: tuple(v) for k, v in out.items()}


def test_approx_paths_partitioning_independent(spark):
    """SCALE.md claims determinism: IVF (exact-integer Lloyd) and simhash
    must produce identical results regardless of input partitioning."""
    from restructure_hdfs_topic_spark.operators.dedup import simhash
    from restructure_hdfs_topic_spark.operators.similarity import ivf_ann_topk

    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    emb1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb8 = emb1.repartition(8)
    r1 = sorted(map(tuple, ivf_ann_topk(emb1, k=3, n_centroids=6, nprobe=3).collect()))
    r8 = sorted(map(tuple, ivf_ann_topk(emb8, k=3, n_centroids=6, nprobe=3).collect()))
    assert r1 == r8

    docs = spark.createDataFrame(
        [(i, f"tok{i%7} tok{i%3} shared words here {i%5}") for i in range(100)],
        "doc_id long, text string",
    )
    s1 = sorted(map(tuple, simhash(docs.coalesce(1), "doc_id", "text").collect()))
    s8 = sorted(map(tuple, simhash(docs.repartition(8), "doc_id", "text").collect()))
    assert s1 == s8


def test_asof_join_semantics(spark):
    """As-of semantics: latest right value at or BEFORE the left time
    (equal timestamps match); left rows before any right get null; carry
    persists until superseded."""
    from restructure_hdfs_topic_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", 5), (2, "u", 10), (3, "u", 20), (4, "v", 10)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("u", 10, 1.0), ("u", 15, 2.0)], "k string, t long, val double"
    )
    out = {r["id"]: r["asof_val"] for r in asof_join(left, right, ["k"], "t", ["val"]).collect()}
    assert out == {1: None, 2: 1.0, 3: 2.0, 4: None}


def test_time_window_join_band_edges(spark):
    """Banded candidates must not lose pairs that straddle a bucket
    boundary, and must exclude pairs just outside the window."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.temporal import time_window_join

    def t(s):
        return F.timestamp_seconds(F.lit(s))

    left = spark.range(1).select(
        F.lit(1).alias("id"), F.lit("u").alias("k"), F.timestamp_seconds(F.lit(1000)).alias("ts")
    )
    right = spark.createDataFrame(
        [("u", 900), ("u", 1100), ("u", 899), ("u", 1101), ("u", 1999)],
        "k string, sec long",
    ).select("k", F.timestamp_seconds(F.col("sec")).alias("ts"))
    out = time_window_join(left, right, ["k"], "ts", window_s=100)
    got = sorted(r["r_ts"].timestamp() for r in out.collect())
    assert got == [900.0, 1100.0]  # exactly-at-window matches; outside excluded


def test_redact_pii_patterns(spark):
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk today"),
            (2, "see https://ex.com/a?b=c#d and http://y.io"),
            (3, "call 12345678 but keep 123456 and year 2024"),
            (4, "clean text stays clean"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["r"] for r in df.select("id", redact_pii(F.col("text")).alias("r")).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "see <URL> and <URL>"
    assert got[3] == "call <NUMBER> but keep 123456 and year 2024"
    assert got[4] == "clean text stays clean"


def test_hash_sample_monotone_and_deterministic(spark):
    """A lower-rate hash sample is a SUBSET of a higher-rate one, rates
    land near their targets, and resampling is bit-stable."""
    from restructure_hdfs_topic_spark.operators.sampling import hash_sample

    df = spark.range(0, 20000).withColumnRenamed("id", "rid")
    s10 = {r["rid"] for r in hash_sample(df, "rid", 0.10).collect()}
    s20 = {r["rid"] for r in hash_sample(df, "rid", 0.20).collect()}
    assert s10 <= s20
    assert abs(len(s10) / 20000 - 0.10) < 0.01
    assert abs(len(s20) / 20000 - 0.20) < 0.01
    assert s10 == {r["rid"] for r in hash_sample(df.repartition(8), "rid", 0.10).collect()}


def test_load_table_normalizes_timestamp_flavors(spark, tmp_path):
    """The driver's parquet timestamps have shipped as INT64 nanos and as
    no-tz micros (TIMESTAMP_NTZ under Spark 4 inference) across data
    generations; load_table must yield session-UTC TimestampType for both so
    unix_micros()/time_bin() apply unchanged."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from restructure_hdfs_topic_spark.sources.tables import load_table

    d = str(tmp_path / "sfx")
    import os

    os.makedirs(d)
    ts = pd.to_datetime(["2020-01-01 10:30:00", "2021-06-05 23:59:59"])
    # no-tz micros -> Spark 4 reads TIMESTAMP_NTZ without normalization
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, type=pa.timestamp("us"))}),
        f"{d}/events.parquet",
    )
    df = load_table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    from pyspark.sql import functions as F

    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
    assert got[0] == 1577874600 * 1_000_000
    # non-timestamp tables pass through untouched
    pq.write_table(pa.table({"doc_id": [1], "text": ["x"]}), f"{d}/documents.parquet")
    assert load_table(spark, d, "documents").columns == ["doc_id", "text"]


def test_simhash_component_edges_closure_matches_pairs(spark):
    """The sparsified spanning edges must have the SAME transitive closure
    as the full verified pair set — including a chain A-B-C where A-C is
    beyond max_hamming (the case a min-neighbor-only sparsifier breaks)."""
    import pandas as pd

    from restructure_hdfs_topic_spark.operators.dedup import (
        simhash_component_edges,
        simhash_near_dup_pairs,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),  # near 1
        (4, "totally different words entirely here now"),
        (5, "totally different words entirely here soon"),  # near 4
        (6, "unique singleton document with its own content"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = simhash_near_dup_pairs(df, "doc_id", "text").toPandas()
    edges = simhash_component_edges(df, "doc_id", "text").toPandas()

    def components(edge_iter):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in edge_iter:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in range(1, 7)}

    got = components(zip(edges["id_a"], edges["id_b"]))
    want = components(zip(pairs["id_a"], pairs["id_b"]))
    assert got == want
    # Spanning form: O(members · bands) edges (a star edge can repeat once
    # per band — CC absorbs duplicates), never the quadratic pair count.
    assert len(edges) <= 4 * len(df.toPandas())
    assert (edges["id_a"] != edges["id_b"]).all()


def test_interval_lookup_matches_bruteforce_randomized(spark):
    """The carry-forward interval lookup (O4/O5 rewrite) must agree with a
    per-row brute-force scan over randomized merged interval sets — incl.
    boundary offsets, adjacent intervals, empty state, and the mtime
    dimension."""
    import random

    from restructure_hdfs_topic_spark.operators.offsets import (
        filter_unseen_files,
        filter_unseen_records,
        merge_offset_intervals,
    )

    rng = random.Random(42)
    for trial in range(5):
        raw = [
            (
                rng.choice(["a", "b"]),
                rng.randint(0, 1),
                (lo := rng.randint(0, 400)),
                lo + rng.randint(0, 30),
                f"2024-01-{rng.randint(10, 20)} 00:00:00",
            )
            for _ in range(rng.randint(0, 25))
        ]
        state_df = merge_offset_intervals(
            spark.createDataFrame(
                raw,
                "topic string, partition int, offset_from long, offset_to long, last_processed string",
            ).withColumn("last_processed", F.to_timestamp("last_processed"))
        )
        state = state_df.collect()
        records = [
            (
                i,
                rng.choice(["a", "b"]),
                rng.randint(0, 1),
                rng.randint(0, 450),
                f"2024-01-{rng.randint(10, 20)} 00:00:00",
            )
            for i in range(120)
        ]
        rec_df = spark.createDataFrame(
            records, "rid long, topic string, partition int, offset long, mtime string"
        ).withColumn("mtime", F.to_timestamp("mtime"))

        got = {r["rid"] for r in filter_unseen_records(rec_df, state_df).collect()}
        want = {
            rid
            for rid, t, p, off, m in records
            if not any(
                s["topic"] == t
                and s["partition"] == p
                and s["offset_from"] <= off <= s["offset_to"]
                and m <= str(s["last_processed"])
                for s in state
            )
        }
        assert got == want, f"records trial {trial}: {got ^ want}"

        files = [
            (
                i,
                rng.choice(["a", "b"]),
                rng.randint(0, 1),
                (lo := rng.randint(0, 440)),
                lo + rng.randint(0, 15),
                f"2024-01-{rng.randint(10, 20)} 00:00:00",
            )
            for i in range(60)
        ]
        file_df = spark.createDataFrame(
            files,
            "fid long, topic string, partition int, offset_from long, offset_to long, mtime string",
        ).withColumn("mtime", F.to_timestamp("mtime"))
        got_f = {r["fid"] for r in filter_unseen_files(file_df, state_df).collect()}
        want_f = {
            fid
            for fid, t, p, lo, hi, m in files
            if not any(
                s["topic"] == t
                and s["partition"] == p
                and s["offset_from"] <= lo
                and hi <= s["offset_to"]
                and m <= str(s["last_processed"])
                for s in state
            )
        }
        assert got_f == want_f, f"files trial {trial}: {got_f ^ want_f}"


def test_duplicated_window_spans_semantics(spark):
    """Exact-substring spans (Lee et al. semantics): cross-doc AND within-doc
    window repeats count, overlapping/adjacent windows merge into one maximal
    span, unique text yields nothing, and results are partitioning-independent."""
    from restructure_hdfs_topic_spark.operators.dedup import (
        duplicated_window_spans,
        strip_duplicated_spans,
    )

    shared = "alpha beta gamma delta"  # 4 tokens, repeated across docs 1/2
    rows = [
        (1, f"u1a u1b {shared} t1x t1y"),
        (2, f"v2a v2b v2c {shared} w2d"),
        # Within-doc repeat: "r1 r2 r3 r4" twice, 2 tokens apart.
        (3, "r1 r2 r3 r4 mid3a mid3b r1 r2 r3 r4 tail3"),
        (4, "all unique tokens here nothing repeats ever q4"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_window_spans(df, "doc_id", "text", k=4).collect()
    }
    # Doc 1: shared tokens at idx 2..5 → one window at idx 2 → span [2, 6).
    assert spans[1] == (2, 6, 1)
    # Doc 2: shared at idx 3..6 → window idx 3 → span [3, 7).
    assert spans[2] == (3, 7, 1)
    # Doc 3: windows at idx 0 and 6 both duplicated (same content within one
    # doc); 6 - 0 > k so they do NOT merge → two spans [0, 4) and [6, 10).
    all3 = [
        (r["span_start"], r["span_end"])
        for r in duplicated_window_spans(df, "doc_id", "text", k=4)
        .filter("doc_id = 3")
        .orderBy("span_start")
        .collect()
    ]
    assert all3 == [(0, 4), (6, 10)]
    assert 4 not in spans and 5 not in spans and 6 not in spans

    # Adjacent windows j - i == k merge (contiguous coverage): doc 7/8 share
    # an 8-token run → k=4 windows at idx 0..4 merge to one span [0, 8).
    run = "m1 m2 m3 m4 m5 m6 m7 m8"
    df2 = spark.createDataFrame(
        [(7, run), (8, run)], "doc_id long, text string"
    )
    sp2 = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_window_spans(df2, "doc_id", "text", k=4).collect()
    }
    assert sp2[7] == (0, 8, 5) and sp2[8] == (0, 8, 5)

    # Partitioning independence.
    a = sorted(
        map(tuple, duplicated_window_spans(df.repartition(7), "doc_id", "text", k=4).collect())
    )
    b = sorted(
        map(tuple, duplicated_window_spans(df.coalesce(1), "doc_id", "text", k=4).collect())
    )
    assert a == b

    # Strip removes exactly the covered tokens and preserves the rest.
    stripped = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_spans(df, "doc_id", "text", k=4).collect()
    }
    assert stripped[1] == "u1a u1b t1x t1y"
    assert stripped[2] == "v2a v2b v2c w2d"
    assert stripped[3] == "mid3a mid3b tail3"
    assert stripped[4] == rows[3][1]  # untouched
    assert stripped[5] == "" and stripped[6] is None

    # Documents with no duplicated span keep their text BYTE-FOR-BYTE —
    # tabs/newlines/trailing whitespace must survive (the normalizing
    # rebuild may only run where a span actually hit).
    raw = "a\tb\n\nc "
    df3 = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    out3 = strip_duplicated_spans(df3, "doc_id", "text", k=4).collect()
    assert out3[0]["text"] == raw


def test_embedding_near_dup_groups_exact_matches_closure(spark):
    """SemDeDup-style composition: connected components over the EXACT
    cosine ≥ τ pair set must equal the transitive closure DuckDB computes
    with a recursive CTE over the same oracle pair SQL (sf0.001)."""
    import duckdb

    import __spark_entry__ as e
    from restructure_hdfs_topic_spark.operators.similarity import (
        embedding_near_dup_groups,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["vec_id"], r["group_id"])
        for r in embedding_near_dup_groups(
            emb, threshold=0.35, exact=True
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    pairs_sql = e.oracle_sql()["embedding_near_dup"]
    closure = f"""
        WITH RECURSIVE p AS ({pairs_sql}),
        edges AS (SELECT id_a AS s, id_b AS d FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
        ids AS (SELECT DISTINCT vec_id AS id FROM embeddings),
        comp(id, label) AS (
            SELECT id, id FROM ids
            UNION
            SELECT e2.s, c.label FROM edges e2 JOIN comp c ON e2.d = c.id
        )
        SELECT id AS vec_id, CAST(min(label) AS BIGINT) AS group_id
        FROM comp GROUP BY id
    """
    want = set(map(tuple, con.execute(closure).fetchall()))
    assert got == want
    # Sanity: the corpus actually contains non-trivial groups at this τ.
    n_groups = len({g for _, g in got})
    assert n_groups < len(got)


def test_pack_sequences_semantics(spark):
    """Brute-force reconstruction: within each bucket, docs ordered by
    (knuth hash, id) concatenate into a token stream; start_off is the
    exclusive cumsum, pack_id the budget-quantized start, span count the
    number of budget windows the doc's tokens touch."""
    from restructure_hdfs_topic_spark.operators.packing import (
        KNUTH,
        M32,
        pack_sequences,
    )

    budget, n_buckets = 16, 4
    rows = [(i, (i * 37) % 53) for i in range(200)]  # (doc_id, n_tokens)
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, budget=budget, n_buckets=n_buckets
        ).collect()
    }
    assert len(got) == 200

    buckets: dict[int, list[tuple[int, int, int]]] = {}
    for i, n in rows:
        h = (i * KNUTH) % M32
        buckets.setdefault(h % n_buckets, []).append((h, i, n))
    for b, members in buckets.items():
        off = 0
        for h, i, n in sorted(members):
            r = got[i]
            assert r["bucket"] == b
            assert r["start_off"] == off
            assert r["pack_id"] == b * 2**31 + off // budget
            assert r["n_tokens"] == n
            last = (off + max(n, 1) - 1) // budget
            assert r["n_packs_spanned"] == last - off // budget + 1
            off += n
    # Packing must be non-trivial at these sizes: some doc spans >1 pack.
    assert any(r["n_packs_spanned"] > 1 for r in got.values())


def test_lm_cross_entropy_brute_force(spark):
    """Per-doc bits/token equals the hand-computed unigram cross-entropy;
    empty docs drop out."""
    import math

    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import tokens
    from restructure_hdfs_topic_spark.operators.lm import lm_cross_entropy

    corpus = [
        (1, "the cat sat"),
        (2, "the dog sat on the mat"),
        (3, "zyzzyva"),
        (4, "   "),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in lm_cross_entropy(df, tokens(F.col("text"))).collect()
    }
    assert set(got) == {1, 2, 3}

    toks = {i: t.lower().split() for i, t in corpus if t.strip()}
    cnt: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
    total = sum(cnt.values())
    for i, ts in toks.items():
        want = -sum(math.log2(cnt[t] / total) for t in ts) / len(ts)
        assert got[i]["n_tokens"] == len(ts)
        assert abs(got[i]["bits_per_token"] - round(want, 4)) < 1e-9
    # Rare-token doc must score strictly worse than common-token docs.
    assert got[3]["bits_per_token"] > got[1]["bits_per_token"]


def test_mixture_sample_duckdb_cross_check(spark):
    """mixture_sample's kept-id set equals an independent DuckDB evaluation
    of the same integer thresholds; proportions track the target weights;
    no stratum is oversampled; a max_rows budget yields a SUBSET."""
    import duckdb

    from restructure_hdfs_topic_spark.operators.sampling import (
        KNUTH,
        MOD,
        mixture_sample,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.01"
    weights = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
    den = sum(weights.values())
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id"], r["lang"])
        for r in mixture_sample(docs, "doc_id", "lang", weights)
        .select("doc_id", "lang")
        .collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    counts = dict(
        con.execute(
            "SELECT lang, count(*) FROM documents GROUP BY lang"
        ).fetchall()
    )
    n_out = min(counts[s] * den // w for s, w in weights.items())
    thresholds = {
        s: w * n_out * MOD // (den * counts[s]) for s, w in weights.items()
    }
    case = " ".join(
        f"WHEN lang = '{s}' THEN {t}" for s, t in thresholds.items()
    )
    want = set(
        map(
            tuple,
            con.execute(
                f"""SELECT doc_id, lang FROM documents
                    WHERE (doc_id * {KNUTH}) % {MOD} < CASE {case} ELSE -1 END"""
            ).fetchall(),
        )
    )
    assert got == want

    # Proportions: every stratum within 2/sqrt(n_s) of its target share,
    # and never above its population (no oversampling by construction).
    by_lang: dict[str, int] = {}
    for _, lang in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    for s, w in weights.items():
        assert by_lang.get(s, 0) <= counts[s]
        expect = w * n_out / den
        assert abs(by_lang.get(s, 0) - expect) <= 2 * max(expect, 1) ** 0.5 + 1
    # The scarcest weighted stratum pins n_out: its rate is ~1.
    pin = min(weights, key=lambda s: counts[s] * den // weights[s])
    assert thresholds[pin] >= MOD - den * counts[pin]

    # Budgeted sample is a subset (monotone thresholds).
    small = {
        (r["doc_id"], r["lang"])
        for r in mixture_sample(
            docs, "doc_id", "lang", weights, max_rows=n_out // 2
        )
        .select("doc_id", "lang")
        .collect()
    }
    assert small <= got
    assert len(small) < len(got)


def test_offsets_commit_claim_protocol(spark, tmp_path):
    """Version claims serialize committers: a live claim forces a retry, a
    stale claim (crashed committer) is broken and its orphan version dir
    discarded, and normal commits still round-trip — for a state dir
    spelled as a plain path and as a ``file://`` URI alike."""
    import os
    import time

    from restructure_hdfs_topic_spark.operators.offsets import (
        commit_offsets,
        read_offsets,
    )
    from restructure_hdfs_topic_spark.state import (
        _break_stale_claim,
        _claim_version,
    )

    for spelling in ("plain", "uri"):
        root = str(tmp_path / spelling)
        sd = root if spelling == "plain" else f"file://{root}"
        os.makedirs(root)
        df = [("t", 0, 0, 9, None)]
        commit_offsets(spark, sd, df)
        assert read_offsets(spark, sd).count() == 1

        # Claim for the NEXT version is exclusive.
        assert _claim_version(spark, sd, 3)
        assert not _claim_version(spark, sd, 3)
        # Fresh claim: break refuses (owner may be alive).
        _break_stale_claim(spark, sd, 3)
        assert not _claim_version(spark, sd, 3)
        # Aged claim + INCOMPLETE orphan version dir (no _SUCCESS — never a
        # committed version): break removes the claim but does NOT delete the
        # dir — the breaker never destroys a version directory (a committed
        # one is adopted instead, see test_breaker_adopts_orphan_committed_
        # version); incomplete debris is swept by the next claim HOLDER.
        claim = os.path.join(root, "offsets", ".claim.v00000003")
        orphan = os.path.join(root, "offsets", "v00000003")
        os.makedirs(orphan)
        old = time.time() - 3600
        os.utime(claim, (old, old))
        _break_stale_claim(spark, sd, 3)
        assert not os.path.exists(claim) and os.path.exists(orphan)
        # A later commit (v2) still works...
        df2 = [("t", 0, 20, 29, None)]
        commit_offsets(spark, sd, df2)
        got = {
            (r["offset_from"], r["offset_to"])
            for r in read_offsets(spark, sd).collect()
        }
        assert got == {(0, 9), (20, 29)}
        # ...and the commit that REACHES version 3 sweeps the incomplete
        # debris instead of livelocking on rename-refused ClaimLost retries.
        df3 = [("t", 0, 40, 49, None)]
        commit_offsets(spark, sd, df3)
        assert os.path.exists(os.path.join(orphan, "_SUCCESS"))
        got = {
            (r["offset_from"], r["offset_to"])
            for r in read_offsets(spark, sd).collect()
        }
        assert got == {(0, 9), (20, 29), (40, 49)}
        # A stray non-numeric version entry must not break pruning.
        os.makedirs(os.path.join(root, "offsets", "v1.bak"), exist_ok=True)
        commit_offsets(spark, sd, df2)
        assert os.path.isdir(os.path.join(root, "offsets", "v1.bak"))


def test_filename_parse_rejects_plus_in_topic(spark):
    """The validity regex and the '+'-split must AGREE: a '+' inside the
    topic segment is not a legal Kafka name — such a file parses as
    invalid everywhere instead of crashing the ANSI cast or misassigning
    parts."""
    from restructure_hdfs_topic_spark.functions.paths import (
        with_parsed_filenames,
    )
    from restructure_hdfs_topic_spark.sources.avro import parse_filename

    df = spark.createDataFrame(
        [("a+b+0+1+2.avro",), ("good+3+10+19.avro",)], "filename string"
    )
    rows = {r["filename"]: r for r in with_parsed_filenames(df).collect()}
    assert rows["good+3+10+19.avro"]["topic"] == "good"
    assert rows["good+3+10+19.avro"]["partition"] == 3
    assert rows["a+b+0+1+2.avro"]["topic"] == ""  # invalid, not 'a'/'a+b'
    assert rows["a+b+0+1+2.avro"]["partition"] is None
    assert parse_filename("a+b+0+1+2.avro") is None


def test_asof_join_null_semantics(spark):
    """SQL-ASOF parity on nullable inputs: a matched right row with a NULL
    value yields NULL (not an older carried value), and right rows with a
    NULL timestamp never match anything."""
    from datetime import datetime

    from restructure_hdfs_topic_spark.operators.temporal import asof_join

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u1", t(10, 30)), (2, "u2", t(11))], "id long, u string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", t(9), 5.0), ("u1", t(10), None), ("u2", None, 7.0)],
        "u string, ts timestamp, v double",
    )
    got = {
        r["id"]: r["asof_v"]
        for r in asof_join(left, right, ["u"], "ts", ["v"]).collect()
    }
    assert got == {1: None, 2: None}


def test_lsh_topk_window_dedup_equivalence(spark):
    """r7 perf rework: the rank-first lag-dedup tail must return EXACTLY
    the rows of the old distinct-then-row_number shape — per query: unique
    neighbors, contiguous ranks from 1 ordered by (cosine desc,
    neighbor_id), no duplicates despite multi-table/probe candidates."""
    import random

    from restructure_hdfs_topic_spark.operators.similarity import lsh_ann_topk

    rng = random.Random(3)
    # Tight corpus (few distinct directions): every pair collides in every
    # table, maximizing duplicate candidates through the 4-table union.
    rows = [
        (i, [1.0 + rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_ann_topk(emb, k=4, n_rows=60).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(60))
    for q, rs in by_q.items():
        neigh = [r["neighbor_id"] for r in rs]
        assert len(neigh) == len(set(neigh)), f"dup neighbor for q={q}"
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # rank order == (cosine desc, neighbor_id) order
        ordered = sorted(rs, key=lambda r: (-r["cosine"], r["neighbor_id"]))
        assert [r["rank"] for r in ordered] == ranks


def test_ivf_route_memo_deterministic(spark):
    """The route/centroid memo must return bit-identical results on a
    repeated call (memo hit) vs a cold call (full train)."""
    import random

    from restructure_hdfs_topic_spark.operators import similarity as S

    rng = random.Random(5)
    rows = [
        (i, [b + rng.uniform(-0.05, 0.05) for b in base])
        for i, base in enumerate(
            [bb for bb in ([1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1])
             for _ in range(30)]
        )
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    S._IVF_MEMO.clear()
    cold = sorted(map(tuple, S.ivf_ann_topk(emb, k=3, n_rows=120).collect()))
    assert S._IVF_MEMO  # trained route recorded
    warm = sorted(map(tuple, S.ivf_ann_topk(emb, k=3, n_rows=120).collect()))
    assert cold == warm


def test_epoch_upsample_duckdb_cross_check(spark):
    """epoch_upsample's (doc_id, epoch) multiset equals an independent
    DuckDB evaluation of floor(e) + fractional hash threshold; per-
    stratum copy mass lands at e_s; absent strata drop; sub-1 factors
    downsample; the fractional subset nests with hash_sample."""
    import math

    import duckdb

    from restructure_hdfs_topic_spark.operators.sampling import (
        KNUTH,
        MOD,
        epoch_upsample,
        hash_sample,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.01"
    epochs = {"en": 2.4, "de": 1.0, "es": 0.3, "fr": 3.0}
    docs = load_table(spark, sf_dir, "documents")
    out = epoch_upsample(docs, "doc_id", "lang", epochs)
    got = sorted(
        (r["doc_id"], r["lang"], r["epoch"])
        for r in out.select("doc_id", "lang", "epoch").collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    cases_w = " ".join(
        f"WHEN lang = '{s}' THEN {int(math.floor(e))}"
        for s, e in epochs.items()
    )
    # int(e*MOD) - floor(e)*MOD: the operator's truncation formula,
    # bit-identical to hash_sample's int(rate*MOD) (round() would be
    # off-by-one at the threshold bucket and break the nesting claim).
    cases_t = " ".join(
        f"WHEN lang = '{s}' THEN {int(e * MOD) - int(math.floor(e)) * MOD}"
        for s, e in epochs.items()
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
        WITH n AS (
          SELECT doc_id, lang,
                 (CASE {cases_w} ELSE NULL END)
                 + CASE WHEN (doc_id * {KNUTH}) % {MOD}
                        < (CASE {cases_t} ELSE -1 END) THEN 1 ELSE 0 END
                 AS n_copies
          FROM documents WHERE lang IN ('en','de','es','fr')
        )
        SELECT doc_id, lang, epoch
        FROM n, unnest(range(n_copies)) AS t(epoch)
        """
            ).fetchall(),
        )
    )
    assert got == want and got

    # Per-stratum mass ≈ e_s · |stratum| (exact for integral e).
    from collections import Counter

    base = Counter(r["lang"] for r in docs.select("lang").collect())
    mass = Counter(lang for _, lang, _ in got)
    assert mass["de"] == base["de"]
    assert mass["fr"] == 3 * base["fr"]
    assert abs(mass["en"] - 2.4 * base["en"]) <= 0.1 * base["en"]
    assert 0 < mass["es"] < base["es"]
    assert "zh" not in mass  # absent stratum drops

    # Fractional-copy ids NEST with hash_sample's leading subset.
    es_extra = {d for d, lang, ep in got if lang == "es"}
    es_hash = {
        r["doc_id"]
        for r in hash_sample(
            docs.filter(F.col("lang") == "es"), "doc_id", 0.3
        ).collect()
    }
    assert es_extra == es_hash
