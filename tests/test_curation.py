"""End-to-end curation pipeline (VERDICT r5 #6): gopher gate →
substring-span scrub → minhash near-dup drop → mixture sample → sequence
packing composed as ONE plan over the sf0.1 documents table, with
attrition and partitioning-independence assertions."""

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)

WEIGHTS = {"src0": 3, "src1": 2, "src2": 1}


def _docs(spark):
    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    configure(spark)
    return load_table(spark, SF_DIR, "documents")


def _digest(df):
    """Order-insensitive distributed digest (same shape as scale_check's):
    sum of per-row xxhash64 over stringified columns + row count."""
    from pyspark.sql import functions as F

    cols = [F.col(f.name).cast("string") for f in df.schema.fields]
    agg = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (str(agg["d"]), agg["n"])


def test_curation_pipeline_attrition_and_packing(spark):
    from restructure_hdfs_topic_spark.plans.curation import (
        curate_corpus,
        curation_stage_counts,
    )

    docs = _docs(spark)
    counts = curation_stage_counts(docs, mixture_weights=WEIGHTS)
    # Monotone attrition, nothing degenerate (the synthetic corpus has
    # both passing docs and planted near-dups).
    assert counts["input"] > 0
    assert 0 < counts["after_quality_gate"] <= counts["input"]
    assert 0 < counts["after_near_dup_drop"] <= counts["after_quality_gate"]
    assert 0 < counts["after_mixture_sample"] <= counts["after_near_dup_drop"]

    manifest = curate_corpus(docs, mixture_weights=WEIGHTS)
    rows = manifest.collect()
    assert len(rows) == counts["after_mixture_sample"]
    # Only weighted strata survive the mixture stage.
    assert {r["source"] for r in rows} <= set(WEIGHTS)
    # Pack invariants: offsets non-negative, pack ids consistent with
    # bucket (pack_id div 2^31 == bucket), spans cover the token count.
    budget = 2048
    for r in rows:
        assert r["start_off"] >= 0 and r["n_tokens"] >= 0
        assert r["pack_id"] // 2**31 == r["bucket"]
        first = r["start_off"] // budget
        last = (r["start_off"] + max(r["n_tokens"], 1) - 1) // budget
        assert r["n_packs_spanned"] == last - first + 1
    # Within each bucket, documents tile the token stream contiguously.
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for members in by_bucket.values():
        members.sort(key=lambda r: r["start_off"])
        off = 0
        for r in members:
            assert r["start_off"] == off
            off += r["n_tokens"]


def test_curation_pipeline_partitioning_independent(spark):
    from restructure_hdfs_topic_spark.plans.curation import curate_corpus

    docs = _docs(spark)
    a = _digest(curate_corpus(docs, mixture_weights=WEIGHTS))
    b = _digest(
        curate_corpus(docs.repartition(7), mixture_weights=WEIGHTS)
    )
    assert a == b and a[1] > 0


def test_filter_blocked_domains(spark):
    from restructure_hdfs_topic_spark.plans.curation import filter_blocked_domains

    rows = [
        (1, "visit https://ads.tracker.example.com/x now"),   # subdomain hit
        (2, "see https://example.com/page"),                  # exact hit
        (3, "fine https://docs.example.org/ok here"),         # different TLD
        (4, "no urls at all"),
        (5, "mixed https://good.net/a and https://www.Example.com/b"),  # one hit
        (6, "https://notexample.com/x"),                      # NOT a subdomain
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in filter_blocked_domains(docs, ["example.com"]).collect()
    )
    assert kept == [3, 4, 6]


def test_near_dup_ingest_protocol(spark, tmp_path):
    from restructure_hdfs_topic_spark.operators.incremental import (
        ingest_batch_near_dup,
        read_signatures,
    )

    state_dir = str(tmp_path / "nd")
    written: list[list] = []

    def write(df):
        written.append(sorted(r["doc_id"] for r in df.collect()))

    base = " ".join(f"w{i}" for i in range(25))
    b1 = spark.createDataFrame(
        [(1, base), (2, "another totally distinct set of words entirely")],
        "doc_id long, text string",
    )
    stats = ingest_batch_near_dup(spark, state_dir, b1, write)
    assert stats == {"batch_rows": 2, "accepted_rows": 2}
    assert read_signatures(spark, state_dir).count() == 2

    # Near-dup replay batch: one near-dup of doc 1, one novel.
    b2 = spark.createDataFrame(
        [(10, base.replace("w3", "changed")), (11, "fresh content nothing shares")],
        "doc_id long, text string",
    )
    stats = ingest_batch_near_dup(spark, state_dir, b2, write)
    assert stats["accepted_rows"] == 1 and written[-1] == [11]
    assert read_signatures(spark, state_dir).count() == 3


def test_materialize_packs_matches_model(spark):
    """materialize_packs vs a direct Python model: per bucket, concat
    tokens in (hash, id) order and slice into budget-sized sequences;
    docs split across pack boundaries."""
    from restructure_hdfs_topic_spark.operators.packing import materialize_packs
    from restructure_hdfs_topic_spark.operators.sampling import KNUTH

    budget, n_buckets = 7, 3
    rows = [(i, " ".join(f"d{i}t{j}" for j in range(i % 11))) for i in range(1, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["pack_id"]: list(r["tokens"])
        for r in materialize_packs(
            docs, budget=budget, n_buckets=n_buckets
        ).collect()
    }
    assert all(
        r["n_tokens"] == len(r["tokens"])
        for r in materialize_packs(docs, budget=budget, n_buckets=n_buckets).collect()
    )

    # Model.
    def h(i):
        return (i * KNUTH) % (2**32)

    buckets: dict[int, list[tuple]] = {}
    for i, text in rows:
        buckets.setdefault(h(i) % n_buckets, []).append((h(i), i, text.split()))
    want: dict[int, list] = {}
    for b, members in buckets.items():
        stream: list[str] = []
        for _hh, _i, toks in sorted(members):
            stream.extend(toks)
        for p in range((len(stream) + budget - 1) // budget):
            want[b * 2**31 + p] = stream[p * budget : (p + 1) * budget]
    assert got == want

    # Every pack is exactly `budget` tokens except each bucket's last.
    by_bucket: dict[int, list[int]] = {}
    for pid, toks in got.items():
        by_bucket.setdefault(pid // 2**31, []).append(pid)
    for b, pids in by_bucket.items():
        for pid in sorted(pids)[:-1]:
            assert len(got[pid]) == budget

    # Partitioning independence.
    got2 = {
        r["pack_id"]: list(r["tokens"])
        for r in materialize_packs(
            docs.repartition(5), budget=budget, n_buckets=n_buckets
        ).collect()
    }
    assert got2 == got


def test_curate_corpus_token_budget_stage(spark):
    """VERDICT r6 #7: the curation chain accepts absolute per-stratum
    TOKEN budgets as the rebalance spec.  Per stratum, the selected token
    total must reach the budget when the stratum can supply it (within one
    boundary document) and equal the full supply when it cannot; larger
    budgets select supersets."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.plans.curation import curate_corpus

    docs = _docs(spark)
    budgets = {"src0": 4000, "src1": 2500}
    manifest = curate_corpus(docs, token_budgets=budgets)
    rows = manifest.collect()
    assert rows and {r["source"] for r in rows} <= set(budgets)

    # Supply per stratum AFTER the dedup stages = what the sampler saw:
    # rebuild it by running the chain without a rebalance spec.
    supply = {
        r["source"]: r["total"]
        for r in curate_corpus(docs)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("total"))
        .collect()
    }
    got = {}
    max_doc = {}
    for r in rows:
        got[r["source"]] = got.get(r["source"], 0) + r["n_tokens"]
        max_doc[r["source"]] = max(max_doc.get(r["source"], 0), r["n_tokens"])
    for s, b in budgets.items():
        if supply.get(s, 0) <= b:
            assert got.get(s, 0) == supply.get(s, 0)  # under-supplied: take all
        else:
            # budget reached, overshoot bounded by the boundary document
            assert b <= got[s] <= b + max_doc[s]

    # Monotone in budget: doubled budgets select a superset.
    bigger = curate_corpus(docs, token_budgets={k: 2 * v for k, v in budgets.items()})
    small_ids = {r["doc_id"] for r in rows}
    big_ids = {r["doc_id"] for r in bigger.collect()}
    assert small_ids <= big_ids

    with pytest.raises(ValueError):
        curate_corpus(docs, mixture_weights=WEIGHTS, token_budgets=budgets)


def test_curate_corpus_temperature_rebalance(spark):
    """temperature_alpha as the stage-4 spec: survivors equal the direct
    temperature_sample over the deduped stage, scarce strata gain share,
    and mixing specs is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.plans.curation import curate_corpus
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    manifest = curate_corpus(docs, temperature_alpha=0.3)
    natural = curate_corpus(docs)
    ids_t = {r["doc_id"] for r in manifest.select("doc_id").collect()}
    ids_n = {r["doc_id"] for r in natural.select("doc_id").collect()}
    assert ids_t <= ids_n and ids_t  # a subset: rebalance only removes

    # Scarce source gains output share vs the natural pipeline.
    by_src = {
        r["source"]: r["n"]
        for r in natural.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    by_src_t = {
        r["source"]: r["n"]
        for r in manifest.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    scarce = min(by_src, key=by_src.get)
    rich = max(by_src, key=by_src.get)
    if by_src[scarce] < by_src[rich]:
        assert (by_src_t.get(scarce, 0) / max(by_src_t.get(rich, 1), 1)) > (
            by_src[scarce] / by_src[rich]
        )

    with pytest.raises(ValueError):
        curate_corpus(docs, mixture_weights={"a": 1}, temperature_alpha=0.3)


def test_curate_corpus_perplexity_stage(spark):
    """perplexity_head_q inserts the CCNet LM stage: survivors are a
    subset of the no-LM pipeline and attrition actually bites (head third
    per stratum), while the manifest contract is unchanged."""
    from restructure_hdfs_topic_spark.plans.curation import curate_corpus
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    base = curate_corpus(docs)
    lm = curate_corpus(docs, perplexity_head_q=1 / 3)
    ids_b = {r["doc_id"] for r in base.select("doc_id").collect()}
    ids_l = {r["doc_id"] for r in lm.select("doc_id").collect()}
    # NOT a strict-subset assert: the LM gate interacts with the
    # keep-first near-dup drop (removing a pair's keep-first survivor can
    # let its partner through), so only the attrition magnitude is an
    # invariant of the pipeline.
    assert ids_l and len(ids_l) < 0.6 * len(ids_b)
    assert lm.columns == base.columns


def test_curate_corpus_decontaminate_stage(spark):
    """decontaminate_benchmark removes benchmark-colliding spans from the
    surviving documents: token totals shrink for hit docs, the id set
    does NOT (surgical removal, not document drops)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.plans.curation import curate_corpus
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    base = curate_corpus(docs)
    dec = curate_corpus(docs, decontaminate_benchmark=bench, decontaminate_n=5)
    t_base = {r["doc_id"]: r["n_tokens"] for r in base.collect()}
    t_dec = {r["doc_id"]: r["n_tokens"] for r in dec.collect()}
    # Decontamination changes token counts for some surviving docs but is
    # never allowed to ADD tokens.
    changed = [i for i in t_dec if i in t_base and t_dec[i] < t_base[i]]
    assert changed
    assert all(t_dec[i] <= t_base[i] for i in t_dec if i in t_base)


def test_curate_corpus_lang_gate_stage(spark):
    """VERDICT r8 missing-#3: the language gate composes into
    curate_corpus / curation_stage_counts (CCNet order: right before the
    Gopher gate) with Corpus.lang_gate semantics — the one-lazy-plan
    pipeline can now filter by language."""
    from restructure_hdfs_topic_spark.operators.langid import (
        train_lang_profiles,
    )
    from restructure_hdfs_topic_spark.plans.curation import (
        curate_corpus,
        curation_stage_counts,
    )
    from test_langid import _corpus

    profiles = train_lang_profiles(
        _corpus(spark, lambda s: s), top_k=200
    )
    # Long documents (Gopher-gate-passable for en) in two languages.
    from test_langid import SENTENCES

    rows = []
    for i in range(12):
        lang = "en" if i % 2 == 0 else "de"
        body = " ".join(SENTENCES[lang][j % 6] for j in range(i, i + 60))
        rows.append((i, f"src{i % 2}", body))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    counts = curation_stage_counts(
        docs, lang_profiles=profiles, allowed_langs={"en"}
    )
    assert counts["input"] == 12
    assert counts["after_lang_gate"] == 6  # exactly the en half
    assert counts["after_quality_gate"] <= counts["after_lang_gate"]

    manifest = curate_corpus(docs, lang_profiles=profiles, allowed_langs={"en"})
    ids = {r["doc_id"] for r in manifest.collect()}
    assert ids and ids <= {i for i in range(12) if i % 2 == 0}

    # No gate requested -> stage absent, pipeline unchanged.
    base = curation_stage_counts(docs)
    assert "after_lang_gate" not in base and base["input"] == 12


def test_curate_corpus_epoch_factors_stage(spark):
    """epoch_factors rebalance: the manifest repeats documents per the
    epoch spec (extra `epoch` column), copies pack as distinct rows with
    contiguous bucket tiling, and the spec is mutually exclusive with
    the other three."""
    import pytest as _pytest

    from restructure_hdfs_topic_spark.operators.sampling import epoch_upsample
    from restructure_hdfs_topic_spark.plans.curation import (
        curate_corpus,
        curation_stage_counts,
    )

    docs = _docs(spark)
    factors = {"src0": 2.0, "src1": 1.5}
    manifest = curate_corpus(docs, epoch_factors=factors)
    rows = manifest.collect()
    assert rows
    assert {r["source"] for r in rows} <= set(factors)
    # Row multiset: (doc_id, epoch) unique; per-doc copy counts match the
    # operator applied to the same surviving corpus.
    ids = [(r["doc_id"], r["epoch"]) for r in rows]
    assert len(ids) == len(set(ids))
    counts = curation_stage_counts(docs, epoch_factors=factors)
    assert counts["after_epoch_upsample"] == len(rows)
    # Replication happened: strata NOT in the spec are dropped, so the
    # right comparison is copies vs distinct docs WITHIN the spec'd
    # strata (factors 2.0/1.5 => expected blow-up ~1.75x).
    n_docs = len({r["doc_id"] for r in rows})
    assert len(rows) > n_docs * 3 // 2
    # src0 docs appear exactly twice (integral factor); src1 docs 1-2
    # times (deterministic fractional subset gets the extra copy).
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in rows if r["source"] == "src0")
    assert per_doc and set(per_doc.values()) == {2}
    per_doc1 = Counter(r["doc_id"] for r in rows if r["source"] == "src1")
    assert per_doc1 and set(per_doc1.values()) <= {1, 2}
    # Buckets tile contiguously over COPIES (the joinless carry path).
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for members in by_bucket.values():
        members.sort(key=lambda r: r["start_off"])
        off = 0
        for r in members:
            assert r["start_off"] == off
            off += r["n_tokens"]
    with _pytest.raises(ValueError):
        curate_corpus(docs, mixture_weights=WEIGHTS, epoch_factors=factors)


def test_curate_corpus_soft_dedup_stage(spark):
    """VERDICT r9 #5: ``soft_dedup=True`` replaces stage 3's near-dup DROP
    with reweight-instead-of-remove.  The survivor set is re-derived
    independently: the verified LSH pairs are clustered with a Python
    union-find (not the engine's connected_components), the
    inverse-frequency weights recomputed with the documented rounding,
    and realized via ``weighted_hash_sample`` — plus the
    singletons-always-survive invariant and the mirrored stage counts."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import (
        gopher_metrics,
        gopher_passes,
    )
    from restructure_hdfs_topic_spark.operators.dedup import (
        lsh_near_dup_pairs,
        strip_duplicated_spans,
    )
    from restructure_hdfs_topic_spark.operators.sampling import (
        weighted_hash_sample,
    )
    from restructure_hdfs_topic_spark.plans.curation import (
        curate_corpus,
        curation_stage_counts,
    )

    base = _docs(spark)
    # The real table's near-dups share long spans, so the stage-2 scrub
    # consumes their overlap entirely (0 verified pairs at any threshold
    # post-scrub).  Plant SCRUB-SURVIVING near-dups: copies of
    # gate-passing docs with a stopword inserted every 7 tokens — no
    # duplicated 8-token window (scrub inert on them), ~0.4 shingle
    # Jaccard to the original (verified at threshold 0.3).
    metrics0 = gopher_metrics(F.col("text"))
    passing = (
        base.select(*base.columns, *[c.alias(n) for n, c in metrics0])
        .filter(gopher_passes(*[F.col(n) for n, _ in metrics0]))
        .select(*base.columns)
        .orderBy("doc_id")
        .limit(8)
        .collect()
    )
    copies = []
    for r in passing:
        toks = r["text"].split()
        out = []
        for i, t in enumerate(toks):
            out.append(t)
            if i % 7 == 6:
                out.append("the")
        d = r.asDict()
        d["doc_id"] = r["doc_id"] + 10_000_000
        d["text"] = " ".join(out)
        copies.append(tuple(d[c] for c in base.columns))
    docs = base.union(spark.createDataFrame(copies, base.schema))
    th = 0.3

    counts = curation_stage_counts(docs, soft_dedup=True, jaccard_threshold=th)
    assert "after_soft_dedup" in counts and "after_near_dup_drop" not in counts
    assert 0 < counts["after_soft_dedup"] <= counts["after_quality_gate"]

    manifest = curate_corpus(docs, soft_dedup=True, jaccard_threshold=th)
    got_ids = {r["doc_id"] for r in manifest.select("doc_id").collect()}
    assert len(got_ids) == counts["after_soft_dedup"]

    # Independent expected set (pipeline prefix rebuilt from the public
    # operators; the soft stage itself re-derived outside the plan).
    metrics = gopher_metrics(F.col("text"))
    gated = (
        docs.select(*docs.columns, *[c.alias(n) for n, c in metrics])
        .filter(gopher_passes(*[F.col(n) for n, _ in metrics]))
        .select(*docs.columns)
    )
    scrub = strip_duplicated_spans(gated, "doc_id", "text", k=8)
    pairs = [
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(scrub, "doc_id", "text", threshold=th)
        .select("id_a", "id_b")
        .collect()
    ]
    scrub_ids = [r["doc_id"] for r in scrub.select("doc_id").collect()]
    parent = {i: i for i in scrub_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter(find(i) for i in scrub_ids)
    wrows = [
        (i, math.floor(1e6 / sizes[find(i)] + 0.5) / 1e6) for i in scrub_ids
    ]
    wdf = spark.createDataFrame(wrows, "doc_id long, weight double")
    want_ids = {
        r["doc_id"]
        for r in weighted_hash_sample(wdf, "doc_id", "weight").collect()
    }
    assert got_ids == want_ids
    assert got_ids <= set(scrub_ids)
    # The corpus HAS verified near-dup clusters (else the stage is
    # untested) — whether a member drops is the weight coin's call —
    # and documents in NO verified pair (weight 1) always survive.
    in_pairs = {x for p in pairs for x in p}
    assert in_pairs
    assert set(scrub_ids) - in_pairs <= got_ids
