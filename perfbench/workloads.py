"""The benchmark's workloads.  Each one generates its inputs from the seed
in ``setup``, then runs closed-loop iterations: ``iterate`` prepares fresh
copies of its inputs (untimed), runs the program's public entry points
inside ``timed`` sections, and checks every result before returning.
A failed check raises ``CheckFailed``.
"""

from __future__ import annotations

import csv
import gzip
import os
import shutil
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from perfbench import fixtures


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def original(fn):
    """The unwrapped function, so checks never record trace spans."""
    return getattr(fn, "__wrapped__", fn)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Iteration:
    """What one iteration reports besides its timed sections."""

    def __init__(self, units: int, output_roots: list[str], fingerprint=None):
        self.units = units
        self.output_roots = output_roots
        # Result summary that every iteration of one seed must repeat.
        self.fingerprint = fingerprint


# ---------------------------------------------------------------------------
# Restructure: the paper's job, cold over a fresh tree, then one service poll.
# ---------------------------------------------------------------------------


class Scenario:
    """One generated tree on disk with its expected results."""

    def __init__(self, seed: int, records_per_file: int, pristine: str, snappy):
        self.tree = fixtures.build_kafka_tree(seed, records_per_file)
        self.pristine = pristine
        for landing in ("base", "new", "young"):
            fixtures.write_kafka_files(self.tree, os.path.join(pristine, landing), landing, snappy, seed)
        self.expected_base = self.tree.expected_rows("base")
        self.expected_new = self.tree.expected_rows("new")
        self.expected_all = self.expected_base + self.expected_new
        self.n_base = self.tree.n_records("base")
        self.n_new = self.tree.n_records("new")


class Restructure:
    """An iteration is the paper's service cycle on a fresh copy of a
    generated Kafka-Connect tree:

    1. ``restructure_e2e`` — a cold ``run_avro_restructure_job``
       (``mode="auto"`` as the CLI runs it) over the base landing with empty
       output and state: CSV + gzip in the template layout, keep-last
       dedup on.
    2. (untimed) land two new files (one continues a partition, one starts
       a new partition) plus two files younger than the minimum file age.
    3. ``restructure_incremental`` — one poll with leases on
       (``run_avro_restructure_job``) followed by ``run_avro_cleaner_job``
       with ``now_s`` past the cleaner age of the oldest file of each
       partition.
    """

    name = "restructure"
    records_per_file = 1000

    def setup(self, ctx) -> None:
        jvm = ctx.spark._jvm

        def snappy(raw: bytes) -> bytes:
            return bytes(jvm.org.xerial.snappy.Snappy.compress(bytearray(raw)))

        self.main = Scenario(ctx.seed, self.records_per_file, os.path.join(ctx.work, "pristine"), snappy)
        # The warm-up runs every code path on a small tree of its own, so
        # no data-keyed cache in the program is filled for the timed tree.
        self.warm = Scenario(ctx.seed + 1_000_003, 50, os.path.join(ctx.work, "pristine-warm"), snappy)

    def config(self, root: str, lock: bool):
        from restructure_hdfs_topic_spark.config import (
            CleanerConfig,
            PathConfig,
            RestructureConfig,
            TopicConfig,
            WorkerConfig,
        )

        return RestructureConfig(
            source_dir=os.path.join(root, "src"),
            target_dir=os.path.join(root, "out"),
            state_dir=os.path.join(root, "state"),
            format="csv",
            compression="gzip",
            lock_enable=lock,
            worker=WorkerConfig(minimum_file_age_s=fixtures.MIN_FILE_AGE_S),
            cleaner=CleanerConfig(enable=True, age_days=fixtures.CLEANER_AGE_DAYS),
            paths=PathConfig(layout="template"),
            # Maps are not orderable, so keep-last dedup cannot key on them.
            topics={fixtures.TOPIC: TopicConfig(dedup_enable=True, dedup_ignore_fields=["value.tags"])},
        )

    def iterate(self, ctx, root: str, timed, warm_up: bool = False) -> Iteration:
        from restructure_hdfs_topic_spark.plans import avro_job

        spark = ctx.spark
        scn = self.warm if warm_up else self.main
        with ctx.prep():
            fresh_dir(root)
            shutil.copytree(os.path.join(scn.pristine, "base"), os.path.join(root, "src"))
            os.makedirs(os.path.join(root, "state"))
        cfg = self.config(root, lock=False)
        with timed("restructure_e2e"):
            res = avro_job.run_avro_restructure_job(spark, cfg.source_dir, cfg, now_s=fixtures.NOW_S)
        check(res["files_processed"] == len(scn.tree.landed("base")), f"e2e files_processed {res['files_processed']}")
        check(res["records_written"] == sum(scn.expected_base.values()), f"e2e records_written {res['records_written']}")
        self.check_rows(cfg.target_dir, scn.expected_base)
        self.check_state(spark, cfg.state_dir, scn.tree, ("base",))

        with ctx.prep():
            for landing in ("new", "young"):
                shutil.copytree(os.path.join(scn.pristine, landing), cfg.source_dir, dirs_exist_ok=True)
        cfg = self.config(root, lock=True)
        with timed("restructure_incremental"):
            res = avro_job.run_avro_restructure_job(spark, cfg.source_dir, cfg, now_s=fixtures.NOW_S)
            cleaned = avro_job.run_avro_cleaner_job(spark, cfg.source_dir, cfg, now_s=fixtures.NOW_S)
        check(res["files_processed"] == len(scn.tree.landed("new")), f"poll files_processed {res['files_processed']}")
        check(res["topics_locked"] == 0, "poll found a topic locked")
        check(res["records_written"] == sum(scn.expected_new.values()), f"poll records_written {res['records_written']}")
        self.check_rows(cfg.target_dir, scn.expected_all)
        self.check_state(spark, cfg.state_dir, scn.tree, ("base", "new"))
        deleted = sorted(os.path.relpath(p.split(":", 1)[-1], cfg.source_dir) for p in cleaned["deleted"])
        check(deleted == scn.tree.cleaner_deletes(), f"cleaner deleted {deleted}")
        check(not cleaned["rolled_back"] and not cleaned["locked"], f"cleaner rolled back {cleaned['rolled_back']}")
        for rel in deleted:
            check(not os.path.exists(os.path.join(cfg.source_dir, rel)), f"{rel} still present")
        return Iteration(scn.n_base + scn.n_new, [cfg.target_dir, cfg.state_dir])

    # -- checks -----------------------------------------------------------

    @staticmethod
    def read_rows(target: str) -> Counter:
        """Multiset of (project, user, topic, bin, payload) in the output
        tree ``<project>/<user>/<topic>/<bin>.csv.gz``."""
        rows: Counter = Counter()
        for dirpath, _dirs, names in os.walk(target):
            for name in names:
                if not name.endswith(".csv.gz"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, name), target).split(os.sep)
                check(len(rel) == 4, f"unexpected output path {rel}")
                project, user, topic, fname = rel
                with gzip.open(os.path.join(dirpath, name), "rt", newline="") as fh:
                    reader = csv.reader(fh)
                    header = next(reader)
                    for rec in reader:
                        cells = tuple(
                            sorted((h, fixtures.canonical_cell(h, v)) for h, v in zip(header, rec))
                        )
                        rows[(project, user, topic, fname[: -len(".csv.gz")], cells)] += 1
        return rows

    @classmethod
    def check_rows(cls, target: str, expected: Counter) -> None:
        got = cls.read_rows(target)
        if got != expected:
            missing = expected - got
            extra = got - expected
            raise CheckFailed(
                f"output rows differ: {sum(missing.values())} missing, {sum(extra.values())} unexpected "
                f"(e.g. {next(iter(missing or extra))!r:.300})"
            )

    @staticmethod
    def check_state(spark, state_dir: str, tree, landings: tuple) -> None:
        from restructure_hdfs_topic_spark.operators import offsets

        rows = original(offsets.read_offsets)(spark, state_dir).collect()
        got: dict = {}
        for r in rows:
            got.setdefault((r["topic"], r["partition"]), []).append((r["offset_from"], r["offset_to"]))
        got = {k: sorted(v) for k, v in got.items()}
        check(got == tree.expected_intervals(*landings), f"offset state {got}")

    def self_test(self, root: str, warm_up: bool) -> None:
        """A corrupted output — one dropped row — must fail the row check.
        Runs on the first checked iteration's output tree."""
        target = os.path.join(root, "out")
        victim = next(
            os.path.join(d, n) for d, _s, ns in sorted(os.walk(target)) for n in sorted(ns) if n.endswith(".csv.gz")
        )
        with gzip.open(victim, "rt", newline="") as fh:
            lines = fh.read().splitlines(keepends=True)
        with gzip.open(victim, "wt", newline="") as fh:
            fh.write("".join(lines[:-1]))
        try:
            self.check_rows(target, (self.warm if warm_up else self.main).expected_all)
        except CheckFailed:
            return
        raise RuntimeError("self-test: a dropped output row passed the correctness check")

    # -- trace-only execution probes --------------------------------------

    def probes(self, ctx) -> dict:
        """Force execution of the lazy layers into a ``noop`` sink over the
        base landing: decode alone, decode + organize, + keep-last dedup.
        Seconds are the increments each step adds; ``windows`` lets the
        caller find the probes' jobs."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from restructure_hdfs_topic_spark.operators.dedup import keep_last_dedup
        from restructure_hdfs_topic_spark.plans.avro_job import organize_avro_records
        from restructure_hdfs_topic_spark.sources.avro import read_avro

        spark = ctx.spark
        src = os.path.join(self.main.pristine, "base")
        windows: dict = {"read": [], "dedup": []}

        def run(frame, kind=None) -> float:
            t0 = time.time()
            frame.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            if kind:
                windows[kind].append((t0, t1))
            return t1 - t0

        paths = sorted(os.path.join(src, f.relpath) for f in self.main.tree.landed("base"))
        obs = Observation()
        t_read = run(read_avro(spark, paths).observe(obs, F.count(F.lit(1)).alias("n")), "read")
        organized = organize_avro_records(read_avro(spark, paths), "yyyyMMdd_HH'00'")
        organized = organized.withColumn("topic", F.lit(fixtures.TOPIC))
        t_org = run(organized)
        leaves = []
        for fld in organized.schema.fields:
            if hasattr(fld.dataType, "fieldNames"):
                leaves.extend(f"{fld.name}.{c}" for c in fld.dataType.fieldNames())
            else:
                leaves.append(fld.name)
        accounting = {"offset", "filename", "mtime", "partition", "time"}
        key = self.config(ctx.work, lock=False).dedup_key_for(fixtures.TOPIC, leaves, default_exclude=accounting)
        obs_out = Observation()
        t_dedup = run(keep_last_dedup(organized, key, "offset").observe(obs_out, F.count(F.lit(1)).alias("n")), "dedup")
        out = {
            "read_s": t_read,
            "organize_s": t_org - t_read,
            "dedup_s": t_dedup - t_org,
            "records": int(obs.get["n"]),
            "rows_in": self.main.n_base,
            "rows_out": int(obs_out.get["n"]),
        }
        out["windows"] = windows
        return out


# ---------------------------------------------------------------------------
# LLM data jobs: train_data_job, then the Corpus.forget takedown lane.
# ---------------------------------------------------------------------------


class LlmJobs:
    """An iteration runs two composed pipelines that never touch Avro:

    1. ``train_data_job`` over fresh copies of the generated 2,500-document
       corpus and of a seed-picked decontamination benchmark, with the
       arguments of ``q_train_data_job`` (0.8/0.1/0.1 split, 4 shards).
       The warm-up trains on a small corpus of its own.
    2. ``corpus_forget`` — the takedown lane as ``q_corpus_forget`` composes
       it: ``Corpus.forget`` for a seed-picked 1/13 of the ids on fresh
       copies of the BM25 index, the IVF index and the incremental-dedup
       state (built once in setup), the verification serves and the
       resubmission ``ingest_batch``.
    """

    name = "llm_jobs"
    n_docs = 2500
    n_warm_docs = 400
    n_vecs = 1000

    def setup(self, ctx) -> None:
        from restructure_hdfs_topic_spark.operators.bm25_index import build_bm25_index
        from restructure_hdfs_topic_spark.operators.incremental import ingest_batch
        from restructure_hdfs_topic_spark.operators.ivf_index import build_ivf_index

        spark = ctx.spark
        self.pristine = fresh_dir(os.path.join(ctx.work, "pristine"))
        docs = fixtures.build_documents(ctx.seed, self.n_docs)
        emb = fixtures.build_embeddings(ctx.seed, self.n_vecs)
        docs.to_parquet(os.path.join(self.pristine, "documents.parquet"), index=False)
        emb.to_parquet(os.path.join(self.pristine, "embeddings.parquet"), index=False)
        bench = docs[(docs["doc_id"] * 2654435761 + ctx.seed) % 97 == 0]
        bench[["text"]].to_parquet(os.path.join(self.pristine, "benchmark.parquet"), index=False)
        # The warm-up's training corpus: small, and generated from another
        # seed so no content-keyed cache is filled for the timed corpus.
        self.warm_pristine = fresh_dir(os.path.join(ctx.work, "pristine-warm"))
        warm_docs = fixtures.build_documents(ctx.seed + 1_000_003, self.n_warm_docs)
        warm_docs.to_parquet(os.path.join(self.warm_pristine, "documents.parquet"), index=False)
        warm_docs[warm_docs["doc_id"] % 97 == 0][["text"]].to_parquet(
            os.path.join(self.warm_pristine, "benchmark.parquet"), index=False
        )
        self.kill_residue = ctx.seed % 13
        self.n_kill_docs = int((docs["doc_id"] % 13 == self.kill_residue).sum())
        self.n_kill_vecs = int((emb["vec_id"] % 13 == self.kill_residue).sum())
        self.tmpl = os.path.join(ctx.work, "templates")
        docs_df = self.load(spark, self.pristine, "documents").select("doc_id", "text")
        emb_df = self.load(spark, self.pristine, "embeddings")

        build_bm25_index(docs_df, f"{self.tmpl}/bm25", n_buckets=64)
        build_ivf_index(emb_df, f"{self.tmpl}/ivf", lloyd_iters=1, n_rows=self.n_vecs)
        ingest_batch(
            spark,
            f"{self.tmpl}/state",
            docs_df,
            lambda accepted: accepted.write.mode("overwrite").parquet(f"{self.tmpl}/accepted"),
        )

    @staticmethod
    def load(spark, data_dir: str, name: str):
        from restructure_hdfs_topic_spark.sources.tables import load_table

        return load_table(spark, data_dir, name)

    def iterate(self, ctx, root: str, timed, warm_up: bool = False) -> Iteration:
        from restructure_hdfs_topic_spark.plans import train_job

        spark = ctx.spark
        data = os.path.join(root, "data")
        forget_root = os.path.join(root, "forget")
        train_out = os.path.join(root, "train")
        train_data = os.path.join(root, "train-data") if warm_up else data
        n_docs = self.n_warm_docs if warm_up else self.n_docs
        with ctx.prep():
            fresh_dir(root)
            os.makedirs(data)
            # The decontamination benchmark is copied too: a fresh path per
            # iteration keeps the program's benchmark-shingle memo from
            # serving a timed iteration what an earlier one derived.
            for name in ("documents", "embeddings", "benchmark"):
                shutil.copy2(os.path.join(self.pristine, f"{name}.parquet"), data)
            if warm_up:
                shutil.copytree(self.warm_pristine, train_data)

        with timed("train_data_job"):
            docs = self.load(spark, train_data, "documents")
            benchmark = spark.read.parquet(os.path.join(train_data, "benchmark.parquet"))
            report = train_job.train_data_job(
                docs,
                train_out,
                fractions={"train": 0.8, "valid": 0.1, "test": 0.1},
                decontaminate_benchmark=benchmark,
                n_shards=4,
            )
        counts = report["counts"]
        check(counts["input"] == n_docs, f"train input {counts['input']}")
        terminal = counts["dropped_by_quality"] + counts["dropped_by_near_dup"]
        terminal += sum(counts[s] for s in ("train", "valid", "test"))
        check(counts["input"] == terminal, f"attrition identity broken: {counts}")
        for split in ("train", "valid", "test"):
            rows = sum(m["n_rows"] for m in report["manifests"][split])
            check(rows == counts[split], f"{split} manifest rows {rows} != {counts[split]}")
        shaped = {"counts": counts, "manifests": {k: sorted(sorted(m.items()) for m in v) for k, v in report["manifests"].items()}}

        with ctx.prep():
            shutil.copytree(self.tmpl, forget_root)
        with timed("corpus_forget"):
            got = self.forget(ctx, data, forget_root)
        check(got["n_killed"] == self.n_kill_docs, f"killed {got['n_killed']}")
        check(got["bm25_deleted"] == self.n_kill_docs, f"bm25 deleted {got['bm25_deleted']}")
        check(got["ivf_deleted"] == self.n_kill_vecs, f"ivf deleted {got['ivf_deleted']}")
        check(got["bm25_leaks"] == 0 and got["ivf_leaks"] == 0, f"served a forgotten id: {got}")
        check(got["resub_accepted"] == got["fp_removed"] > 0, f"resubmission not accepted: {got}")
        return Iteration(self.n_docs + self.n_kill_docs + self.n_kill_vecs, [train_out, forget_root], shaped)

    def forget(self, ctx, data: str, root: str) -> dict:
        """``q_corpus_forget``'s composition over fresh artifact copies."""
        from pyspark.sql import functions as F
        from restructure_hdfs_topic_spark.corpus import Corpus
        from restructure_hdfs_topic_spark.operators import bm25_index, incremental, ivf_index
        from restructure_hdfs_topic_spark.operators.retrieval import corpus_queries

        spark, span = ctx.spark, ctx.span
        docs = self.load(spark, data, "documents").select("doc_id", "text")
        emb = self.load(spark, data, "embeddings")
        bm25_path, ivf_path = f"{root}/bm25", f"{root}/ivf"
        state, sink = f"{root}/state", f"{root}/accepted"
        kill_docs = docs.filter(F.col("doc_id") % 13 == self.kill_residue)
        kill_vecs = emb.filter(F.col("vec_id") % 13 == self.kill_residue)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_docs = pool.submit(lambda: Corpus(kill_docs, id_col="doc_id").forget(bm25_path=bm25_path, state_dir=state))
            f_vecs = pool.submit(lambda: Corpus(kill_vecs.select("vec_id"), id_col="vec_id").forget(ivf_path=ivf_path))
            report = f_docs.result()
            report_ivf = f_vecs.result()
        killed = kill_docs.select(F.col("doc_id").alias("__kill"))

        def serve_bm25():
            with span("operators.bm25_index", "query"):
                queries = corpus_queries(docs.filter(F.col("doc_id") % 17 == 1))
                served = bm25_index.query_bm25_index(spark, bm25_path, queries, k=10)
                return served.join(killed, served["doc_id"] == killed["__kill"]).count()

        def serve_ivf():
            with span("operators.ivf_index", "query"):
                queries = emb.filter(F.col("vec_id") % 17 == 1)
                served = ivf_index.query_ivf_index(spark, ivf_path, queries, k=5, nprobe=10)
                return served.join(killed, served["neighbor_id"] == killed["__kill"]).count()

        def resubmit():
            with span("operators.incremental", "ingest"):
                resub = kill_docs.select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), F.col("text"))
                return incremental.ingest_batch(
                    spark, state, resub, lambda accepted: accepted.write.mode("append").parquet(sink)
                )

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_bm25, f_ivf, f_resub = pool.submit(serve_bm25), pool.submit(serve_ivf), pool.submit(resubmit)
            n_kill = kill_docs.count()
            bm25_leaks, ivf_leaks, out = f_bm25.result(), f_ivf.result(), f_resub.result()
        return {
            "n_killed": int(n_kill),
            "bm25_deleted": int(report["bm25"]["n_deleted"]),
            "ivf_deleted": int(report_ivf["ivf"]["n_deleted"]),
            "fp_removed": int(report["incremental"]["fp_state"]["removed"]),
            "bm25_leaks": int(bm25_leaks),
            "ivf_leaks": int(ivf_leaks),
            "resub_accepted": int(out["accepted_rows"]),
        }


WORKLOADS = {w.name: w for w in (Restructure, LlmJobs)}
