"""Which package functions the traced run wraps, and how spans, Spark jobs
and probes fold into the per-layer metrics.

Layer names are the package's module names.  Unless a metric says
otherwise, ``*_s`` is the summed duration of the layer's spans (for a lazy
function: plan construction only), ``jobs`` / ``exec_cpu_s`` /
``shuffle_bytes`` are over the Spark jobs attributed to the named spans
and their descendants, and ``self_s`` is span time not covered by child
spans.  Execution of the lazy Avro layers is priced by the ``noop``
probes (decode alone, + organize, + keep-last dedup).
"""

from __future__ import annotations

import os

from perfbench.harness import dir_usage, job_totals
from perfbench.tracing import ROOT_LAYER, self_seconds, subtree_ids, union_seconds

TRAIN_STAGES = (
    "input_count",
    "quality_gate_and_scrub",
    "near_dup_drop",
    "group_and_split",
    "pack_export_train",
    "pack_export_valid",
    "pack_export_test",
    "disposition_audit",
)
SELF_LAYERS = (
    "sources.avro",
    "operators.offsets",
    "locks",
    "plans.avro_job",
    "plans.avro_job.cleaner",
    "operators.dedup",
    "plans.layout",
    "plans.train_job",
    "corpus",
    "operators.bm25_index",
    "operators.ivf_index",
    "operators.incremental",
    ROOT_LAYER,
)

S, N, B, R = "s", "count", "B", "ratio"
METRICS: list[tuple[str, str]] = [
    ("sources.avro.walk_s", S),
    ("sources.avro.files_listed", N),
    ("sources.avro.decode_s", S),
    ("sources.avro.records_decoded", N),
    ("sources.avro.bytes_read", B),
    ("sources.avro.jobs", N),
    ("sources.avro.tasks", N),
    ("sources.avro.exec_cpu_s", S),
    ("sources.avro.task_skew", R),
    ("operators.offsets.read_s", S),
    ("operators.offsets.filter_s", S),
    ("operators.offsets.commit_s", S),
    ("operators.offsets.files_skipped", N),
    ("operators.offsets.state_files", N),
    ("operators.offsets.jobs", N),
    ("locks.acquire_s", S),
    ("locks.acquired", N),
    ("locks.refused", N),
    ("plans.avro_job.organize_s", S),
    ("plans.avro_job.write_s", S),
    ("plans.avro_job.files_written", N),
    ("plans.avro_job.bytes_written", B),
    ("plans.avro_job.jobs", N),
    ("plans.avro_job.tasks", N),
    ("plans.avro_job.exec_cpu_s", S),
    ("plans.avro_job.shuffle_bytes", B),
    ("plans.avro_job.spill_bytes", B),
    ("plans.avro_job.clean_s", S),
    ("plans.avro_job.files_deleted", N),
    ("plans.avro_job.files_rolled_back", N),
    ("plans.avro_job.target_bytes_read", B),
    ("plans.avro_job.clean_jobs", N),
    ("operators.dedup.s", S),
    ("operators.dedup.rows_in", N),
    ("operators.dedup.rows_out", N),
    ("operators.dedup.useful_ratio", R),
    ("operators.dedup.shuffle_bytes", B),
    ("plans.layout.finalize_s", S),
    ("plans.layout.files_moved", N),
    *[(f"plans.train_job.{st}_s", S) for st in TRAIN_STAGES],
    ("plans.train_job.export_s", S),
    ("plans.train_job.jobs", N),
    ("plans.train_job.exec_cpu_s", S),
    ("plans.train_job.shuffle_bytes", B),
    ("corpus.forget_s", S),
    ("corpus.jobs", N),
    ("corpus.exec_cpu_s", S),
    ("operators.bm25_index.query_s", S),
    ("operators.bm25_index.jobs", N),
    ("operators.bm25_index.exec_cpu_s", S),
    ("operators.ivf_index.query_s", S),
    ("operators.ivf_index.jobs", N),
    ("operators.ivf_index.exec_cpu_s", S),
    ("operators.incremental.ingest_s", S),
    ("operators.incremental.jobs", N),
    ("operators.incremental.exec_cpu_s", S),
    ("driver.gap_s", S),
    ("driver.jobs", N),
    ("driver.stages", N),
    ("driver.tasks", N),
    ("driver.exec_run_s", S),
    ("driver.exec_cpu_s", S),
    ("driver.gc_s", S),
    ("driver.shuffle_bytes", B),
    ("driver.spill_bytes", B),
    ("memostats.hits", N),
    ("memostats.misses", N),
    ("unattributed.jobs", N),
    ("unattributed.overlap_jobs", N),
    ("unattributed.exec_cpu_s", S),
    *[(f"{layer}.self_s", S) for layer in SELF_LAYERS],
    ("trace.wall_s", S),
    ("trace.overhead_s", S),
]


def _arg(args, kwargs, i, name):
    return kwargs[name] if name in kwargs else args[i]


def _staging_usage(args, kwargs):
    files, size = dir_usage(_arg(args, kwargs, 1, "staging_dir"))
    return {"files_written": files, "bytes_written": size}


def _target_bytes(args, kwargs):
    config, topic = _arg(args, kwargs, 1, "config"), _arg(args, kwargs, 2, "topic")
    size = 0
    for dirpath, _d, names in os.walk(config.target_dir):
        if os.path.basename(dirpath) == topic:
            size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return {"target_bytes": size}


def install(tracer) -> None:
    """Wrap the functions each composed job calls.  Module attributes are
    patched where the caller looks them up (``plans.avro_job`` imports
    most of its helpers by name)."""
    aj = "restructure_hdfs_topic_spark.plans.avro_job"
    w = tracer.wrap
    w(aj, "run_avro_restructure_job", "plans.avro_job",
      after=lambda a, k, r: {"files_processed": r["files_processed"]})
    w(aj, "_process_topic", "plans.avro_job")
    w(aj, "organize_avro_records", "plans.avro_job", "organize")
    w(aj, "_write_topic", "plans.avro_job", "write")
    w(aj, "walk_topics", "sources.avro",
      after=lambda a, k, r: {"files_listed": sum(len(v) for v in r.values())})
    w(aj, "manifest_df", "sources.avro", before=lambda a, k: {"manifest_files": len(_arg(a, k, 1, "files"))})
    w(aj, "read_avro", "sources.avro",
      before=lambda a, k: {"bytes": sum(os.path.getsize(p) for p in _arg(a, k, 1, "paths"))})
    w(aj, "read_offsets", "operators.offsets")
    w(aj, "filter_unseen_files", "operators.offsets")
    w(aj, "commit_offsets", "operators.offsets",
      after=lambda a, k, r: {"state_files": dir_usage(_arg(a, k, 1, "state_dir"))[0]})
    w(aj, "keep_last_dedup", "operators.dedup")
    w(aj, "run_avro_cleaner_job", "plans.avro_job.cleaner",
      after=lambda a, k, r: {"deleted": len(r["deleted"]), "rolled_back": len(r["rolled_back"])})
    w(aj, "read_target_times", "plans.avro_job.cleaner", before=_target_bytes)
    off = "restructure_hdfs_topic_spark.operators.offsets"
    for fn in ("read_offsets", "replace_offsets"):
        w(off, fn, "operators.offsets")
    w("restructure_hdfs_topic_spark.plans.layout", "finalize_template_layout", "plans.layout",
      before=_staging_usage, after=lambda a, k, r: {"files_moved": len(r)})
    w("restructure_hdfs_topic_spark.locks", "StorageLockManager.acquire", "locks",
      after=lambda a, k, r: {"acquired": r is not None})

    tj = "restructure_hdfs_topic_spark.plans.train_job"
    w(tj, "train_data_job", "plans.train_job",
      after=lambda a, k, r: {"stage_seconds": r["stage_seconds"], "counts": r["counts"]})
    w(tj, "export_jsonl_shards", "plans.train_job", "export")
    for fn in ("strip_duplicated_spans", "lsh_near_dup_pairs", "connected_components"):
        w(tj, fn, "operators.dedup")
    w("restructure_hdfs_topic_spark.operators.dedup", "decontaminate_spans", "operators.dedup")

    w("restructure_hdfs_topic_spark.corpus", "Corpus.forget", "corpus", "forget")
    w("restructure_hdfs_topic_spark.operators.bm25_index", "delete_bm25_docs", "operators.bm25_index")
    w("restructure_hdfs_topic_spark.operators.ivf_index", "delete_ivf_vectors", "operators.ivf_index")
    w("restructure_hdfs_topic_spark.operators.incremental", "delete_from_incremental_state",
      "operators.incremental")


def iteration_metrics(spans: list[dict], jobs: list[dict], memo: dict) -> dict:
    """Per-layer metrics of one traced iteration (probe-derived ones are
    added by ``add_probe_metrics``)."""
    m: dict[str, float] = {}

    def named(layer, name=None):
        return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]

    def total(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def info_sum(ss, key):
        return sum(s["info"].get(key, 0) for s in ss)

    def subtree_jobs(pred):
        ids = subtree_ids(spans, pred)
        return job_totals([j for j in jobs if j["span"] in ids])

    def self_jobs(pred):
        ids = {s["id"] for s in spans if pred(s)}
        return job_totals([j for j in jobs if j["span"] in ids])

    m["sources.avro.walk_s"] = total(named("sources.avro", "walk_topics"))
    m["sources.avro.files_listed"] = info_sum(named("sources.avro", "walk_topics"), "files_listed")
    m["sources.avro.bytes_read"] = info_sum(named("sources.avro", "read_avro"), "bytes")

    m["operators.offsets.read_s"] = total(named("operators.offsets", "read_offsets"))
    m["operators.offsets.filter_s"] = total(named("operators.offsets", "filter_unseen_files"))
    m["operators.offsets.commit_s"] = total(named("operators.offsets", "commit_offsets"))
    processed = info_sum(named("plans.avro_job", "run_avro_restructure_job"), "files_processed")
    m["operators.offsets.files_skipped"] = info_sum(named("sources.avro", "manifest_df"), "manifest_files") - processed
    m["operators.offsets.state_files"] = max([s["info"].get("state_files", 0) for s in spans] or [0])
    m["operators.offsets.jobs"] = self_jobs(lambda s: s["layer"] == "operators.offsets")["jobs"]

    acq = named("locks", "acquire")
    m["locks.acquire_s"] = total(acq)
    m["locks.acquired"] = sum(1 for s in acq if s["info"].get("acquired"))
    m["locks.refused"] = len(acq) - m["locks.acquired"]

    m["plans.avro_job.organize_s"] = total(named("plans.avro_job", "organize"))
    write = named("plans.avro_job", "write")
    m["plans.avro_job.write_s"] = sum(self_seconds(s, spans) for s in write)
    fin = named("plans.layout", "finalize_template_layout")
    m["plans.avro_job.files_written"] = info_sum(fin, "files_written")
    m["plans.avro_job.bytes_written"] = info_sum(fin, "bytes_written")
    wp = subtree_jobs(lambda s: s["name"] == "run_avro_restructure_job")
    m["plans.avro_job.jobs"] = wp["jobs"]
    m["plans.avro_job.tasks"] = wp["tasks"]
    m["plans.avro_job.exec_cpu_s"] = wp["cpu_s"]
    m["plans.avro_job.shuffle_bytes"] = wp["shuffle_bytes"]
    m["plans.avro_job.spill_bytes"] = wp["spill_bytes"]
    clean = named("plans.avro_job.cleaner", "run_avro_cleaner_job")
    m["plans.avro_job.clean_s"] = total(clean)
    m["plans.avro_job.files_deleted"] = info_sum(clean, "deleted")
    m["plans.avro_job.files_rolled_back"] = info_sum(clean, "rolled_back")
    m["plans.avro_job.target_bytes_read"] = info_sum(named("plans.avro_job.cleaner", "read_target_times"), "target_bytes")
    m["plans.avro_job.clean_jobs"] = subtree_jobs(lambda s: s["name"] == "run_avro_cleaner_job")["jobs"]

    dd = subtree_jobs(lambda s: s["layer"] == "operators.dedup")
    m["operators.dedup.s"] = union_seconds(named("operators.dedup"))
    m["operators.dedup.shuffle_bytes"] = dd["shuffle_bytes"]
    for s in named("plans.train_job", "train_data_job"):
        counts = s["info"].get("counts", {})
        m["operators.dedup.rows_in"] = m.get("operators.dedup.rows_in", 0) + counts.get("after_quality_gate", 0)
        m["operators.dedup.rows_out"] = m.get("operators.dedup.rows_out", 0) + counts.get("after_near_dup_drop", 0)
    if m.get("operators.dedup.rows_in"):
        m["operators.dedup.useful_ratio"] = m["operators.dedup.rows_out"] / m["operators.dedup.rows_in"]

    m["plans.layout.finalize_s"] = total(fin)
    m["plans.layout.files_moved"] = info_sum(fin, "files_moved")

    train = named("plans.train_job", "train_data_job")
    for st in TRAIN_STAGES:
        m[f"plans.train_job.{st}_s"] = sum(s["info"].get("stage_seconds", {}).get(st, 0.0) for s in train)
    m["plans.train_job.export_s"] = union_seconds(named("plans.train_job", "export"))
    tj = subtree_jobs(lambda s: s["name"] == "train_data_job")
    m["plans.train_job.jobs"] = tj["jobs"]
    m["plans.train_job.exec_cpu_s"] = tj["cpu_s"]
    m["plans.train_job.shuffle_bytes"] = tj["shuffle_bytes"]

    for prefix, layer, name, key in (
        ("corpus", "corpus", "forget", "forget_s"),
        ("operators.bm25_index", "operators.bm25_index", "query", "query_s"),
        ("operators.ivf_index", "operators.ivf_index", "query", "query_s"),
        ("operators.incremental", "operators.incremental", "ingest", "ingest_s"),
    ):
        ss = named(layer, name)
        m[f"{prefix}.{key}"] = union_seconds(ss)
        tot = subtree_jobs(lambda s, layer=layer, name=name: s["layer"] == layer and s["name"] == name)
        m[f"{prefix}.jobs"] = tot["jobs"]
        m[f"{prefix}.exec_cpu_s"] = tot["cpu_s"]

    roots = named(ROOT_LAYER)
    allj = job_totals(jobs)
    busy = union_seconds([{"start": j["t0"], "end": j["t1"]} for j in jobs])
    m["driver.gap_s"] = total(roots) - busy
    m["driver.jobs"] = allj["jobs"]
    m["driver.stages"] = allj["stages"]
    m["driver.tasks"] = allj["tasks"]
    m["driver.exec_run_s"] = allj["run_s"]
    m["driver.exec_cpu_s"] = allj["cpu_s"]
    m["driver.gc_s"] = allj["gc_s"]
    m["driver.shuffle_bytes"] = allj["shuffle_bytes"]
    m["driver.spill_bytes"] = allj["spill_bytes"]

    m["memostats.hits"] = sum(h for h, _m in memo.values())
    m["memostats.misses"] = sum(mi for _h, mi in memo.values())

    root_ids = {s["id"] for s in roots}
    loose = [j for j in jobs if j["span"] is None or j["span"] in root_ids]
    m["unattributed.jobs"] = len(loose)
    m["unattributed.overlap_jobs"] = sum(1 for j in jobs if j["overlap"])
    m["unattributed.exec_cpu_s"] = job_totals(loose)["cpu_s"]

    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = sum(self_seconds(s, spans) for s in named(layer))
    m["trace.wall_s"] = total(roots)
    return m


def add_probe_metrics(result: dict, probe: dict, jobs: list[dict], task_durations) -> None:
    """Fold the ``noop`` probes into ``result``: decode / organize / dedup
    execution, which the spans of those lazy layers cannot see.  ``jobs``
    are every job of the probe run; ``task_durations(stage, attempt)``
    reads task times for the skew ratio."""

    def within(windows):
        return [j for j in jobs if any(a <= j["t0"] <= b for a, b in windows)]

    read = within(probe["windows"]["read"])
    rt = job_totals(read)
    skew = 0.0
    for j in read:
        for sid, attempt in j["acc"]["stage_ids"]:
            d = sorted(task_durations(sid, attempt))
            if len(d) >= 2 and d[len(d) // 2] > 0:
                skew = max(skew, d[-1] / d[len(d) // 2])
    result.update(
        {
            "sources.avro.decode_s": probe["read_s"],
            "sources.avro.records_decoded": probe["records"],
            "sources.avro.jobs": rt["jobs"],
            "sources.avro.tasks": rt["tasks"],
            "sources.avro.exec_cpu_s": rt["cpu_s"],
            "sources.avro.task_skew": skew,
            "operators.dedup.rows_in": probe["rows_in"],
            "operators.dedup.rows_out": probe["rows_out"],
            "operators.dedup.useful_ratio": probe["rows_out"] / probe["rows_in"] if probe["rows_in"] else 0.0,
        }
    )
    # Plan construction (spans) plus execution (probes).
    result["plans.avro_job.organize_s"] += probe["organize_s"]
    result["operators.dedup.s"] += probe["dedup_s"]
    result["operators.dedup.shuffle_bytes"] += job_totals(within(probe["windows"]["dedup"]))["shuffle_bytes"]
