"""End-to-end benchmark of the restructure engine's composed pipelines.

Usage (from the repository root)::

    python3 perfbench/run.py --workload restructure --seed 1 --seconds 5 --trace 0

Runs one workload as a closed loop with one client on ``local[nproc]``:
set-up (session, seeded fixtures), then timed iterations, each on fresh
copies of its inputs and each checked before the next starts.  The
end-to-end run times one iteration: the cold first call a batch-job
process makes, as a run of the restructure CLI or of a training export
pays it; it lasts longer than ``--seconds``.  Spark job, stage and
task counts must repeat across iterations and across runs of one seed
(the first run of a seed records them under ``.perfbench/reference/``).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that warms up on small inputs, then alternates traced and untraced
iterations, the traced ones with the layers wrapped in span recorders,
until ``--seconds`` have passed, and reports the per-layer metrics.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; lines before it give the host context (with a
calibration probe and the CPU time stolen by the host), per-iteration
counts, per-metric sample counts, and ``failed_ratio``.  Work files live
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_ITERATIONS = 50

END_TO_END = [
    ("wall_s", "s"),
    ("records_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MiB"),
    ("output_bytes", "B"),
    ("output_files", "count"),
    ("setup_s", "s"),
]


class Context:
    """Per-run state handed to the workload."""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = None
        self.prep_s = 0.0

    @contextmanager
    def prep(self):
        """Untimed per-iteration preparation (fresh copies, landings)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.prep_s += time.perf_counter() - t0

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()


def percentile_report(values: list[float]) -> dict:
    """Median, sample count and the highest percentile that still has at
    least ten samples beyond it (None below 11 samples)."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals) if vals else None}
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = vals[min(n - 1, int(n * p / 100))]
            break
    return out


def run(args) -> int:
    sys.path.insert(0, CHECKOUT)
    work_root = os.path.join(CHECKOUT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    try:
        return measure(args, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, work_root: str) -> int:
    import restructure_hdfs_topic_spark  # noqa: F401  (fail fast without the package)
    from restructure_hdfs_topic_spark import memostats

    from perfbench import harness, layers
    from perfbench.tracing import ROOT_LAYER, Tracer, attribute
    from perfbench.workloads import WORKLOADS, CheckFailed

    workload = WORKLOADS[args.workload]()
    t_setup = time.perf_counter()
    calib_before = harness.calibration_probe()
    cores = harness.cpu_count()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    spark = harness.start_spark(work, cores)
    sampler = harness.RssSampler()
    setup_parts = {"session_s": time.perf_counter() - t_setup}
    try:
        ctx = Context(spark, args.seed, work)
        store = harness.StatusStore(spark)
        tracer = Tracer(spark)
        workload.setup(ctx)
        setup_parts["fixtures_s"] = time.perf_counter() - t_setup - setup_parts["session_s"]
        # The end-to-end run times the first, cold call of each pipeline, as
        # a fresh batch-job process makes it; the traced run warms up first
        # so its traced and untraced iterations are alike.
        first_index = 0 if args.trace else 1

        def one_iteration(index: int, traced: bool, warm_up: bool = False):
            """Run one iteration; returns (record, error)."""
            ctx.prep_s = 0.0
            sections: list[dict] = []
            first_job = store.next_job_id()
            memo0 = memostats.snapshot()
            if traced:
                layers.install(tracer)
                ctx.tracer = tracer
            tracer.iteration = index

            @contextmanager
            def timed(name: str):
                cpu0, steal0 = harness.tree_cpu_s(), harness.steal_s()
                sampler.reset()
                t0 = time.time()
                with ctx.span(ROOT_LAYER, name):
                    yield
                t1 = time.time()
                cpu1, steal1 = harness.tree_cpu_s(), harness.steal_s()
                sections.append(
                    {"name": name, "t0": t0, "t1": t1, "cpu_s": cpu1 - cpu0, "steal_s": steal1 - steal0, "rss": sampler.peak()}
                )

            # A fresh root per iteration: path-keyed caches in the program
            # must not see the previous iteration's files.
            root = os.path.join(work, f"iter-{index}")
            error = None
            it = None
            try:
                it = workload.iterate(ctx, root, timed, warm_up)
            except CheckFailed as exc:
                error = f"check failed: {exc}"
            except Exception:
                error = traceback.format_exc()
            finally:
                tracer.uninstall()
                ctx.tracer = None
            memo = memostats.delta(memo0)
            # Jobs submitted inside a timed section; the checks' own jobs run
            # between sections and are left out.
            jobs = store.jobs_since(first_job)
            counts = {}
            for s in sections:
                mine = [j for j in jobs if s["t0"] <= j["t0"] <= s["t1"]]
                counts[s["name"]] = [len(mine), sum(j["acc"]["stages"] for j in mine), sum(j["acc"]["tasks"] for j in mine)]
            jobs = [j for j in jobs if any(s["t0"] <= j["t0"] <= s["t1"] for s in sections)]
            rec = {
                "index": index,
                "traced": traced,
                "wall_s": sum(s["t1"] - s["t0"] for s in sections),
                "cpu_s": sum(s["cpu_s"] for s in sections),
                "peak_rss_mb": max((s["rss"] for s in sections), default=0) / 2**20,
                "prep_s": ctx.prep_s,
                "steal_s": sum(s["steal_s"] for s in sections),
                "sections": {s["name"]: round(s["t1"] - s["t0"], 4) for s in sections},
                "counts": counts,
                "memo": memo,
            }
            if it is not None and error is None:
                files, size = harness.dir_usage(*it.output_roots)
                rec.update(units=it.units, output_files=files, output_bytes=size, fingerprint=it.fingerprint)
                rec["records_per_s"] = it.units / rec["wall_s"]
                if index == first_index and hasattr(workload, "self_test"):
                    workload.self_test(root, warm_up)
            if traced:
                spans = tracer.iteration_spans(index)
                attribute(jobs, spans)
                rec["layers"] = layers.iteration_metrics(spans, jobs, memo)
            shutil.rmtree(root, ignore_errors=True)
            return rec, error

        attempted = failed = 0
        errors: list[str] = []
        warm = None
        if first_index == 0:
            # Warm-up: caches fill and lazy set-up finishes before timing.
            warm, error = one_iteration(0, traced=False, warm_up=True)
            attempted += 1
            if error:
                failed += 1
                errors.append(error)
        one_time_setup = time.perf_counter() - t_setup

        records: list[dict] = []
        t_loop = time.perf_counter()
        index = 1
        while index <= MAX_ITERATIONS:
            elapsed = time.perf_counter() - t_loop
            done = [r for r in records if not r["traced"]]
            traced_done = [r for r in records if r["traced"]]
            if args.trace:
                if elapsed >= args.seconds and traced_done and done:
                    break
                traced = len(traced_done) <= len(done)
            else:
                # One cold call per run; it takes longer than ``--seconds``.
                if index > 1:
                    break
                traced = False
            rec, error = one_iteration(index, traced)
            attempted += 1
            if error:
                failed += 1
                errors.append(error)
            else:
                records.append(rec)
            index += 1
            if failed > 3:
                break
        # Repeat check.  Every timed iteration repeats the first one's Spark
        # job, stage and task counts per section, memo deltas and result
        # fingerprint, and the first repeats what the first run of this
        # seed in this checkout recorded.  The warm-up is no reference: it
        # runs other data, and first calls fill caches.
        def repeat_key(r):
            return json.loads(json.dumps({"counts": r["counts"], "memo": r["memo"], "result": r.get("fingerprint")}))

        checks = []
        if records:
            first = repeat_key(records[0])
            checks += [("the first timed iteration", first, repeat_key(r), r) for r in records[1:]]
            # Cold (end-to-end) and warm (traced) first iterations differ.
            ref_path = os.path.join(work_root, "reference", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
            if os.path.exists(ref_path):
                with open(ref_path) as fh:
                    checks.append((f"the first run of seed {args.seed}", json.load(fh), first, records[0]))
            elif not failed:
                os.makedirs(os.path.dirname(ref_path), exist_ok=True)
                with open(ref_path + ".tmp", "w") as fh:
                    json.dump(first, fh)
                os.replace(ref_path + ".tmp", ref_path)
        mismatched: dict[int, str] = {}
        for ref_name, want, got, r in checks:
            if got != want:
                mismatched.setdefault(r["index"], f"iteration {r['index']}: {got} differs from {ref_name}'s {want}")
        failed += len(mismatched)
        errors += mismatched.values()
        for e in errors:
            print(f"iteration error: {e}", file=sys.stderr)

        plain = [r for r in records if not r["traced"]]
        setup_s = one_time_setup + (statistics.median(r["prep_s"] for r in plain) if plain else 0.0)
        result: dict = {}
        if args.trace:
            traced_recs = [r for r in records if r["traced"]]
            names = [n for n, _u in layers.METRICS]
            for name in names:
                vals = [r["layers"].get(name, 0) for r in traced_recs]
                result[name] = statistics.median(vals) if vals else 0.0
            if traced_recs and plain:
                result["trace.overhead_s"] = statistics.median(r["wall_s"] for r in traced_recs) - statistics.median(
                    r["wall_s"] for r in plain
                )
            if hasattr(workload, "probes"):
                first = store.next_job_id()
                probe = workload.probes(ctx)
                layers.add_probe_metrics(result, probe, store.jobs_since(first), store.task_durations)
            metrics = {n: {"value": result.get(n, 0), "unit": u} for n, u in layers.METRICS}
            os.makedirs(os.path.join(work_root, "spans"), exist_ok=True)
            tracer.dump(os.path.join(work_root, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {
                "wall_s": [r["wall_s"] for r in plain],
                "records_per_s": [r["records_per_s"] for r in plain],
                "cpu_s": [r["cpu_s"] for r in plain],
                "peak_rss_mb": [r["peak_rss_mb"] for r in plain],
                "output_bytes": [r["output_bytes"] for r in plain],
                "output_files": [r["output_files"] for r in plain],
            }
            summary = {k: percentile_report(v) for k, v in values.items()}
            summary["setup_s"] = {"n": 1, "median": setup_s}
            metrics = {n: {"value": summary[n]["median"] or 0.0, "unit": u} for n, u in END_TO_END}
            print(json.dumps({"summary": summary, "failed_ratio": failed / attempted}))
        print(
            json.dumps(
                {
                    "context": harness.host_context(spark),
                    "calibration_s": [calib_before, harness.calibration_probe()],
                    "setup": {
                        "one_time_s": one_time_setup,
                        **setup_parts,
                        "warmup": warm and {k: warm[k] for k in ("wall_s", "counts", "memo")},
                    },
                    "iterations": [{k: v for k, v in r.items() if k != "layers"} for r in records],
                }
            )
        )
    finally:
        sampler.close()
        harness.stop_spark(spark)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["restructure", "llm_jobs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
