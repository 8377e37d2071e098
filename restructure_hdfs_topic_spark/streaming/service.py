"""Service mode (SURVEY O27, M5).

Reference (Application.kt:100-119, :132-144, worker/Job.kt:12-46): a
scheduled executor runs the restructure job over every input path each
``service.interval`` seconds (default 300 s), and the cleaner on its own
interval; ``minimumFileAge`` (60 s) is a crude late-data guard.  For a
batch engine that is a driver loop over the batch Avro job and its
cleaner: each iteration goes through the offset ledger (O16-O18), the
topic lease (O19) and the age guard, exactly as a one-shot run does.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def run_service(
    spark: SparkSession,
    input_roots: list[str],
    config,
    max_iterations: int | None = None,
    sleep_fn=None,
    clock=None,
    restructure: bool = True,
) -> list[dict]:
    """O27 batch-job scheduler (Application.kt:100-119, worker/Job.kt:12-46):
    each iteration runs the Avro restructure job over every root in
    ``input_roots`` and, when enabled and ``cleaner.interval_s`` has passed,
    the cleaner over every root; then it sleeps ``service.interval_s``.
    Runs until interrupted, or for ``max_iterations`` iterations (tests,
    one-shot).  Each result carries its ``job`` and ``input_root``; they
    are kept and returned only when ``max_iterations`` is set, so an
    unbounded run holds no history.

    ``sleep_fn``/``clock`` are injectable for tests; the defaults are real
    time.
    """
    import time as _time

    from restructure_hdfs_topic_spark.plans.avro_job import (
        run_avro_cleaner_job,
        run_avro_restructure_job,
    )

    sleep_fn = sleep_fn or _time.sleep
    clock = clock or _time.time
    results: list[dict] = []

    def keep(result: dict, job: str, root: str) -> None:
        if max_iterations is not None:
            results.append({**result, "job": job, "input_root": root})

    last_clean = clock()
    iteration = 0
    while max_iterations is None or iteration < max_iterations:
        iteration += 1
        if restructure:
            for root in input_roots:
                keep(run_avro_restructure_job(spark, root, config, now_s=clock()), "restructure", root)
        if config.cleaner.enable and clock() - last_clean >= config.cleaner.interval_s:
            for root in input_roots:
                keep(run_avro_cleaner_job(spark, root, config, now_s=clock()), "clean", root)
            last_clean = clock()
        if max_iterations is not None and iteration >= max_iterations:
            break
        sleep_fn(config.service.interval_s)
    return results
