"""CLI entry point — the application surface of the reference
(Application.kt:177-207 + config/CommandLineArgs.kt:22-75), Spark-first.

Usage:

    python -m restructure_hdfs_topic_spark [options] <input_path> [...]

Options mirror the reference's flags: a YAML config file plus CLI
overrides; one-shot restructure by default, ``--clean`` adds the cleaner,
``--service`` polls on the configured intervals.  The Spark session is
created here (local master by default; spark-submit overrides apply).
"""

from __future__ import annotations

import argparse
import sys

from restructure_hdfs_topic_spark.config import RestructureConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="restructure_hdfs_topic_spark",
        description="Restructure Kafka-Connect Avro output into "
        "project/user/topic/time-bin partitioned CSV/JSON (Spark).",
    )
    p.add_argument("input_paths", nargs="+", help="source root(s) to walk for topics")
    p.add_argument("-F", "--config-file", help="YAML config file")
    p.add_argument("-o", "--output-directory", help="target directory")
    p.add_argument("--state-directory", help="offsets state directory")
    p.add_argument("-f", "--format", choices=["csv", "json"], help="output format")
    p.add_argument(
        "-c", "--compression", choices=["gzip", "zip", "none"], help="output compression"
    )
    p.add_argument(
        "-d", "--deduplicate", action="store_true", default=None, help="enable dedup"
    )
    p.add_argument("-C", "--clean", action="store_true", help="also run the cleaner")
    p.add_argument(
        "--no-restructure",
        action="store_true",
        help="skip restructuring (only useful with --clean)",
    )
    p.add_argument(
        "--max-files-per-topic", type=int, help="cap source files per topic per run"
    )
    p.add_argument("-S", "--service", action="store_true", help="run as a polling service")
    p.add_argument(
        "-i", "--interval", type=int, help="service polling interval (seconds)"
    )
    p.add_argument("-t", "--num-threads", type=int, help="local Spark parallelism")
    p.add_argument(
        "--max-iterations",
        type=int,
        help="stop the service loop after N iterations (testing)",
    )
    return p


def resolve_config(args: argparse.Namespace) -> RestructureConfig:
    if args.config_file:
        cfg = RestructureConfig.load(args.config_file)
    else:
        cfg = RestructureConfig()
    if args.output_directory:
        cfg.target_dir = args.output_directory
    if args.state_directory:
        cfg.state_dir = args.state_directory
    if args.format:
        cfg.format = args.format
    if args.compression:
        cfg.compression = None if args.compression == "none" else args.compression
    if args.deduplicate is not None:
        cfg.dedup_enable = args.deduplicate
    if args.max_files_per_topic is not None:
        cfg.worker.max_files_per_topic = args.max_files_per_topic
    if args.clean:
        cfg.cleaner.enable = True
    if args.service:
        cfg.service.enable = True
    if args.interval is not None:
        cfg.service.interval_s = args.interval
    if not cfg.target_dir or not cfg.state_dir:
        raise SystemExit("target and state directories are required (-o / --state-directory or config file)")
    return cfg


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    cfg = resolve_config(args)
    if spark is None:
        from restructure_hdfs_topic_spark.session import get_spark

        master = f"local[{args.num_threads}]" if args.num_threads else "local[*]"
        spark = get_spark("restructure", master=master)
    from restructure_hdfs_topic_spark.plans.avro_job import (
        run_avro_cleaner_job,
        run_avro_restructure_job,
    )
    from restructure_hdfs_topic_spark.streaming.service import run_service

    if cfg.service.enable:
        # --no-restructure + --service = clean-only polling.
        runs = run_service(
            spark,
            args.input_paths,
            cfg,
            max_iterations=args.max_iterations,
            restructure=not args.no_restructure,
        )
        return {"runs": runs}
    results: dict = {"runs": []}
    for root in args.input_paths:
        if not args.no_restructure:
            out = run_avro_restructure_job(spark, root, cfg)
            out["job"] = "restructure"
            results["runs"].append(out)
        if cfg.cleaner.enable:
            out = run_avro_cleaner_job(spark, root, cfg)
            out["job"] = "clean"
            results["runs"].append(out)
    return results


if __name__ == "__main__":
    main(sys.argv[1:])
