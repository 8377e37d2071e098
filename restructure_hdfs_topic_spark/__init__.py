"""restructure_hdfs_topic_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of RADAR-base radar-output-restructure
(reference: RADAR-CNS/Restructure-HDFS-topic, surveyed in SURVEY.md).

Not a port: every operator of the reference's Kotlin dataflow pipeline is
re-expressed as declarative Spark DataFrame / SQL plans so Catalyst + Tungsten
pick the physical strategy. Package layout:

- ``session``    — SparkSession builder with scale-aware defaults (AQE on).
- ``config``     — YAML + env config (reference: config/RestructureConfig.kt).
- ``functions``  — scalar column expressions (time extraction, binning, path
  sanitize/template, filename parsing, text analysis, vector math).
- ``operators``  — dataflow operators (flatten, dedup, offset accounting,
  cleaner verification, similarity search, multimodal plumbing).
- ``state``      — the versioned state store: the one owner of a state
  directory's on-disk layout (pointer, versions, claims, staging) and of
  its compare-and-swap ``commit``, under the offset ledger and the
  incremental-dedup lanes.
- ``sources``    — Kafka-Connect topic walk, the Avro decode (Spark's own
  Avro source, the only decode path) and the commit-range manifest.
- ``plans``      — end-to-end pipeline compositions: ``avro_job`` is the
  restructure job and its cleaner; the rest are the LLM-data pipelines.
- ``streaming``  — service mode: the driver loop that runs the restructure
  job over every input root each interval, and the cleaner on its own
  interval (reference: Application.kt, worker/Job.kt); streaming dedup
  and sinks for the LLM-data pipelines.
"""

__version__ = "0.1.0"
