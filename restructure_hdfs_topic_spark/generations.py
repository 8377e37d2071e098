"""Shared generational-artifact lifecycle: the ONE implementation of the
naming, publish, and janitorial discipline both on-disk index families
(``operators/bm25_index.py`` and ``operators/ivf_index.py``) follow.

The lifecycle (Lucene's ``segments_N`` shape, VERDICT r12 #2 — the
machinery existed twice, column-name differences only, and every future
fix had to land in both or silently diverge):

- **Generation naming** is deterministic from the COMMITTED meta
  (``base-gNNNNN``, ``ts-gNNNNN``, ``append-gNNNNN``, ``seg-NNNNN``): a
  replayed mutation re-derives the same name and overwrites its own
  orphan — the overwrite-my-own-orphan property crash-replay idempotence
  rests on.
- **Atomic meta publish LAST**: every artifact a meta describes is
  durably in place before the meta switches to it in one atomic replace
  (``storage``'s ``replace``); no crash point leaves the
  layout without a valid meta.
- **Invalidate FIRST on rebuild** (ADVICE r10): a build that overwrites
  dirs the old meta describes deletes the meta (and the atomic
  publisher's ``.old``/``.tmp`` fallback copies — a fallback reader must
  not resurrect a stale meta over half-written artifacts) before
  touching them.
- **Unreferenced ⇒ orphan, under the lease**: mutations run under the
  single-writer ``artifact_mutation_lease``, so a janitor holding it can
  safely infer that any generation dir the committed meta does not
  reference is crash litter (or superseded) and sweep it.
- **Reader grace** (ADVICE r12): readers are lock-free; janitors accept
  ``min_age_s`` and defer the sweep while the committed meta is younger
  — every unreferenced dir became unreferenced no earlier than the last
  publish, so the meta's age bounds how long in-flight plans had to
  drain.

Reference analogue: the reference's accountant treats its offset state
the same way — durably write, then commit the pointer
(``accounting/OffsetPersistenceFactory.kt``); this module is that
discipline generalized to index artifacts.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from restructure_hdfs_topic_spark import storage

GEN_WIDTH = 5

# Delete batches are broadcast into corpus-sized anti/inner joins on the
# "bounded by contract" argument; this enforces the bound (ADVICE r13 #2).
# 512 MB of ESTIMATED bytes leaves a wide margin under the 8 GB broadcast
# cap (estimates err after filters, but err proportionally — a
# million-id takedown estimates orders of magnitude above this).
BROADCAST_EST_CAP_BYTES = 512 * 1024 * 1024


def broadcast_if_bounded(
    df: DataFrame, cap_bytes: int = BROADCAST_EST_CAP_BYTES
) -> DataFrame:
    """``F.broadcast(df)`` with the bound CHECKED instead of asserted,
    via Catalyst's plan-statistics estimate — driver-side metadata, no
    job (ADVICE r13 #2 names exactly this).  Above the cap (or when the
    estimate is unreadable) the hint is dropped and the planner's join
    choice degrades gracefully instead of OOMing the driver on a
    million-id takedown (guide §3.1)."""
    from pyspark.sql import functions as F

    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        over = est > cap_bytes
    except Exception:
        over = True  # unestimatable plan: be conservative, skip the hint
    return df if over else F.broadcast(df)


def gen_name(prefix: str, n: int) -> str:
    """Deterministic generation dir name — ``base-g00003``/``ts-g00001``/
    ``append-g00002``.  Width-5 zero padding keeps lexicographic order =
    numeric order for every plausible lifetime."""
    return f"{prefix}{n:0{GEN_WIDTH}d}"


def next_gen(meta: dict, counter_key: str, prefix: str) -> tuple[int, str]:
    """(gen, name) for the NEXT generation after the committed counter.
    Counters are monotonic and never reset on sweep, so a future
    generation can never reuse an unswept orphan's name by accident —
    only a deliberate replay re-derives it (and overwrites)."""
    gen = int(meta.get(counter_key, 0)) + 1
    return gen, gen_name(prefix, gen)


# ---------------------------------------------------------------------------
# Meta read / write / publish / invalidate
# ---------------------------------------------------------------------------


def read_meta(spark: SparkSession, meta_path: str) -> dict:
    """Fallback-aware meta read: the atomic publish's object-store
    fallback can leave the previous version at ``<path>.old`` for one
    instant — reading it honors "the old meta stays valid until the new
    one is durable"."""
    return json.loads(storage.store(meta_path, spark).read_replaced(meta_path).decode("utf-8"))


def write_meta(spark: SparkSession, meta_path: str, meta: dict) -> None:
    """Plain (non-atomic) meta write — ONLY for a fresh build, after
    ``invalidate_meta``: there is no previous version a torn write could
    corrupt, and "no meta" is the defined crashed-build state."""
    storage.store(meta_path, spark).write(meta_path, json.dumps(meta).encode("utf-8"))


def publish_meta(spark: SparkSession, meta_path: str, meta: dict) -> None:
    """THE atomic publish: until this returns, readers see the previous
    meta and its dirs, both fully intact."""
    storage.store(meta_path, spark).replace(meta_path, json.dumps(meta).encode("utf-8"))


def invalidate_meta(spark: SparkSession, meta_path: str) -> None:
    """Invalidate-first for rebuilds (ADVICE r10 + the r12 ``.old``
    resurrection fix): delete the meta AND the atomic publisher's
    fallback copies, so a build killed mid-overwrite presents as "no
    meta", never as a stale meta describing half-written dirs."""
    st = storage.store(meta_path, spark)
    for suffix in ("", ".old", ".tmp"):
        st.delete(f"{meta_path}{suffix}")


def meta_exists(spark: SparkSession, meta_path: str) -> bool:
    """Whether a (possibly fallback-``.old``) published meta exists — the
    explicit existence check bootstrap decisions need (ADVICE r11: a
    transient read error must not look like "first batch")."""
    st = storage.store(meta_path, spark)
    return st.exists(meta_path) or st.exists(f"{meta_path}.old")


# ---------------------------------------------------------------------------
# Layout resolution
# ---------------------------------------------------------------------------


def base_root(meta: dict, path: str) -> str:
    """Directory holding the live base stores: ``path`` itself for a
    fresh build (legacy layout), ``path/base-gNNNNN`` once a
    vacuum/compaction generation took over."""
    base = meta.get("base_dir", "")
    return f"{path}/{base}" if base else path


def tombstone_df(
    spark: SparkSession, meta: dict, path: str, id_col: str,
    schema: str | None = None,
):
    """The committed tombstone id set (one ``id_col`` column), or None
    when the meta references no tombstone generation.  ``schema`` (the
    store's fixed one-column schema) skips the parquet footer inference
    job the schemaless read pays (r13)."""
    tomb = meta.get("tomb_dir", "")
    if not tomb:
        return None
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(f"{path}/tombstones/{tomb}").select(id_col)


# ---------------------------------------------------------------------------
# Tombstone generation write (shared by both delete lanes)
# ---------------------------------------------------------------------------


def write_tombstone_generation(
    spark: SparkSession,
    path: str,
    meta: dict,
    union_ids: DataFrame,
    id_col: str,
    schema: str | None = None,
) -> tuple[int, str, DataFrame]:
    """Write the CANDIDATE next tombstone generation (previous set ∪ new
    hits, one ``id_col`` column) and return ``(gen, name, written)``
    where ``written`` is the READ-BACK durable set — callers derive
    every published stat from it, so the meta can never disagree with
    the durable ids even when the input was a non-deterministic plan.
    The committed meta does not reference the dir until the caller's
    atomic publish; a crash before that leaves sweepable litter, and a
    replay re-derives the same name and overwrites it."""
    gen, name = next_gen(meta, "tomb_gen", "ts-g")
    union_ids.select(id_col).write.mode("overwrite").parquet(
        f"{path}/tombstones/{name}"
    )
    # Read-back with the caller's fixed schema when given: tombstone
    # stores have a one-column schema pinned by contract, and passing it
    # skips the per-read parquet footer inference job (r13).
    reader = spark.read.schema(schema) if schema else spark.read
    written = reader.parquet(f"{path}/tombstones/{name}").select(id_col)
    return gen, name, written


def drop_tombstone_generation(
    spark: SparkSession, path: str, meta: dict, name: str
) -> None:
    """Remove a just-written no-hit (empty-delta) candidate generation —
    the committed meta never referenced it — and the ``tombstones/``
    parent too when the index has no committed tombstones at all."""
    st = storage.store(path, spark)
    st.delete(f"{path}/tombstones/{name}", recursive=True)
    if not meta.get("tomb_dir"):
        st.delete(f"{path}/tombstones", recursive=True)


# ---------------------------------------------------------------------------
# Janitorial sweep (shared by both repair janitors and both builds)
# ---------------------------------------------------------------------------


def age_gate_deferred(
    spark: SparkSession, meta_path: str, min_age_s: float
) -> bool:
    """True when a janitor should DEFER its sweep: the committed meta is
    younger than ``min_age_s`` (reader grace — see the module
    docstring).  A missing mtime (exotic store) never defers."""
    if min_age_s <= 0:
        return False
    import time

    mt = storage.store(meta_path, spark).mtime(meta_path)
    return mt is not None and time.time() - mt < min_age_s


def sweep_generational_litter(
    spark: SparkSession,
    path: str,
    meta_name: str,
    *,
    keep_children: set[str] = frozenset(),
    child_prefixes: tuple[str, ...] = ("base-g",),
    tomb_dir: str = "",
    sweep_tomb_parent: bool = True,
    legacy_kinds: tuple[str, ...] = (),
    seg_subdir: str | None = None,
    referenced_segments: set[str] | None = None,
    extra_dirs: tuple[str, ...] = (),
    sweep_meta_litter: bool = True,
) -> list[str]:
    """Remove every unreferenced generation/segment dir and meta
    ``.tmp``/``.old`` litter under ``path``; returns the removed names.
    Callers validate damage (referenced-but-missing dirs) BEFORE calling
    — this function only ever deletes what the committed meta does not
    reference, which the mutation lease makes a safe orphan inference:

    - top-level children matching ``child_prefixes`` and not in
      ``keep_children`` (superseded/orphan base + append generations);
    - the legacy root ``legacy_kinds`` dirs once a generational base
      took over (pass ``()`` while the root layout is live);
    - ``tombstones/`` children other than ``tomb_dir`` (and the parent
      when no tombstone generation is referenced);
    - ``seg_subdir`` children not in ``referenced_segments``;
    - ``extra_dirs`` (scratch like ``compact-tmp``) and the meta's
      ``.tmp``/``.old`` fallback copies."""
    st = storage.store(path, spark)

    def drop(name: str) -> bool:
        return st.delete(f"{path}/{name}", recursive=True)

    removed: list[str] = []
    if seg_subdir is not None:
        refs = referenced_segments or set()
        for name in sorted(set(st.list_dir(f"{path}/{seg_subdir}")) - refs):
            drop(f"{seg_subdir}/{name}")
            removed.append(f"{seg_subdir}/{name}")
        if not refs:
            # Nothing referenced: drop the (now empty) parent too, so
            # artifacts-exist probes never see a hollow segments/ shell.
            drop(seg_subdir)
    for child in sorted(st.list_dir(path)):
        if child.startswith(tuple(child_prefixes)) and child not in keep_children:
            drop(child)
            removed.append(child)
    for d in legacy_kinds:
        if drop(d):
            removed.append(d)
    for child in sorted(st.list_dir(f"{path}/tombstones")):
        if child != tomb_dir:
            drop(f"tombstones/{child}")
            removed.append(f"tombstones/{child}")
    if not tomb_dir and sweep_tomb_parent and drop("tombstones"):
        removed.append("tombstones")
    for d in extra_dirs:
        if drop(d):
            removed.append(d)
    if sweep_meta_litter:
        for suffix in (".tmp", ".old"):
            if drop(f"{meta_name}{suffix}"):
                removed.append(f"{meta_name}{suffix}")
    return removed


def observation_get_bounded(obs, timeout_s: float = 120.0):
    """``Observation.get`` with a BOUNDED wait (ADVICE r13 #3): the Scala
    getter blocks indefinitely when the CollectMetrics node was pruned
    from the executed plan and the metrics never fire — raising on this
    Spark version, but version-sensitive.  Returns the metrics row-dict,
    or ``None`` on timeout/error — callers fall back to a read-back
    computation over the durable artifact, so a pruned observation can
    degrade to one extra job but never to a hang or a wrong stat."""
    import threading

    box: dict = {}

    def _run() -> None:
        try:
            box["row"] = obs.get
        except Exception:
            pass

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    t.join(timeout_s)
    return box.get("row")
