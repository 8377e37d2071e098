"""Driver-side progress bars and phase timings.

Parity for the reference's ``util/ProgressBar.kt`` and ``util/Timer.kt``
(the last un-mirrored utility surface): a rate-limited textual progress
bar with percentage / ETA / free-memory readout, and a label-keyed timer
registry that is off by default, thread-safe, and prints one line per
action type with total time, thread count, and invocation count.

Spark placement: these run on the DRIVER, timing the per-topic
orchestration loop (walk → filter → decode/write → commit), which is
where the reference used them too — executor-side work is already
observable through Spark's own metrics/UI and the jobs' single-pass
``Observation`` counters, so duplicating it here would double-count.
Reference behaviors mirrored: ``Timer.kt:26-120`` (disabled-by-default
enable/reset/snapshot, per-type invocations + total + distinct threads,
``Timings:`` report shape) and ``ProgressBar.kt:27-130`` (stripes,
right-aligned percentage, ETA from observed rate, free-memory MB,
``<label>`` suffix, rate-limited synchronized update, single terminal
update at 100%).
"""

from __future__ import annotations

import logging
import threading
import time as _time

__all__ = ["Timer", "timer", "ProgressBar"]

# A bar's default sink: the reference logs its progress.
_log = logging.getLogger(__name__)


class _TimerEntry:
    __slots__ = ("invocations", "total_s", "threads")

    def __init__(self) -> None:
        self.invocations = 0
        self.total_s = 0.0
        self.threads: set[int] = set()


class Timer:
    """Label-keyed timing registry.  Disabled timers cost one attribute
    check per ``time()`` call (the reference's ``isEnabled`` fast path).
    One process-wide instance is exported as ``timer``; independent
    instances are fine for tests."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._times: dict[str, _TimerEntry] = {}
        self.enabled = False

    class _Ctx:
        __slots__ = ("_owner", "_label", "_t0")

        def __init__(self, owner: "Timer", label: str) -> None:
            self._owner = owner
            self._label = label

        def __enter__(self) -> None:
            self._t0 = _time.perf_counter()

        def __exit__(self, *exc) -> None:
            dt = _time.perf_counter() - self._t0
            owner = self._owner
            with owner._lock:
                e = owner._times.setdefault(self._label, _TimerEntry())
                e.invocations += 1
                e.total_s += dt
                e.threads.add(threading.get_ident())
            return None

    class _Noop:
        __slots__ = ()

        def __enter__(self) -> None:
            return None

        def __exit__(self, *exc) -> None:
            return None

    _NOOP = _Noop()

    def time(self, label: str):
        """``with timer.time("restructure.write"): ...`` — records only
        while enabled (exceptions still propagate; time is recorded
        either way, like the reference's try/finally)."""
        if not self.enabled:
            return self._NOOP
        return self._Ctx(self, label)

    def reset(self) -> None:
        with self._lock:
            self._times.clear()

    def timings(self) -> dict[str, dict]:
        """Sorted snapshot: label → {invocations, total_s, n_threads}."""
        with self._lock:
            return {
                k: {
                    "invocations": e.invocations,
                    "total_s": e.total_s,
                    "n_threads": len(e.threads),
                }
                for k, e in sorted(self._times.items())
            }

    def __str__(self) -> str:
        if not self.enabled:
            return "Timings: disabled"
        snap = self.timings()
        if not snap:
            return "Timings: none"
        lines = ["Timings:"]
        for label, e in snap.items():
            lines.append(
                f"\t{label} - time: {_fmt_duration(e['total_s'])}"
                f" - threads: {e['n_threads']}"
                f" - invocations: {e['invocations']}"
            )
        return "\n".join(lines)


timer = Timer()


def _fmt_duration(seconds: float) -> str:
    s = int(seconds)
    h, rem = divmod(s, 3600)
    m, sec = divmod(rem, 60)
    if h:
        return f"{h}:{m:02d}:{sec:02d}"
    return f"{m:02d}:{sec:02d}.{int((seconds - s) * 10)}"


def _free_mem_mb(spark=None) -> int | None:
    """Free DRIVER memory in MB: JVM heap headroom when a session is at
    hand (what the reference prints), else /proc/meminfo's available."""
    if spark is not None:
        try:
            rt = spark._jvm.java.lang.Runtime.getRuntime()
            return int(
                (rt.maxMemory() - rt.totalMemory() + rt.freeMemory()) // 1_000_000
            )
        except Exception:
            pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1000
    except OSError:
        pass
    return None


class ProgressBar:
    """Rate-limited textual progress: ``[***----]  42% - ETA 01:23 -
    MemFree 512 MB <label>``.  ``update`` is thread-safe, drops calls
    inside the update interval unless forced, validates the progress
    range, and reports 100% exactly once.  Lines go to ``sink``, by
    default this module's logger at INFO."""

    def __init__(
        self,
        label: str,
        total: int,
        num_stripes: int = 40,
        update_interval_s: float = 2.0,
        sink=None,
        spark=None,
    ) -> None:
        if total < 0:
            raise ValueError("Total of progress bar must be non-negative")
        if num_stripes <= 0:
            raise ValueError("Number of stripes in progress bar must be positive")
        self.label = label
        self.total = total
        self.num_stripes = num_stripes
        self.update_interval_s = update_interval_s
        self._sink = sink if sink is not None else _log.info
        self._spark = spark
        self._start = _time.monotonic()
        self._last = 0.0
        self._done = False
        self._lock = threading.Lock()

    def update(self, progress: int, force: bool = False) -> None:
        with self._lock:
            now = _time.monotonic()
            # The terminal 100% update bypasses the rate limit — a bar
            # that never reports completion is worse than an extra line
            # (reference behavior: completion goes through exactly once).
            terminal = progress == self.total
            if (
                not force
                and not terminal
                and self.update_interval_s > 0
                and now <= self._last + self.update_interval_s
            ):
                return
            self._last = now
            if not 0 <= progress <= self.total:
                # The reference logs and carries on rather than failing the
                # job over a cosmetic readout.
                self._sink(
                    f"progress update {progress} out of range [0, {self.total}]"
                )
                return
            if progress == self.total:
                if self._done:
                    return
                self._done = True
            pct = 100.0 * progress / self.total if self.total else 100.0
            filled = int(self.num_stripes * pct / 100)
            bar = "[" + "*" * filled + "-" * (self.num_stripes - filled) + "]"
            eta = "-"
            if progress > 0:
                elapsed = now - self._start
                eta = _fmt_duration(elapsed * (self.total - progress) / progress)
            parts = [bar, f"{int(pct):3d}%", f"ETA {eta}"]
            mem = _free_mem_mb(self._spark)
            if mem is not None:
                parts.append(f"MemFree {mem} MB")
            self._sink(" - ".join([" ".join(parts[:2])] + parts[2:]) + f" <{self.label}>")
