"""Closed-loop driver, host stamps and the run record, kept free of Spark so
the benchmark's self-tests can drive them with fake ops.

One client runs ops back to back.  The timed window is a whole number of
passes over the workload's fixed op set, each pass in a seed-keyed order,
and it ends with the first pass that finishes at or after ``seconds``: every
pass holds every op once, so the mix behind each percentile is the same on
every run whatever the host's speed.
"""

from __future__ import annotations

import math
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from workloads import pass_order

#: end-to-end metrics: name -> unit.  Every record carries all of them.  The
#: error rate is in every record too (``failed`` / ``attempted``), but is no
#: metric here: it reads 0 on a healthy run.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}
#: per-layer metrics of a traced run: name -> unit.  Values taken from the
#: timed window are per op run, so windows of different lengths compare.
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_table.calls": "1/op",
    "sources.load_table.s": "s/op",
    "plans.warmup_s": "s",
    "plans.build_s": "s/op",
    "plans.build_share": "fraction",
    "plans.eager_jobs": "1/op",
    "catalyst.plan_s": "s/op",
    "operators.calls": "1/op",
    "operators.s": "s/op",
    "recommenders.calls": "1/op",
    "recommenders.s": "s/op",
    "evaluation.calls": "1/op",
    "evaluation.s": "s/op",
    "streaming.run_s": "s/op",
    "streaming.batches": "1/op",
    "streaming.input_rows": "1/op",
    "streaming.add_batch_s": "s/op",
    "streaming.checkpoint_s": "s/op",
    "streaming.query_planning_s": "s/op",
    "streaming.source_s": "s/op",
    "streaming.state_rows": "1/op",
    "streaming.state_mem_mb": "MB/op",
    "streaming.state_commit_s": "s/op",
    "engine.jobs": "1/op",
    "engine.stages": "1/op",
    "engine.tasks": "1/op",
    "engine.failed_tasks": "1/op",
    "engine.exec_s": "s/op",
    "engine.task_run_s": "s/op",
    "engine.task_cpu_s": "s/op",
    "engine.gc_s": "s/op",
    "engine.python_wait_s": "s/op",
    "engine.core_busy_share": "fraction",
    "engine.shuffle_read_mb": "MB/op",
    "engine.shuffle_write_mb": "MB/op",
    "engine.fetch_wait_s": "s/op",
    "engine.spill_mb": "MB/op",
    "host.steal_pct": "%",
    "host.busy_pct": "%",
    "harness.tmp_leak_mb": "MB",
    "harness.verify_s": "s",
    "harness.trace_overhead": "ratio",
}
#: a percentile is supported by the samples when this many lie beyond it
TAIL_SAMPLES = 10


@dataclass
class Sample:
    op: str
    pass_no: int
    start: float  # epoch seconds
    end: float
    ok: bool = True
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Window:
    samples: list[Sample] = field(default_factory=list)
    start: float = 0.0
    end: float = 0.0
    passes: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def run_window(
    ops: list[str],
    run_op: Callable[[str, int], None],
    seed: int,
    seconds: float,
    clock: Callable[[], float] = time.time,
) -> Window:
    """Run whole passes until one ends ``seconds`` or more after the start.

    ``run_op(name, pass_no)`` builds and executes one op; an op that raises
    is recorded as a failed sample and the loop goes on."""
    w = Window(start=clock())
    pass_no = 0
    while True:
        for name in pass_order(ops, seed, pass_no):
            s = Sample(name, pass_no, clock(), 0.0)
            try:
                run_op(name, pass_no)
            except Exception as exc:  # one broken op must not end the run
                s.ok = False
                s.error = f"{type(exc).__name__}: {exc}"[:300]
                traceback.print_exc()
            s.end = clock()
            w.samples.append(s)
        w.passes += 1
        pass_no += 1
        if clock() - w.start >= seconds:
            break
    w.end = clock()
    return w


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(latencies: list[float]) -> dict:
    """p50/p90 with the sample count and whether p90 has ``TAIL_SAMPLES``
    samples beyond it."""
    n = len(latencies)
    return {
        "p50_s": percentile(latencies, 50),
        "p90_s": percentile(latencies, 90),
        "samples": n,
        "p90_supported": n * 0.1 >= TAIL_SAMPLES,
    }


def error_counts(window: Window, mismatched: set[str]) -> tuple[int, int]:
    """(attempted, failed): a sample fails when its op raised, or when the
    op's collected result did not match its oracle."""
    attempted = len(window.samples)
    failed = sum(1 for s in window.samples if not s.ok or s.op in mismatched)
    return attempted, failed


def window_metrics(
    window: Window, setup_s: float, mismatched: set[str]
) -> tuple[dict, dict, int, int]:
    """(end-to-end metrics, latency summary, attempted, failed) of a window.
    Throughput counts ops completed correctly per second of the window."""
    attempted, failed = error_counts(window, mismatched)
    ok = [s for s in window.samples if s.ok and s.op not in mismatched]
    latencies = [s.latency for s in ok]
    completed = len(ok)
    lat = latency_summary(latencies)
    values = {
        "setup_s": setup_s,
        "throughput_per_s": completed / window.seconds,
        "latency_p50_s": lat["p50_s"],
        "latency_p90_s": lat["p90_s"],
    }
    e2e = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return e2e, lat, attempted, failed


def metric_fields(e2e: dict, per_layer: dict | None) -> tuple[dict, dict]:
    """(record fields, result-line metrics).  The record always carries the
    end-to-end metrics; a traced run adds, and reports, the per-layer ones."""
    fields = {"end_to_end": e2e}
    if per_layer is None:
        return fields, e2e
    fields["per_layer"] = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    return fields, fields["per_layer"]


def result_line(mismatched: set[str], attempted: int, failed: int, metrics: dict) -> dict:
    """The last line of standard output, in the benchmark contract's shape.
    The run is correct when no op mismatched its oracle and no sample failed,
    so an op that raised only inside the timed window makes it incorrect."""
    return {
        "correct": not mismatched and failed == 0,
        "attempted": int(max(attempted, 1)),
        "failed": int(failed),
        "metrics": metrics,
    }


# ---------------------------------------------------------------------------
# host stamps
# ---------------------------------------------------------------------------
def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat ticks: user nice system idle iowait irq softirq
    steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """Steal and busy percentages of all CPU time between two stamps."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {
        "steal_pct": 100.0 * d[7] / total,
        "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
    }
