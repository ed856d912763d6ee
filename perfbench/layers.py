"""Per-layer metrics of a traced window, from spans, the event log and
streaming progress.  Window-derived values are divided by the number of
ops the window ran, so records whose windows ran different numbers of
passes compare directly."""

from __future__ import annotations

from pathlib import Path

from engine import fold_batches, fold_jobs, in_any, parse_jobs
from spans import layer_totals


def per_layer(window, spans, log_dir: Path, batches: list[dict], cores: int):
    """(metric values, per-op ledger) for one traced window."""
    n = max(len(window.samples), 1)
    jobs = [j for j in parse_jobs(log_dir) if window.start <= j["submit"] <= window.end]
    builds = [(s.start, s.end) for s in spans if s.name == "plans.build"]
    op_time = sum(s.latency for s in window.samples)
    build_s = sum(e - s for s, e in builds)
    values = {
        "plans.build_s": build_s / n,
        "plans.build_share": build_s / op_time if op_time else 0.0,
        "plans.eager_jobs": sum(1 for j in jobs if in_any(j["submit"], builds)) / n,
        "catalyst.plan_s": sum(s.end - s.start for s in spans if s.name == "catalyst.plan")
        / n,
    }
    totals = layer_totals(spans)
    for layer in ("sources.load_table", "operators", "recommenders", "evaluation"):
        t = totals.get(layer, {"calls": 0, "s": 0.0})
        values[f"{layer}.calls"] = t["calls"] / n
        values[f"{layer}.s"] = t["s"] / n
    for k, v in {**fold_batches(batches), **fold_jobs(jobs, cores)}.items():
        values[k] = v if k == "engine.core_busy_share" else v / n
    return values, per_op_ledger(window, spans, jobs, cores)


def per_op_ledger(window, spans, jobs: list[dict], cores: int) -> dict:
    """op -> mean build / plan / execute seconds and engine totals per run
    of the op; jobs are folded onto the op sample whose interval holds
    their submission time."""
    ledger: dict[str, dict] = {}
    by_op: dict[str, list] = {}
    for s in window.samples:
        by_op.setdefault(s.op, []).append(s)
    phase = {"plans.build": "build_s", "catalyst.plan": "plan_s", "engine.execute": "execute_s"}
    for name, samples in by_op.items():
        k = len(samples)
        ivals = [(s.start, s.end) for s in samples]
        mine = [j for j in jobs if in_any(j["submit"], ivals)]
        eng = fold_jobs(mine, cores)
        row = {"runs": k, "latency_s": sum(s.latency for s in samples) / k}
        for span_name, key in phase.items():
            row[key] = sum(
                sp.end - sp.start for sp in spans if sp.op == name and sp.name == span_name
            ) / k
        for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "python_wait_s", "gc_s"):
            row[key] = eng[f"engine.{key}"] / k
        ledger[name] = row
    return ledger
