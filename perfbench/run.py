"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine.  One process, one client
thread, Spark ``local[nproc]`` from ``session.get_spark``.  Set-up starts the
session, builds the workload's family payloads, and runs one untimed pass
of every op whose results are collected for the oracle check.  The timed
window then runs whole passes (``harness.run_window``), each op built from
the registry and executed into the noop sink.  After the window each op's
collected result is compared with its DuckDB oracle (``harness.verify_s``).

``--trace 1`` runs the window twice in the same process: once as above,
then once with spans around every call into the engine's modules and a
forced physical-planning step, with Spark's event log on for the whole run.
The last line of standard output is the contract's result object; the line
before it is the full record (host stamp, per-op samples, mismatches,
per-layer metrics), also written under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "contentwise_impressions_spark"
#: input scale factor: 10 000 events, 60 000 line items, 500 embeddings
SF = 0.01

sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import harness  # noqa: E402
from workloads import OPS, WARMUPS, WORKLOADS, pass_order  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _dir_mb(path: Path) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def _shm_entries() -> set[str]:
    try:
        return set(os.listdir("/dev/shm"))
    except OSError:
        return set()


def _driver_mem() -> str:
    """A quarter of the host's memory, for the SPARK_DRIVER_MEM setting."""
    with open("/proc/meminfo") as fh:
        kib = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{max(1, kib // (4 * 1024 * 1024))}g"


def _commit(root: Path = ROOT) -> str | None:
    """The checkout's commit, or None for a tree exported without git."""
    if not (root / ".git").exists():
        return None
    try:
        proc = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if proc.returncode != 0:
        return None
    return proc.stdout.strip() or None


class Run:
    """One benchmark process: owns the run's scratch root and its outputs."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.workload = args.workload
        self.base = ROOT / ".perfbench"
        self.root = self.base / f"run-{os.getpid()}-{int(time.time() * 1e3)}"
        self.record: dict = {}
        self.result: dict | None = None
        self.shm0 = _shm_entries()

    # -- environment ----------------------------------------------------
    def prepare(self) -> str:
        data_dir = datagen.ensure(str(self.base / f"data-sf{SF}"), SF)
        tmp = self.root / "tmp"
        for d in (tmp, self.root / "local", self.root / "stream"):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.root / "local")
        # the checkpoint scratch base is a deployment path; keep it in the run
        os.environ["SPARK_GRAFT_STREAM_CKPT"] = str(self.root / "stream")
        os.environ.setdefault("SPARK_DRIVER_MEM", _driver_mem())
        import tempfile

        tempfile.tempdir = None
        sys.path.insert(0, str(ROOT))
        return data_dir

    def finish(self) -> None:
        """At interpreter exit, after the engine's own exit handlers: measure
        what the run left behind, remove the scratch root, print."""
        leak = _dir_mb(self.root / "tmp") + _dir_mb(self.root / "local")
        leak += _dir_mb(self.root / "stream")
        for name in _shm_entries() - self.shm0:
            leak += _dir_mb(Path("/dev/shm") / name)
        shutil.rmtree(self.root, ignore_errors=True)
        if self.result is None:
            return
        self.record.setdefault("harness", {})["tmp_leak_mb"] = leak
        if "per_layer" in self.record:
            self.record["per_layer"]["harness.tmp_leak_mb"]["value"] = leak
        self.write_record()
        print(json.dumps(self.record, default=str))
        print(json.dumps(self.result))
        sys.stdout.flush()

    def write_record(self) -> None:
        out = self.base / "records"
        out.mkdir(parents=True, exist_ok=True)
        a = self.args
        path = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        path.write_text(json.dumps(self.record, indent=1, default=str) + "\n")

    # -- the run ----------------------------------------------------------
    def execute(self) -> None:
        a = self.args
        data_dir = self.prepare()
        from pyspark import SparkContext

        from contentwise_impressions_spark.plans.registry import (
            all_oracle_sql,
            bench_queries,
            bench_warmups,
        )
        from contentwise_impressions_spark.session import get_spark
        from engine import ProgressLog, event_log_conf
        from spans import Tracer

        queries = bench_queries()
        oracles = all_oracle_sql()
        warmups = bench_warmups()
        ops = list(OPS[self.workload])
        missing = [n for n in ops if n not in queries]
        if missing:
            raise SystemExit(f"perfbench: ops not in the registry: {missing}")

        extra = {
            # keep the JVM's temp files and perf counters out of /tmp
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.root / 'tmp'}"
        }
        log_dir = self.root / "eventlog"
        if a.trace:
            extra.update(event_log_conf(log_dir))
        t0 = time.time()
        spark = get_spark("perfbench", extra_conf=extra)
        session_s = time.time() - t0
        if a.trace:
            progress = ProgressLog()
            spark.streams.addListener(progress)

        t0 = time.time()
        warm_s = {}
        for key in WARMUPS[self.workload]:
            t = time.time()
            warmups[key](spark, data_dir)
            warm_s[key] = time.time() - t
        warmup_s = time.time() - t0

        # untimed pass: warms every op and collects its result for the oracle
        # check.  Collecting here rather than after the window saves one pass
        # per run; the driver-side cost of collecting is part of setup_s.
        results, raised, first_s = {}, {}, {}
        for name in pass_order(ops, a.seed, -1):
            t = time.time()
            try:
                results[name] = queries[name](spark, data_dir).toPandas()
            except Exception as exc:
                raised[name] = f"{type(exc).__name__}: {exc}"[:300]
            first_s[name] = time.time() - t
        setup_s = time.time() - T_PROCESS

        def run_plain(name: str, _pass: int) -> None:
            queries[name](spark, data_dir).write.format("noop").mode("overwrite").save()

        ticks0 = harness.cpu_ticks()
        window = harness.run_window(ops, run_plain, a.seed, a.seconds)
        traced = None
        if a.trace:
            tracer = Tracer()
            n_wrapped = tracer.install()

            def run_traced(name: str, _pass: int) -> None:
                tracer.op = name
                with tracer.span("plans.build", "plans"):
                    df = queries[name](spark, data_dir)
                with tracer.span("catalyst.plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("engine.execute", "execute"):
                    df.write.format("noop").mode("overwrite").save()

            tracer.enabled = True
            traced = harness.run_window(ops, run_traced, a.seed, a.seconds)
            tracer.enabled = False
            tracer.uninstall()
            progress.drain()
        host = harness.cpu_shares(ticks0, harness.cpu_ticks())

        t0 = time.time()
        from verify import check_results

        mismatches = check_results(ROOT, data_dir, results, oracles)
        mismatches.update(raised)
        verify_s = time.time() - t0

        e2e, lat, attempted, failed = harness.window_metrics(window, setup_s, set(mismatches))
        cores = spark.sparkContext.defaultParallelism
        spark_version = spark.version
        spark.stop()
        _stop_gateway(SparkContext)

        self.record = {
            "workload": self.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "sf": SF,
            "host": {
                "nproc": os.cpu_count(),
                "cores": cores,
                "steal_pct": host["steal_pct"],
                "busy_pct": host["busy_pct"],
                "commit": _commit(),
                "spark_version": spark_version,
                "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
            },
            "ops": ops,
            "error_rate": failed / attempted if attempted else 0.0,
            "attempted": attempted,
            "failed": failed,
            "latency_samples": lat,
            "mismatches": mismatches,
            "setup": {
                "session_s": session_s,
                "warmups_s": warm_s,
                "untimed_pass_s": first_s,
                "setup_s": setup_s,
            },
            "window": {
                "seconds": window.seconds,
                "passes": window.passes,
                "samples": [
                    [s.op, s.pass_no, round(s.latency, 6), s.ok] for s in window.samples
                ],
                "errors": {s.op: s.error for s in window.samples if not s.ok},
            },
            "harness": {"verify_s": verify_s},
        }
        values = None
        if traced is not None:
            from layers import per_layer

            thr_plain = _op_throughput(window)
            thr_traced = _op_throughput(traced)
            values, per_op = per_layer(
                traced,
                tracer.spans,
                log_dir,
                progress.in_window(traced.start, traced.end),
                cores,
            )
            values.update(
                {
                    "session.start_s": session_s,
                    "plans.warmup_s": warmup_s,
                    "host.steal_pct": host["steal_pct"],
                    "host.busy_pct": host["busy_pct"],
                    "harness.tmp_leak_mb": 0.0,  # measured at exit
                    "harness.verify_s": verify_s,
                    "harness.trace_overhead": thr_traced / thr_plain if thr_plain else 0.0,
                }
            )
            self.record["per_op"] = per_op
            self.record["traced_functions"] = n_wrapped
        fields, metrics = harness.metric_fields(e2e, values)
        self.record.update(fields)
        self.result = harness.result_line(set(mismatches), attempted, failed, metrics)


def _op_throughput(window) -> float:
    return sum(1 for s in window.samples if s.ok) / window.seconds


def _stop_gateway(SparkContext) -> None:
    """Shut the JVM down and wait for it, so no process outlives the run."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "session.py").is_file() or not (
        ROOT / "tests" / "diffcheck.py"
    ).is_file():
        print(
            f"perfbench: {ROOT} does not hold the engine ({PACKAGE}/) and "
            "its oracle helper (tests/diffcheck.py); run from a checkout",
            file=sys.stderr,
        )
        return 2
    run = Run(args)
    # registered before the engine is imported, so it runs after the
    # engine's own exit handlers have swept their scratch directories
    atexit.register(run.finish)
    run.execute()
    return 0


if __name__ == "__main__":
    sys.exit(main())
