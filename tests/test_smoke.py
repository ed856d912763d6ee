"""Entry-contract smoke tests."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _load(path: Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_entry():
    return _load(ROOT / "__spark_entry__.py", "spark_entry")


@pytest.mark.parametrize(
    "script",
    [
        "bench.py",
        "tools_bench_scale.py",
        "tools_dump_plans.py",
        "tools_gen_sf1.py",
    ],
)
def test_top_level_script_imports(script):
    # loading runs every module-level import (tools_bench_scale pulls
    # helpers out of bench) without running main
    mod = _load(ROOT / script, f"script_{Path(script).stem}")
    assert callable(mod.main)


def test_entry_returns_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_queries_and_oracles_aligned():
    mod = _load_entry()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs)


def test_blas_limiter_caps_loaded_openblas():
    """limit_blas_threads must cap the ALREADY-LOADED OpenBLAS runtime
    (env vars alone only apply at library load) and be idempotent."""
    import ctypes
    import glob
    import os

    import numpy as np

    from contentwise_impressions_spark.functions import blasctl

    blasctl._DONE = False  # force a fresh run in this process
    blasctl.limit_blas_threads()
    blasctl.limit_blas_threads()  # idempotent second call
    assert os.environ.get("OPENBLAS_NUM_THREADS") == "1"
    libs = []
    for d in np.__path__:
        libs += glob.glob(
            os.path.join(os.path.dirname(d), "numpy.libs", "*openblas*")
        )
    if libs:  # runtime check only where the bundled lib is present
        h = ctypes.CDLL(libs[0])
        getter = getattr(
            h, "openblas_get_num_threads64_", None
        ) or getattr(h, "openblas_get_num_threads", None)
        if getter is not None:
            assert getter() == 1
