"""Oracle check of collected op results.

Each op's result, collected once, is compared with its DuckDB oracle from
``plans.registry.all_oracle_sql()`` over the same tables, using the
canonicalization and float tolerance of the repository's differential test
helper ``tests/diffcheck.py`` (loaded from the checkout, not copied).
"""

from __future__ import annotations

import importlib.util
from pathlib import Path


def load_diffcheck(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_diffcheck", root / "tests" / "diffcheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_results(root: Path, data_dir: str, results: dict, oracles: dict) -> dict[str, str]:
    """op name -> mismatch message, for every op whose collected result
    (a pandas frame) differs from its oracle."""
    diffcheck = load_diffcheck(root)
    con = diffcheck.duckdb_conn(data_dir)
    bad: dict[str, str] = {}
    try:
        for name, pdf in sorted(results.items()):
            try:
                diffcheck.assert_frames_match(pdf, con.execute(oracles[name]).df(), name)
            except AssertionError as exc:
                bad[name] = str(exc)[:300]
    finally:
        con.close()
    return bad
