"""Compare the per-layer metrics of two traced benchmark records.

    python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are record files written by ``run.py --trace 1`` (under
``.perfbench/records/``) or captures of its standard output; a file may hold
several records, one per workload.  For every workload present in both,
each per-layer metric is printed with its base value, the new value, the
change, and the change as a share of the base.
"""

from __future__ import annotations

import json
import math
import sys


def load_records(path: str) -> dict[str, dict]:
    """workload -> the last traced record for it in ``path``."""
    with open(path) as fh:
        text = fh.read()
    try:
        objs = [json.loads(text)]
    except json.JSONDecodeError:
        objs = [json.loads(line) for line in text.splitlines() if line.startswith("{")]
    return {o["workload"]: o for o in objs if "workload" in o and "per_layer" in o}


def diff_rows(base: dict, new: dict) -> list[tuple]:
    """(metric, unit, base, new, change, change share of base) rows."""
    rows = []
    for name, b in base["per_layer"].items():
        n = new["per_layer"].get(name)
        if n is None:
            continue
        bv, nv = b["value"], n["value"]
        share = (nv - bv) / bv if bv else (0.0 if nv == bv else math.inf)
        rows.append((name, b["unit"], bv, nv, nv - bv, share))
    return rows


def render(base: dict[str, dict], new: dict[str, dict]) -> str:
    lines = []
    for workload in sorted(set(base) & set(new)):
        b, n = base[workload], new[workload]
        lines.append(
            f"== {workload}  (base seed {b.get('seed')}, commit {b.get('host', {}).get('commit')}; "
            f"new seed {n.get('seed')}, commit {n.get('host', {}).get('commit')})"
        )
        lines.append(f"{'metric':32} {'unit':9} {'base':>12} {'new':>12} {'change':>12} {'of base':>9}")
        for name, unit, bv, nv, d, share in diff_rows(b, n):
            pct = "n/a" if math.isinf(share) else f"{100 * share:+.1f}%"
            lines.append(f"{name:32} {unit:9} {bv:12.4g} {nv:12.4g} {d:+12.4g} {pct:>9}")
    for workload in sorted(set(base) ^ set(new)):
        lines.append(f"== {workload}: only in {'base' if workload in base else 'new'}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load_records(p) for p in argv)
    if not base or not new:
        print("layerdiff: no traced record found in an input", file=sys.stderr)
        return 1
    print(render(base, new))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
