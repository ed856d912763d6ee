"""The partition-sizing rule (contentwise_impressions_spark/sizing.py) —
pure arithmetic, no Spark session — and the lint that keeps the
operators' core-count reads inside it."""

from __future__ import annotations

import math
from pathlib import Path

import pytest

from contentwise_impressions_spark import sizing

OPERATORS = Path(sizing.__file__).resolve().parent / "operators"


def _parent_triangular(n: int, par: int, block_rows: int = 4096) -> int:
    """Block count of the former per-site rule: ≈3× the core count of
    triangular tasks, or n / block_rows."""
    floor = max(2, math.ceil((math.sqrt(1.0 + 24.0 * par) - 1.0) / 2.0))
    return max(floor, math.ceil(n / block_rows))


def _parent_square(n: int, par: int, block_rows: int = 4096) -> int:
    return max(max(2, math.ceil(math.sqrt(3.0 * par))), math.ceil(n / block_rows))


def test_tiny_work_runs_as_one_task():
    for cores in (1, 4, 32):
        assert sizing.kernel_tasks(cores, groups=64, work=1) == 1
        assert sizing.kernel_tasks(cores, groups=64, work=0) == 1
        for tri in (False, True):
            # the 150-user KNN and the 6-row unit inputs fit one block
            for n in (0, 1, 6, 150, 200):
                assert sizing.grid_blocks(n, cores, triangular=tri) == 1


@pytest.mark.parametrize("cores", [1, 2, 4, 8, 32])
def test_tasks_bounded_by_groups_and_cores(cores):
    for groups in (1, 3, 15, 100, 10_000):
        for work in (1, sizing.WORK_PER_TASK, 5 * sizing.WORK_PER_TASK, 10**12):
            t = sizing.kernel_tasks(cores, groups, work)
            assert 1 <= t <= groups
            assert t <= sizing.TASKS_PER_CORE * cores
            # below the core cap each task carries >= WORK_PER_TASK cells
            if t < min(groups, sizing.TASKS_PER_CORE * cores):
                assert t == max(1, -(-work // sizing.WORK_PER_TASK))


@pytest.mark.parametrize("tri", [False, True])
@pytest.mark.parametrize("block_rows", [2, 16, 1024, 4096])
def test_no_block_exceeds_block_rows(tri, block_rows):
    for cores in (1, 4, 32):
        for n in (1, 7, 150, 2000, 20_000, 200_000):
            b = sizing.grid_blocks(n, cores, block_rows, triangular=tri)
            assert -(-n // b) <= block_rows
            # an explicit floor still wins
            assert sizing.grid_blocks(n, cores, block_rows, 5, tri) >= 5


def test_grid_covers_the_task_count():
    # the block count is the smallest grid with at least the task count
    for cores in (1, 4, 32):
        for n in (1500, 2000, 20_000):
            for tri in (False, True):
                cells = sizing.grid_groups(n, tri)
                t = sizing.kernel_tasks(cores, cells, cells)
                b = sizing.grid_blocks(n, cores, 1 << 30, triangular=tri)
                assert sizing.grid_groups(b, tri) >= t
                assert b == 1 or sizing.grid_groups(b - 1, tri) < t


@pytest.mark.parametrize("cores", [4, 8, 32])
def test_large_geometries_keep_the_parent_block_counts(cores):
    # itemcbf/cfcbf (triangular over parts): 20k items at sf0.1, 200k at
    # sf1; the flat ANN grids (square over embeddings): 20k vectors at sf1
    for n in (20_000, 200_000, 1_000_000):
        assert sizing.grid_blocks(n, cores, triangular=True) == (
            _parent_triangular(n, cores)
        )
    for n in (20_000, 200_000):
        assert sizing.grid_blocks(n, cores) == _parent_square(n, cores)


def test_width_for_rows():
    assert sizing.width_for_rows(None) is None
    assert sizing.width_for_rows(0) == 2
    assert sizing.width_for_rows(10_000) == 2  # sf0.01 events
    assert sizing.width_for_rows(100_000) == 4  # sf0.1 events
    assert sizing.width_for_rows(5 * sizing.ROWS_PER_TASK + 1) == 6


def test_operators_read_core_count_only_through_sizing():
    offenders = [
        str(p.relative_to(OPERATORS.parent))
        for p in sorted(OPERATORS.rglob("*.py"))
        if p.name != "sizing.py" and "defaultParallelism" in p.read_text()
    ]
    assert not offenders, offenders
