"""Partition sizing: how many tasks a Python Arrow kernel grid, a row
exchange or a short-lived streaming state store gets.

One rule, sized by the work and not by the core count:

- **Row exchanges** (top-k merge windows, state stores, footer-sized
  repartitions): ``ceil(rows / ROWS_PER_TASK)``, floor 2
  (:func:`width_for_rows`).
- **Kernel grids** (blocked GEMM / top-k tasks): ``min(groups,
  TASKS_PER_CORE × cores, ceil(work / WORK_PER_TASK))``, floor 1
  (:func:`kernel_tasks`), where ``work`` is the number of score-matrix
  cells (probe × candidate pairs) the grid computes and ``groups`` the
  number of distinct task keys.  The core count caps the width only once
  the work fills the cores; below that every task carries at least
  ``WORK_PER_TASK`` cells, so a small input runs as one or two tasks
  instead of a core-count-sized grid of near-empty ones.
- **Block counts** of square (B²) and triangular (B·(B+1)/2) grids
  follow from that task count: the smallest B whose grid has at least
  that many tasks, raised to ``ceil(n / block_rows)`` so a block never
  holds more than ``block_rows`` rows (the per-task memory cap)
  (:func:`grid_blocks`).

Every kernel sized here is exact under any decomposition, so these
widths move only task counts, never results.  Code under ``operators/``
reads the session's core count only through :func:`cores`
(tests/test_sizing.py lints it).
"""

from __future__ import annotations

#: rows per task of a row exchange.  Quiet-host A/B at sf0.1 put the
#: top-k merge optimum near 25-30k rows/task (a 100k-row merge: 1.15 s at
#: a 64-partition width, 0.29 s at 4; 60k rows: 2.16 s -> 0.87 s at 2).
ROWS_PER_TASK = 1 << 15

#: score-matrix cells one kernel task must carry to pay for itself.
#: Measured on a 4-core host: a trivial ``applyInPandas`` took 0.72 s over
#: 15 groups and 0.31 s over 1, so each Python group-task costs ~30 ms;
#: the ANN and SQ8 block kernels score ~32-36 ns/cell at 1024-2048-row
#: blocks (d=64), so 2^20 cells (~35 ms) is about one task's overhead.
WORK_PER_TASK = 1 << 20

#: tasks per core once the work fills the cores: over-decomposition keeps
#: every core busy through the last wave (measured 2.5x faster than an
#: exact-fit grid, whose final partial wave straggles).
TASKS_PER_CORE = 3


def cores(spark) -> int:
    """The session's task slots."""
    return max(1, int(spark.sparkContext.defaultParallelism))


def width_for_rows(rows: int | None) -> int | None:
    """Partition count for an explicit repartition over ~``rows`` rows:
    ceil(rows / ROWS_PER_TASK), floor 2.  None when the row count is
    unknown (the caller keeps the planner's default width)."""
    if rows is None:
        return None
    return max(2, -(-int(rows) // ROWS_PER_TASK))


def kernel_tasks(n_cores: int, groups: int, work: int) -> int:
    """Task count of a kernel grid with ``groups`` distinct task keys
    computing ``work`` score cells on ``n_cores`` task slots."""
    return max(
        1,
        min(
            int(groups),
            TASKS_PER_CORE * int(n_cores),
            -(-int(work) // WORK_PER_TASK),
        ),
    )


def grid_groups(n_blk: int, triangular: bool = False) -> int:
    """Tasks of an n_blk-block grid: n_blk² (square) or n_blk·(n_blk+1)/2
    (triangular: symmetric kernels compute each block pair once)."""
    return n_blk * (n_blk + 1) // 2 if triangular else n_blk * n_blk


def grid_blocks(
    n: int,
    n_cores: int,
    block_rows: int = 4096,
    min_blocks: int | None = None,
    triangular: bool = False,
) -> int:
    """Block count of the grid over ``n`` rows.  Its work is the grid's
    score cells, which equal its task count at one row per block;
    ``min_blocks`` overrides the work-derived floor."""
    if min_blocks is None:
        cells = grid_groups(int(n), triangular)
        tasks = kernel_tasks(n_cores, cells, cells)
        min_blocks = 1
        while grid_groups(min_blocks, triangular) < tasks:
            min_blocks += 1
    return max(min_blocks, -(-int(n) // block_rows))
