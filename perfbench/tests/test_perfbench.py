"""Checks of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider

The stream tests need no Spark session; the tree test runs one short
benchmark per workload (about a minute each on 4 cores).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sql_names() -> tuple[str, ...]:
    from witdb_spark.queries import QUERIES

    return tuple(sorted(n for n, s in QUERIES.items() if "sql_text" in s.tags))


def _stream(workload: str, seed: int, passes: int = 3):
    names = _sql_names() if workload == workloads.SQL_PLAN else ()
    return [workloads.pass_ops(workload, seed, i, names) for i in range(passes)]


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_seed_fixes_the_operation_stream(workload):
    assert _stream(workload, 7) == _stream(workload, 7)
    assert _stream(workload, 7) != _stream(workload, 8)


def test_sql_plan_passes_hold_every_registered_text_once():
    names = _sql_names()
    assert len(names) == 121  # 22 TPC-H + 99 TPC-DS texts
    for ops in _stream(workloads.SQL_PLAN, 3):
        assert sorted(op.name for op in ops) == list(names)


def test_exec_mix_is_half_lake_writes_half_lake_reads():
    for ops in _stream(workloads.EXEC_MIX, 3):
        kinds = [op.kind for op in ops]
        assert kinds.count("write") == kinds.count("read") == 4
        assert sorted(op.name for op in ops if op.kind == "query") == sorted(
            workloads.ANALYTICS + workloads.PYOPS
        )


def test_result_hash_ignores_row_and_column_order():
    a = checks.result_hash(["x", "y"], [(1, 0.5), (2, None)])
    b = checks.result_hash(["y", "x"], [(None, 2), (0.5, 1)])
    assert a == b
    assert a != checks.result_hash(["x", "y"], [(1, 0.5), (2, 0.25)])


#: what a stray Spark session leaves in its working directory
_SPARK_LEFTOVERS = ("derby.log", "metastore_db", "spark-warehouse")


def _tree_state() -> tuple[str, dict]:
    """``git status`` with ignored files listed one by one, minus bytecode
    and the benchmark's generated tables (both persist across runs on
    purpose), plus the size and mtime of every file and directory under the
    paths a stray Spark session writes to: those are ignored by git (which
    lists no empty directory either), and may already exist from other
    tools, so their listing alone would not show a write."""
    status = subprocess.run(
        ["git", "status", "--porcelain", "--ignored=matching",
         "--untracked-files=all"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    keep = [
        line for line in status
        if "__pycache__/" not in line
        and not line[3:].startswith(".bench_build/perfbench/data/")
    ]
    stamps = {}
    for name in _SPARK_LEFTOVERS:
        top = os.path.join(ROOT, name)
        if not os.path.exists(top):
            continue
        paths = [top]
        for parent, dirs, files in os.walk(top):
            paths += [os.path.join(parent, n) for n in dirs + files]
        for path in paths:
            st = os.stat(path)
            stamps[os.path.relpath(path, ROOT)] = (st.st_size, st.st_mtime_ns)
    return "\n".join(keep), stamps


@pytest.mark.skipif(
    shutil.which("git") is None or not os.path.isdir(os.path.join(ROOT, ".git")),
    reason="needs a git checkout",
)
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_a_run_leaves_the_tree_untouched(workload):
    before = _tree_state()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert _tree_state() == before
    # the per-run temp dir (warehouse, local dirs, tables) is gone
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    assert [d for d in os.listdir(work) if d.startswith("run-")] == []
