"""Self-test of the benchmark's answer checking.

    python3 perfbench/selftest.py

First the comparison alone: numbers match after casting, a changed value
or a missing row does not.  Then one short ``lookup`` run in which the
DuckDB answer to the first query is planted wrong: the run must report
that one operation as failed and the run as incorrect, and go on with
the rest.  Exits 0 when both hold.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import oracle  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import run_workload  # noqa: E402


def check_comparison() -> None:
    assert oracle.same_rows([("orders:1", "2247.58")], [("orders:1", 2247.58)])
    assert oracle.same_rows([("a", "1"), ("b", "2")], [("b", 2), ("a", 1)])
    assert not oracle.same_rows([("a", "2247.58")], [("a", 2247.59)])
    assert not oracle.same_rows([("a", "1")], [("a", 1), ("b", 2)])
    assert not oracle.same_rows([("a", 1), ("b", 2)], [("b", 2), ("a", 1)], ordered=True)


def check_planted_answer() -> None:
    real_rows = oracle.Oracle.rows
    planted = []

    def rows(self, sql):
        out = real_rows(self, sql)
        if not planted:
            planted.append(sql)
            out = out + [("planted", 0)]
        return out

    oracle.Oracle.rows = rows
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="selftest-", dir=out_dir)
    try:
        run = run_workload("lookup", work_dir, seed=1, seconds=0.1, tracer=Tracer(False))
    finally:
        oracle.Oracle.rows = real_rows
        shutil.rmtree(work_dir, ignore_errors=True)
    assert planted, "no answer was planted"
    assert run.failed == 1, f"planted wrong answer not counted: failed={run.failed}"
    assert run.correct is False, "planted wrong answer left the run correct"
    assert run.attempted > 1, "the run stopped at the planted answer"


def main() -> int:
    check_comparison()
    check_planted_answer()
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
