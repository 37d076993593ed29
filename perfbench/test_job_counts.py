"""The benchmark's own check: per-op Spark job, stage and task counts
repeat exactly between two traced runs of the same code and seed.

    python3 -m pytest perfbench/test_job_counts.py -q

Each traced run writes its per-op counters to ``.perfbench/records/``;
the test runs the ``tools`` workload twice and compares every op the
two runs share, keyed by (round, op name).  Takes about three minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(ROOT, ".perfbench", "records", "tools-seed5.json")


def _traced_run() -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tools", "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stdout[-2000:]
    with open(RECORD) as fh:
        ops = json.load(fh)["ops"]
    return {
        (op["round"], op["name"]): tuple(
            op[part].get(k) for part in ("spark", "read_spark")
            for k in ("jobs", "stages", "tasks"))
        for op in ops if op["traced"]
    }


def test_job_counts_repeat_exactly():
    first = _traced_run()
    shutil.copy(RECORD, RECORD + ".first")
    second = _traced_run()
    shared = first.keys() & second.keys()
    assert shared, "no traced op in common"
    diffs = {k: (first[k], second[k]) for k in shared if first[k] != second[k]}
    assert not diffs, diffs
