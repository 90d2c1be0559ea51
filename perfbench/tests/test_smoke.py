"""Smoke test: both workloads at the small size, tracing off and on.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def session_members(sid: int) -> list[int]:
    """Live processes still in the session ``sid``."""
    out = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace, tmp_path):
    # run from another directory: the benchmark must not depend on cwd.
    # In a session of its own, so anything it leaves running can be found,
    # and with output to files: a pipe would wait for every process holding
    # it, the JVM included.
    with open(tmp_path / "out", "w+") as out, open(tmp_path / "err", "w+") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, *SPEC["command"][1:]),
             "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "smoke"],
            cwd=tmp_path, stdout=out, stderr=err, start_new_session=True,
        )
        proc.wait(timeout=600)
        left = session_members(proc.pid)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-3000:]
    assert left == [], "processes left running"
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    # a checkout holding only the benchmark: it must fail, printing nothing
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scene_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
