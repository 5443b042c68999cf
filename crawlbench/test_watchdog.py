"""The watchdog turns a hung call into a counted failure.

A stand-in workload, ``stall``, runs inside the real worker: its warm-up
returns at once and its timed call blocks in a Spark job that sleeps,
the way a deadlocked round commit blocks the driver. The run must save a
thread dump of the driver JVM, kill the worker's process group and report
the call as failed — and end well inside the run limit.

    python3 -m pytest crawlbench/test_watchdog.py -q
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

from crawlbench import run
from crawlbench.workloads import WORKLOADS, Workload


class Stall(Workload):
    name = "stall"
    size = "0"

    @staticmethod
    def write_inputs(seed, workdir, cores):
        return {}

    @staticmethod
    def compute_expected(seed, root):
        return {}

    def warm_up(self):
        return True

    def call(self, k):
        self.spark.range(1).rdd.map(lambda x: time.sleep(3600)).count()


STANDIN = """
import json, sys
from crawlbench import worker, workloads
from crawlbench.test_watchdog import Stall
workloads.WORKLOADS["stall"] = Stall
sys.exit(worker.main(json.loads(sys.argv[1])))
"""


def _processes_mentioning(text: str) -> list[int]:
    out = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                if text.encode() in f.read():
                    out.append(int(os.path.basename(d)))
        except OSError:
            continue
    return out


def test_stalled_call_is_killed_dumped_and_counted(capsys, monkeypatch):
    monkeypatch.setitem(WORKLOADS, "stall", Stall)
    seed = 900_000 + os.getpid() % 1000
    t0 = time.time()
    rc = run.main(
        ["--workload", "stall", "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        worker_cmd=[sys.executable, "-c", STANDIN],
    )
    elapsed = time.time() - t0
    assert rc == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] == 1          # the stalled call
    assert result["failed"] == 1
    assert result["metrics"]["success_rate"]["value"] == 0.0
    assert elapsed < run.RUN_LIMIT_S

    (out_dir,) = glob.glob(os.path.join(run.OUT_ROOT, f"stall-s{seed}-t0-*"))
    (dump,) = glob.glob(os.path.join(out_dir, "jstack-call*.txt"))
    with open(dump) as f:
        assert "Full thread dump" in f.read()
    assert _processes_mentioning(out_dir) == []
