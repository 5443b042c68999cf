"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 crawlbench/run.py --workload crawl|frontier --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The engine runs in a worker process
(``worker.py``) on ``local[<cores>]``; this process only starts it, watches
it and prints the result. The workload is a closed loop: one caller, one
call in flight. After an untimed warm-up (where the workload has one),
calls repeat while the next one is expected to end inside ``--seconds``;
at least one call runs. Every call's output is checked against an
independent computation.

Watchdog: every call has a deadline of DEADLINE_FACTOR times the slowest
call this run has completed, warm-up included (at least DEADLINE_FLOOR_S);
a call with none before it gets what is left of RUN_LIMIT_S. A call past
its deadline gets a ``jstack`` of the driver JVM saved beside the run's
log, the worker's process group is killed, and the call counts as failed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Run output (logs, spans, event
log, per-layer table, thread dumps) goes to ``crawlbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_ROOT = os.path.join(HERE, "out")
sys.path.insert(0, ROOT)

from crawlbench.trace import SPARK_COUNTERS, SPARK_LAYERS  # noqa: E402
from crawlbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "3g"            # driver JVM heap; the engine's own default is 8g
RUN_LIMIT_S = 170.0          # the whole run, warm-up and teardown included
DEADLINE_FLOOR_S = 5.0
DEADLINE_FACTOR = 4.0
KILL_RESERVE_S = 12.0        # kept back for jstack + kill + report

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "urls_per_s": "1/s",
    "round_s_p50": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "fixtures.input_s": "s",
    "trace.overhead_s": "s",
    "plans.crawl.rounds": "count",
    "plans.crawl.run_s": "s",
    "plans.crawl.jobs_per_round": "count",
    "plans.crawl.stages_per_round": "count",
    "plans.crawl.driver_self_s": "s",
    "plans.crawl.between_commit_jobs": "count",
    "plans.crawl.export_s": "s",
    "storage.commit_s": "s",
    "storage.commit_jobs": "count",
    "storage.datasets_per_commit": "count",
    "storage.seen_insert_s": "s",
    "storage.compactions": "count",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.seen_keys": "count",
    "operators.admission.s": "s",
    "operators.admission.rows_in": "count",
    "operators.admission.rows_admitted": "count",
    "operators.admission.admit_ratio": "ratio",
    "operators.admission.seen_dropped": "count",
    "operators.admission.udf_share": "ratio",
    "operators.politeness.s": "s",
    "operators.politeness.fetch_now": "count",
    "operators.politeness.deferred": "count",
    "operators.politeness.salted": "count",
    "operators.politeness.top_host_share": "ratio",
    "functions.html.parse_s": "s",
    "functions.html.pages": "count",
    "functions.html.links": "count",
    "functions.html.errors": "count",
}
PER_LAYER.update(
    (f"spark.{layer}.{key}", unit)
    for layer in SPARK_LAYERS for key, unit in SPARK_COUNTERS.items()
)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait up to ``grace_s`` for the worker, then kill its whole process
    group (JVM and Python workers included) and wait until all are gone."""
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.time() + 30
    while _group_alive(proc.pid) and time.time() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    if proc.poll() is None:
        proc.wait()


def _thread_dump(worker_pid: int, path: str) -> None:
    from crawlbench.worker import driver_jvm_pid

    jvm = driver_jvm_pid(worker_pid)
    jstack = shutil.which("jstack") or "/usr/bin/jstack"
    with open(path, "w") as f:
        if jvm is None:
            f.write(f"no driver JVM under worker pid {worker_pid}\n")
            return
        try:
            subprocess.run([jstack, str(jvm)], stdout=f, stderr=subprocess.STDOUT,
                           timeout=KILL_RESERVE_S - 4, check=False)
        except subprocess.TimeoutExpired:
            f.write("\njstack timed out\n")


class Run:
    """Starts the worker, enforces the deadlines, collects its events."""

    def __init__(self, args, out_dir: str, worker_cmd: list[str] | None = None):
        self.args = args
        self.out_dir = out_dir
        self.worker_cmd = worker_cmd
        self.events: list[dict] = []
        self.ready_at: float | None = None
        self.hung: list[int] = []
        self.error: str | None = None

    def start(self) -> subprocess.Popen:
        env = dict(os.environ)
        env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
        env["SPARK_GRAFT_CPUS"] = str(cpu_count())
        env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        env["TMPDIR"] = os.path.join(self.out_dir, "tmp")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.t_spawn = time.time()
        opts = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "out_dir": self.out_dir, "cache_dir": os.path.join(OUT_ROOT, "cache"),
            "root": ROOT, "t_spawn": self.t_spawn,
        }
        cmd = self.worker_cmd or [sys.executable, "-m", "crawlbench.worker"]
        self.log = open(os.path.join(self.out_dir, "worker.log"), "w")
        return subprocess.Popen(
            cmd + [json.dumps(opts)], cwd=ROOT, env=env, stdout=subprocess.PIPE,
            stderr=self.log, stdin=subprocess.DEVNULL, start_new_session=True,
        )

    def watch(self, proc: subprocess.Popen) -> None:
        run_end = self.t_spawn + RUN_LIMIT_S - KILL_RESERVE_S
        buf = b""
        in_flight: tuple[int, float] | None = None   # (call index, deadline)
        call_start: dict[int, float] = {}
        slowest = 0.0
        fd = proc.stdout.fileno()
        while True:
            now = time.time()
            deadline = run_end if in_flight is None else min(run_end, in_flight[1])
            if now >= deadline:
                call = in_flight[0] if in_flight else -1
                self.hung.append(call)
                _thread_dump(proc.pid, os.path.join(self.out_dir, f"jstack-call{call}.txt"))
                _stop_group(proc, 0)
                return
            ready, _, _ = select.select([fd], [], [], min(1.0, deadline - now))
            if not ready:
                continue
            chunk = os.read(fd, 65536)
            if not chunk:
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                ev = json.loads(line)
                self.events.append(ev)
                t = time.time()
                if ev["ev"] == "call_start":
                    call_start[ev["i"]] = t
                    in_flight = (ev["i"], run_end if not slowest else min(
                        run_end, t + max(DEADLINE_FLOOR_S, DEADLINE_FACTOR * slowest)))
                elif ev["ev"] == "call_end":
                    if ev.get("ran", True):
                        slowest = max(slowest, t - call_start.get(ev["i"], t))
                    in_flight = None
                elif ev["ev"] == "phase" and ev["name"] == "ready":
                    self.ready_at = t
        _stop_group(proc, max(1.0, run_end - time.time()))
        if proc.returncode != 0 and not any(e["ev"] == "done" for e in self.events):
            self.error = f"worker exited with code {proc.returncode}"


def _walls_log(workload: str) -> str:
    return os.path.join(OUT_ROOT, f"untraced-walls-{workload}.jsonl")


def summarize(run: Run, trace: bool) -> dict:
    """The result line. An untraced run also records its median call wall,
    which traced runs compare against for trace.overhead_s."""
    ends = [e for e in run.events if e["ev"] == "call_end" and e["timed"]]
    ok = [e for e in ends if e["ok"]]
    walls = [e["wall_s"] for e in ok]
    attempted = len(ends) + len(run.hung)
    failed = attempted - len(ok)
    metrics: dict[str, dict] = {}
    if trace:
        layers = next((e["values"] for e in run.events if e["ev"] == "layers"), {})
        if walls and os.path.exists(_walls_log(run.args.workload)):
            with open(_walls_log(run.args.workload)) as f:
                untraced = [json.loads(line)["wall_s"] for line in f]
            layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(untraced)
        for name, unit in PER_LAYER.items():
            metrics[name] = {"value": layers.get(name, 0), "unit": unit}
    else:
        measured = next((e for e in run.events if e["ev"] == "measured"), {})
        values = {
            "setup_s": run.ready_at - run.t_spawn if run.ready_at else 0.0,
            "wall_s": statistics.median(walls) if walls else 0.0,
            "pages_per_s": statistics.median(e["pages"] / e["wall_s"] for e in ok) if ok else 0.0,
            "urls_per_s": statistics.median(e["urls"] / e["wall_s"] for e in ok) if ok else 0.0,
            "round_s_p50": statistics.median(r for e in ok for r in e["rounds_s"]) if ok else 0.0,
            "peak_rss_mb": measured.get("peak_rss_mb", 0.0),
            "success_rate": len(ok) / attempted if attempted else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        if walls and not failed:
            with open(_walls_log(run.args.workload), "a") as f:
                f.write(json.dumps({"seed": run.args.seed, "wall_s": statistics.median(walls)}) + "\n")
    return {
        "correct": failed == 0 and attempted > 0 and run.error is None,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": metrics,
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None, worker_cmd: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "webcrawler_spark")):
        print(f"crawlbench: no webcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(
        OUT_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    )
    os.makedirs(os.path.join(OUT_ROOT, "cache"), exist_ok=True)
    os.makedirs(out_dir)
    run = Run(args, out_dir, worker_cmd)
    proc = run.start()
    try:
        run.watch(proc)
    finally:
        _stop_group(proc, 5)
        run.log.close()
    if run.error and not run.events:
        print(f"crawlbench: {run.error}; see {out_dir}/worker.log", file=sys.stderr)
        return 1
    result = summarize(run, bool(args.trace))
    for sub in ("work", "local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
