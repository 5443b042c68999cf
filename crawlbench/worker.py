"""Benchmark worker: owns the SparkSession and runs one workload.

Started by ``run.py`` in its own process group, so the watchdog can take a
thread dump of the driver JVM and kill the whole group when a call hangs.
Reports progress as JSON lines on the pipe that was its stdout; its own
stdout and stderr (and the JVM's) go to the run's log file.

Events: ``phase`` (setup steps), ``call_start`` / ``call_end`` (one per
call; call 0 is the untimed warm-up), ``measured`` (peak RSS), ``layers``
(traced runs) and ``done``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def driver_jvm_pid(pid: int) -> int | None:
    for c in _child_pids(pid):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    return c
        except OSError:
            continue
    return None


def main(opts: dict) -> int:
    events = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    def emit(**kw) -> None:
        line = json.dumps(kw)
        events.write(line + "\n")
        print(f"crawlbench {time.time():.3f} {line[:300]}", file=sys.stderr, flush=True)

    out_dir = opts["out_dir"]
    trace = bool(opts["trace"])
    for sub in ("local", "tmp", "warehouse", "work", "events"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)

    from crawlbench import trace as tr
    from crawlbench.workloads import WORKLOADS, CheckFailed, expected, write_inputs

    # inputs and expected outputs are pure Python: make them in helper
    # processes while this one starts the JVM, so the worker's peak RSS is
    # the engine's driver side only
    cls = WORKLOADS[opts["workload"]]
    workdir = os.path.join(out_dir, "work")
    pool = ProcessPoolExecutor(2, mp_context=multiprocessing.get_context("spawn"))
    inputs_f = pool.submit(write_inputs, cls, opts["seed"], workdir)
    expected_f = pool.submit(expected, cls, opts["seed"], opts["cache_dir"], opts["root"])

    tracer = tr.Tracer(run_id=os.path.basename(out_dir))
    tracer.enabled = trace
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(out_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(out_dir, "events")
        conf["spark.eventLog.compress"] = "false"

    from webcrawler_spark import session

    wl = cls(tracer, opts["seed"], workdir)
    wl.wrap_layers()
    with tracer.span("session.get_spark"):
        spark = session.get_spark("crawlbench", extra_conf=conf)
    tracer.bind(spark.sparkContext)
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = time.time()
    emit(ev="phase", name="session", t=session_ready)
    paths, write_s = inputs_f.result()
    t0 = time.time()
    with tracer.span("fixtures.load_inputs"):
        wl.load_inputs(spark, paths)
    input_s = write_s + time.time() - t0
    emit(ev="phase", name="inputs", s=input_s)

    def run_call(k: int, traced: bool) -> dict:
        emit(ev="call_start", i=k, traced=traced)
        with tracer.span("call"):
            return wl.call(k)

    exp = expected_f.result()
    pool.shutdown()
    wl.prepare(exp)
    t0 = time.time()
    emit(ev="call_start", i=0, traced=False)
    tracer.enabled = False
    ran = wl.warm_up()
    tracer.enabled = trace
    warmup_s = time.time() - t0
    emit(ev="call_end", i=0, ok=True, error=None, traced=False, timed=False, ran=ran)
    emit(ev="phase", name="ready", warmup_s=warmup_s, input_s=input_s,
         session_s=session_ready - opts["t_spawn"])

    def finish_call(k: int, out: dict) -> None:
        ok, err = True, None
        try:
            wl.check(out, exp)
        except CheckFailed as e:
            ok, err = False, str(e)
        wl.cleanup(k)
        emit(ev="call_end", i=k, ok=ok, error=err, traced=trace, timed=True,
             **{key: out[key] for key in ("wall_s", "pages", "urls", "rounds_s")})

    # closed loop: one call in flight; start another only if it should end
    # inside the measured window
    seconds = opts["seconds"]
    t_measure = time.time()
    walls: list[float] = []
    layer_outs: list[tuple[dict, dict]] = []
    k = 1
    while True:
        try:
            out = run_call(k, trace)
        except Exception:  # noqa: BLE001 — a raising call is a failed call
            emit(ev="call_end", i=k, ok=False, error=traceback.format_exc(limit=5),
                 traced=trace, timed=True)
            break
        walls.append(out["wall_s"])
        if trace:
            layer_outs.append((out, wl.traced_layers(out, exp)))
        finish_call(k, out)
        k += 1
        if time.time() - t_measure + statistics.median(walls) > seconds:
            break

    jvm = driver_jvm_pid(os.getpid())
    rss_kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    emit(ev="measured", peak_rss_mb=rss_kb / 1024.0)

    spark.stop()
    tracer.unwrap_all()
    if trace and layer_outs:
        from crawlbench.layers import per_layer

        tracer.write(os.path.join(out_dir, "spans.jsonl"))
        log = tr.read_event_log(tr.find_event_log(os.path.join(out_dir, "events")))
        layers = per_layer(wl, tracer.spans, log, layer_outs)
        layers["session.start_s"] = session_ready - opts["t_spawn"]
        layers["fixtures.input_s"] = input_s
        with open(os.path.join(out_dir, "layers.json"), "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)
        emit(ev="layers", values=layers)
    emit(ev="done")
    return 0


if __name__ == "__main__":
    sys.exit(main(json.loads(sys.argv[1])))
