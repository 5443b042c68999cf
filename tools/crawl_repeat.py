"""Repeat harness for the round commit: many short crawls, each with a
deadline, to show the commit neither hangs nor varies from run to run.

Each crawl runs in a fresh process (fresh JVM) on the 2000-page fixture web
with the bench crawl config (max_depth=3, robots + budgets), rounds 0-1,
alternating local[4] and local[8]. A crawl that outlives its deadline gets
a `jstack` of its driver JVM saved next to the result file, then is killed
and counted as a hang. Every finished crawl must produce the same crawl
order and per-round metrics.

Usage: python tools/crawl_repeat.py [--crawls 30] [--deadline 300]
Writes tools/crawl_repeat_result.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
MASTERS = ("local[4]", "local[8]")


def child(master: str, web: str, ckpt: str) -> None:
    """One crawl; prints a RESULT line."""
    sys.path.insert(0, str(REPO))
    from webcrawler_spark import fixtures
    from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
    from webcrawler_spark.session import get_spark

    spark = get_spark("crawl-repeat", master=master,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    read = spark.read.parquet
    robots = read(f"{web}/robots.parquet")
    t0 = time.time()
    res = run_crawl(
        spark, read(f"{web}/pages.parquet"), read(f"{web}/seeds.parquet"),
        CrawlConfig(whitelist=fixtures.WHITELIST, max_depth=3, max_rounds=1),
        checkpoint_dir=ckpt,
        budgets=robots.select("host", "budget_per_round"),
        robots=robots.select("host", "disallow_prefixes"),
    )
    wall = time.time() - t0
    order = sorted((r["round"], r["url"]) for r in res.order(spark).collect())
    keys = ("round", "candidates", "admitted", "fetched", "items", "errors", "deferred")
    spark.stop()
    print("RESULT " + json.dumps({
        "wall_s": round(wall, 3),
        "order_sha1": hashlib.sha1(json.dumps(order).encode()).hexdigest(),
        "metrics": [{k: m[k] for k in keys} for m in res.metrics],
    }))


def _jstack(session: int, dest: Path) -> str | None:
    """jstack of the driver JVM in process session ``session``, saved to ``dest``."""
    pids = subprocess.run(["pgrep", "-s", str(session), "java"],
                          capture_output=True, text=True).stdout.split()
    if not pids:
        return None
    dump = subprocess.run(["jstack", pids[0]], capture_output=True, text=True, timeout=120)
    dest.write_text(dump.stdout + dump.stderr)
    return dest.name


def run_one(i: int, master: str, web: str, work: str, deadline: float, out_dir: Path) -> dict:
    ckpt = os.path.join(work, f"ckpt-{i}")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.Popen(
        [sys.executable, __file__, "--child", master, web, ckpt],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True, env=env, cwd=str(REPO),
    )
    t0 = time.time()
    rec: dict = {"crawl": i, "master": master}
    try:
        stdout, stderr = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        try:
            rec.update(status="hang",
                       jstack=_jstack(proc.pid, out_dir / f"crawl_repeat_jstack_{i}.txt"))
        finally:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
    else:
        line = next((s for s in stdout.splitlines() if s.startswith("RESULT ")), None)
        if line is None:
            rec.update(status="error", stderr_tail=stderr[-2000:])
        else:
            rec.update(status="ok", **json.loads(line[len("RESULT "):]))
    rec["process_s"] = round(time.time() - t0, 3)
    shutil.rmtree(ckpt, ignore_errors=True)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawls", type=int, default=30)
    ap.add_argument("--deadline", type=float, default=300.0,
                    help="seconds per crawl process, JVM start included")
    ap.add_argument("--out", default=str(REPO / "tools" / "crawl_repeat_result.json"))
    args = ap.parse_args()

    sys.path.insert(0, str(REPO))
    from webcrawler_spark import fixtures

    out = Path(args.out)
    work = tempfile.mkdtemp(prefix="crawl_repeat_")
    try:
        web = os.path.join(work, "web")
        fixtures.write_parquet(web, n_pages=2000, seed=42)
        runs = []
        for i in range(args.crawls):
            rec = run_one(i, MASTERS[i % 2], web, work, args.deadline, out.parent)
            runs.append(rec)
            print(json.dumps({k: rec.get(k) for k in ("crawl", "master", "status", "wall_s")}),
                  flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ok = [r for r in runs if r["status"] == "ok"]
    outputs = {(r["order_sha1"], json.dumps(r["metrics"])) for r in ok}
    summary = {
        "crawls": len(runs),
        "ok": len(ok),
        "hangs": sum(r["status"] == "hang" for r in runs),
        "errors": sum(r["status"] == "error" for r in runs),
        "distinct_outputs": len(outputs),
        "deadline_s": args.deadline,
        "wall_s_by_master": {
            m: sorted(r["wall_s"] for r in ok if r["master"] == m) for m in MASTERS
        },
    }
    runs_json = ",\n  ".join(json.dumps(r) for r in runs)
    out.write_text(f'{{"summary": {json.dumps(summary)},\n "runs": [\n  {runs_json}\n ]}}\n')
    print(json.dumps(summary))
    return 0 if summary["ok"] == len(runs) and len(outputs) == 1 else 1


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--child":
        child(*sys.argv[2:])
    else:
        raise SystemExit(main())
