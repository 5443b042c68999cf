"""Checkpoint/resume: kill after round k, rerun, identical final state.

Simulates the kill by deleting every committed round manifest (and round
data) after round k — exactly what a crash mid-round leaves behind: the
last manifest wins, later partial writes are orphans the rerun overwrites.
"""

import shutil

from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from webcrawler_spark.storage import RoundStore


def _collect_state(spark, result):
    order = sorted(
        (r["round"], r["url"]) for r in result.order(spark).collect()
    )
    seen = {
        r["url_sha1"]: (r["url"], r["first_round"])
        for r in result.seen(spark).collect()
    }
    items = sorted(
        (r["round"], r["url"], r["kind"]) for r in result.items(spark).collect()
    )
    return order, seen, items


def test_kill_after_round_k_resume(spark, fixture_web, tmp_path):
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=8,
                      parsers="combined")

    # reference run
    full_dir = str(tmp_path / "full")
    full = run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=full_dir)
    want = _collect_state(spark, full)
    assert full.rounds >= 3  # needs something to kill

    # run, then "kill" by dropping rounds > k
    crash_dir = str(tmp_path / "crash")
    run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=crash_dir)
    store = RoundStore(crash_dir)
    k = 1
    import os
    for rnd in store.committed_rounds():
        if rnd > k:
            os.remove(os.path.join(store.manifest_dir, f"round_{rnd}.json"))
            shutil.rmtree(os.path.join(store.rounds_dir, f"r={rnd}"),
                          ignore_errors=True)
    # un-done the surviving round (a crash would never have marked done)
    m = store.manifest(k)
    assert store.last_committed() == k
    if m.get("done"):
        m["done"] = False
        import json
        with open(os.path.join(store.manifest_dir, f"round_{k}.json"), "w") as f:
            json.dump(m, f)

    resumed = run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=crash_dir,
                        resume=True)
    got = _collect_state(spark, resumed)
    assert got == want

    # --- ordered final export: produced exactly once, byte-stable ---
    import glob

    def export_bytes(d):
        store_ = RoundStore(d)
        files = sorted(glob.glob(os.path.join(store_.export_path(), "part-*")))
        assert len(files) == 1, files  # ONE ordered artifact
        with open(files[0], "rb") as f:
            return f.read()

    full_bytes = export_bytes(full_dir)
    assert export_bytes(crash_dir) == full_bytes
    # export content = items union ordered by (round, url), with file_path
    exp = RoundStore(full_dir).read_export(spark)
    rows = exp.select("round", "url", "kind", "file_path").collect()
    keys = [(r["round"], r["url"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        if r["kind"] == "img":
            assert r["file_path"].startswith("pictures/")
        else:
            assert r["file_path"] is None


def test_resume_on_done_store_is_noop(spark, fixture_web, tmp_path):
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=1, max_rounds=4,
                      parsers="bm1365")
    d = str(tmp_path / "done")
    first = run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=d)
    again = run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=d, resume=True)
    assert _collect_state(spark, first) == _collect_state(spark, again)


def test_resume_store_without_seen_table_fails_loudly(spark, fixture_web, tmp_path):
    """A store with committed rounds but no seen table in its
    _store_meta.json (written before the seen table existed) must not
    resume: a fresh table would read EMPTY and re-admit every crawled URL."""
    import os

    import pytest

    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=1, max_rounds=4,
                      parsers="bm1365")
    d = str(tmp_path / "no_seen_table")
    run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=d)
    os.remove(RoundStore(d)._meta_path())
    with pytest.raises(ValueError, match="no seen table"):
        run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=d, resume=True)
