"""Round commit order.

The round's persisted frames (admitted, fetch_now, fetched, parsed_all)
share lineage. Built for the first time by the commit's concurrent
writers, they can deadlock on Spark's cache-builder monitors; so the
crawl builds them on the driver thread before the writer pool starts.
The seen-table insert re-caches every cached plan that reads the seen
table, so it runs after the pool joins, and before the manifest rename.
"""

import os

from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from webcrawler_spark.storage import RoundStore


def test_frames_built_before_writes_and_seen_insert_after(
    spark, fixture_web, tmp_path, monkeypatch
):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def built(df) -> bool:
        cached = cache_manager.lookupCachedData(df._jdf)
        return cached.isDefined() and (
            cached.get().cachedRepresentation().cacheBuilder()
            .isCachedColumnBuffersLoaded()
        )

    persisted: list = []
    df_cls = type(spark.range(1))
    orig_persist = df_cls.persist

    def persist(self, *args, **kwargs):
        out = orig_persist(self, *args, **kwargs)
        persisted.append(out)
        return out

    commits: list[tuple[int, list[bool]]] = []
    inserts: list[tuple[int, bool, bool]] = []
    names: dict[int, list[str]] = {}
    orig_commit = RoundStore.commit_round
    orig_append = RoundStore.append_seen_bucketed

    def commit_round(self, rnd, datasets, **kwargs):
        # the writer pool starts inside commit_round
        commits.append((rnd, [built(df) for df in persisted]))
        persisted.clear()
        names[rnd] = list(datasets)
        return orig_commit(self, rnd, datasets, **kwargs)

    def append_seen_bucketed(self, keys, rnd):
        written = all(
            os.path.exists(os.path.join(self.round_path(rnd, n), "_SUCCESS"))
            for n in names[rnd]
        )
        inserts.append((rnd, written, os.path.exists(self._manifest_path(rnd))))
        return orig_append(self, keys, rnd)

    monkeypatch.setattr(df_cls, "persist", persist)
    monkeypatch.setattr(RoundStore, "commit_round", commit_round)
    monkeypatch.setattr(RoundStore, "append_seen_bucketed", append_seen_bucketed)

    paths = fixture_web["paths"]
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=3)
    res = run_crawl(
        spark, spark.read.parquet(paths["pages"]), spark.read.parquet(paths["seeds"]),
        cfg, checkpoint_dir=str(tmp_path / "ckpt"),
    )

    assert [r for r, _ in commits] == list(range(res.rounds))
    for rnd, frames in commits:
        assert len(frames) >= 4, (rnd, frames)
        assert all(frames), f"round {rnd}: writes started on unbuilt caches {frames}"
    # one insert per round, after all of its dataset writes, before its manifest
    assert inserts == [(r, True, False) for r, _ in commits]
