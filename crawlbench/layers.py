"""Per-layer table of one traced call: spans + event log + call outputs.

Layers are named after the engine's modules. ``call`` is the workload's
timed call itself (the single action of ``frontier``);
``spark.<layer>.<counter>`` are the event-log counters of the jobs
attributed to that layer's spans.
"""

from __future__ import annotations

from crawlbench import trace as tr


def _window(spans: list[dict]) -> tuple[dict, list[dict]]:
    """The first traced call's root span, and every span that starts
    between it and the next call (the call's subtree plus the traced-only
    forced layers that follow it)."""
    calls = sorted((s for s in spans if s["name"] == "call"), key=lambda s: s["start"])
    first = calls[0]
    end = calls[1]["start"] if len(calls) > 1 else float("inf")
    return first, [s for s in spans if first["start"] <= s["start"] < end]


def per_layer(wl, spans: list[dict], log: dict, layer_outs: list) -> dict:
    out, extras = layer_outs[0]
    _, window = _window(spans)
    ids = {s["id"] for s in window}
    by_id = {s["id"]: s for s in spans}
    owner = tr.attribute_jobs(log, spans)
    jobs_of: dict[int, set[int]] = {}
    for jid, sid in owner.items():
        if sid in ids:
            jobs_of.setdefault(sid, set()).add(jid)

    def jobs_in(span_ids) -> set[int]:
        return set().union(*(jobs_of.get(i, set()) for i in span_ids))

    values: dict[str, float] = {}
    for layer in tr.SPARK_LAYERS:
        sids = {i for i in ids if tr.layer_of(by_id[i]["name"]) == layer}
        for key, v in tr.spark_counters(log, jobs_in(sids)).items():
            values[f"spark.{layer}.{key}"] = v

    values.update(extras)

    if wl.name == "crawl":
        run = next(s for s in window if s["name"] == "plans.crawl.run_crawl")
        kids = tr.children(spans, run["id"])
        rounds = len(out["metrics"])
        commits = [s for s in kids if s["name"] == "storage.commit_round"]
        exports = [s for s in kids if s["name"] == "plans.crawl.export_items"]
        compactions = [s for s in kids if s["name"] == "storage.compact_seen_bucketed"]
        inserts = [s for s in window if s["name"] == "storage.append_seen_bucketed"]
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
        self_s = tr.self_seconds(spans, run)
        gap = dur(commits) + dur(exports) + dur(compactions) + self_s - (run["end"] - run["start"])
        if abs(gap) > 1e-3:
            raise ValueError(f"run_crawl child spans overlap: commit + export + compaction "
                             f"+ self time exceed the run_crawl span by {gap:.4f}s")
        run_tree = tr.subtree(spans, run["id"])
        export_tree = set().union(*(tr.subtree(spans, s["id"]) for s in exports))
        round_jobs = jobs_in(run_tree - export_tree)
        commit_jobs = jobs_in(set().union(*(tr.subtree(spans, s["id"]) for s in commits)))
        values.update({
            "plans.crawl.rounds": rounds,
            "plans.crawl.run_s": run["end"] - run["start"],
            "plans.crawl.driver_self_s": self_s,
            "plans.crawl.export_s": dur(exports),
            "plans.crawl.jobs_per_round": len(round_jobs) / rounds,
            "plans.crawl.stages_per_round": tr.spark_counters(log, round_jobs)["stages"] / rounds,
            "plans.crawl.between_commit_jobs": len(jobs_of.get(run["id"], set())) / rounds,
            "storage.commit_s": dur(commits),
            "storage.commit_jobs": len(commit_jobs) / rounds,
            "storage.datasets_per_commit": out["datasets"] + len(inserts) / rounds,
            "storage.seen_insert_s": dur(inserts),
            "storage.compactions": len(compactions),
        })
    return values
