"""Benchmark workloads: inputs from the seed, the timed call, the
expected outputs and the per-call output check.

* ``crawl``    — the seed round of ``run_crawl`` over the fixture web,
  through ``export_items``.
* ``frontier`` — one admission + politeness round over synthetic candidates
  against a large bucketed seen table that is read, never written.

Every workload builds its inputs from the seed only and computes its
expected outputs independently of Spark (the crawl oracle in
``tests/oracle.py``, ``urlnorm`` in pure Python). Inputs and expected
outputs are both made in helper processes, so the worker's own memory
holds only the engine's driver side. Expected outputs are cached per seed
in ``crawlbench/out/cache``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time
import zlib

CRAWL_PAGES = 2000
CRAWL_MAX_DEPTH = 3
CRAWL_MAX_ROUNDS = 0          # one round per call: the seed round

FRONTIER_N = 250_000
FRONTIER_MAX_DEPTH = 4
FRONTIER_SEEN_EVERY = 4       # ~1 in 4 candidate rows is already seen
FRONTIER_HOSTS = 211
FRONTIER_BUDGET = 50
FRONTIER_WHITELIST = ["example.com", "example.com.cn", "example.net"]

# frontier's warm-up call runs on 1/WARM_FRACTION of the candidates
WARM_FRACTION = 20


class CheckFailed(Exception):
    """A call's output differs from the expected output."""


def _expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")


def _load_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "crawlbench_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


def _cached(path: str, compute):
    """JSON value at ``path``, computed and stored on first use."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _write_files(table, outdir: str, files: int) -> str:
    """Write an Arrow table as ``files`` parquet files, so the scan has
    that many splits however small the table is."""
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(outdir, f"part-{k:05d}.parquet"))
    return outdir


def _dir_usage(path: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, n))
    return n_files, n_bytes


class Workload:
    name = ""
    size = ""      # part of the expected-output cache key: bump when inputs change

    def __init__(self, tracer, seed: int, workdir: str):
        from webcrawler_spark.session import default_parallelism

        self.spark = None
        self.tracer = tracer
        self.seed = seed
        self.workdir = workdir
        self.cores = default_parallelism()

    def wrap_layers(self) -> None:
        """Install spans around the engine entry points this workload uses."""

    @staticmethod
    def write_inputs(seed: int, workdir: str, cores: int) -> dict:
        """Write the inputs to disk without Spark and return their paths.
        Runs in a helper process while the JVM starts."""
        raise NotImplementedError

    def load_inputs(self, spark, paths: dict) -> None:
        """Attach the session and do the Spark side of the input set-up."""
        self.spark = spark
        self.paths = paths

    def prepare(self, exp: dict) -> None:
        """Use the expected outputs to set up the calls (default: nothing)."""

    def warm_up(self) -> bool:
        """Untimed warm-up, so the first timed call finds the JIT, the
        generated code and the Python workers ready. Returns False when
        the workload has none."""
        raise NotImplementedError

    def call(self, k: int) -> dict:
        """One timed call. Returns {"wall_s", "pages", "urls", "rounds_s",
        ...outputs needed by check()}."""
        raise NotImplementedError

    @staticmethod
    def compute_expected(seed: int, root: str) -> dict:
        """Expected outputs for ``seed``, computed without Spark."""
        raise NotImplementedError

    def check(self, out: dict, exp: dict) -> None:
        raise NotImplementedError

    def traced_layers(self, out: dict, exp: dict) -> dict:
        """Per-layer values of traced call ``out`` beyond the Spark
        counters, including layers forced alone after the call."""
        raise NotImplementedError

    def cleanup(self, k: int) -> None:
        """Drop what call ``k`` left on disk once it has been checked."""


# ---------------------------------------------------------------------------
class Crawl(Workload):
    name = "crawl"
    size = f"p{CRAWL_PAGES}-r{CRAWL_MAX_ROUNDS}"

    def wrap_layers(self) -> None:
        from webcrawler_spark.plans import crawl as plan
        from webcrawler_spark.storage import RoundStore

        t = self.tracer
        t.wrap(plan, "export_items", "plans.crawl.export_items")
        t.wrap(RoundStore, "commit_round", "storage.commit_round")
        t.wrap(RoundStore, "append_seen_bucketed", "storage.append_seen_bucketed")
        t.wrap(RoundStore, "compact_seen_bucketed", "storage.compact_seen_bucketed")

    @staticmethod
    def write_inputs(seed: int, workdir: str, cores: int) -> dict:
        from webcrawler_spark import fixtures

        return fixtures.write_parquet(os.path.join(workdir, "web"), n_pages=CRAWL_PAGES, seed=seed)

    def load_inputs(self, spark, paths: dict) -> None:
        super().load_inputs(spark, paths)
        read = spark.read.parquet
        self.pages = read(paths["pages"])
        self.seeds = read(paths["seeds"])
        robots = read(paths["robots"])
        self.budgets = robots.select("host", "budget_per_round")
        self.robots = robots.select("host", "disallow_prefixes")

    def warm_up(self) -> bool:
        """None: the timed call is the seed round of a fresh crawl, cold,
        admitting against an empty seen set. Committing round 0 here and
        timing a resumed round 1 makes a run about 25 s longer (a cold
        round 0 and its export): 48 runs would no longer fit in the
        benchmark's 3420 s limit."""
        return False

    def _ckpt(self, k: int) -> str:
        return os.path.join(self.workdir, f"ckpt-{k}")

    def call(self, k: int) -> dict:
        import pyarrow.parquet as pq

        from webcrawler_spark.fixtures import WHITELIST
        from webcrawler_spark.plans import crawl as plan

        cfg = plan.CrawlConfig(whitelist=WHITELIST, max_depth=CRAWL_MAX_DEPTH,
                               max_rounds=CRAWL_MAX_ROUNDS)
        t0 = time.time()
        with self.tracer.span("plans.crawl.run_crawl"):
            res = plan.run_crawl(
                self.spark, self.pages, self.seeds, cfg,
                checkpoint_dir=self._ckpt(k), budgets=self.budgets, robots=self.robots,
            )
        wall = time.time() - t0
        store = res.store
        rounds = store.committed_rounds()
        commits = [t0] + [store.manifest(r)["committed_at"] for r in rounds]

        def committed(name: str) -> list[dict]:
            # the committed parquet, read without Spark
            return [row for r in rounds
                    for row in pq.read_table(store.round_path(r, name)).to_pylist()]

        # canonical order within a round is (host, url_sha1), as the oracle's
        order = sorted(([o["round"], o["host"], o["url"], o["url_sha1"]] for o in committed("order")),
                       key=lambda o: (o[0], o[1], o[3]))
        seen = sorted([s["url_sha1"], s["url"], s["first_round"]] for s in committed("seen_delta"))
        keys = ("round", "candidates", "admitted", "fetched", "items", "errors", "deferred")
        metrics = [{key: m[key] for key in keys} for m in res.metrics]
        files, nbytes = _dir_usage(self._ckpt(k))
        return {
            "wall_s": wall,
            "pages": sum(m["fetched"] for m in res.metrics),
            "urls": sum(m["candidates"] for m in res.metrics),
            "rounds_s": [b - a for a, b in zip(commits, commits[1:])],
            "order": order,
            "seen": seen,
            "metrics": metrics,
            "export_rows": pq.read_table(store.export_path()).num_rows,
            "datasets": len(store.manifest(rounds[-1])["datasets"]),
            "salted": [bool(m.get("salted")) for m in res.metrics],
            "files_written": files,
            "bytes_written": nbytes,
        }

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self._ckpt(k), ignore_errors=True)

    def traced_layers(self, out: dict, exp: dict) -> dict:
        """Operator counts from the round metrics. A round parses a few
        dozen pages inside its commit jobs; to see the parse layer on its
        own, every HTML page of this crawl's web goes through it once."""
        from pyspark.sql import functions as F

        from webcrawler_spark.functions.urls import content_type_for

        html = self.pages.select("url", "html").filter(
            content_type_for(F.col("url")).startswith("text/html"))
        m = out["metrics"]
        return {
            **measure_parse(self.tracer, html.repartition(2 * self.cores)),
            "operators.admission.rows_in": sum(r["candidates"] for r in m),
            "operators.admission.rows_admitted": sum(r["admitted"] for r in m),
            "operators.politeness.fetch_now": sum(r["fetched"] for r in m),
            "operators.politeness.deferred": sum(r["deferred"] for r in m),
            "operators.politeness.salted": int(any(out["salted"])),
            "storage.bytes_written": out["bytes_written"],
            "storage.files_written": out["files_written"],
            "storage.seen_keys": len(out["seen"]),
        }

    @staticmethod
    def compute_expected(seed: int, root: str) -> dict:
        from webcrawler_spark import fixtures

        oracle = _load_oracle(root)
        pages, seeds, robots = fixtures.generate(n_pages=CRAWL_PAGES, seed=seed)
        cfg = oracle.CrawlConfig(
            whitelist=fixtures.WHITELIST, max_depth=CRAWL_MAX_DEPTH,
            max_rounds=CRAWL_MAX_ROUNDS, parsers="combined",
            budgets={r["host"]: r["budget_per_round"] for r in robots},
            robots={r["host"]: r["disallow_prefixes"] for r in robots},
        )
        g = oracle.crawl(pages, seeds, cfg)
        return {
            "order": [list(o) for o in g.order],
            "seen": sorted([sha, url, rnd] for sha, (url, rnd) in g.seen.items()),
            "metrics": g.metrics,
            "items": len(g.items),
        }

    def check(self, out: dict, exp: dict) -> None:
        _expect("crawl order", out["order"], exp["order"])
        _expect("crawl seen set", out["seen"], exp["seen"])
        _expect("crawl per-round metrics", out["metrics"], exp["metrics"])
        _expect("crawl export rows", out["export_rows"], exp["items"])


# ---------------------------------------------------------------------------
def frontier_rows(seed: int, n: int) -> tuple[list[dict], list[str], str, float]:
    """Raw candidates in ``jobs/frontier_bench.synth_candidates``' URL mix
    (~10% duplicates, 5% off-whitelist host, 5% ftp, surface forms that
    need canonical work), but with a seed-skewed host distribution: one
    top host takes ``top_share`` of the rows, the rest spread over the
    other hosts by hash. Also returns the raw URLs inserted into the seen
    table: about one row in FRONTIER_SEEN_EVERY."""
    top = f"www.s{seed % FRONTIER_HOSTS}.example.com"
    top_share = 0.85 + 0.05 * ((zlib.crc32(f"share:{seed}".encode()) % 1000) / 1000)
    cut = int(top_share * 2 ** 32)
    rows, seen_src = [], []
    for i in range(n):
        base = i // 2 if i % 10 == 9 else i
        h = zlib.crc32(f"{seed}:{base}".encode())
        if i % 20 == 17:
            host = "evil.offsite.biz"
        elif i % 20 == 18:
            host = f"h{base % 97}.example.net"
        elif h < cut:
            host = top
        else:
            host = f"www.s{(h >> 8) % FRONTIER_HOSTS}.example.com"
        scheme = "ftp" if i % 20 == 19 else ("http" if i % 2 == 0 else "https")
        path = f"/p/{base % 1000}/{base}"
        v = i % 8
        if v == 3:
            url = f"{scheme}://{host.upper()}{path}"
        elif v == 5:
            url = f"{scheme}://{host}:80{path}"
        elif v == 6:
            url = f"{scheme}://{host}{path}#frag"
        elif v == 7:
            url = f"{scheme}://{host}/a/../{path[1:]}"
        else:
            url = f"{scheme}://{host}{path}"
        rows.append({"url": url, "depth": i % 6, "parent_url": "", "link_pos": i % 7})
        if zlib.crc32(f"seen:{seed}:{i}".encode()) % FRONTIER_SEEN_EVERY == 0:
            seen_src.append(url)
    return rows, seen_src, top, top_share


def frontier_budgets() -> dict[str, int]:
    return {f"www.s{k}.example.com": FRONTIER_BUDGET for k in range(FRONTIER_HOSTS)}


class Frontier(Workload):
    name = "frontier"
    size = f"n{FRONTIER_N}"

    def wrap_layers(self) -> None:
        from webcrawler_spark.operators import admission, politeness

        self.tracer.wrap(admission, "admit", "operators.admission.admit")
        self.tracer.wrap(politeness, "ranked", "operators.politeness.ranked")

    @staticmethod
    def write_inputs(seed: int, workdir: str, cores: int) -> dict:
        """Candidates as parquet, plus the canonical form of the URLs that
        go into the seen table (``urlnorm.canonicalize``, the function the
        engine's canonicalize UDF runs)."""
        import pyarrow as pa

        from webcrawler_spark.urlnorm import canonicalize

        rows, seen_src, _, _ = frontier_rows(seed, FRONTIER_N)
        cols = pa.table({k: [r[k] for r in rows] for k in rows[0]})
        canon = [c for c in map(canonicalize, seen_src) if c is not None]
        files = 2 * cores
        return {
            "cand": _write_files(cols, os.path.join(workdir, "cand"), files),
            "warm": _write_files(cols.slice(0, FRONTIER_N // WARM_FRACTION),
                                 os.path.join(workdir, "cand_warm"), files),
            "seen": _write_files(pa.table({"url": canon}), os.path.join(workdir, "seen_src"), files),
        }

    def load_inputs(self, spark, paths: dict) -> None:
        """The seen table: the engine's url_sha1 of each canonical URL,
        inserted into a RoundStore bucketed seen table as round 0."""
        from pyspark.sql import functions as F

        from webcrawler_spark.functions.urls import url_sha1
        from webcrawler_spark.storage import RoundStore

        super().load_inputs(spark, paths)
        self.store = RoundStore(os.path.join(self.workdir, "store"))
        self.store.ensure_seen_table(spark, self.cores)
        self.store.append_seen_bucketed(
            spark.read.parquet(paths["seen"]).select(url_sha1(F.col("url")).alias("url_sha1")), 0
        )
        budgets = frontier_budgets()
        self.max_budget = max(budgets.values())
        self.budgets = self.spark.createDataFrame(
            sorted(budgets.items()), "host string, budget_per_round long"
        )

    def _admitted(self, scratch: list, path: str | None = None):
        from webcrawler_spark.operators import admission

        return admission.admit(
            self.spark.read.parquet(path or self.paths["cand"]),
            self.store.read_seen_bucketed(self.spark, upto=0),
            FRONTIER_WHITELIST, FRONTIER_MAX_DEPTH, scratch=scratch,
        )

    def prepare(self, exp: dict) -> None:
        """run_crawl's hot-host probe rule picks the politeness path for
        this queue: salted when its top host holds more than
        hot_host_share of the rows and more than hot_host_min_rows of them.
        The host counts come from the independent expected computation."""
        self.salted = exp["salted"]

    def warm_up(self) -> bool:
        """The timed pipeline over the first 1/WARM_FRACTION of the
        candidates: same plan shapes and politeness path, so it pays the
        cold start (codegen, JIT, Python workers) in a fraction of the time."""
        scratch: list = []
        self._split_counts(self._ranked_split(self._admitted(scratch, self.paths["warm"])))
        for df in scratch:
            df.unpersist()
        return True

    def _ranked_split(self, admitted):
        from pyspark.sql import functions as F

        from webcrawler_spark.operators import politeness

        salt = self.cores if self.salted else None
        r = politeness.ranked(admitted, salt_buckets=salt, max_budget=self.max_budget)
        return r.join(
            F.broadcast(self.budgets.select(F.col("host").alias("_b_host"),
                                            F.col("budget_per_round").alias("_budget"))),
            on=[F.col("host") == F.col("_b_host")], how="left",
        ).withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(politeness.UNLIMITED)))

    @staticmethod
    def _split_counts(r):
        from pyspark.sql import functions as F

        return r.agg(
            F.count("*").alias("admitted"),
            F.sum(F.when(F.col("slot_rank") <= F.col("_budget"), 1).otherwise(0)).alias("fetch_now"),
        ).collect()[0]

    def call(self, k: int) -> dict:
        t0 = time.time()
        scratch: list = []
        row = self._split_counts(self._ranked_split(self._admitted(scratch)))
        wall = time.time() - t0
        for df in scratch:
            df.unpersist()
        admitted, fetch_now = int(row["admitted"]), int(row["fetch_now"] or 0)
        return {
            "wall_s": wall, "pages": fetch_now, "urls": FRONTIER_N, "rounds_s": [wall],
            "admitted": admitted, "fetch_now": fetch_now, "deferred": admitted - fetch_now,
            "salted": self.salted,
        }

    def traced_layers(self, out: dict, exp: dict) -> dict:
        """Admission and politeness forced one at a time: admission over
        the candidates, then ranking + budget split over the persisted
        admitted rows; plus the seen anti-join's drop count and the share
        of candidates the canonicalize UDF sees."""
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from webcrawler_spark.operators import admission

        values = {
            "operators.admission.rows_in": FRONTIER_N,
            "operators.admission.admit_ratio": out["admitted"] / FRONTIER_N,
            "operators.politeness.deferred": out["deferred"],
            "operators.politeness.salted": int(self.salted),
            "operators.politeness.top_host_share": exp["top_host_share"],
        }
        scratch: list = []
        t0 = time.time()
        with self.tracer.span("operators.admission.admit_forced"):
            adm = self._admitted(scratch).persist(StorageLevel.MEMORY_AND_DISK)
            values["operators.admission.rows_admitted"] = adm.count()
        values["operators.admission.s"] = time.time() - t0
        t0 = time.time()
        with self.tracer.span("operators.politeness.ranked_forced"):
            row = self._split_counts(self._ranked_split(adm))
        values["operators.politeness.s"] = time.time() - t0
        values["operators.politeness.fetch_now"] = int(row["fetch_now"] or 0)
        # rows the seen anti-join removed: admission up to the anti-join,
        # over admit()'s persisted canonical candidates
        (canonical,) = scratch
        passed = admission.dedup_in_round(admission.admission_filters(
            canonical, FRONTIER_WHITELIST, FRONTIER_MAX_DEPTH)).count()
        values["operators.admission.seen_dropped"] = passed - values["operators.admission.rows_admitted"]
        adm.unpersist()
        canonical.unpersist()
        cand = self.spark.read.parquet(self.paths["cand"])
        values["operators.admission.udf_share"] = cand.agg(F.avg(F.when(
            F.coalesce(admission.is_definitely_canonical(F.col("url")), F.lit(False)), 0
        ).otherwise(1))).first()[0]
        values["storage.seen_keys"] = self.spark.table(self.store.seen_table).count()
        return values

    @staticmethod
    def compute_expected(seed: int, root: str) -> dict:
        from webcrawler_spark.plans.crawl import CrawlConfig
        from webcrawler_spark.urlnorm import (
            canonicalize, primary_domain, sha1_hex, url_host, url_scheme,
        )

        rows, seen_src, _, _ = frontier_rows(seed, FRONTIER_N)
        seen = {sha1_hex(c) for c in map(canonicalize, seen_src) if c is not None}
        passed: dict[str, str] = {}
        for r in rows:
            c = canonicalize(r["url"])
            if c is None or url_scheme(c) not in ("http", "https"):
                continue
            host = url_host(c)
            if primary_domain(host) not in FRONTIER_WHITELIST or r["depth"] > FRONTIER_MAX_DEPTH:
                continue
            passed[sha1_hex(c)] = host
        per_host: dict[str, int] = {}
        for sha, host in passed.items():
            if sha not in seen:
                per_host[host] = per_host.get(host, 0) + 1
        budgets = frontier_budgets()
        admitted = sum(per_host.values())
        fetch_now = sum(min(n, budgets.get(h, n)) for h, n in per_host.items())
        top = max(per_host.values())
        cfg = CrawlConfig(whitelist=FRONTIER_WHITELIST)
        return {
            "admitted": admitted, "fetch_now": fetch_now, "deferred": admitted - fetch_now,
            "seen_dropped": len(passed) - admitted, "top_host_share": top / admitted,
            "salted": top > cfg.hot_host_min_rows and top / admitted > cfg.hot_host_share,
        }

    def check(self, out: dict, exp: dict) -> None:
        for key in ("admitted", "fetch_now", "deferred"):
            _expect(f"frontier {key}", out[key], exp[key])
        # the workload exists to measure the salted politeness path
        _expect("frontier salted path", out["salted"], True)


# ---------------------------------------------------------------------------
def link_count(parsed) -> int:
    """Out-links in the crawl's combined parser order, exploded as a round
    does."""
    from pyspark.sql import functions as F

    return parsed.select(
        F.posexplode(F.concat(F.col("p.scoped_img_links"), F.col("p.links"),
                              F.col("p.img_links"))),
    ).count()


def measure_parse(tracer, fetched) -> dict:
    """The parse layer forced alone over persisted (url, html) rows
    (traced runs only), plus the count of pages whose parse raised."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from webcrawler_spark.functions.html import parse_html_udf

    fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
    pages = fetched.count()
    t0 = time.time()
    with tracer.span("functions.html.parse_forced"):
        parsed = fetched.withColumn("p", parse_html_udf(F.col("html"), F.col("url")))
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        links = link_count(parsed)
    out = {
        "functions.html.parse_s": time.time() - t0,
        "functions.html.pages": pages,
        "functions.html.links": links,
        "functions.html.errors": parsed.filter(F.col("p.error").isNotNull()).count(),
    }
    parsed.unpersist()
    fetched.unpersist()
    return out


WORKLOADS = {w.name: w for w in (Crawl, Frontier)}


def write_inputs(cls: type[Workload], seed: int, workdir: str) -> tuple[dict, float]:
    """``cls.write_inputs`` and the seconds it took (run in a helper process)."""
    from webcrawler_spark.session import default_parallelism

    t0 = time.time()
    paths = cls.write_inputs(seed, workdir, default_parallelism())
    return paths, time.time() - t0


def expected(cls: type[Workload], seed: int, cache_dir: str, root: str) -> dict:
    """Cached expected outputs of workload ``cls`` for ``seed``."""
    path = os.path.join(cache_dir, f"{cls.name}-s{seed}-{cls.size}.json")
    return _cached(path, lambda: cls.compute_expected(seed, root))
