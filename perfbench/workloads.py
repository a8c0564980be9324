"""The four workloads: inputs (load generation, cached), warm-up,
per-operation workdir, the timed operation, and its output check.

Every workload is a closed loop: one client in this process runs one
operation at a time. An operation is one crawl, one resume, or one
query execution (the query suite's timed unit is one pass of the list).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import time

from perfbench import probes

# Input shapes. The crawl shapes come from bench._bench_cfg (about 200
# URLs per host, politeness budget 512). Sizes are set so that every run
# of every workload, Spark start-up included, fits the benchmark's time
# budget on a 4-core box.
SEEDED_URLS = 20_000
DISCOVERY_URLS = 2_000
# Warm-up: a tiny crawl (or resume) of the same shape, on cached inputs,
# runs every job the timed operation runs, so the operation is not
# charged for first-use costs (Python workers, JIT); a cold crawl runs
# about 2x slower.
WARMUP_URLS = 300
WARMUP_SEED = 5
# resume_ingest: a finished seeded crawl whose seen state (one row per
# attempted key) exceeds both the Bloom gate and the broadcast limit, so
# the resume takes the Bloom-gated shuffled join. Both thresholds are
# lowered from their defaults (10^6 and 10^5 keys) with the state, which
# keeps the code path and fits every run in the benchmark's time budget.
RESUME_BASE_URLS = 20_000
RESUME_GATE = 10_000
RESUME_BASE_SEED = 7
RESUME_NOVEL = 2_000
RESUME_OLD = 500
CODEC_SAMPLE = 300


def digest(items) -> str:
    h = hashlib.sha256()
    for x in items:
        h.update(x.encode())
        h.update(b"\n")
    return h.hexdigest()


# ───────────────────────── catalog copies ─────────────────────────

def clone_table(src: str, dst: str) -> None:
    """Copy one catalog table for a run. Data files are immutable once
    committed, so they are hard-linked; the manifest is rewritten to
    point at the copy, because manifests store absolute data paths."""
    for root, _, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(out, exist_ok=True)
        for name in files:
            if name.endswith(".lock"):
                continue
            a, b = os.path.join(root, name), os.path.join(out, name)
            if name == "manifest.json":
                with open(a) as f:
                    snaps = json.load(f)
                for s in snaps:
                    s["files"] = [dst + p[len(src):] if p.startswith(src) else p
                                  for p in s["files"]]
                with open(b, "w") as f:
                    json.dump(snaps, f)
            elif name.endswith(".json"):
                shutil.copyfile(a, b)
            else:
                os.link(a, b)


def clone_catalog(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if os.path.isdir(os.path.join(src, name)):
            clone_table(os.path.join(src, name), os.path.join(dst, name))


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def _mark_ready(path: str, info: dict | None = None) -> None:
    with open(os.path.join(path, "_READY"), "w") as f:
        json.dump(info or {}, f)


def _read_ready(path: str) -> dict:
    with open(os.path.join(path, "_READY")) as f:
        return json.load(f)


# ───────────────────────────── crawls ─────────────────────────────

def crawl_cfg(n_urls: int, discovery: bool, seed: int, **over):
    import bench

    return dataclasses.replace(bench._bench_cfg(n_urls, discovery), seed=seed, **over)


def build_images(spark, cache: str, n_urls: int) -> str:
    """The images table (expected metadata per image id; no payload
    bytes), shared by every seed: image rows depend on the id only."""
    from ycrawl_spark import synth
    from ycrawl_spark.catalog import Catalog

    base = os.path.join(cache, f"images_{n_urls}")
    if not _ready(base):
        shutil.rmtree(base, ignore_errors=True)
        cfg = crawl_cfg(n_urls, False, 0)
        Catalog(base).table("images").append(
            synth.images_df(spark, cfg, with_bytes=False), epoch=0)
        _mark_ready(base)
    return base


def build_frontier(spark, cache: str, cfg, tag: str) -> str:
    """The seed frontier for ``cfg``, laid out exactly as run_crawl lays
    it out (hidden bucket spec on canonical_host)."""
    from ycrawl_spark import synth
    from ycrawl_spark.catalog import Catalog

    base = os.path.join(cache, f"frontier_{tag}_{cfg.n_urls}_s{cfg.seed}")
    if not _ready(base):
        shutil.rmtree(base, ignore_errors=True)
        t = Catalog(base).table("frontier")
        t.set_partition_spec([("bucket", cfg.n_buckets, "canonical_host")])
        t.append(synth.frontier_df(spark, cfg), epoch=0)
        _mark_ready(base)
    return base


def sim_digests(cache: str, cfg, tag: str) -> dict:
    """Crawl order and seen-set digests from the reference simulator."""
    from sim.reference_sim import simulate

    path = os.path.join(cache, f"sim_{tag}_{cfg.n_urls}_s{cfg.seed}.json")
    if not os.path.exists(path):
        res = simulate(cfg)
        out = {"order": digest(res.order), "done": digest(sorted(res.done)),
               "forfeit": digest(sorted(res.forfeit)), "fetches": len(res.order)}
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def crawl_outputs(spark, workdir: str, cfg) -> dict:
    """What the crawl produced, in the simulator's digest form, plus the
    share of ok rows whose payload validated."""
    from pyspark.sql import functions as F

    from ycrawl_spark import pipeline

    order = pipeline.crawl_order(spark, workdir)
    done, forfeit = pipeline.seen_sets(spark, workdir, cfg)
    v = pipeline.read_parsed(spark, workdir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("valid")).first()
    return {"order": digest(order), "done": digest(sorted(done)),
            "forfeit": digest(sorted(forfeit)), "fetches": len(order),
            "valid_ratio": (v["valid"] or 0) / v["n"] if v["n"] else 0.0}


def crawl_mismatches(expected: dict, got: dict) -> list[str]:
    """Names of the outputs that differ from the simulator's."""
    bad = [k for k in ("order", "done", "forfeit", "fetches")
           if expected.get(k) != got.get(k)]
    if got.get("valid_ratio") != 1.0:
        bad.append("valid_ratio")
    return bad


@dataclasses.dataclass
class OpResult:
    wall_s: float
    rows: int                    # fetch_log rows committed / result rows
    first_output_s: float
    failed: int = 0
    attempted: int = 1
    notes: list = dataclasses.field(default_factory=list)
    extra: dict = dataclasses.field(default_factory=dict)


class CrawlWorkload:
    """A fresh crawl to quiescence on a seeded frontier."""

    discovery = False
    n_urls = SEEDED_URLS
    spans = None

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.cfg = crawl_cfg(self.n_urls, self.discovery, seed)

    def inputs(self, spark, cache: str) -> dict:
        self.images = build_images(spark, cache, self.n_urls)
        self.frontier = build_frontier(spark, cache, self.cfg, self.name)
        self.expected = sim_digests(cache, self.cfg, self.name)
        return {"urls": self.cfg.n_urls, "hosts": self.cfg.n_hosts,
                "seed_share": self.cfg.seed_urls / self.cfg.n_urls,
                "fanout": self.cfg.discovery_fanout,
                "budget_per_host": self.cfg.default_budget_per_host,
                "expected_fetches": self.expected["fetches"]}

    def warmup(self, spark, cache: str, scratch: str) -> float:
        """Two epochs of a tiny crawl; returns the seconds spent building
        its cached inputs (load generation, first run only)."""
        from ycrawl_spark import pipeline

        cfg = crawl_cfg(WARMUP_URLS, self.discovery, WARMUP_SEED, max_epochs=2)
        t = time.time()
        images = build_images(spark, cache, cfg.n_urls)
        frontier = build_frontier(spark, cache, cfg, f"warmup_{self.name}")
        gen_s = time.time() - t
        clone_catalog(images, scratch)
        clone_catalog(frontier, scratch)
        pipeline.run_crawl(spark, cfg, scratch)
        return gen_s

    def prepare(self, workdir: str) -> None:
        clone_catalog(self.images, workdir)
        clone_catalog(self.frontier, workdir)

    def run(self, spark, workdir: str) -> OpResult:
        from ycrawl_spark import pipeline

        t0 = time.time()
        with probes.CommitWatcher(os.path.join(workdir, "fetch_log")) as w:
            stats = pipeline.run_crawl(spark, self.cfg, workdir, use_bloom=True)
        t1 = time.time()
        return OpResult(t1 - t0, sum(s.n_selected for s in stats),
                        (w.first_at or t1) - t0, extra={"stats": stats})

    def check(self, spark, workdir: str, res: OpResult) -> None:
        got = crawl_outputs(spark, workdir, self.cfg)
        bad = crawl_mismatches(self.expected, got)
        if got["fetches"] != res.rows:
            bad.append("committed_rows")
        res.extra["valid_ratio"] = got["valid_ratio"]
        if bad:
            res.failed = 1
            res.notes.append("mismatch: " + ",".join(bad))

    def codec_ids(self) -> list[str]:
        from ycrawl_spark import synth

        rng = random.Random(self.seed)
        return [synth.image_id_for(rng.randrange(self.cfg.n_urls))
                for _ in range(CODEC_SAMPLE)]


class DiscoveryWorkload(CrawlWorkload):
    """Seed a quarter of the id space; ok fetches discover the rest."""

    discovery = True
    n_urls = DISCOVERY_URLS


# ───────────────────────────── resume ─────────────────────────────

def resume_cfg():
    return crawl_cfg(RESUME_BASE_URLS, False, RESUME_BASE_SEED,
                     bloom_min_items=RESUME_GATE, state_broadcast_max=RESUME_GATE)


def build_resume_base(spark, cache: str, cfg) -> str:
    """A finished seeded crawl, built once per checkout: its durable
    state is the input every resume starts from."""
    from ycrawl_spark import pipeline
    from ycrawl_spark.catalog import Catalog

    base = os.path.join(cache, f"resume_base_{cfg.n_urls}_s{cfg.seed}")
    if not _ready(base):
        shutil.rmtree(base, ignore_errors=True)
        images = build_images(spark, cache, cfg.n_urls)
        frontier = build_frontier(spark, cache, cfg, "resume")
        clone_catalog(images, base)
        clone_catalog(frontier, base)
        stats = pipeline.run_crawl(spark, cfg, base, use_bloom=True)
        log = Catalog(base).table("fetch_log")
        _mark_ready(base, {
            "fetches": sum(s.n_selected for s in stats),
            "last_epoch": log.latest_epoch(),
            "seen_rows": log.read(spark).select("key").distinct().count(),
        })
    return base


def ingest_batch(seed: int, cfg, n_novel: int, n_old: int):
    """(frontier rows, image rows, novel robots_ok keys) for one seed: a
    mix of novel ids past the base crawl's id space and ids the base
    already crawled (which the seen-state join must drop)."""
    import pandas as pd

    from ycrawl_spark import codecs, synth

    rng = random.Random(seed)
    novel = rng.sample(range(cfg.n_urls, cfg.n_urls + 50 * n_novel), n_novel)
    old = rng.sample(range(cfg.n_urls), n_old)
    rows = [synth.frontier_row(i, cfg) for i in novel + old]
    # expected metadata only, like the base images table: the crawl
    # never reads payload bytes
    images = [dict(codecs.make_image_row(synth.image_id_for(i)), bytes=None)
              for i in novel]
    new_keys = {r["key"] for r in rows[:n_novel] if r["robots_ok"]}
    return pd.DataFrame(rows), pd.DataFrame(images), new_keys


def resume_mismatches(new_keys: set, new_state: dict[str, tuple[int, int]],
                      old_rows_after: int, base: dict, max_retry: int,
                      valid_ratio: float) -> list[str]:
    """The frontier-ingestion invariant: keys fetched after the base
    crawl are exactly the novel robots-allowed keys, each ends done or
    forfeited, and no row of the base crawl changed or was refetched."""
    bad = []
    if set(new_state) != new_keys:
        bad.append("fetched_keys")
    if any(not done and errs < max_retry for done, errs in new_state.values()):
        bad.append("not_quiescent")
    if old_rows_after != base["fetches"]:
        bad.append("old_rows")
    if valid_ratio != 1.0:
        bad.append("valid_ratio")
    return bad


class ResumeWorkload:
    """Ingest a small batch into a finished crawl, then resume it."""

    spans = None

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.cfg = resume_cfg()

    def inputs(self, spark, cache: str) -> dict:
        from ycrawl_spark import synth

        self.base = build_resume_base(spark, cache, self.cfg)
        self.base_info = _read_ready(self.base)
        urls, images, self.new_keys = ingest_batch(self.seed, self.cfg, RESUME_NOVEL,
                                                   RESUME_OLD)
        self.urls_df = spark.createDataFrame(urls, schema=synth.FRONTIER_SCHEMA)
        self.images_df = spark.createDataFrame(images, schema=synth.IMAGES_SCHEMA)
        return {"urls": self.cfg.n_urls, "hosts": self.cfg.n_hosts,
                "seen_state_rows": self.base_info["seen_rows"],
                "bloom_min_items": self.cfg.bloom_min_items,
                "state_broadcast_max": self.cfg.state_broadcast_max,
                "ingest_rows": len(urls),
                "ingest_novel_share": RESUME_NOVEL / len(urls),
                "ingest_novel_robots_ok": len(self.new_keys)}

    def warmup(self, spark, cache: str, scratch: str) -> float:
        """An ingest and one Bloom-gated resume epoch on a tiny finished
        crawl; returns the seconds spent building that crawl (load
        generation, first run only)."""
        from ycrawl_spark import pipeline, synth

        cfg = crawl_cfg(WARMUP_URLS, False, WARMUP_SEED, bloom_min_items=0,
                        state_broadcast_max=0)
        t = time.time()
        base = build_resume_base(spark, cache, cfg)
        gen_s = time.time() - t
        clone_catalog(base, scratch)
        urls, images, _ = ingest_batch(self.seed, cfg, 50, 10)
        pipeline.ingest_frontier(
            spark, scratch, spark.createDataFrame(urls, schema=synth.FRONTIER_SCHEMA),
            spark.createDataFrame(images, schema=synth.IMAGES_SCHEMA))
        last = _read_ready(base)["last_epoch"]
        pipeline.run_crawl(spark, dataclasses.replace(cfg, max_epochs=last + 1),
                           scratch, resume=True)
        return gen_s

    def prepare(self, workdir: str) -> None:
        clone_catalog(self.base, workdir)

    def run(self, spark, workdir: str) -> OpResult:
        from ycrawl_spark import pipeline

        t0 = time.time()
        with probes.CommitWatcher(os.path.join(workdir, "fetch_log")) as w:
            pipeline.ingest_frontier(spark, workdir, self.urls_df, self.images_df)
            stats = pipeline.run_crawl(spark, self.cfg, workdir, use_bloom=True,
                                       resume=True)
        t1 = time.time()
        return OpResult(t1 - t0, sum(s.n_selected for s in stats),
                        (w.first_at or t1) - t0, extra={"stats": stats})

    def check(self, spark, workdir: str, res: OpResult) -> None:
        from pyspark.sql import functions as F

        from ycrawl_spark.catalog import Catalog

        log = Catalog(workdir).table("fetch_log").read(spark)
        last = self.base_info["last_epoch"]
        new = log.filter(F.col("epoch") > last)
        state = {
            r["key"]: (r["done"], r["errs"])
            for r in new.groupBy("key").agg(
                F.max(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("done"),
                F.sum(F.when(F.col("status") == "ERR", 1).otherwise(0)).alias("errs"),
            ).collect()
        }
        ok = new.filter(F.col("status") == "ok").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("valid")).first()
        valid_ratio = (ok["valid"] or 0) / ok["n"] if ok["n"] else 0.0
        old_rows = log.filter(F.col("epoch") <= last).count()
        res.extra["valid_ratio"] = valid_ratio
        bad = resume_mismatches(self.new_keys, state, old_rows, self.base_info,
                                self.cfg.max_retry, valid_ratio)
        if new.count() != res.rows:
            bad.append("committed_rows")
        if bad:
            res.failed = 1
            res.notes.append("mismatch: " + ",".join(bad))

    def codec_ids(self) -> list[str]:
        from ycrawl_spark import synth

        rng = random.Random(self.seed)
        return [synth.image_id_for(i) for i in rng.sample(
            range(self.cfg.n_urls, self.cfg.n_urls + 50 * RESUME_NOVEL), CODEC_SAMPLE)]


# ─────────────────────────── query suite ───────────────────────────

def query_sf_dir() -> str:
    """The sf0.1 test-data directory, from bench.py's SPARK_GRAFT_SF_DIR
    (read-only, outside the checkout); its sf0.001 sibling serves the
    warm-up."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.isdir(d):
        raise FileNotFoundError(
            "query_suite: set SPARK_GRAFT_SF_DIR to the sf0.1 test-data directory")
    return d


def query_list() -> list[str]:
    """bench.CORE16: the frozen round-1 headline set (the longitudinal
    anchor bench.py reports as queries_total_core16)."""
    import bench

    return list(bench.CORE16)


def _check_oracle():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join("scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_results(cache: str, sf_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB oracle result per query (parquet path), computed once per
    input directory. Queries without an oracle are left out."""
    import duckdb

    from ycrawl_spark.queries import ORACLES

    out_dir = os.path.join(cache, "oracle_" + os.path.basename(sf_dir.rstrip("/")))
    paths = {n: os.path.join(out_dir, f"{n}.parquet") for n in names if n in ORACLES}
    if not _ready(out_dir):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        con = duckdb.connect()
        try:
            for t in _check_oracle().TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
            for n, p in paths.items():
                con.sql(ORACLES[n]).df().to_parquet(p)
        finally:
            con.close()
        _mark_ready(out_dir)
    return paths


def query_mismatch(got, expected) -> str | None:
    """check_oracle.compare: None when the Spark result matches."""
    return _check_oracle().compare(got, expected)


class QueryWorkload:
    """One pass over the query list in a seeded order."""

    spans = None    # the tracer's span factory in a traced run

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.cfg = crawl_cfg(SEEDED_URLS, False, seed)  # for the codec probe
        self.order = query_list()
        random.Random(seed).shuffle(self.order)

    def inputs(self, spark, cache: str) -> dict:
        self.sf_dir = query_sf_dir()
        self.oracles = oracle_results(cache, self.sf_dir, self.order)
        return {"sf_dir": self.sf_dir, "queries": len(self.order),
                "with_oracle": len(self.oracles), "order": self.order}

    def warmup(self, spark, cache: str, scratch: str) -> float:
        from ycrawl_spark.queries import QUERIES

        small = os.path.join(os.path.dirname(query_sf_dir().rstrip("/")), "sf0.001")
        for name in self.order:
            QUERIES[name](spark, small).toPandas()
        return 0.0

    def prepare(self, workdir: str) -> None:
        os.makedirs(workdir, exist_ok=True)

    def run(self, spark, workdir: str) -> OpResult:
        from ycrawl_spark.queries import QUERIES

        results, times, first = {}, {}, None
        t0 = time.time()
        for name in self.order:
            q0 = time.time()
            try:
                if self.spans is not None:
                    with self.spans(f"queries.{name}", "queries"):
                        results[name] = QUERIES[name](spark, self.sf_dir).toPandas()
                else:
                    results[name] = QUERIES[name](spark, self.sf_dir).toPandas()
            except Exception as e:  # a failing query is a failed operation
                results[name] = e
            times[name] = time.time() - q0
            if first is None:
                first = time.time() - t0
        t1 = time.time()
        rows = sum(len(r) for r in results.values() if not isinstance(r, Exception))
        return OpResult(t1 - t0, rows, first, attempted=len(self.order),
                        extra={"results": results, "times": times})

    def check(self, spark, workdir: str, res: OpResult) -> None:
        import pandas as pd

        unchecked = []
        for name, got in res.extra.pop("results").items():
            if isinstance(got, Exception):
                res.failed += 1
                res.notes.append(f"{name}: {type(got).__name__}: {str(got)[:200]}")
            elif name not in self.oracles:
                unchecked.append(name)
            else:
                diff = query_mismatch(got, pd.read_parquet(self.oracles[name]))
                if diff:
                    res.failed += 1
                    res.notes.append(f"{name}: {diff}")
        res.extra["unchecked"] = unchecked

    def codec_ids(self) -> list[str]:
        from ycrawl_spark import synth

        rng = random.Random(self.seed)
        return [synth.image_id_for(rng.randrange(self.cfg.n_urls))
                for _ in range(CODEC_SAMPLE)]


WORKLOADS = {
    "crawl_seeded": CrawlWorkload,
    "crawl_discovery": DiscoveryWorkload,
    "resume_ingest": ResumeWorkload,
    "query_suite": QueryWorkload,
}
