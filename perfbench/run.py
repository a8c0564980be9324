"""Crawl, discovery, resume and query-suite benchmark for ycrawl_spark.

Run from the repository root:

  python3 perfbench/run.py --workload crawl_seeded --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --all --seed 1 --seconds 10

One run builds its own ``local[nproc]`` session, generates (or reuses)
the seeded inputs under ``.perfbench/cache``, warms up, then repeats the
workload's operation on a fresh per-operation workdir while the next
one still fits in ``--seconds`` (at least one). Each operation's output
is checked after its timed interval; a wrong output counts as a failed
operation. The last stdout line is the result object; the line before
it carries the machine, the input properties and every operation.

``--trace 0`` reports the end-to-end metrics (medians over the run's
operations). ``--trace 1`` wraps the engine's layer boundaries in spans,
writes an uncompressed Spark event log, and reports the per-layer
metrics instead. ``--all`` runs every workload both ways in separate
processes and prints both sets plus the tracing overhead. query_suite
reads the sf0.1 test data named by ``SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "first_output_s": "s",
}


def process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def machine() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem = {l.split(":")[0]: int(l.split()[1]) for l in f}
    avail_gb = mem["MemAvailable"] / 2**20
    return {"cores": os.cpu_count(), "mem_total_gb": round(mem["MemTotal"] / 2**20, 1),
            "mem_available_gb": round(avail_gb, 1),
            # well below available memory: the engine's 48g default
            # exceeds small machines
            "driver_memory": f"{max(1, min(2, int(avail_gb // 3)))}g",
            "pyspark": pyspark.__version__}


def make_run_dir() -> str:
    """This process's scratch dir inside the checkout. Python workers
    import the engine from the checkout and keep temp files in here."""
    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # JVMs (Spark's launcher too) write no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    return run_dir


def start_session(box: dict, run_dir: str, trace: bool):
    from ycrawl_spark.session import get_spark

    conf = {"spark.local.dir": os.path.join(run_dir, "spark"),
            # a fixed-size heap: peak RSS does not follow the JVM's
            # run-to-run heap resizing
            "spark.driver.extraJavaOptions":
                f"-Xms{box['driver_memory']} -Djava.io.tmpdir={run_dir}/tmp",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog")})
    return get_spark(cores=box["cores"], driver_memory=box["driver_memory"],
                     app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched (its Python workers exit
    with it) and wait until it has."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def op_facts(wl, wd: str, res, before: tuple[int, int]) -> dict:
    """Per-operation counts read from the run's durable state."""
    from perfbench import probes

    size, files = probes.tree_size(wd)
    stats = res.extra.get("stats") or []
    log_rows = res.rows + (wl.base_info["fetches"] if hasattr(wl, "base_info") else 0)
    return {
        "stats": stats,
        "bytes": size, "bytes_written": size - before[0],
        "files_written": files - before[1],
        "bytes_per_url": size / log_rows if stats and log_rows else 0.0,
        "valid_ratio": res.extra.get("valid_ratio", 0.0),
    }


def seen_facts(spark, wl, wd: str, tracer) -> dict:
    """Seen-layer counts of a traced operation (zero when the op never
    built a Bloom): state rows, Bloom fill, rows the Bloom tested, and
    the maybe-hit share on a key sample."""
    from pyspark.sql import functions as F

    from ycrawl_spark.catalog import Catalog

    out = dict.fromkeys(("state_rows", "bloom_fill", "bloom_fpp_est",
                         "tested_rows", "maybe_ratio"), 0.0)
    blooms = [s.attrs["args"][0] for s in tracer.spans[tracer.op_start:]
              if s.name == "seen.add_keys_to_bloom"]
    agg = Catalog(wd).table("seen_agg").read(spark)
    if agg is not None:
        out["state_rows"] = agg.count()
    if blooms:
        import numpy as np

        b = blooms[-1]
        bits = int(np.unpackbits(b.words.view(np.uint8)).sum())
        out["bloom_fill"] = bits / b.m
        out["bloom_fpp_est"] = out["bloom_fill"] ** b.k
        front = Catalog(wd).table("frontier").read(spark).filter(F.col("robots_ok"))
        out["tested_rows"] = front.count()
        sample = [r["key"] for r in front.select("key").where(
            F.pmod(F.xxhash64("key"), F.lit(50)) == 0).collect()]
        out["maybe_ratio"] = float(b.contains_many(sample).mean()) if sample else 0.0
    return out


def discovery_children(spark, wl, wd: str) -> int:
    """Children the discovery step derived over the crawl (the
    denominator of discovery.novel_ratio)."""
    from pyspark.sql import functions as F

    from ycrawl_spark import synth
    from ycrawl_spark.catalog import Catalog

    cfg = wl.cfg
    if not cfg.discovery_fanout:
        return 0
    log = Catalog(wd).table("fetch_log").read(spark)
    rows = log.filter((F.col("status") == "ok") & F.col("depth").isNotNull()
                      & (F.col("depth") < cfg.discovery_max_depth)
                      ).select("image_id").collect()
    return sum(len(synth.child_ids(r["image_id"], cfg)) for r in rows)


def run_workload(args) -> tuple[dict, dict]:
    from perfbench import probes, trace as tr
    from perfbench.workloads import WORKLOADS, OpResult

    t_proc = process_start()
    box = machine()
    run_dir = make_run_dir()
    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    wl = WORKLOADS[args.workload](args.workload, args.seed)
    ops, spark, tracer = [], None, None
    try:
        with probes.RssSampler() as rss:
            t = time.time()
            spark = start_session(box, run_dir, args.trace)
            session_start_s = time.time() - t
            # Warm up before generating inputs, so that the warm-up runs
            # equally cold whether or not this seed's inputs are cached.
            t = time.time()
            warm_gen_s = wl.warmup(spark, cache, os.path.join(run_dir, "warmup"))
            warmup_s = time.time() - t - warm_gen_s
            shutil.rmtree(os.path.join(run_dir, "warmup"), ignore_errors=True)
            t = time.time()
            inputs = wl.inputs(spark, cache)          # load generation
            gen_s = time.time() - t + warm_gen_s
            if args.trace:
                tracer = tr.Tracer(spark.sparkContext)
                tr.install(tracer, spark)
                wl.spans = tracer.span
            measured, first_op_t0 = 0.0, None
            rss.peak = 0    # peak over the timed operations only
            while not ops or measured + ops[-1]["wall_s"] <= args.seconds:
                wd = os.path.join(run_dir, f"op{len(ops)}")
                t = time.time()
                wl.prepare(wd)
                prep_s = time.time() - t
                before = probes.tree_size(wd)
                first_op_t0 = first_op_t0 or time.time()
                if tracer:
                    tracer.op_start = len(tracer.spans)
                span = tracer.span("op", "pipeline", "op") if tracer else nullcontext()
                with span as op_span:
                    try:
                        res = wl.run(spark, wd)
                    except Exception as e:  # the operation failed
                        res = OpResult(0.0, 0, 0.0, failed=1, notes=[repr(e)[:300]])
                if not res.failed:
                    try:
                        wl.check(spark, wd, res)
                    except Exception as e:
                        res.failed = res.attempted
                        res.notes.append(f"check raised {e!r}"[:300])
                facts = op_facts(wl, wd, res, before)
                if tracer:
                    facts["seen"] = seen_facts(spark, wl, wd, tracer)
                    facts["children"] = discovery_children(spark, wl, wd)
                    facts["span"] = op_span
                    facts["query_times"] = res.extra.get("times", {})
                shutil.rmtree(wd, ignore_errors=True)
                measured += res.wall_s
                ops.append(dict(facts, wall_s=res.wall_s, rows=res.rows,
                                first_output_s=res.first_output_s, prep_s=prep_s,
                                failed=res.failed, attempted=res.attempted,
                                notes=res.notes, unchecked=res.extra.get("unchecked", [])))
                if res.failed and not res.wall_s:
                    break
            if tracer:
                tracer.unpatch()
                codec = probes.codec_split(wl.codec_ids(), wl.cfg)
            stop_session(spark)
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)
    med = probes.median
    setup_s = (first_op_t0 - t_proc) - gen_s - ops[0]["prep_s"] + med(o["prep_s"] for o in ops)
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    good = [o for o in ops if o["wall_s"] > 0] or ops
    if args.trace:
        jobs, stages = tr.read_event_log(os.path.join(run_dir, "eventlog"))
        metrics = layer_metrics(good, jobs, stages, tracer, codec, session_start_s, warmup_s)
        metrics["spark.peak_rss_mb"] = rss.peak / 2**20
        metrics["spark.jvm_rss_mb"] = rss.at_peak.get("java", 0) / 2**20
        metrics["spark.python_workers"] = rss.at_peak.get("n_workers", 0)
        units = {m["name"]: m["unit"] for m in load_benchmark()["per_layer"]}
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": med(o["wall_s"] for o in good),
            "rows_per_s": med(o["rows"] / o["wall_s"] for o in good if o["wall_s"]),
            "first_output_s": med(o["first_output_s"] for o in good),
        }
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "machine": box, "inputs": inputs, "load_generation_s": gen_s,
        "session_start_s": session_start_s, "warmup_s": warmup_s,
        "ops": [{k: o[k] for k in ("wall_s", "rows", "first_output_s", "prep_s",
                                   "failed", "attempted", "notes", "unchecked",
                                   "bytes_per_url")} for o in ops],
        "ops_max": {"wall_s": max(o["wall_s"] for o in ops)},
        "rss_at_peak_mb": {k: v / 2**20 if k != "n_workers" else v
                           for k, v in rss.at_peak.items()},
    }
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return info, result


def layer_metrics(ops, jobs, stages, tracer, codec, session_start_s, warmup_s) -> dict:
    """Per-layer metrics: medians over the run's operations."""
    from perfbench import probes, trace as tr
    from perfbench.workloads import query_list

    per_op = []
    for o in ops:
        t = tr.OpTrace(o["span"], tracer.spans, jobs, stages)
        stats = o["stats"]
        n_cand = sum(s.n_candidates for s in stats)
        n_sel = sum(s.n_selected for s in stats)
        epochs = t.named("pipeline.epoch")
        writes = [s for s in t.spans if s.kind == "write"]
        flushes = [s for s in t.named("discovery.flush")
                   if any(w.parent is s for w in writes)]
        seen_facts = o["seen"]
        novel = sum(s.n_discovered for s in stats)
        all_stages = t.stage_ids()
        fetch_stages = t.stage_ids("fetch")
        m = {
            "pipeline.epochs": len(epochs),
            "pipeline.spark_jobs": len(t.jobs),
            "pipeline.epoch_s": probes.median(s.dur for s in epochs),
            "pipeline.epoch_max_s": max((s.dur for s in epochs), default=0.0),
            "pipeline.driver_only_s": t.driver_only_s() if epochs else 0.0,
            "scheduler.rank_s": t.job_s("scheduler"),
            "scheduler.ranked_rows": n_cand,
            "scheduler.selected_ratio": n_sel / n_cand if n_cand else 0.0,
            "scheduler.shuffle_write_bytes": tr.stage_sum(
                stages, t.stage_ids("scheduler"), "shuffle_write_bytes"),
            "fetch.stage_s": t.job_s("fetch"),
            "fetch.python_s": tr.stage_sum(stages, fetch_stages, "python_s"),
            "fetch.python_start_s": tr.stage_sum(stages, fetch_stages, "python_start_s"),
            "fetch.to_python_bytes": tr.stage_sum(stages, fetch_stages, "to_python_bytes"),
            "fetch.from_python_bytes": tr.stage_sum(stages, fetch_stages, "from_python_bytes"),
            "fetch.rows": n_sel,
            "fetch.ok_ratio": sum(s.n_ok for s in stats) / n_sel if n_sel else 0.0,
            "fetch.valid_ratio": o["valid_ratio"],
            "catalog.commits": len(writes),
            "catalog.commit_s": sum(w.dur - t.jobs_within(w) for w in writes),
            "catalog.replace_s": sum(w.dur for w in writes if w.name.startswith("catalog.replace")),
            "catalog.bytes_written": o["bytes_written"],
            "catalog.files_written": o["files_written"],
            "catalog.bytes_per_url": o["bytes_per_url"],
            "seen.state_rows": seen_facts["state_rows"],
            "seen.jobs_s": t.job_s("seen"),
            "seen.rebuild_s": sum(s.dur for s in t.named("seen.load_seen_agg")
                                  if any(w.parent is s for w in writes)),
            "seen.bloom_build_s": sum(s.dur for s in t.named("seen.add_keys_to_bloom")),
            "seen.bloom_fill": seen_facts["bloom_fill"],
            "seen.bloom_fpp_est": seen_facts["bloom_fpp_est"],
            "seen.tested_rows": seen_facts["tested_rows"],
            "seen.maybe_ratio": seen_facts["maybe_ratio"],
            "seen.join_s": t.job_s("seen", plan_layer="seen"),
            "discovery.novel_s": sum(s.dur for s in t.named("discovery.novel")),
            "discovery.children": o["children"],
            "discovery.novel": novel,
            "discovery.novel_ratio": novel / o["children"] if o["children"] else 0.0,
            "discovery.flushes": len(flushes),
            "discovery.flush_s": sum(s.dur for s in flushes),
            "queries.spark_jobs": len(t.layer_jobs("queries")),
            "queries.shuffle_bytes": tr.stage_sum(
                stages, t.stage_ids("queries"), "shuffle_write_bytes"),
            "spark.tasks": sum(stages.get(i, {}).get("tasks", 0) for i in all_stages),
            "spark.failed_tasks": sum(stages.get(i, {}).get("failed_tasks", 0)
                                      for i in all_stages),
            "spark.stage_retries": sum(max(stages.get(i, {}).get("attempts", 1) - 1, 0)
                                       for i in all_stages),
            "spark.spill_bytes": sum(stages.get(i, {}).get(k, 0.0) for i in all_stages
                                     for k in ("internal.metrics.memoryBytesSpilled",
                                               "internal.metrics.diskBytesSpilled")),
            "spark.shuffle_read_bytes": sum(
                stages.get(i, {}).get(k, 0.0) for i in all_stages
                for k in ("internal.metrics.shuffle.read.localBytesRead",
                          "internal.metrics.shuffle.read.remoteBytesRead")),
            "trace.wall_s": o["wall_s"],
            "trace.coverage": t.coverage(),
        }
        for name in ("executor_run_s", "executor_cpu_s", "python_s", "gc_s",
                     "shuffle_write_bytes"):
            m[f"spark.{name}"] = tr.stage_sum(stages, all_stages, name)
        for name in query_list():
            m[f"queries.{name}_s"] = o["query_times"].get(name, 0.0)
        per_op.append(m)
    out = {k: probes.median(m[k] for m in per_op) for k in per_op[0]}
    out.update(codec)
    out["session.start_s"] = session_start_s
    out["session.warmup_s"] = warmup_s
    return out


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_all(args) -> int:
    """Every workload (BENCHMARK.json lists the ones that fit the
    benchmark's time budget), untraced then traced, each in its own process."""
    from perfbench.workloads import WORKLOADS

    report, rc = {}, 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
            if p.returncode or len(lines) < 2:
                print(f"{name} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                rc = 1
                continue
            report[(name, trace)] = (json.loads(lines[-2]), json.loads(lines[-1]))
    for name in WORKLOADS:
        if (name, 0) not in report:
            continue
        info, res = report[(name, 0)]
        print(f"\n== {name}  ({info['machine']['cores']} cores, "
              f"{info['machine']['mem_total_gb']} GB, pyspark {info['machine']['pyspark']}, "
              f"{len(info['ops'])} ops)")
        print(f"   inputs: {json.dumps(info['inputs'])}")
        print(f"   failed_ratio {res['failed'] / res['attempted']:.4f} "
              f"({res['failed']}/{res['attempted']} operations)")
        for k, v in res["metrics"].items():
            print(f"   {k:28s} {v['value']:14.4f} {v['unit']}")
        if (name, 1) in report:
            tinfo, tres = report[(name, 1)]
            tm = tres["metrics"]
            print(f"   tracing overhead (traced - untraced wall_s): "
                  f"{tm['trace.wall_s']['value'] - res['metrics']['wall_s']['value']:+.4f} s")
            print(f"   span coverage of traced wall_s: {tm['trace.coverage']['value']:.4f}")
            for k, v in tm.items():
                print(f"   {k:36s} {v['value']:16.4f} {v['unit']}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced")

    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "ycrawl_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from the root of a ycrawl_spark checkout "
              "(ycrawl_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    info, result = run_workload(args)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
