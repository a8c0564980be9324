"""Measurements taken from outside the engine: process-tree RSS, the
first durable fetch_log snapshot, bytes on disk, and the per-call cost
of the codec and hashing functions the fused fetch stage runs."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and every descendant (driver Python,
    the JVM it launched, and the JVM's Python workers), by process
    name, plus the number of Python workers."""
    kids = _proc_children()
    out = {"driver": 0, "java": 0, "workers": 0, "n_workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "driver" if pid == root else ("java" if comm == "java" else "workers")
        out[kind] += rss
        out["n_workers"] += kind == "workers"
    return out


class RssSampler:
    """Peak RSS of this process tree, sampled from /proc by a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss = tree_rss_bytes(pid)
            total = rss["driver"] + rss["java"] + rss["workers"]
            if total > self.peak:
                self.peak, self.at_peak = total, rss
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def snapshot_ids(table_dir: str) -> set[str]:
    try:
        with open(os.path.join(table_dir, "manifest.json")) as f:
            return {s["snapshot_id"] for s in json.load(f)}
    except (OSError, ValueError):
        return set()


class CommitWatcher:
    """Time at which a fetch_log snapshot that was not there at start
    becomes durable: listed in the manifest with its data dir complete
    (Spark's ``_SUCCESS`` marker). Polls files only; never touches Spark."""

    def __init__(self, table_dir: str, interval: float = 0.005):
        self.table_dir = table_dir
        self.interval = interval
        self.before = snapshot_ids(table_dir)
        self.first_at: float | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _durable_new(self) -> bool:
        try:
            with open(os.path.join(self.table_dir, "manifest.json")) as f:
                snaps = json.load(f)
        except (OSError, ValueError):
            return False
        return any(
            s["snapshot_id"] not in self.before
            and all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in s["files"])
            for s in snaps
        )

    def _run(self) -> None:
        while self.first_at is None:
            if self._durable_new():
                self.first_at = time.time()
            elif self._stop.wait(self.interval):
                return

    def __enter__(self) -> "CommitWatcher":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``: apparent sizes of regular files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                n_bytes += os.lstat(os.path.join(root, name)).st_size
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files


# ───────────── origin / engine split of the fused fetch stage ─────────────

ORIGIN_FNS = ("gen_dims", "gen_fmt", "gen_pixels", "encode", "gen_caption",
              "fail_roll", "exetime_hash")
ENGINE_FNS = ("decode", "psnr", "phash64", "ref_check")


def codec_split(image_ids: list[str], cfg, reps: int = 3) -> dict[str, float]:
    """Per-call µs of each function ``fetch.fetch_parse_stage`` runs per
    row, in this process, in the stage's order (origin: what the
    synthetic site costs; engine: what the crawler itself costs).
    Returns ``codecs.<fn>_us`` means over the ok rows, the per-URL
    origin and engine totals (failure roll and exetime hash run on every
    row, the codec calls only on ok rows) and ``hashing.xxh64_str_us``.
    The best of ``reps`` passes is kept per function."""
    import numpy as np

    from ycrawl_spark import codecs
    from ycrawl_spark.config import fail_roll
    from ycrawl_spark.hashing import xxh64_str

    clock = time.perf_counter
    refs = {}
    for image_id in image_ids:  # the frontier's expected metadata (untimed)
        row = codecs.make_image_row(image_id)
        refs[image_id] = (row["w"], row["h"], row["fmt"], row["caption"],
                          str(row["phash"]))
    best: dict[str, float] = {}
    ok_rows = 0
    for _ in range(reps):
        spent = dict.fromkeys(ORIGIN_FNS + ENGINE_FNS, 0.0)
        ok_rows = 0
        for image_id in image_ids:
            key = f"k:{image_id}"
            t0 = clock()
            failed = fail_roll(key, 1, cfg)
            t1 = clock()
            xxh64_str(f"exe:{key}:1")
            t2 = clock()
            spent["fail_roll"] += t1 - t0
            spent["exetime_hash"] += t2 - t1
            if failed:
                continue
            ok_rows += 1
            t0 = clock()
            w, h = codecs.gen_dims(image_id)
            t1 = clock()
            fmt = codecs.gen_fmt(image_id)
            t2 = clock()
            truth = codecs.gen_pixels(image_id, w, h)
            t3 = clock()
            raw = codecs.encode(truth, fmt)
            t4 = clock()
            px = codecs.decode(raw)
            t5 = clock()
            if fmt != "lossy" and np.array_equal(truth, px):
                p = float("inf")
            else:
                p = codecs.psnr(truth, px)
            t6 = clock()
            ph = codecs.phash64(px)
            t7 = clock()
            cap = codecs.gen_caption(image_id)
            t8 = clock()
            w_ref, h_ref, fmt_ref, cap_ref, ph_ref = refs[image_id]
            valid = (w == w_ref and h == h_ref and fmt == fmt_ref
                     and cap == cap_ref and ph == int(ph_ref)
                     and (p >= 40.0 if fmt == "lossy" else min(p, 999.0) >= 999.0))
            t9 = clock()
            if not valid:
                raise ValueError(f"codec probe: {image_id} failed validation")
            for fn, dt in (("gen_dims", t1 - t0), ("gen_fmt", t2 - t1),
                           ("gen_pixels", t3 - t2), ("encode", t4 - t3),
                           ("decode", t5 - t4), ("psnr", t6 - t5),
                           ("phash64", t7 - t6), ("gen_caption", t8 - t7),
                           ("ref_check", t9 - t8)):
                spent[fn] += dt
        for fn, s in spent.items():
            best[fn] = min(best.get(fn, s), s)
    n = len(image_ids)
    per_call = {
        fn: best[fn] / (n if fn in ("fail_roll", "exetime_hash") else max(ok_rows, 1)) * 1e6
        for fn in best
    }
    out = {f"codecs.{fn}_us": v for fn, v in per_call.items()}
    out["fetch.origin_us_per_url"] = sum(best[f] for f in ORIGIN_FNS) / n * 1e6
    out["fetch.engine_us_per_url"] = sum(best[f] for f in ENGINE_FNS) / n * 1e6
    sample = [f"exe:k:{i}:1" for i in image_ids]
    t0 = clock()
    for s in sample:
        xxh64_str(s)
    out["hashing.xxh64_str_us"] = (clock() - t0) / len(sample) * 1e6
    return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
