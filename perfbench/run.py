"""Oracle-checked crawl benchmark for spider_1_spark.

    python3 perfbench/run.py --workload frontier_image --seed 42 --seconds 30 --trace 0

Run from the repository root.  One process is one closed-loop client
with one crawl: start a fresh local session with nproc/2 task slots,
generate the seeded frontier, then time ``SparkCrawler.run_frontier`` on
it.  The timed crawl is the first crawl of the Spark application, as in a
crawl submitted as its own job, so JIT and Python-worker start-up inside
the crawl count.
The unit of measurement is the whole crawl, which takes 30-45 s on the
4-core reference box, about ``--seconds`` (BENCHMARK.json ``run_seconds``).

Every crawl's crawl log, seen set, image rows, counters, wave count and
per-partition metrics are checked against ``reference_model/spider1_ref.py``
on the same input, and the input itself against a fingerprint.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Workload sizes and session
settings live in ``perfbench/spec.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads as W  # noqa: E402

T_PROC = procstat.process_start_time()
RUN_TIMEOUT_S = 170
STATE_TABLES = ("crawl_log", "images", "seen", "frontier", "hosts", "metrics")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class CheckFailed(Exception):
    pass


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")


# ---------------------------------------------------------------- session

def build_session(spec: dict, work: str, trace: bool):
    from pyspark.sql import SparkSession
    from spider_1_spark.engine.crawler import FAIR_SCHEDULER_XML

    # each Python-UDF task runs a JVM task thread and a Python worker, so
    # nproc/2 task slots keep the runnable threads at about nproc
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    subst = {"slots": slots, "fair_scheduler_xml": FAIR_SCHEDULER_XML, "work": work}
    s = spec["session"]
    conf = dict(s["conf"], **(s["trace_conf"] if trace else {}))
    b = SparkSession.builder.master(s["master"].format(**subst)).appName("perfbench")
    b = b.config("spark.executorEnv.PYTHONPATH", ROOT)
    for k, v in conf.items():
        b = b.config(k, v.format(**subst))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every process it ran.

    The process list is taken before the JVM exits: its Python daemon and
    workers are re-parented once it is gone, and are still waited for."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    pids = procstat.tree()[1:]
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_gone(pids)


def wait_gone(pids: list[int], grace_s: float = 15.0) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, what outlives the
    grace period."""
    deadline = time.time() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 2.0
        while time.time() < deadline:
            pids = [p for p in pids if procstat.alive(p)]
            if not pids:
                return
            time.sleep(0.1)


# ----------------------------------------------------------------- inputs

def read_frontier(path: str) -> list[str]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["seed_rank", "raw_url"]).to_pandas()
    t = t.sort_values("seed_rank")
    if list(t["seed_rank"]) != list(range(len(t))):
        raise CheckFailed("frontier seed_rank is not 0..N-1")
    return list(t["raw_url"])


def check_fingerprint(wl: dict, golden_wl: dict, live: dict, seed: int,
                      default_seed: int) -> list[str]:
    want = {
        "frontier": W.frontier_digest(
            W.expected_frontier(int(wl["rows"]), int(wl["hosts"]), W.gen_seed(seed))
        ),
        "policy": golden_wl["fingerprint"]["policy"],
        "web_sample": golden_wl["fingerprint"]["web_sample"],
    }
    bad = W.compare(want, live, "fingerprint")
    if seed == default_seed:
        bad += W.compare(golden_wl["fingerprint"], live, "fingerprint(golden)")
    return bad


def start_oracle(name: str, seed: int, out: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "oracle.py"),
         "--workload", name, "--seed", str(seed), "--out", out],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
    )


# ------------------------------------------------------------------ crawl

def dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


def make_crawler(spark, wl: dict, spec: dict, root: str):
    from spider_1_spark.engine import SparkCrawler

    bloom = spec["bloom"]
    return SparkCrawler(
        spark, W.policy_of(wl), W.web_of(wl), root,
        bloom_shards=int(bloom["shards"]),
        bloom_bits=W.bloom_bits_of(wl, bloom),
    )


def engine_digests(art) -> tuple[dict, list[str]]:
    log_pdf = art.crawl_log.select(
        "seq", "url", "depth", "parent_rank", "link_pos", "wave_id"
    ).toPandas()
    seen_pdf = art.seen.select(
        "url", "first_wave", "depth", "parent_rank", "link_pos"
    ).toPandas()
    img_pdf = art.images.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ).toPandas()
    metrics_pdf = art.metrics.toPandas()
    got = W.output_digests(
        log_pdf.itertuples(index=False, name=None),
        seen_pdf.itertuples(index=False, name=None),
        img_pdf.itertuples(index=False, name=None),
        art.counters,
        art.n_waves,
    )
    # SPEC-11: the per-partition metrics rows sum to the counters
    sums = {k: int(metrics_pdf[k].sum()) for k in art.counters}
    bad = W.compare(dict(art.counters), sums, "metrics_table_sum")
    return got, bad


def crawl(spark, wl, spec, frontier_path, root, tracer=None) -> dict:
    """One timed run_frontier call; returns its measurements and outputs."""
    crawler = make_crawler(spark, wl, spec, root)
    frame = spark.read.parquet(frontier_path)
    patched = tracer.install() if tracer is not None else nullcontext()
    cpu0 = procstat.cpu_seconds(procstat.tree())
    t0 = time.time()
    with procstat.PeakRss() as rss, patched:
        art = crawler.run_frontier(frame)
    t1 = time.time()
    cpu1 = procstat.cpu_seconds(procstat.tree())
    c = art.counters
    evaluated = c["fetched"] + c["deferred"] + c["dropped"] + c["robots_blocked"]
    return {
        "art": art,
        "crawler": crawler,
        "t0": t0,
        "t1": t1,
        "wall_s": t1 - t0,
        "evaluated": evaluated,
        "n_waves": art.n_waves,
        "urls_per_s": evaluated / (t1 - t0),
        "cpu_s_per_kurl": (cpu1 - cpu0) / (evaluated / 1000.0),
        "peak_rss_mb": rss.peak / 1e6,
        "state_mb": dir_bytes(root)[0] / 1e6,
    }


# ------------------------------------------------------------ per layer

def state_layers(root: str) -> dict:
    out, total = {}, 0
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if os.path.isdir(p):
            b, _ = dir_bytes(p)
            key = name if name in STATE_TABLES or name == "bloom" else "other"
        else:
            b, key = os.path.getsize(p), "other"
        out[key] = out.get(key, 0) + b
        total += b
    return {"mb": {k: v / 1e6 for k, v in out.items()}, "total_mb": total / 1e6,
            "files": dir_bytes(root)[1]}


def bloom_fp_rate(crawler, manifest_version: int, n: int = 20000) -> float:
    """Observed false-positive rate of the final shards on URLs the web
    never produces (a host name outside the synthetic web's pattern)."""
    import pandas as pd
    from spider_1_spark.engine import bloom

    urls = pd.Series([f"http://nx{i}.invalid.test/q/{i}" for i in range(n)])
    hits = bloom.probe_pandas(urls, crawler.bloom, manifest_version, {})
    return float(hits.sum()) / n


def layer_metrics(wl, spec, raw, run, tracer, ev, overhead) -> dict:
    import kernels

    waves = run["n_waves"]
    commits = tracer.commit_times()
    wave_s = [b - a for a, b in zip(commits, commits[1:])]
    st = run["state"]
    m = {
        "crawler.crawl_s": (run["wall_s"], "s"),
        "crawler.waves": (waves, "count"),
        "crawler.wave_s.p50": (statistics.median(wave_s), "s"),
        "crawler.wave_s.max": (max(wave_s), "s"),
        "crawler.spark_jobs": (ev["jobs"], "count"),
        "crawler.spark_jobs_per_wave": (ev["jobs"] / waves, "count"),
        "operators.ingest_s": (tracer.total("operators.ingest"), "s"),
        "operators.rank_s": (tracer.total("operators.rank"), "s"),
        "operators.python_run_s": (ev["python_run_s"], "s"),
        "operators.python_init_s": (ev["python_init_s"], "s"),
        "operators.python_mb_sent": (ev["python_mb_sent"], "MB"),
        "bloom.update_s": (tracer.total("bloom.update"), "s"),
        "bloom.update_calls": (tracer.count("bloom.update"), "count"),
        "bloom.shard_mb_written": (st["mb"].get("bloom", 0.0), "MB"),
        "bloom.fp_rate": (run["fp_rate"], "ratio"),
        "state.commit_s": (tracer.total("state.commit"), "s"),
        "state.files": (st["files"], "count"),
        "state.mb_total": (st["total_mb"], "MB"),
        "spark.executor_run_s": (ev["executor_run_s"], "s"),
        "spark.executor_cpu_s": (ev["executor_cpu_s"], "s"),
        "spark.gc_s": (ev["gc_s"], "s"),
        "spark.shuffle_write_mb": (ev["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (ev["spill_mb"], "MB"),
        "spark.tasks": (ev["tasks"], "count"),
        "trace.overhead": (overhead, "ratio"),
    }
    for pool, s in ev["pool_busy_s"].items():
        m[f"crawler.pool_busy_s.{pool}"] = (s, "s")
    for t in STATE_TABLES:
        m[f"state.write_s.{t}"] = (tracer.total(f"state.write.{t}"), "s")
        m[f"state.mb.{t}"] = (st["mb"].get(t, 0.0), "MB")
    m["state.mb.bloom"] = (st["mb"].get("bloom", 0.0), "MB")
    m["state.mb.other"] = (st["mb"].get("other", 0.0), "MB")
    bits = W.bloom_bits_of(wl, spec["bloom"])
    for k, v in kernels.kernel_timings(raw, int(wl["hosts"]), bits).items():
        m[k] = (v, "us")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


# ------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # fail before printing any result when the program is not here
    if not os.path.isdir(os.path.join(ROOT, "spider_1_spark")):
        log(f"no spider_1_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import spider_1_spark.engine  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine: {e}")
        return 2
    spec = W.load_spec()
    golden = W.load_golden()
    if args.workload not in spec["workloads"] or args.workload not in golden:
        log(f"unknown workload {args.workload!r}")
        return 2
    wl = spec["workloads"][args.workload]
    default_seed = int(spec["default_seed"])

    for k in spec["session"]["unset_env"]:
        os.environ.pop(k, None)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S)

    attempted = failed = 0
    problems: list[str] = []
    metrics: dict = {}
    spark = oracle_proc = None
    try:
        # the untimed oracle starts first and overlaps Spark start-up
        cache_dir = os.path.join(ROOT, ".perfbench_cache")
        os.makedirs(cache_dir, exist_ok=True)
        spec_tag = hashlib.sha256(json.dumps(wl, sort_keys=True).encode()).hexdigest()[:12]
        cache = os.path.join(cache_dir, f"{args.workload}-{args.seed}-{spec_tag}.json")
        if args.seed == default_seed:
            expected = golden[args.workload]
        elif os.path.exists(cache):
            with open(cache) as f:
                expected = json.load(f)
        else:
            expected = None
            oracle_proc = start_oracle(args.workload, args.seed, cache)

        untimed = 0.0
        spark = build_session(spec, work, bool(args.trace))
        log(f"session up at {time.time() - T_PROC:.2f} s")
        fpath = os.path.join(work, "frontier")
        from spider_1_spark.fixtures.frontier_gen import write_frontier

        write_frontier(spark, fpath, int(wl["rows"]), int(wl["hosts"]), W.gen_seed(args.seed))
        t = time.time()
        raw = read_frontier(fpath)
        live = W.fingerprint(wl, raw)
        print("input_fingerprint " + json.dumps(live, sort_keys=True), flush=True)
        problems += check_fingerprint(
            wl, golden[args.workload], live, args.seed, default_seed
        )
        untimed += time.time() - t

        setup_s = time.time() - T_PROC - untimed
        log(f"ready at {time.time() - T_PROC:.2f} s (setup_s {setup_s:.2f})")

        if oracle_proc is not None:
            _, err = oracle_proc.communicate()
            if oracle_proc.returncode != 0:
                raise RuntimeError(f"oracle failed: {err.decode(errors='replace')[-2000:]}")
            oracle_proc = None
            with open(cache) as f:
                expected = json.load(f)
        problems += W.compare(expected["fingerprint"], live, "oracle_input")
        if problems:
            raise CheckFailed("; ".join(problems))

        from spans import Tracer

        # untraced: one crawl, the first of this application.  traced:
        # the same crawl traced (per-layer metrics), then a traced and an
        # untraced warm crawl whose ratio is the tracing overhead.  Warm
        # crawls still speed up one after another, so the ratio errs
        # towards overstating the overhead.
        plan = [True, True, False] if args.trace else [False]
        runs = []
        for traced_crawl in plan:
            tracer = Tracer(spark.sparkContext) if traced_crawl else None
            root = os.path.join(work, f"state{len(runs)}")
            attempted += 1
            r = crawl(spark, wl, spec, fpath, root, tracer)
            got, bad = engine_digests(r["art"])
            bad += W.compare(expected["oracle"], got, "output")
            if bad:
                failed += 1
                problems += bad
            if tracer is not None:
                r["tracer"] = tracer
                r["state"] = state_layers(root)
                r["fp_rate"] = bloom_fp_rate(
                    r["crawler"], r["crawler"].store.read_manifest()["versions"]["seen"]
                )
            del r["art"], r["crawler"]
            shutil.rmtree(root, ignore_errors=True)
            runs.append(r)
            log(f"crawl {len(runs)}: {r['wall_s']:.2f} s, {r['urls_per_s']:.1f} URLs/s, "
                f"checks {'ok' if not bad else 'FAILED'}, "
                f"{len(procstat.tree())} processes, cpu {r['cpu_s_per_kurl'] * r['evaluated'] / 1000:.1f} s")

        if args.trace:
            traced, traced_warm, untraced_warm = runs
            stop_session(spark)
            spark = None
            import eventlog

            ev = eventlog.window_metrics(os.path.join(work, "eventlog"), traced["t0"], traced["t1"])
            tracer = traced.pop("tracer")
            metrics = layer_metrics(
                wl, spec, raw, traced, tracer, ev,
                traced_warm["urls_per_s"] / untraced_warm["urls_per_s"],
            )
            if abs(metrics["state.mb_total"]["value"] - sum(
                    v["value"] for k, v in metrics.items() if k.startswith("state.mb."))) > 1e-6:
                problems.append("state.mb.* does not sum to state.mb_total")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": tracer.spans, "jobs_by_label": ev["jobs_by_label"],
                           "metrics": metrics}, f, indent=1)
        else:
            (r,) = runs
            metrics = {
                "urls_per_s": {"value": r["urls_per_s"], "unit": "urls/s"},
                "cpu_s_per_kurl": {"value": r["cpu_s_per_kurl"], "unit": "s/kurl"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
                "state_mb": {"value": r["state_mb"], "unit": "MB"},
            }
    except Exception as e:  # report any failure as a failed run
        import traceback

        traceback.print_exc()
        problems.append(f"{type(e).__name__}: {e}")
        attempted = max(attempted, 1)
        failed = max(failed, 1)
    finally:
        signal.alarm(0)
        if oracle_proc is not None:
            oracle_proc.kill()
            oracle_proc.wait()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        log(f"CHECK FAILED: {p}")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
