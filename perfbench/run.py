"""Benchmark entry point for lsh_rs_spark.

    python3 perfbench/run.py --workload web_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Each invocation is one fresh
Python process with one fresh Spark JVM (``local[nproc]``): it generates
the seeded inputs, runs warm-up requests, then issues requests in a
closed loop for ``--seconds`` seconds (always at least one full rotation
of the workload's request kinds), checks every output, and prints the
metrics.  The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log and job tagging and reports the per-layer metrics
instead.  Spans and a full result record (with host context) are written
under ``.perfbench_out/`` in the checkout.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import proc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "job_p50_s": "s",
    "pages_per_cpu_s": "pages/cpu-s",
    "dup_pair_recall": "ratio",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_context(cores: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    try:  # only when the checkout itself is a git work tree
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except OSError:
        pass
    return {
        "nproc": cores,
        "loadavg_before": os.getloadavg(),
        "commit": commit,
        "library_digest": library_digest(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def library_digest() -> str:
    """Content hash of the library sources (the checkout may not be a git
    repository, so this identifies the code under test)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lsh_rs_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def start_spark(cores: int, tmp: str, event_log: str | None):
    from pyspark.sql import SparkSession

    from lsh_rs_spark.tuning import suggest_shuffle_partitions

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions",
                str(suggest_shuffle_partitions(10_000, cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits on EOF from its parent
        jvm.wait(timeout=60)
    deadline = time.time() + 30
    while len(proc.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def load_fingerprints() -> dict:
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            return json.load(f)
    return {}


def other_core_counts(results: str, workload: str, cores: int) -> set[int]:
    """Core counts of earlier recorded runs of ``workload`` that differ
    from this host's."""
    found = set()
    if os.path.exists(results):
        with open(results) as f:
            for line in f:
                r = json.loads(line)
                n = r["host"]["nproc"]
                if r["workload"] == workload and n != cores:
                    found.add(n)
    return found


def check_outputs(outcomes: list, finish_ok: bool, finish_why: str,
                  recorded: dict) -> tuple[list[str], dict[str, str]]:
    """Mark requests whose output is wrong as failed.

    A fingerprint must equal the reference recorded for the seed, if any,
    and must repeat within the run.  A failed end-of-run stream check
    fails every micro-batch.  Returns (failure messages, fingerprints)."""
    seen: dict[str, str] = {}
    failures = []
    for o in outcomes:
        if o.ok and o.fingerprint:
            ref = recorded.get(o.item) or seen.get(o.item)
            if ref is not None and ref != o.fingerprint:
                o.ok, o.error = False, f"fingerprint {o.fingerprint} != {ref}"
            seen.setdefault(o.item, o.fingerprint)
        if not finish_ok and o.kind == "stream":
            o.ok, o.error = False, finish_why
        if not o.ok:
            failures.append(f"{o.kind} {o.item}: {o.error}")
    if not finish_ok and not any(o.kind == "stream" for o in outcomes):
        failures.append(finish_why)
    return failures, seen


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output fingerprints as the "
                         "reference for its seed (only if every check passed)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "lsh_rs_spark")):
        fail(f"no lsh_rs_spark package under {ROOT}; run from a source checkout")
    sys.path.insert(0, ROOT)
    # Python workers are separate processes: they find the library the
    # same way (the JVM hands them this environment)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        from workloads import WORKLOADS, Outcome
    except ImportError as e:
        fail(f"cannot import the benchmark's dependencies: {e}")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    from tracing import Tracer, layer_counters, per_layer_units, read_event_log

    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    run_tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    # keep every temporary file inside the checkout: Python's tempfile
    # (py4j hand-off), Spark's block and shuffle files, the Python workers,
    # and the JVMs' perf-data files (spark-submit's launcher JVM included)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if o)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    context = host_context(cores)

    rss = proc.RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, tmp, event_log)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.phases["session"] = time.perf_counter() - t0
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.reset_counts()
        tracer.enabled = bool(args.trace)

        outcomes = []
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds
               or len(outcomes) < len(wl.ROTATION)):
            try:
                out = wl.next_request()
            except Exception:  # counted as failed; the run ends there
                outcomes.append(Outcome("error", 0.0, 0, False,
                                        error=traceback.format_exc()))
                break
            if out is None:  # the workload's inputs are used up
                break
            outcomes.append(out)
        measured_s = time.perf_counter() - t_start
        finish_ok, finish_why, extras = wl.finish()
        wl.phases["finish"] = time.perf_counter() - t_start - measured_s
        peak_rss_mb = rss.stop()
        running, spark = spark, None
        stop_spark(running)
        events = read_event_log(event_log) if event_log else []
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    recorded = load_fingerprints().get(str(cores), {}).get(
        args.workload, {}).get(str(args.seed), {})
    failures, fingerprints = check_outputs(outcomes, finish_ok, finish_why,
                                           recorded)
    failed = sum(not o.ok for o in outcomes)

    jobs = [o for o in outcomes if o.kind in ("dedup", "stream")]
    job_s = sum(o.seconds for o in jobs)
    job_cpu_s = sum(o.cpu_s for o in jobs)
    e2e = {
        "setup_s": setup_s,
        "pages_per_s": sum(o.rows for o in jobs) / job_s if job_s else 0,
        "job_p50_s": statistics.median(o.seconds for o in jobs) if jobs else 0,
        "pages_per_cpu_s": sum(o.rows for o in jobs) / job_cpu_s if job_cpu_s else 0,
        "dup_pair_recall": (wl.pairs_found / wl.pairs_planted
                            if wl.pairs_planted else 0),
    }
    if args.trace:
        units = per_layer_units()
        layer = layer_counters(events, tracer.spans, cores, wl.invocations(),
                               wl.stream_first)
        layer.update(extras)
        layer["trace.pages_per_s"] = e2e["pages_per_s"]
        layer["trace.peak_rss_mb"] = peak_rss_mb
        metrics = {k: layer.get(k, 0) for k in units}
        tracer.write(os.path.join(OUT, f"{run_tag}.spans.jsonl"))
    else:
        units = END_TO_END
        metrics = {k: e2e[k] for k in units}

    context["loadavg_after"] = os.getloadavg()
    results = os.path.join(OUT, "results.jsonl")
    other_cores = sorted(other_core_counts(results, args.workload, cores))
    with open(results, "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "host": context,
            "setup_phases_s": wl.phases, "measured_s": measured_s,
            "requests": [o.__dict__ for o in outcomes], "failures": failures,
            "end_to_end": e2e, "peak_rss_mb": peak_rss_mb, "metrics": metrics,
        }, default=str) + "\n")
    if args.record and not failures:
        store = load_fingerprints()
        store.setdefault(str(cores), {}).setdefault(args.workload, {}).setdefault(
            str(args.seed), {}).update(fingerprints)
        with open(FINGERPRINTS, "w") as f:
            json.dump(store, f, indent=1, sort_keys=True)
            f.write("\n")

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={cores} "
          f"requests={len(outcomes)} failed={failed} measured={measured_s:.1f}s "
          f"loadavg={context['loadavg_before'][0]:.2f}->"
          f"{context['loadavg_after'][0]:.2f}")
    if other_cores:
        print(f"# WARNING: {results} also holds {args.workload} runs at nproc="
              f"{other_cores}; figures from different core counts are not "
              "comparable")
    for msg in failures:
        print(f"# FAILED {msg}")
    for k, v in metrics.items():
        print(f"{k:42s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
