#!/usr/bin/env python3
"""Extraction benchmark for pdf_ocr_spark.

    python3 perfbench/run.py --workload pdf_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. One workload per run, on ``local[N]`` with
N the CPUs this process may use. One client in a closed loop: each pass
is one batch job through the package's public entry points, submitted
after the previous one finished. The run

1. launches the JVM, then makes or loads the seeded inputs (untimed);
2. sets up: new SparkSession, then build the query and run two warm-up
   passes that start the Python worker pool, its lazy imports and the
   JVM's compilation of the hot paths;
3. measures passes for ``--seconds`` (at least ``MIN_PASSES``);
4. checks every output row of the first warm-up pass against the value
   derived from the seed; a timed pass counts as correct when its
   observed row count and checksum equal the checked pass's;
5. with ``--trace 1``, repeats the passes with Spark's event log on and
   adds the per-layer numbers (see ``layers.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` count documents, and ``metrics`` holds the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``). A record
of each run, and the per-layer artifact ``layers.json``, are written to
``perfbench/.out``; inputs are cached in ``perfbench/.cache``.

End-to-end metrics (medians over the timed passes):
  pages_per_s      pages per second at the corpus's fixed size
  ok_frac          documents right / documents attempted
  cpu_ms_per_page  CPU of the whole process tree per page
  peak_rss_mb      peak summed RSS of the process tree
  setup_s          JVM launch + first session + warm-up passes
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
CACHE = os.path.join(HERE, ".cache")
MIN_PASSES = 3

END_TO_END_UNITS = {
    "pages_per_s": "1/s",
    "ok_frac": "ratio",
    "cpu_ms_per_page": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_conf(cpus: int) -> dict:
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        # A fixed 1 GB heap: the JVM's resident set then depends on the
        # work, not on when the collector decided to grow the heap. C1
        # only: with the default C2 tier the compiler threads were still
        # busy through the timed passes, and per-pass CPU fell by a third
        # from the first timed pass to the last.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:TieredStopAtLevel=1",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.local.dir": os.path.join(OUT, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.eventLog.enabled": "false",
    }


def isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    Python workers import the package from it."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def new_session(conf: dict, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    if event_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_passes(spark, wl, corpus, sink: str, seconds: float) -> list[dict]:
    """Closed loop, one client: the next pass starts when one ends."""
    from procfs import tree_cpu_s

    out: list[dict] = []
    deadline = time.perf_counter() + seconds
    while len(out) < MIN_PASSES or time.perf_counter() < deadline:
        spark.sparkContext.setJobGroup(f"pass-{len(out)}", wl.name)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            aggs, _ = wl.run_pass(spark, corpus, sink, False)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            traceback.print_exc()
            aggs = None
        out.append({"wall_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - cpu0, "aggs": aggs})
    spark.sparkContext.setJobGroup("after", wl.name)
    return out


def summarize(passes: list[dict], corpus, check_aggs, ok_check: int) -> dict:
    """Medians over passes and the document tally."""
    good = [p for p in passes if p["aggs"] is not None] or passes
    wall = statistics.median(p["wall_s"] for p in good)
    cpu = statistics.median(p["cpu_s"] for p in good)
    docs, pages = corpus.n_docs, corpus.n_pages()
    ok = ok_check + sum(ok_check for p in passes if p["aggs"] == check_aggs)
    attempted = docs * (len(passes) + 1)
    return {
        "pages_per_s": pages / wall,
        "ok_frac": ok / attempted,
        "cpu_ms_per_page": 1000.0 * cpu / pages,
        "attempted": attempted,
        "failed": attempted - ok,
    }


def traced_layers(conf, wl, corpus, sink, seconds, run_id, untraced_rate, error_rows):
    """The traced run: passes with the event log on, the entry-point
    call time, span_extract's prefix plans or pdf_scan's light-tier
    readers, then the driver-side kernel pass. Returns (per-layer
    metrics, notes on metrics a workload does not measure, raw data)."""
    import shutil

    import layers

    event_dir = os.path.join(OUT, "eventlog", run_id)
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    spark = new_session(conf, event_dir)
    spark.sparkContext.setJobGroup("warmup", wl.name)
    wl.run_pass(spark, corpus, sink, False)
    passes = timed_passes(spark, wl, corpus, sink, seconds)
    traced_rate = summarize(passes, corpus, None, 0)[wl.rate]
    m = {"pdfsource.plan_ms": 1000.0 * layers.timed_median(lambda: wl.call(spark, corpus), 5)}
    notes = {}
    if wl.name == "span_extract":
        m.update(layers.span_prefixes(spark, corpus, sink))
    else:
        for k in layers.PREFIX_METRICS:
            m[k] = 0.0
            notes[k] = "not measured: prefix plans run on span_extract only"
    if wl.name == "pdf_scan":
        m.update(layers.metadata_tier(spark, corpus))
    else:
        for k in layers.METADATA_METRICS:
            m[k] = 0.0
            notes[k] = "not measured: the light-tier readers run on pdf_scan's files only"
    spark.stop()

    stats = layers.pass_stats(event_dir)
    per_pass = [v for g, v in stats.items() if g.startswith("pass-")]
    counts = [{k: q.get(k) for k in layers.COUNTS} for q in per_pass]
    if any(c != counts[0] for c in counts):
        notes["spark.counts"] = "job/stage/task counts differed between passes; medians reported"
    m.update(layers.median_by_key(per_pass, layers.PASS_METRICS))
    if wl.name == "pdf_scan":
        meta = layers.median_by_key(
            [v for g, v in stats.items() if g.startswith("meta-") and g != "meta-0"],
            ("pdfsource.scan_tasks", "python.boot_ms", "python.init_ms"),
        )
        m["pdfsource.metadata_scan_tasks"] = meta["pdfsource.scan_tasks"]
        m["python.metadata_boot_ms"] = meta["python.boot_ms"]
        m["python.metadata_init_ms"] = meta["python.init_ms"]

    kp = layers.kernel_pass(wl.name, corpus)
    m.update(layers.kernel_metrics(kp))
    kernel_ms_per_pass = 1000.0 * sum(kp["self_s"].values()) * corpus.n_pages() / kp["pages"]
    m["kernel.self_share_of_executor_cpu"] = kernel_ms_per_pass / m["spark.executor_cpu_ms"]
    m["kernel.self_share_of_python_ms"] = kernel_ms_per_pass / m["python.total_ms"]
    notes["kernel.self_share_of_executor_cpu"] = (
        "driver-side kernel self time scaled to one pass, over the JVM task CPU "
        "of one pass; the JVM figure excludes Python worker CPU, so the share "
        "can exceed 1"
    )
    notes["kernel.self_share_of_python_ms"] = (
        "the same kernel time over python.total_ms, the time tasks spent in "
        "Python workers in one pass"
    )
    m["ocr.error_rows"] = error_rows
    m["trace.overhead_per_s"] = traced_rate - untraced_rate
    notes["trace.overhead_per_s"] = f"traced minus untraced {wl.rate}"
    return m, notes, {"kernel_pass": kp, "traced_rate": traced_rate, "untraced_rate": untraced_rate}


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pdf_ocr_spark", "__init__.py")):
        log(f"no pdf_ocr_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    isolate_environment()
    sys.path.insert(0, ROOT)
    import pdf_ocr_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(pdf_ocr_spark.__file__))) != ROOT:
        log(f"pdf_ocr_spark imported from {pdf_ocr_spark.__file__}, not from {ROOT}")
        return 2

    import corpus as corpus_mod
    import layers
    import procfs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}"
    cpus = len(os.sched_getaffinity(0))
    conf = spark_conf(cpus)
    sink = os.path.join(OUT, "sink", wl.name)

    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(list(conf.items())))
    boot_s = procfs.process_age_s()
    gateway = SparkContext._gateway
    canary = [procfs.canary_ms()]
    try:
        t0 = time.perf_counter()
        spark = new_session(conf)
        cold_session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        corpus, generated = corpus_mod.load(spark, CACHE, wl.corpus, args.seed)
        input_s = time.perf_counter() - t0
        log(f"inputs {'generated' if generated else 'loaded'} in {input_s:.1f}s")

        # Set-up is JVM launch + first SparkSession + query build and two
        # warm-up passes on a fresh session, which starts a new Python
        # worker pool. The first warm-up pass is also the checked pass:
        # its output rows are compared with the expected values.
        spark.stop()
        spark = new_session(conf)
        spark.sparkContext.setJobGroup("setup", wl.name)
        t0 = time.perf_counter()
        check_aggs, fetch = wl.run_pass(spark, corpus, sink, True)
        warm_s = time.perf_counter() - t0
        ok_check, error_rows = wl.check(corpus, fetch())
        t0 = time.perf_counter()
        wl.run_pass(spark, corpus, sink, False)
        warm_s += time.perf_counter() - t0
        log(f"boot {boot_s:.2f}s, first session {cold_session_s:.2f}s, warm-up {warm_s:.2f}s")

        with procfs.RssPeak() as rss:
            passes = timed_passes(spark, wl, corpus, sink, args.seconds)
        canary.append(procfs.canary_ms())
        e2e = summarize(passes, corpus, check_aggs, ok_check)
        e2e["peak_rss_mb"] = rss.peak / 2**20
        jvm_mb = rss.at_peak.get(gateway.proc.pid, 0) / 2**20
        e2e["setup_s"] = boot_s + cold_session_s + warm_s
        log(
            f"{len(passes)} passes {[round(p['wall_s'], 2) for p in passes]}, "
            f"ok {ok_check}/{corpus.n_docs} in the checked pass"
        )

        record = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "cpus": cpus,
            "inputs_generated": generated, "input_s": input_s, "boot_s": boot_s,
            "cold_session_s": cold_session_s, "warmup_s": warm_s, "passes": passes, "check_aggs": check_aggs,
            "ok_in_checked_pass": ok_check, "docs": corpus.n_docs, "pages": corpus.n_pages(),
            "error_rows": error_rows, "end_to_end": e2e, "jvm_rss_mb_at_peak": jvm_mb,
        }
        if args.trace:
            spark.stop()
            metrics, notes, extra = traced_layers(
                conf, wl, corpus, sink, args.seconds, run_id, e2e[wl.rate], error_rows
            )
            canary.append(procfs.canary_ms())
            metrics["host.canary_ms"] = statistics.median(canary)
            traced_ok = wl.name != "pdf_scan" or metrics["pdfsource.metadata_ok_frac"] == 1.0
            units = {k: layers.UNITS[k] for k in metrics}
            record.update(layers=metrics, layer_notes=notes, **extra)
            layers_path = os.path.join(OUT, "layers.json")
            try:
                with open(layers_path) as f:
                    artifact = json.load(f)
            except FileNotFoundError:
                artifact = {}
            artifact[wl.name] = {"seed": args.seed, "metrics": metrics, "units": units, "notes": notes}
            write_json(layers_path, artifact)
            report = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            traced_ok = True
            report = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        record["host.canary_ms"] = canary
        write_json(os.path.join(OUT, "runs", f"{run_id}.json"), record)
    finally:
        t_stop = time.perf_counter()
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        procfs.stop_tree()
        log(f"shutdown {time.perf_counter() - t_stop:.2f}s, process age {procfs.process_age_s():.1f}s")

    print(json.dumps({
        "correct": e2e["failed"] == 0 and traced_ok,
        "attempted": e2e["attempted"],
        "failed": e2e["failed"],
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
