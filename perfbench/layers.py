"""Per-layer numbers for the traced run, all measured from outside the
package: Spark's event log, wall time around public calls, and a
single-threaded kernel pass in the driver that wraps the public codec
functions with self-timers.

The light-tier PDF readers (``pdf_page_counts``, ``read_pdf_info``,
``read_pdf_profiles``) are measured here, on the pdf_scan files, rather
than as a workload of their own: see ``metadata_tier``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from collections import Counter, defaultdict

#: Public kernel functions timed by the driver-side pass, by module.
KERNEL_FUNCS = {
    "pdf_ocr_spark.sources.pdfcodec": ("decode_pdf",),
    "pdf_ocr_spark.sources.pdffilters": (
        "lzw_decode", "runlength_decode", "predictor_decode", "ascii85_decode",
    ),
    "pdf_ocr_spark.sources.pdfcrypt": ("decrypt_object", "aes128_cbc_decrypt", "file_key_r6"),
    "pdf_ocr_spark.sources.ccittcodec": ("g3_decode", "g4_decode"),
    "pdf_ocr_spark.sources.jbig2codec": ("decode_embedded",),
    "pdf_ocr_spark.sources.jpxcodec": ("decode_jpx", "t1_decode_block"),
    "pdf_ocr_spark.sources.jpegcodec": ("decode_jpeg",),
    "pdf_ocr_spark.sources.pngcodec": ("decode_png",),
    "pdf_ocr_spark.operators.imaging": ("ocr_decode",),
}

#: Which filter a file used, told by which decoder ran for it.
FILTER_OF = {
    "lzw_decode": "LZWDecode",
    "runlength_decode": "RunLengthDecode",
    "ascii85_decode": "ASCII85Decode",
    "predictor_decode": "Predictor",
    "g3_decode": "CCITTFaxDecode",
    "g4_decode": "CCITTFaxDecode",
    "decode_embedded": "JBIG2Decode",
    "decode_jpeg": "DCTDecode",
    "decode_jpx": "JPXDecode",
}
FILTERS = (
    "LZWDecode", "RunLengthDecode", "ASCII85Decode", "Predictor",
    "CCITTFaxDecode", "JBIG2Decode", "DCTDecode", "JPXDecode", "none", "rejected",
)

#: (metric, summed functions, normaliser) of the kernel pass.
KERNEL_METRICS = (
    ("pdfcodec.decode_pdf_self_ms_per_file", ("decode_pdf",), "file"),
    ("pdffilters.decode_ms_per_file", ("lzw_decode", "runlength_decode", "predictor_decode"), "file"),
    ("pdfcrypt.decrypt_ms_per_file", ("decrypt_object", "aes128_cbc_decrypt", "file_key_r6"), "file"),
    ("ccittcodec.decode_ms_per_page", ("g3_decode", "g4_decode"), "page"),
    ("jbig2codec.decode_ms_per_page", ("decode_embedded",), "page"),
    ("jpxcodec.decode_ms_per_page", ("decode_jpx",), "page"),
    ("jpxcodec.t1_ms_per_page", ("t1_decode_block",), "page"),
    ("jpegcodec.decode_ms_per_page", ("decode_jpeg",), "page"),
    ("imaging.ocr_decode_ms_per_page", ("ocr_decode",), "page"),
    ("pngcodec.decode_ms_per_page", ("decode_png",), "page"),
)

#: Spark SQL metric names of the Python nodes (Spark 4.1).
PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class SelfTimer:
    """Wraps functions so each call's self time (its wall time minus
    that of wrapped calls nested in it) and call count are recorded."""

    def __init__(self):
        self.self_s: Counter = Counter()
        self.calls: Counter = Counter()
        self._stack: list[float] = []
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            self._stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                total = time.perf_counter() - t0
                self.self_s[name] += total - self._stack.pop()
                self.calls[name] += 1
                if self._stack:
                    self._stack[-1] += total

        return timed

    def __enter__(self) -> "SelfTimer":
        import importlib

        originals = {}
        for mod_name, names in KERNEL_FUNCS.items():
            mod = importlib.import_module(mod_name)
            for n in names:
                originals[id(getattr(mod, n))] = (n, getattr(mod, n))
        wrappers = {key: self._wrap(n, fn) for key, (n, fn) in originals.items()}
        # replace every module-level reference, so `from x import f`
        # bindings in other modules are timed too
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("pdf_ocr_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val) and id(val) in wrappers:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrappers[id(val)])
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, val in self._patched:
            setattr(mod, attr, val)


def kernel_pass(wl_name: str, corpus) -> dict:
    """Single-threaded pass in the driver over a fixed sample of the
    workload's inputs (every PDF file; every 4th media payload), through
    the same public kernels its Spark job runs. Returns self times, call
    counts and per-file filter use."""
    from pdf_ocr_spark.operators import imaging
    from pdf_ocr_spark.sources import pdfcodec, pngcodec

    by_filter: Counter = Counter()
    files = pages = 0
    with SelfTimer() as st:
        if wl_name == "span_extract":
            # every 4th image span with a payload: the OCR kernel's input
            import pyarrow.parquet as pq

            media = pq.read_table(corpus.media_path).to_pydict()
            order = sorted(range(len(media["media_ref"])), key=media["media_ref"].__getitem__)
            for i in order[::4]:
                pages += 1
                try:
                    img = pngcodec.decode_png(media["payload"][i])
                except ValueError:
                    continue
                imaging.ocr_decode(img)
        else:
            for path in sorted(glob.glob(os.path.join(corpus.pdf_dir, "*.pdf"))):
                with open(path, "rb") as f:
                    data = f.read()
                files += 1
                before = Counter(st.calls)
                try:
                    images = pdfcodec.decode_pdf(data)
                except ValueError:
                    by_filter["rejected"] += 1
                    continue
                for img in images:
                    imaging.ocr_decode(img)
                pages += len(images)
                used = {FILTER_OF[n] for n in st.calls - before if n in FILTER_OF}
                by_filter.update(used or {"none"})
    return {"self_s": dict(st.self_s), "calls": dict(st.calls), "files": files,
            "pages": pages, "by_filter": dict(by_filter)}


def kernel_metrics(kp: dict) -> dict:
    out = {}
    for name, funcs, per in KERNEL_METRICS:
        n = kp["files"] if per == "file" else kp["pages"]
        s = sum(kp["self_s"].get(f, 0.0) for f in funcs)
        out[name] = 1000.0 * s / n if n else 0.0
    for f in FILTERS:
        out[f"pdfcodec.files_by_filter.{f}"] = kp["by_filter"].get(f, 0)
    return out


def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def pass_stats(event_dir: str) -> dict:
    """Per job group: job/stage/task counts, task metric sums, Python
    SQL metric sums, straggler ratio of the Python stage, and scan-stage
    task count, from the event log."""
    group_of_job, stages_of_group = {}, defaultdict(set)
    parents, completed = {}, set()
    tasks = defaultdict(list)
    for e in _events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            group_of_job[e["Job ID"]] = group
            for info in e["Stage Infos"]:
                stages_of_group[group].add(info["Stage ID"])
                parents[info["Stage ID"]] = info.get("Parent IDs", [])
        elif kind == "SparkListenerStageCompleted":
            if "Failure Reason" not in e["Stage Info"]:
                completed.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd" and e["Task End Reason"]["Reason"] == "Success":
            tasks[e["Stage ID"]].append(e)
    out = {}
    for group, stage_ids in stages_of_group.items():
        if group is None:
            continue
        done = sorted(s for s in stage_ids if s in completed)
        m = Counter()
        m["spark.jobs"] = sum(1 for g in group_of_job.values() if g == group)
        m["spark.stages"] = len(done)
        py_stage_time, straggler = -1.0, 0.0
        for sid in done:
            durs, py_total = [], 0.0
            for t in tasks[sid]:
                tm, ti = t["Task Metrics"], t["Task Info"]
                m["spark.tasks"] += 1
                m["spark.executor_cpu_ms"] += tm["Executor CPU Time"] / 1e6
                m["spark.executor_run_ms"] += tm["Executor Run Time"]
                m["spark.gc_ms"] += tm["JVM GC Time"]
                m["spark.shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                rd = tm["Shuffle Read Metrics"]
                m["spark.shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                m["spark.spill_bytes"] += tm["Disk Bytes Spilled"]
                for acc in ti.get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        m[key] += int(acc.get("Update", 0))
                        if key == "python.total_ms":
                            py_total += int(acc.get("Update", 0))
                durs.append(ti["Finish Time"] - ti["Launch Time"])
            if not parents.get(sid):
                m["pdfsource.scan_tasks"] += len(tasks[sid])
            if py_total > 0 and durs and sum(durs) > py_stage_time:
                py_stage_time = sum(durs)
                straggler = max(durs) / max(statistics.median(durs), 1)
        m["spark.kernel_task_max_over_p50"] = straggler
        out[group] = dict(m)
    return out


#: Exact per-pass counts, which must repeat between passes and runs.
COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "pdfsource.scan_tasks")
#: Per-pass numbers taken from the event log.
PASS_METRICS = COUNTS + (
    "spark.kernel_task_max_over_p50", "spark.executor_cpu_ms", "spark.executor_run_ms",
    "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", *PY_METRICS.values(),
)
PREFIX_METRICS = (
    "pipeline.extract_pages_s", "pipeline.reassembly_s", "serialize.s",
    "sink.write_s", "sink.bytes_per_page",
)
METADATA_METRICS = (
    "pdfsource.metadata_files_per_s", "pdfsource.metadata_plan_ms",
    "pdfsource.metadata_ok_frac", "pdfsource.metadata_scan_tasks",
    "python.metadata_boot_ms", "python.metadata_init_ms",
)


def median_by_key(rows: list[dict], keys) -> dict:
    return {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}


def timed_median(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
        if not f.startswith((".", "_"))
    )


def span_prefixes(spark, corpus, sink: str, reps: int = 3) -> dict:
    """Prefix plans of span_extract, each timed ``reps`` times in
    rotation: per-page extraction, then reassembly, then serialization,
    then the parquet write instead of a noop sink."""
    from pdf_ocr_spark.plans.pipeline import extract_documents, extract_pages

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def read():
        return spark.read.parquet(corpus.docs_path), spark.read.parquet(corpus.media_path)

    spark.sparkContext.setJobGroup("prefix", "span_extract")
    plans = {
        "pages": lambda: noop(extract_pages(*read())),
        "reassembled": lambda: noop(extract_documents(*read(), serialize=False)),
        "serialized": lambda: noop(extract_documents(*read(), serialize=True)),
        "written": lambda: extract_documents(*read(), serialize=True)
        .write.mode("overwrite").parquet(sink),
    }
    times = defaultdict(list)
    for _ in range(reps):
        for name, fn in plans.items():
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    m = {k: statistics.median(v) for k, v in times.items()}
    return {
        "pipeline.extract_pages_s": m["pages"],
        "pipeline.reassembly_s": m["reassembled"] - m["pages"],
        "serialize.s": m["serialized"] - m["reassembled"],
        "sink.write_s": m["written"] - m["serialized"],
        "sink.bytes_per_page": dir_bytes(sink) / corpus.n_pages(),
    }


def metadata_tier(spark, corpus, reps: int = 4) -> dict:
    """The light-tier readers (page counts, /Info, profiles) over the
    pdf_scan files, as one job each per rep. The first rep collects and
    checks every row; the median of the others gives files per second."""
    import workloads

    walls = []
    for i in range(reps):
        spark.sparkContext.setJobGroup(f"meta-{i}", "pdf_metadata")
        t0 = time.perf_counter()
        rows = workloads.metadata_pass(spark, corpus, i == 0)
        walls.append(time.perf_counter() - t0)
        if i == 0:
            ok = workloads.metadata_check(corpus, rows)
    plan_s = timed_median(lambda: workloads.metadata_calls(spark, corpus), 5)
    return {
        "pdfsource.metadata_files_per_s": corpus.n_docs / statistics.median(walls[1:]),
        "pdfsource.metadata_plan_ms": 1000.0 * plan_s,
        "pdfsource.metadata_ok_frac": ok / corpus.n_docs,
    }


def _units() -> dict:
    units = {k: "count" for k in COUNTS}
    units.update({k: "bytes" for k in PASS_METRICS if k.endswith("bytes") or "bytes_" in k})
    units.update({k: "ms" for k in PASS_METRICS if k.endswith("_ms")})
    units["spark.kernel_task_max_over_p50"] = "ratio"
    units.update({name: "ms" for name, _, _ in KERNEL_METRICS})
    units.update({f"pdfcodec.files_by_filter.{f}": "count" for f in FILTERS})
    units.update({k: "s" for k in PREFIX_METRICS})
    units["sink.bytes_per_page"] = "bytes/page"
    units.update({
        "pdfsource.plan_ms": "ms",
        "pdfsource.metadata_files_per_s": "1/s",
        "pdfsource.metadata_plan_ms": "ms",
        "pdfsource.metadata_ok_frac": "ratio",
        "pdfsource.metadata_scan_tasks": "count",
        "python.metadata_boot_ms": "ms",
        "python.metadata_init_ms": "ms",
        "kernel.self_share_of_executor_cpu": "ratio",
        "kernel.self_share_of_python_ms": "ratio",
        "ocr.error_rows": "count",
        "trace.overhead_per_s": "1/s",
        "host.canary_ms": "ms",
    })
    return units


#: Unit of every per-layer metric a traced run reports.
UNITS = _units()

