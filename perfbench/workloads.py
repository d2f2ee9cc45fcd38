"""The workloads: one batch job per pass through the package's public
entry points, and the check of every output row.

A pass returns the observed (rows, checksum) of each output it
produced, and a function that fetches its output rows for checking
(``check=True`` collects instead of using the noop sink). Every timed
pass is compared with the checked pass at no extra job: the checksum is
a ``crc32`` of each row's JSON, summed, and rides on the pass's own job
through ``DataFrame.observe``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from corpus import ERROR_ROW, SPAN_CORRUPT, SPAN_MISSING, Corpus, expected_txt


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    row_json = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(F.crc32(row_json)).alias("ck")), obs


def _agg(obs: Observation) -> tuple:
    got = obs.get
    return (got["rows"], got["ck"])


# --- pdf_scan, pdf_scan_codec ----------------------------------------------


def extract_call(spark, c: Corpus) -> DataFrame:
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    return extract_pdf_documents(spark, c.pdf_dir)


def pdf_extract_pass(spark, c: Corpus, sink: str, check: bool):
    df, obs = _observed(extract_call(spark, c))
    if check:
        rows = df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
        rows = None
    return [_agg(obs)], lambda: rows


def _by_doc(rows) -> dict:
    """doc_id -> row; a doc_id seen twice maps to None (wrong output)."""
    out: dict = {}
    for r in rows:
        out[r["doc_id"]] = None if r["doc_id"] in out else r
    return out


def pdf_extract_check(c: Corpus, rows) -> tuple[int, int]:
    """(documents whose output is exactly right, error rows seen)."""
    got = _by_doc(rows)
    ok = 0
    for doc_id, text in c.texts.items():
        r = got.get(doc_id)
        if r is None:
            continue
        if doc_id in c.corrupt:
            good = (
                r["n_pages"] == 1
                and r["n_errors"] == 1
                and ERROR_ROW.fullmatch(r["txt"] or "") is not None
            )
        else:
            good = (
                r["txt"] == expected_txt(text)
                and r["n_pages"] == c.page_count(doc_id)
                and r["n_errors"] == 0
            )
        ok += good
    errors = sum(r["n_errors"] or 0 for r in rows)
    return ok, errors


# --- light-tier readers (traced pdf_scan runs) -----------------------------


def metadata_calls(spark, c: Corpus) -> list[DataFrame]:
    from pdf_ocr_spark.sources.pdfsource import (
        pdf_page_counts,
        read_pdf_info,
        read_pdf_profiles,
    )

    return [
        pdf_page_counts(spark, c.pdf_dir),
        read_pdf_info(spark, c.pdf_dir),
        read_pdf_profiles(spark, c.pdf_dir),
    ]


def metadata_pass(spark, c: Corpus, check: bool) -> list:
    """One job per reader; the collected rows of each with ``check``."""
    rows = []
    for df in metadata_calls(spark, c):
        if check:
            rows.append(df.collect())
        else:
            df.write.format("noop").mode("overwrite").save()
    return rows


def metadata_check(c: Corpus, rows) -> int:
    """Documents whose page count, profile and /Info title are right."""
    counts, infos, profiles = (_by_doc(r) for r in rows)
    ok = 0
    for doc_id in c.texts:
        n, i, p = counts.get(doc_id), infos.get(doc_id), profiles.get(doc_id)
        if n is None or i is None or p is None:
            continue
        if doc_id in c.corrupt:
            want_n, want_p, title = -1, None, None
        else:
            want_n = want_p = c.page_count(doc_id)
            title = f"Document {doc_id}"
        ok += (
            n["n_pages"] == want_n
            and p["n_pages"] == want_p
            and i["title"] == title
            and p["title"] == title
        )
    return ok


# --- span_extract ----------------------------------------------------------


def span_call(spark, c: Corpus, serialize: bool = True) -> DataFrame:
    from pdf_ocr_spark.plans.pipeline import extract_documents

    docs = spark.read.parquet(c.docs_path)
    media = spark.read.parquet(c.media_path)
    return extract_documents(docs, media, serialize=serialize)


def span_pass(spark, c: Corpus, sink: str, check: bool):
    df, obs = _observed(span_call(spark, c))
    df.write.mode("overwrite").parquet(sink)
    return [_agg(obs)], lambda: spark.read.parquet(sink).collect()


def expected_span(doc_id: str, span: dict, seed: int) -> tuple:
    """The span-equality rule of the pipeline tests: what the pipeline
    must emit for one input span, as (kind, text, media_ref, offset)."""
    from pdf_ocr_spark import oracle
    from pdf_ocr_spark.sources.corpus import _media_fate, expected_page_text

    off = span["offset"]
    if span["kind"] == "text":
        return ("text", oracle.fix_common_ocr_errors(oracle.sanitize_text(span["text"])) or "", "", off)
    fate = _media_fate(doc_id, off, seed)
    if fate < SPAN_MISSING:
        text = (
            f"[Error: File not found: {span['media_ref']}. "
            "Ensure the file exists and is accessible.]"
        )
    elif fate < SPAN_MISSING + SPAN_CORRUPT:
        text = f"[Error processing page {off + 1}: not a PNG (bad signature)]"
    else:
        raw = expected_page_text(doc_id, off, seed)
        text = oracle.fix_common_ocr_errors(oracle.sanitize_text(raw)) or ""
    return ("text", text, span["media_ref"], off)


def span_check(c: Corpus, rows) -> tuple[int, int]:
    got = _by_doc(rows)
    ok = 0
    for doc_id, spans in c.spans.items():
        r = got.get(doc_id)
        if r is None:
            continue
        want = [expected_span(doc_id, s, c.seed) for s in spans]
        have = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        ok += have == want and r["n_pages"] == len(spans)
    errors = sum(r["n_errors"] or 0 for r in rows)
    return ok, errors


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str
    #: the end-to-end rate it is judged on
    rate: str
    #: the public entry-point call that lists inputs and builds the query
    call: Callable
    run_pass: Callable
    check: Callable


WORKLOADS = {
    w.name: w
    for w in (
        Workload("pdf_scan", "scan", "pages_per_s", extract_call, pdf_extract_pass, pdf_extract_check),
        Workload("pdf_scan_codec", "codec", "pages_per_s", extract_call, pdf_extract_pass, pdf_extract_check),
        Workload("span_extract", "span", "pages_per_s", span_call, span_pass, span_check),
    )
}
