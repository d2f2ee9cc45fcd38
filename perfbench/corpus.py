"""Seeded benchmark inputs, cached on disk, and their expected outputs.

Every input derives from ``--seed`` through the package's own corpus
generators (``sources.corpus``) and PDF writer
(``sources.pdfsource.write_pdf_corpus``). Three corpora exist:

* ``scan``: default-layout scanned PDFs (object streams) with numeric
  doc ids, so ``write_pdf_corpus`` rotates every file through its
  codec and encryption layouts (it takes ``int(doc_id)`` to choose).
  A fixed share of files is corrupted after writing. Read by
  ``pdf_scan`` and, in its traced run, by the light-tier readers.
* ``codec``: JPEG-scan (``dct=True``) and JPEG 2000 (``jpx=True``)
  PDFs in one directory.
* ``span``: the interleaved ``documents`` + media parquet tables.

The amount of work is the same for every seed: PDF page counts and the
layout rotation are fixed by doc id, and the span corpus always holds
SPAN_DOCS documents with SPAN_PAGES spans. The seed chooses the words,
the span structure and which files are corrupted. A corpus is written
once per (kind, seed, GEN_VERSION) under ``perfbench/.cache`` and reused
by later runs in the same checkout.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
from dataclasses import dataclass, field

#: Bump when anything below changes what a seed generates.
GEN_VERSION = 1

SCAN_FILES = 96
#: Corrupted files per scan corpus (about 5%).
SCAN_CORRUPT = 5
#: JPEG-scan doc ids are 0..CODEC_DCT-1, JPEG 2000 doc ids follow. A
#: JPX page costs 6-10 times a DCT page, so 1 JPX page per 6 DCT pages
#: gives each codec roughly half of the kernel CPU (the traced run's
#: jpxcodec and jpegcodec times show the split). CODEC_DCT is a multiple
#: of 8 so the JPX ids start on a lossless/lossy boundary ((id // 4) % 2
#: picks the lossy path).
CODEC_DCT = 48
CODEC_JPX = 8
#: Documents and spans (pages) of the span corpus, the same for every
#: seed; span counts follow the FIXTURES F1 skew profile.
SPAN_DOCS = 520
SPAN_PAGES = 5000
SPAN_CANDIDATES = 2000
SPAN_MISSING = 0.02
SPAN_CORRUPT = 0.02

ERROR_ROW = re.compile(r"\[Error: .+\]", re.S)


@dataclass
class Corpus:
    """A generated corpus and everything needed to check outputs."""

    kind: str
    seed: int
    path: str
    #: pdf corpora: doc_id -> source text (page k = 20 words from k*20)
    texts: dict = field(default_factory=dict)
    #: pdf corpora: corrupted doc ids (each must come back as one
    #: typed error row)
    corrupt: set = field(default_factory=set)
    #: span corpus: documents parquet, media parquet
    docs_path: str = ""
    media_path: str = ""
    #: span corpus: doc_id -> list of input spans (dicts)
    spans: dict = field(default_factory=dict)

    @property
    def pdf_dir(self) -> str:
        return os.path.join(self.path, "pdfs")

    @property
    def n_docs(self) -> int:
        return len(self.spans) if self.kind == "span" else len(self.texts)

    def page_count(self, doc_id: str) -> int:
        from pdf_ocr_spark.sources.pdfsource import page_texts

        return len(page_texts(self.texts[doc_id]))

    def n_pages(self) -> int:
        """Pages fully extracted per pass: corrupted files excluded."""
        if self.kind == "span":
            return sum(len(s) for s in self.spans.values())
        return sum(self.page_count(d) for d in self.texts if d not in self.corrupt)


def doc_text(doc_id: int, seed: int) -> str:
    """Words for a PDF document: 1-3 pages fixed by the id, words drawn
    from the renderer-safe page-text generator under the seed."""
    from pdf_ocr_spark.sources.corpus import expected_page_text

    n_pages = 1 + doc_id % 3
    n_words = 20 * (n_pages - 1) + 5 + doc_id % 16
    words: list[str] = []
    k = 0
    while len(words) < n_words:
        words += expected_page_text(str(doc_id), k, seed).split()
        k += 1
    return " ".join(words[:n_words])


def expected_txt(text: str) -> str:
    """The ``pdf_extract_text`` oracle rule: each 20-word chunk
    upper-cased, chunks joined by a blank line."""
    from pdf_ocr_spark.sources.pdfsource import page_texts

    return "\n\n".join(p.upper() for p in page_texts(text))


def _rejected_everywhere(data: bytes) -> bool:
    """True when the full decoder and every metadata reader reject the
    bytes with ``ValueError``, so the expected output of the file is one
    typed error row in every workload. Any other exception disqualifies
    the mutation: it would fail the Spark task instead."""
    from pdf_ocr_spark.sources import pdfcodec

    for fn in (pdfcodec.decode_pdf, pdfcodec.page_count, pdfcodec.pdf_info):
        try:
            fn(data)
        except ValueError:
            continue
        except Exception:  # noqa: BLE001 - any other failure disqualifies
            return False
        return False
    try:
        return pdfcodec.pdf_profile_signals(data)["n_pages"] is None
    except Exception:  # noqa: BLE001
        return False


def _corrupt(data: bytes, rng: random.Random) -> bytes:
    """Truncate or byte-flip ``data`` until every reader rejects it.
    Forged dimensions and decompression bombs are deliberately not
    generated: today they can kill a Python worker and fail the job."""
    for _ in range(16):
        if rng.random() < 0.5:
            cut = int(len(data) * rng.uniform(0.3, 0.9))
            cand = data[:cut]
        else:
            # flip bytes in the tail, where the cross-reference stream
            # and trailer live
            buf = bytearray(data)
            for _ in range(4):
                i = rng.randrange(len(buf) * 9 // 10, len(buf))
                buf[i] ^= 0xFF
            cand = bytes(buf)
        if _rejected_everywhere(cand):
            return cand
    # last resort, always rejected: a broken header
    return b"%PDX-" + data[5:]


def _write_pdfs(spark, out_dir: str, rows: list[tuple[str, str]], **kw) -> None:
    from pdf_ocr_spark.sources.pdfsource import write_pdf_corpus

    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(16)
    n = write_pdf_corpus(df, out_dir, **kw).count()
    if n != len(rows):
        raise RuntimeError(f"write_pdf_corpus wrote {n} of {len(rows)} files")


def _generate_pdf(spark, c: Corpus) -> dict:
    os.makedirs(c.pdf_dir)
    if c.kind == "scan":
        _write_pdfs(spark, c.pdf_dir, list(c.texts.items()))
        rng = random.Random(f"{c.seed}:corrupt")
        for doc_id in sorted(rng.sample(sorted(c.texts, key=int), SCAN_CORRUPT), key=int):
            path = os.path.join(c.pdf_dir, f"doc_{doc_id}.pdf")
            with open(path, "rb") as f:
                data = f.read()
            with open(path, "wb") as f:
                f.write(_corrupt(data, rng))
            c.corrupt.add(doc_id)
    else:
        from concurrent.futures import ThreadPoolExecutor

        dct = [(d, t) for d, t in c.texts.items() if int(d) < CODEC_DCT]
        jpx = [(d, t) for d, t in c.texts.items() if int(d) >= CODEC_DCT]
        # two concurrent jobs: the few slow JPX encodes overlap the DCT ones
        with ThreadPoolExecutor(2) as pool:
            jobs = [
                pool.submit(_write_pdfs, spark, c.pdf_dir, dct, dct=True),
                pool.submit(_write_pdfs, spark, c.pdf_dir, jpx, jpx=True),
            ]
            for job in jobs:
                job.result()
    return {"corrupt": sorted(c.corrupt, key=int)}


def _pick_span_docs(sizes: list[tuple[str, int]]) -> list[str]:
    """SPAN_DOCS documents holding exactly SPAN_PAGES spans, taken in id
    order: a document is skipped when it would move the running span
    total further than a slack from the even pace, and the slack narrows
    towards the end so the last document closes the total exactly. About
    5% of the picked documents keep 50-200 spans, as in the F1 profile."""
    keep, total = [], 0
    for doc_id, n in sizes:
        left = SPAN_DOCS - 1 - len(keep)
        if left == 0:
            fits = total + n == SPAN_PAGES
        else:
            pace = (len(keep) + 1) * SPAN_PAGES / SPAN_DOCS
            fits = abs(total + n - pace) <= min(150, 3 * left)
        if fits:
            keep.append(doc_id)
            total += n
            if left == 0:
                return keep
    raise RuntimeError(f"no {SPAN_DOCS} candidates hold exactly {SPAN_PAGES} spans")


def _generate_span(spark, c: Corpus) -> dict:
    """The seed's documents picked by ``_pick_span_docs`` from
    SPAN_CANDIDATES generated ones, then their media."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.sources.corpus import generate_documents, generate_media

    candidates = generate_documents(spark, n_docs=SPAN_CANDIDATES, seed=c.seed)
    sizes = candidates.select("doc_id", F.size("spans")).orderBy("doc_id").collect()
    keep = _pick_span_docs([(r[0], r[1]) for r in sizes])
    candidates.where(F.col("doc_id").isin(keep)).repartition(8).write.parquet(c.docs_path)
    generate_media(
        spark,
        spark.read.parquet(c.docs_path),
        seed=c.seed,
        missing_rate=SPAN_MISSING,
        corrupt_rate=SPAN_CORRUPT,
    ).write.parquet(c.media_path)
    return {}


def _summary(spark, c: Corpus) -> dict:
    """A content summary read back through Spark. Written at generation
    time and compared on every later use, so a damaged cache is caught;
    it also gives cached and freshly generated runs the same JVM
    warm-up before any set-up is timed."""
    from pyspark.sql import functions as F

    if c.kind == "span":
        docs = spark.read.parquet(c.docs_path).agg(
            F.count(F.lit(1)).alias("docs"), F.sum(F.size("spans")).alias("spans")
        )
        media = spark.read.parquet(c.media_path).agg(
            F.count(F.lit(1)).alias("media"), F.sum(F.length("payload")).alias("media_bytes")
        )
        return {**docs.first().asDict(), **media.first().asDict()}
    row = (
        spark.read.format("binaryFile")
        .load(os.path.join(c.pdf_dir, "*.pdf"))
        .select(F.count(F.lit(1)).alias("n"), F.sum("length").alias("b"))
        .first()
    )
    return {"files": row["n"], "bytes": row["b"]}


def _spans_of(spark, c: Corpus) -> dict:
    rows = spark.read.parquet(c.docs_path).collect()
    return {
        r["doc_id"]: [s.asDict() for s in sorted(r["spans"], key=lambda s: s["offset"])]
        for r in rows
    }


def load(spark, cache_root: str, kind: str, seed: int) -> tuple[Corpus, bool]:
    """Return the corpus of ``kind`` for ``seed``, generating it when it
    is not cached. The second value tells whether it was generated."""
    path = os.path.join(cache_root, f"{kind}-s{seed}-g{GEN_VERSION}")
    c = Corpus(kind=kind, seed=seed, path=path)
    if kind == "span":
        c.docs_path = os.path.join(path, "documents")
        c.media_path = os.path.join(path, "media")
    elif kind == "scan":
        c.texts = {str(d): doc_text(d, seed) for d in range(SCAN_FILES)}
    elif kind == "codec":
        c.texts = {str(d): doc_text(d, seed) for d in range(CODEC_DCT + CODEC_JPX)}
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    manifest_path = os.path.join(path, "manifest.json")
    generated = False
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    else:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        gen = _generate_span if kind == "span" else _generate_pdf
        manifest = gen(spark, c)
        manifest["summary"] = _summary(spark, c)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)
        generated = True
    c.corrupt = set(manifest.get("corrupt", []))
    summary = manifest["summary"] if generated else _summary(spark, c)
    if summary != manifest["summary"]:
        raise RuntimeError(f"cached corpus {path} changed: {summary} != {manifest['summary']}")
    if kind == "span":
        c.spans = _spans_of(spark, c)
    return c, generated
