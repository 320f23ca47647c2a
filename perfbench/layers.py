"""Per-layer trace for one workload (``--trace 1``).

Every span is timed from this package around calls into a layer's
public functions; nothing inside the program is instrumented. The kernel
spans come from running, in this process on one core, the same sequence
of public calls that ``kernel.extract.extract_text`` makes, and the run
fails unless that sequence reproduces ``extract_text``'s text and
parse_error on every payload it times.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import Counter

import pyarrow as pa
from pyspark.sql import functions as F

from pdf_parser_spark.kernel.cos import LexerError, ParserError, PdfDict
from pdf_parser_spark.kernel.doc import PdfDocument
from pdf_parser_spark.kernel.extract import extract_text
from pdf_parser_spark.kernel.fileparse import (
    PdfEncryptedError, PdfStructureError,
)
from pdf_parser_spark.kernel.images import ImageError
from pdf_parser_spark.kernel.textops import (
    ContentInterpreter, build_font, spans_to_text,
)
from pdf_parser_spark.operators.extraction import (
    _extract_batches, extract_turns,
)

from .jobrun import Bench

TRACE_PAIRS = 2  # untraced/traced job pairs, for the tracing overhead
KERNEL_SAMPLE = 400  # most distinct payloads profiled
KERNEL_CALLS = 140  # calls per payload: KERNEL_CALLS // payloads, 1..7
ARROW_ROWS = 256  # one batch of session.py's maxRecordsPerBatch
ARROW_REPS = 2

OPEN, PAGES, FONTS, CONTENT, RUN, JOIN = CHILD_SPANS = (
    "kernel.doc.open_s", "kernel.doc.pages_s",
    "kernel.textops.build_font_s", "kernel.doc.page_content_bytes_s",
    "kernel.textops.run_s", "kernel.textops.spans_to_text_s")

# the exceptions kernel/extract.py turns into a parse_error
KERNEL_ERRORS = (PdfStructureError, ParserError, LexerError, ImageError,
                 AssertionError, ValueError, KeyError, IndexError,
                 TypeError, AttributeError, RecursionError)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def compose(data: bytes) -> tuple[str, str | None, dict, int]:
    """``extract_text`` rebuilt from the kernel's public calls, with the
    time spent in each. Returns (text, parse_error, seconds per child
    span, content bytes decoded)."""
    spent = dict.fromkeys(CHILD_SPANS, 0.0)
    content_bytes = 0
    text, error = "", None
    t = time.perf_counter()

    def lap(span: str) -> None:
        nonlocal t
        now = time.perf_counter()
        spent[span] += now - t
        t = now

    try:
        doc = PdfDocument(data)
        lap(OPEN)
        pages = doc.pages()
        lap(PAGES)
        spans = []
        for page in pages:
            fonts = {}
            if page.resources is not None:
                fdict = doc.resolve(page.resources.get("Font"))
                if isinstance(fdict, PdfDict):
                    for fname, fobj in fdict.entries:
                        fonts[fname] = build_font(doc, fname, fobj)
            lap(FONTS)
            content = doc.page_content_bytes(page)
            content_bytes += len(content)
            lap(CONTENT)
            spans.extend(ContentInterpreter(fonts, page.page_number)
                         .run(content))
            lap(RUN)
        text = spans_to_text(spans)
        lap(JOIN)
    except PdfEncryptedError:
        error = "encrypted"
    except KERNEL_ERRORS as e:
        error = f"{type(e).__name__}: {e}"
    return text, error, spent, content_bytes


def _weighted_quantile(pairs: list[tuple[float, float]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0.0
    for value, w in pairs:
        acc += w
        if acc >= q * total:
            return value
    return pairs[-1][0]


def kernel_profile(payloads: list[str]) -> tuple[dict, int]:
    """Kernel spans and counts over ``payloads`` (one per turn), each
    distinct payload timed a few times and weighted by how often it
    occurs. Past ``KERNEL_SAMPLE`` distinct payloads an evenly strided
    sample stands for the rest, scaled to the turn count. Returns the
    metrics and the number of payloads the composition got wrong."""
    counts = Counter(payloads)
    distinct = list(counts)
    sample = distinct[::math.ceil(len(distinct) / KERNEL_SAMPLE)]
    scale = len(payloads) / sum(counts[p] for p in sample)
    reps = max(1, min(7, KERNEL_CALLS // len(sample)))
    m = dict.fromkeys(("kernel.extract_text_s",) + CHILD_SPANS + (
        "kernel.docs", "kernel.pages", "kernel.spans",
        "kernel.objects_parsed", "kernel.content_bytes",
        "kernel.parse_errors"), 0.0)
    doc_ms, wrong = [], 0
    for payload in sample:
        data = payload.encode("latin-1")
        w = counts[payload] * scale
        parent, children = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            ref = extract_text(data)
            parent.append(time.perf_counter() - t0)
            text, error, spent, content_bytes = compose(data)
            children.append(spent)
        wrong += (text, error) != (ref["text"], ref["parse_error"])
        t_doc = statistics.median(parent)
        doc_ms.append((t_doc * 1e3, w))
        m["kernel.extract_text_s"] += w * t_doc
        for span in CHILD_SPANS:
            m[span] += w * statistics.median(c[span] for c in children)
        m["kernel.docs"] += w
        m["kernel.pages"] += w * ref["n_pages"]
        m["kernel.spans"] += w * len(ref["spans"])
        m["kernel.objects_parsed"] += w * ref["n_objects"]
        m["kernel.content_bytes"] += w * content_bytes
        m["kernel.parse_errors"] += w * (ref["parse_error"] is not None)
    m["kernel.residual_s"] = m["kernel.extract_text_s"] - sum(
        m[span] for span in CHILD_SPANS)
    m["kernel.doc_ms_p50"] = _weighted_quantile(doc_ms, 0.50)
    m["kernel.doc_ms_p99"] = _weighted_quantile(doc_ms, 0.99)
    m["kernel.distinct_payload_ratio"] = len(distinct) / len(payloads)
    return m, wrong


def arrow_self_s(todo: pa.Table) -> float:
    """Time in ``_extract_batches`` outside ``extract_text``: one batch
    of the workload's rows in this process, minus ``extract_text`` on the
    same rows, scaled to all rows."""
    batches = todo.to_batches(max_chunksize=ARROW_ROWS)
    batch = batches[len(batches) // 2]
    datas = [s.encode("latin-1") for s in batch.column("text").to_pylist()]
    selfs = []
    for _ in range(ARROW_REPS):
        t0 = time.perf_counter()
        for _out in _extract_batches(iter([batch])):
            pass
        t1 = time.perf_counter()
        for data in datas:
            extract_text(data)
        selfs.append((t1 - t0) - (time.perf_counter() - t1))
    return statistics.median(selfs) * todo.num_rows / batch.num_rows


def _dir_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def trace(bench: Bench) -> tuple[dict, bool]:
    """Per-layer metrics of BENCHMARK.json for ``bench``'s workload.

    After one discarded warm-up job, untraced and traced jobs run in
    ABBA order, which cancels the job-to-job warm-up trend out of
    ``trace.overhead_s``. A traced job is timed the same way, but the
    job-layer probes run around it: ``completed_buckets()`` before,
    ``read_output()`` and the output and lineage statistics after."""
    spark = bench.spark
    bench.warm_up()
    plain, traced = [], []
    completed, read_output = [], []
    for i in range(2 * TRACE_PAIRS):
        if i % 4 in (0, 3):
            plain.append(bench.timed_job().job_s)
            continue
        job = bench.new_job()
        completed.append(_timed(lambda: job.completed_buckets().collect()))
        res = bench.run_job(job)
        traced.append(res.job_s)
        bench.check(res)
        read_output.append(_timed(lambda: job.read_output().count()))
        per_bucket = [r["count"] for r in (
            job.read_output().filter(F.col("run_id") == res.run_id)
            .groupBy("bucket").count().collect())]
        files = [os.path.getsize(f) for f in _dir_files(
            os.path.join(job.output_dir, f"run_id={res.run_id}"))]
        lineage_rows = spark.read.parquet(job.lineage_dir).count()
        bench.drop(job)

    todo = bench.todo()
    extract_s = statistics.median(
        _timed(lambda: extract_turns(todo).write.format("noop")
               .mode("overwrite").save())
        for _ in range(2))
    rows = todo.select("conv_id", "turn_idx", "text").toArrow()
    kernel, wrong = kernel_profile(rows.column("text").to_pylist())
    job_s = statistics.median(traced)
    m = {
        "session.start_s": bench.session_s,
        "sources.turns.materialize_s": statistics.median(
            s["materialize_s"] for s in bench.setups),
        "job.job_s": job_s,
        "trace.overhead_s": job_s - statistics.median(plain),
        "job.completed_buckets_s": statistics.median(completed),
        "job.read_output_s": statistics.median(read_output),
        "job.overhead_s": job_s - extract_s,
        "job.spark_overhead_core_s":
            job_s * bench.cores - kernel["kernel.extract_text_s"],
        "job.bucket_rows_max_over_mean":
            max(per_bucket) / statistics.mean(per_bucket),
        "job.output_bytes": sum(files),
        "job.output_files": len(files),
        "job.lineage_rows": lineage_rows,
        "extraction.extract_turns_s": extract_s,
        "extraction.arrow_self_s": arrow_self_s(rows),
        **kernel,
    }
    return m, wrong == 0
