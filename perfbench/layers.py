"""Single-core kernel layers, the process-pool ceiling and the spin canary.

Nothing here touches Spark.  The kernel loop times calls into each kernel
module's public functions from outside, on a sample of the workload's
distinct payloads, opening every document afresh for every layer so that no
layer inherits another layer's cache (decoded streams, parsed objects).
"""

from __future__ import annotations

import contextlib
import gc
import multiprocessing
import statistics
import time
from multiprocessing import resource_tracker

from pdfparse_spark.kernel.device import SimpleTextDevice
from pdfparse_spark.kernel.extract import classify_text, decode_pdf_payload, extract_turn
from pdfparse_spark.kernel.html_extract import extract_html
from pdfparse_spark.kernel.interp import PDFPageInterpreter, PDFResourceManager
from pdfparse_spark.kernel.pdfdocument import PDFDocument
from pdfparse_spark.kernel.pdfparser import PDFContentParser, PDFParser
from pdfparse_spark.kernel.pdftypes import stream_value
from pdfparse_spark.kernel.psparse import PSEOF, PSKeyword

# distinct payloads sampled per content type, in input order
SAMPLE = {"pdf": 48, "html": 400, "text": 4000}
# the kernel layer self times must add up to extract_turn within this share
DECOMPOSITION_TOLERANCE = 0.15
# spin-loop iterations per canary process (about 0.5 s on one core)
CANARY_ITERS = 10_000_000

PDF_METRICS = (
    "kernel.extract.pdf_turns_per_s",
    "kernel.pdfdocument.open_us",
    "kernel.pdfdocument.pages_us_per_page",
    "kernel.pdftypes.decode_us_per_page",
    "kernel.pdfparser.tokenize_us_per_page",
    "kernel.pdfparser.objects_per_page",
    "kernel.interp.page_us",
    "kernel.interp.operators_per_page",
    "kernel.device.chars_per_page",
)

now = time.perf_counter


def distinct_by_type(texts: list[str]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {k: [] for k in SAMPLE}
    seen = set()
    for t in texts:
        if t in seen:
            continue
        seen.add(t)
        kind = classify_text(t)
        if len(out[kind]) < SAMPLE[kind]:
            out[kind].append(t)
    return out


def _open(data: bytes) -> PDFDocument:
    parser = PDFParser(data)
    doc = PDFDocument()
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(b"")
    return doc


def _decode(pages) -> None:
    for page in pages:
        for s in page.contents:
            stream_value(s).get_data()


def _tokenize(pages) -> tuple[int, int]:
    objects = operators = 0
    for page in pages:
        try:
            parser = PDFContentParser(page.contents)
        except PSEOF:
            continue
        for obj in parser.iter_objects():
            objects += 1
            operators += obj.__class__ is PSKeyword
    return objects, operators


def _pdf_layers(text: str) -> dict:
    """Wall seconds per kernel layer for one PDF turn, each on a fresh
    document; raises if the document does not parse cleanly."""
    t0 = now()
    data = decode_pdf_payload(text)
    t_b64 = now() - t0

    t0 = now()
    _open(data)
    t_open = now() - t0

    doc = _open(data)
    t0 = now()
    pages = list(doc.get_pages())
    t_pages = now() - t0

    pages = list(_open(data).get_pages())
    t0 = now()
    _decode(pages)
    t_decode = now() - t0

    pages = list(_open(data).get_pages())
    _decode(pages)
    t0 = now()
    objects, operators = _tokenize(pages)
    t_tok = now() - t0

    pages = list(_open(data).get_pages())
    device = SimpleTextDevice()
    interp = PDFPageInterpreter(PDFResourceManager(True), device)
    t0 = now()
    for page in pages:
        interp.process_page(page)
    t_interp = now() - t0
    return {
        "b64": t_b64, "open": t_open, "pages": t_pages, "decode": t_decode,
        "tokenize": t_tok, "interp_self": t_interp - t_decode - t_tok,
        "n_pages": len(pages), "objects": objects, "operators": operators,
        "chars": len(device.get_text()),
    }


def _rate(samples: list[str], fn) -> float:
    t0 = now()
    for t in samples:
        fn(t)
    return len(samples) / (now() - t0)


def kernel_layers(texts: list[str], tracer) -> tuple[dict, list[str]]:
    """(metrics, failed checks) for the single-core kernel layers."""
    sample = distinct_by_type(texts)
    m: dict = {}
    failed: list[str] = []
    for kind in ("html", "text"):
        if sample[kind]:
            with tracer.span("kernel.extract.%s" % kind):
                m["kernel.extract.%s_turns_per_s" % kind] = _rate(sample[kind], extract_turn)
    if sample["html"]:
        with tracer.span("kernel.html_extract"):
            m["kernel.html_extract.us_per_turn"] = 1e6 / _rate(sample["html"], extract_html)
    if not sample["pdf"]:
        # the workload has no PDF turns: no PDF layer ran
        m.update(dict.fromkeys(PDF_METRICS, 0))
        return m, failed
    tot: dict = {}
    t_extract = 0.0
    n_docs = 0
    with tracer.span("kernel.pdf_layers"):
        for text in sample["pdf"]:
            t0 = now()
            _, _, _, status = extract_turn(text)
            dt = now() - t0
            if status != "ok":
                continue  # the layer walk below would stop where the kernel did
            t_extract += dt
            n_docs += 1
            for k, v in _pdf_layers(text).items():
                tot[k] = tot.get(k, 0) + v
    pages = tot["n_pages"]
    m["kernel.extract.pdf_turns_per_s"] = n_docs / t_extract
    m["kernel.pdfdocument.open_us"] = 1e6 * tot["open"] / n_docs
    m["kernel.pdfdocument.pages_us_per_page"] = 1e6 * tot["pages"] / pages
    m["kernel.pdftypes.decode_us_per_page"] = 1e6 * tot["decode"] / pages
    m["kernel.pdfparser.tokenize_us_per_page"] = 1e6 * tot["tokenize"] / pages
    m["kernel.pdfparser.objects_per_page"] = tot["objects"] / pages
    m["kernel.interp.page_us"] = 1e6 * tot["interp_self"] / pages
    m["kernel.interp.operators_per_page"] = tot["operators"] / pages
    m["kernel.device.chars_per_page"] = tot["chars"] / pages
    layer_sum = sum(tot[k] for k in ("b64", "open", "pages", "decode", "tokenize", "interp_self"))
    m["kernel.decomposition_ratio"] = layer_sum / t_extract
    if abs(layer_sum / t_extract - 1) > DECOMPOSITION_TOLERANCE:
        failed.append(
            "kernel layer self times sum to %.3f s, extract_turn took %.3f s (tolerance %.0f%%)"
            % (layer_sum, t_extract, 100 * DECOMPOSITION_TOLERANCE)
        )
    if tot["interp_self"] <= 0:
        failed.append("process_page took less than decode + tokenize")
    return m, failed


# --- process pool (no Spark) ----------------------------------------------------


def _extract_chunk(texts: list[str]) -> int:
    for t in texts:
        extract_turn(t)
    return len(texts)


def _settle(_: int) -> None:
    time.sleep(0.05)


def _spin(n: int) -> float:
    t0 = now()
    x = 0
    for i in range(n):
        x += i
    return now() - t0


@contextlib.contextmanager
def _pool(ctx, procs: int, warm: list[str]):
    """A started pool of ``procs`` spawned workers, each of which has run
    the kernel over ``warm`` so that lazily built tables are in place."""
    pool = ctx.Pool(procs, initializer=_extract_chunk, initargs=(warm,))
    try:
        pool.map(_settle, range(4 * procs), chunksize=1)
        yield pool
    finally:
        pool.close()
        pool.join()
        pool.terminate()  # runs the pool's finalizer, which frees its queues


def _pool_rate(ctx, procs: int, texts: list[str], chunk: int = 16) -> float:
    chunks = [texts[i : i + chunk] for i in range(0, len(texts), chunk)]
    with _pool(ctx, procs, texts[:chunk]) as pool:
        t0 = now()
        done = sum(pool.imap_unordered(_extract_chunk, chunks))
        return done / (now() - t0)


def _canary(ctx, procs: int) -> float:
    """Median per-process time of the spin loop with ``procs`` processes
    spinning at once, median of three rounds."""
    with _pool(ctx, procs, []) as pool:
        return statistics.median(
            statistics.median(pool.map(_spin, [CANARY_ITERS] * procs, chunksize=1))
            for _ in range(3)
        )


def pool_legs(texts: list[str], nproc: int, tracer) -> dict:
    """The pool ceiling at ``nproc`` and 1 process, over the workload's rows
    (the 1-process leg over the first quarter of them), and the canary."""
    ctx = multiprocessing.get_context("spawn")
    m = {}
    with tracer.span("pool.nproc"):
        m["pool.turns_per_s"] = _pool_rate(ctx, nproc, texts)
    with tracer.span("pool.1proc"):
        m["pool.turns_per_s_1proc"] = _pool_rate(ctx, 1, texts[: len(texts) // 4])
    m["pool.scaling_eff"] = m["pool.turns_per_s"] / (nproc * m["pool.turns_per_s_1proc"])
    with tracer.span("pool.canary"):
        m["pool.canary_s"] = _canary(ctx, nproc)
    # the spawn context started a semaphore tracker process: release the
    # pools' semaphores, then end the tracker so no process outlives the run
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return m
