"""Per-layer measurements for the traced run.

Each function times public calls of one layer of the program from the
outside, under a span, and returns per-layer metrics. Spark jobs are
labelled with the ``perfbench.layer`` local property so the event-log
parser can attribute tasks to the layer that ran them.
"""

from __future__ import annotations

import gzip
import os
import random
import shutil
import time
from contextlib import contextmanager
from typing import Dict, List

from pyspark.sql import functions as F

from ocr_module_spark import blocklist, classify, curate, oracle, pipeline, sinks
from ocr_module_spark.functions import decontam, dedup, textstats
from ocr_module_spark.htmlparse import parse_html_stdlib
from ocr_module_spark.htmlparse_fast import parse_html_fast
from ocr_module_spark.sources import warc

import gen
import io_utils
from spans import LAYER_PROP


@contextmanager
def layer(spark, tracer, name: str):
    """Span + Spark job label for one layer call."""
    sc = spark.sparkContext
    sc.setLocalProperty(LAYER_PROP, name)
    try:
        with tracer.span(name):
            yield
    finally:
        sc.setLocalProperty(LAYER_PROP, None)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# per-document layers, in this process, on a seeded sample of the inputs
# ---------------------------------------------------------------------------

def per_doc(rows: List[Dict], seed: int, n: int, tracer) -> Dict[str, float]:
    """Single-thread timings of the parse/classify/assemble layers over
    a seeded sample of ``rows`` (dicts with url and html)."""
    sample = random.Random(f"per_doc/{seed}").sample(rows, min(n, len(rows)))
    t_block = t_fast = t_std = t_wasted = t_doc = t_parse = 0.0
    kb_fast = kb_std = 0.0
    n_html = n_fast = kept = blocks = 0
    with tracer.span("per_doc"):
        for r in sample:
            p = r["html"]
            t0 = time.perf_counter()
            is_bl = blocklist.is_blocklist(p)
            if is_bl:
                blocklist.parse_blocklist(p)
            t_block += time.perf_counter() - t0
            if not is_bl:
                n_html += 1
                res, dt = timed(lambda: parse_html_fast(p))
                if res is None:
                    t_wasted += dt
                else:
                    n_fast += 1
                    t_fast += dt
                    kb_fast += len(p) / 1024
                _, dt = timed(lambda: parse_html_stdlib(p))
                t_std += dt
                kb_std += len(p) / 1024
            parsed, dt = timed(lambda: oracle.parse_payload(p))
            t_parse += dt
            _, dt = timed(lambda: oracle.extract_document(r["url"], p))
            t_doc += dt
            for b in parsed.blocks:
                blocks += 1
                kept += classify.keep_block(b.kind, b.role, b.text_len,
                                            b.link_text_len)
    n = len(sample)
    return {
        "htmlparse.fast_share": n_fast / max(n_html, 1),
        "htmlparse.fast_us_per_kb": 1e6 * t_fast / max(kb_fast, 1e-9),
        "htmlparse.stdlib_us_per_kb": 1e6 * t_std / max(kb_std, 1e-9),
        "htmlparse.wasted_us_per_doc": 1e6 * t_wasted / n,
        "blocklist.us_per_doc": 1e6 * t_block / n,
        "oracle.assemble_us_per_doc": 1e6 * max(t_doc - t_parse, 0.0) / n,
        "classify.keep_share": kept / max(blocks, 1),
        "oracle.single_thread_docs_per_s": n / t_doc,
    }


# ---------------------------------------------------------------------------
# pipeline + sinks
# ---------------------------------------------------------------------------

def extract_noop(spark, tracer, pages) -> float:
    """``pipeline.extract`` into the noop sink: the extraction stage alone."""
    with layer(spark, tracer, "pipeline.extract"):
        _, dt = timed(lambda: noop(pipeline.extract(pages)))
    return dt


def sinks_layer(spark, tracer, pages, n_docs: int, out_dir: str,
                extract_s: float, input_bytes: int) -> Dict[str, float]:
    """First submit and re-submit of ``sinks.run_extraction``.
    ``input_bytes`` is the size of the files ``pages`` is read from."""
    shutil.rmtree(out_dir, ignore_errors=True)
    with layer(spark, tracer, "sinks.run_extraction"):
        m1, dt1 = timed(lambda: sinks.run_extraction(spark, pages, out_dir))
    written = io_utils.dir_bytes(os.path.join(out_dir, "data"))
    with layer(spark, tracer, "sinks.resume"):
        m2, dt2 = timed(lambda: sinks.run_extraction(spark, pages, out_dir))
    if m1["docs_in"] != n_docs or m2["docs_in"] != 0:
        raise RuntimeError(f"sink probe counters off: {m1} / {m2}")
    return {
        "sinks.self_s": dt1 - extract_s,
        "sinks.bytes_written_mb": written / 2**20,
        "sinks.resume_s": dt2,
        # files the re-submit reads: the whole input and the committed
        # output (for its url column)
        "sinks.resume_scan_mb": (input_bytes + written) / 2**20,
        # docs the re-submit processed / docs it had to scan
        "sinks.resume_useful_ratio": m2["docs_in"] / n_docs,
    }


# ---------------------------------------------------------------------------
# WARC source + WET sink
# ---------------------------------------------------------------------------

def warc_layer(spark, tracer, warc_dir: str, wet_dir: str) -> Dict[str, float]:
    """Container scan, then the WET write of an already-extracted frame."""
    inflated = sum(len(gzip.decompress(io_utils.read_bytes(
        os.path.join(warc_dir, f)))) for f in os.listdir(warc_dir))
    with layer(spark, tracer, "warc.read"):
        recs = warc.read_warc(spark, warc_dir)
        _, read_s = timed(lambda: noop(warc.warc_pages(recs)))
    errors = recs.where(recs.error.isNotNull()).count()
    extracted = (pipeline.extract(warc.warc_pages(recs))
                 .select("url", "text").localCheckpoint(eager=True))
    shutil.rmtree(wet_dir, ignore_errors=True)
    with layer(spark, tracer, "warc.write_wet"):
        _, wet_s = timed(lambda: warc.write_wet(extracted, wet_dir))
    return {
        "warc.read_s": read_s,
        "warc.inflated_mb_per_s": inflated / 2**20 / read_s,
        "warc.error_records": float(errors),
        "warc.wet_write_s": wet_s,
    }


# ---------------------------------------------------------------------------
# curation chain, stage by stage
# ---------------------------------------------------------------------------

def curate_layer(spark, tracer, pages, bench_docs) -> Dict[str, float]:
    """The stages ``curate.curate`` chains, each called and materialized
    on its own (same inputs, same order), then the full chain's final
    assembly from a materialized audit."""
    with layer(spark, tracer, "curate.extract"):
        docs, extract_s = timed(lambda: pipeline.extract(pages).select(
            F.col("url").alias("doc_id"), "url", "text")
            .localCheckpoint(eager=True))
    with layer(spark, tracer, "textstats.quality"):
        quality, quality_s = timed(lambda: textstats.quality_frame(docs)
                                   .select("doc_id", "keep")
                                   .localCheckpoint(eager=True))
    passing = (docs.join(quality, "doc_id").where(F.col("keep"))
               .drop("keep").localCheckpoint(eager=True))
    with layer(spark, tracer, "dedup.decision"):
        _, dedup_s = timed(lambda: noop(dedup.dedup_decision_frame(passing)))
    with layer(spark, tracer, "decontam.flags"):
        _, flags_s = timed(lambda: noop(
            decontam.ngram_flags_frame(passing, bench_docs)))
    with layer(spark, tracer, "curate.curate"):
        _cur, audit = curate.curate(spark, pages, bench_docs)
        audit = audit.localCheckpoint(eager=True)
    with layer(spark, tracer, "curate.assemble"):
        t0 = time.perf_counter()
        noop(curate.curated_from_audit(audit))
        counters = curate.stage_counters(audit)
        assemble_s = time.perf_counter() - t0
    return {
        "curate.extract_s": extract_s,
        "textstats.quality_s": quality_s,
        "dedup.decision_s": dedup_s,
        "decontam.flags_s": flags_s,
        "curate.assemble_s": assemble_s,
        "curate.kept_share": counters["docs_kept"]
        / max(counters["docs_extracted"], 1),
    }


# ---------------------------------------------------------------------------
# all layers of one workload
# ---------------------------------------------------------------------------

PROBE_WARC_DOCS = 400    # docs packed into WARC containers for the probe
PROBE_CURATE_DOCS = 40   # pages curated by the probe


def _sample(wl, n: int) -> List[Dict]:
    rows = wl.rows
    return random.Random(f"probe/{wl.seed}").sample(rows, min(n, len(rows)))


def probe_all(spark, tracer, wl, work: str, cores: int) -> Dict[str, float]:
    """Every layer once. Layers the workload's own job runs see its full
    input. WARC, for the parquet workloads, sees a seeded sample of the
    input packed into containers; curation, for the extraction
    workloads, sees ``PROBE_CURATE_DOCS`` pages of curate_chain's
    generator."""
    probe = os.path.join(work, "probe")
    pages = wl.pages(spark)
    m: Dict[str, float] = {}
    extract_s = extract_noop(spark, tracer, pages)
    m["pipeline.extract_s"] = extract_s
    m.update(per_doc(wl.rows, wl.seed, wl.per_doc_sample, tracer))
    m["pipeline.parallel_eff"] = (wl.size / extract_s) / (
        cores * m["oracle.single_thread_docs_per_s"])
    m.update(sinks_layer(spark, tracer, pages, wl.size,
                         os.path.join(probe, "sink"), extract_s,
                         io_utils.dir_bytes(wl.source_dir())))

    warc_dir = wl.warc_dir
    if warc_dir is None:
        warc_dir = os.path.join(probe, "warc")
        os.makedirs(warc_dir)
        for f, blob in enumerate(gen.bigpage_containers(
                _sample(wl, PROBE_WARC_DOCS), 4)):
            with open(os.path.join(warc_dir, f"part-{f}.warc.gz"), "wb") as fh:
                fh.write(blob)
    m.update(warc_layer(spark, tracer, warc_dir, os.path.join(probe, "wet")))

    if wl.name == "curate_chain":
        cur_pages, bench = pages, wl.bench_docs(spark)
    else:
        # the curation probe runs on curate_chain's generator: pages of
        # the workloads above are either tiny (crawl) or so long that the
        # quadratic shingle (NOTES.md) would take minutes per page
        rows, evals, _plan = gen.curate_inputs(wl.seed, PROBE_CURATE_DOCS)
        path = os.path.join(probe, "curate_pages")
        io_utils.write_pages(rows, path, 4)
        cur_pages = spark.read.parquet(path)
        bench = spark.createDataFrame(
            [(e["doc_id"], e["text"]) for e in evals],
            "doc_id long, text string")
    m.update(curate_layer(spark, tracer, cur_pages, bench))
    return m


def event_log_metrics(tasks: List[Dict]) -> Dict[str, float]:
    """Per-layer rollups of the traced session's event log."""
    import spans

    def of(name):
        return [t for t in tasks if t["layer"] == name]

    def shuffle_mb(name):
        return sum(t["shuffle_write_b"] for t in of(name)) / 2**20

    op = spans.task_summary(of("op"))
    ext = spans.task_summary(of("pipeline.extract"))
    session = spans.task_summary(tasks)
    return {
        "spark.executor_cpu_s": op["executor_cpu_s"],
        "spark.gc_share": op["gc_share"],
        "spark.shuffle_write_mb": op["shuffle_write_mb"],
        "spark.spill_mb": op["spill_mb"],
        # Python SQL timings are reported in ms; worker boot is summed
        # over the whole traced session (workers are reused after it)
        "pipeline.py_run_s": ext["pythonTotalTime"] / 1e3,
        "pipeline.py_boot_s": session["pythonBootTime"] / 1e3,
        "pipeline.py_sent_mb": ext["pythonDataSent"] / 2**20,
        "pipeline.py_recv_mb": ext["pythonDataReceived"] / 2**20,
        "pipeline.task_p50_ms": ext["task_p50_ms"],
        "pipeline.task_p90_ms": ext["task_p90_ms"],
        "pipeline.task_skew": ext["task_skew"],
        "dedup.shuffle_mb": shuffle_mb("dedup.decision"),
        "decontam.shuffle_mb": shuffle_mb("decontam.flags"),
    }


# every per-layer metric the traced run reports, with its unit
PER_LAYER_UNITS = {
    "htmlparse.fast_share": "ratio",
    "htmlparse.fast_us_per_kb": "us/KB",
    "htmlparse.stdlib_us_per_kb": "us/KB",
    "htmlparse.wasted_us_per_doc": "us/doc",
    "blocklist.us_per_doc": "us/doc",
    "oracle.assemble_us_per_doc": "us/doc",
    "classify.keep_share": "ratio",
    "oracle.single_thread_docs_per_s": "docs/s",
    "pipeline.extract_s": "s",
    "pipeline.parallel_eff": "ratio",
    "pipeline.py_run_s": "s",
    "pipeline.py_boot_s": "s",
    "pipeline.py_sent_mb": "MB",
    "pipeline.py_recv_mb": "MB",
    "pipeline.task_p50_ms": "ms",
    "pipeline.task_p90_ms": "ms",
    "pipeline.task_skew": "ratio",
    "sinks.self_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.resume_s": "s",
    "sinks.resume_scan_mb": "MB",
    "sinks.resume_useful_ratio": "ratio",
    "warc.read_s": "s",
    "warc.inflated_mb_per_s": "MB/s",
    "warc.error_records": "count",
    "warc.wet_write_s": "s",
    "curate.extract_s": "s",
    "textstats.quality_s": "s",
    "dedup.decision_s": "s",
    "decontam.flags_s": "s",
    "curate.assemble_s": "s",
    "dedup.shuffle_mb": "MB",
    "decontam.shuffle_mb": "MB",
    "curate.kept_share": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "session.start_s": "s",
    "deploy.zip_s": "s",
    "bench.gen_s": "s",
    "bench.warmup_s": "s",
    "bench.traced_docs_per_s": "docs/s",
    "bench.trace_overhead": "ratio",
    "bench.failed_share": "ratio",
}
