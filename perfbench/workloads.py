"""The three benchmark workloads.

Each workload owns its inputs (generated from the seed under its input
directory), a warm-up, the timed job (``submit``) and its re-submit over
the same output location (``resubmit``), and the output gates. Gates run
outside the timed window and return a list of mismatch messages.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
from typing import Dict, List, Optional, Tuple

from ocr_module_spark import curate, oracle, pipeline, sinks
from ocr_module_spark.sources import warc

import gen
import io_utils

N_FILES = 8  # input files per workload: enough scan splits for every core
WET_SUFFIX = ".warc.wet.gz"  # the byte-deterministic containers write_wet emits


def _oracle_texts(rows: List[Dict]) -> List[Tuple[str, str]]:
    return [(r["url"], oracle.extract_document(r["url"], r["html"])["text"])
            for r in rows]


def _oracle_digest(rows: List[Dict]) -> str:
    """The oracle's (url, text) digest, computed in one process per core
    so the gate stays a small share of a run."""
    procs = len(os.sched_getaffinity(0))
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        parts = pool.map(_oracle_texts, [rows[i::procs] for i in range(procs)])
        pool.close()
        pool.join()
    return io_utils.text_digest(p for part in parts for p in part)


class Workload:
    name = ""
    size = 0            # input documents per run
    min_reps = 1        # timed submit/re-submit pairs per run, at least
    resubmits = 1       # timed re-submits per pair
    warmup_pairs = 1    # untimed pairs before timing
    per_doc_sample = 0  # documents in the traced per-document sample

    def __init__(self, seed: int, in_dir: str):
        self.seed = seed
        self.in_dir = in_dir
        self.rows: List[Dict] = []   # url, html, warc_ts per input doc
        self.warc_dir: Optional[str] = None
        self._digest: Optional[str] = None

    def generate(self) -> None:
        raise NotImplementedError

    def pages(self, spark):
        return spark.read.parquet(self.source_dir())

    def source_dir(self) -> str:
        """Directory of the files the job reads."""
        return os.path.join(self.in_dir, "pages")

    def warmup(self, spark, out: str) -> None:
        """The timed job, untimed: boots a Python worker per core and
        compiles every query stage before timing."""
        for _ in range(self.warmup_pairs):
            shutil.rmtree(out, ignore_errors=True)
            self.resubmit(spark, out, self.submit(spark, out))

    def oracle_digest(self) -> str:
        if self._digest is None:
            self._digest = _oracle_digest(self.rows)
        return self._digest

    def submit(self, spark, out: str) -> Dict:
        raise NotImplementedError

    def resubmit(self, spark, out: str, first: Dict) -> Dict:
        raise NotImplementedError

    def check_pair(self, first: Dict, second: Dict) -> List[str]:
        return []

    def gate(self, spark, out: str, last: Dict) -> List[str]:
        """Check the output in ``out``; ``last`` is the final re-submit's
        result."""
        raise NotImplementedError


class CrawlExtract(Workload):
    """``sinks.run_extraction`` over a window of the stock crawl, then
    the re-submit of the same job (anti-join resume, zero new docs)."""

    name = "crawl_extract"
    size = 100_000
    min_reps = 4
    resubmits = 3
    warmup_pairs = 2
    per_doc_sample = 400

    def generate(self) -> None:
        self.rows = gen.crawl_rows(self.seed, self.size)
        io_utils.write_pages(self.rows, os.path.join(self.in_dir, "pages"),
                             N_FILES)

    def submit(self, spark, out: str) -> Dict:
        m = sinks.run_extraction(spark, self.pages(spark), out)
        return {"docs": m["docs_in"], "failed": m["docs_failed"], "m": m}

    def resubmit(self, spark, out: str, first: Dict) -> Dict:
        m = sinks.run_extraction(spark, self.pages(spark), out)
        return {"docs": m["docs_in"], "m": m}

    def check_pair(self, first: Dict, second: Dict) -> List[str]:
        errs = []
        m1 = first["m"]
        if not m1["docs_in"] == m1["docs_out"] == self.size:
            errs.append(f"docs_in {m1['docs_in']} / docs_out "
                        f"{m1['docs_out']} != {self.size}")
        if second["m"]["docs_in"] != 0:
            errs.append(f"re-submit processed {second['m']['docs_in']} docs")
        return errs

    def gate(self, spark, out: str, last: Dict) -> List[str]:
        got = spark.read.parquet(os.path.join(out, "data")) \
            .select("url", "text").collect()
        errs = []
        if len(got) != self.size:
            errs.append(f"sink holds {len(got)} rows, want {self.size}")
        if io_utils.text_digest((r.url, r.text) for r in got) \
                != self.oracle_digest():
            errs.append("sink (url, text) digest differs from the oracle")
        return errs


class WarcBigpage(Workload):
    """``read_warc`` -> ``warc_pages`` -> ``pipeline.extract`` ->
    ``write_wet`` over gzip WARC containers of 20-60 KB pages; the
    re-submit re-runs the export into the same directory (a WET export
    resumes by deterministic rewrite)."""

    name = "warc_bigpage"
    size = 480
    min_reps = 4
    per_doc_sample = 60

    def generate(self) -> None:
        recs = gen.bigpage_records(self.seed, self.size)
        self.rows = recs
        self.warc_dir = os.path.join(self.in_dir, "warc")
        os.makedirs(self.warc_dir, exist_ok=True)
        for f, blob in enumerate(gen.bigpage_containers(recs, N_FILES)):
            with open(os.path.join(self.warc_dir,
                                   f"part-{f:03d}.warc.gz"), "wb") as fh:
                fh.write(blob)

    def source_dir(self) -> str:
        return self.warc_dir

    def pages(self, spark):
        return warc.warc_pages(warc.read_warc(spark, self.warc_dir))

    def submit(self, spark, out: str) -> Dict:
        wet = os.path.join(out, "wet")
        m = warc.write_wet(pipeline.extract(self.pages(spark))
                           .select("url", "text"), wet)
        # error rows are counted by the gate, outside the timed window
        return {"docs": m["records"], "failed": None, "m": m}

    def resubmit(self, spark, out: str, first: Dict) -> Dict:
        wet = os.path.join(out, "wet")
        first["files"] = io_utils.file_hashes(wet, WET_SUFFIX)
        second = self.submit(spark, out)
        second["files"] = io_utils.file_hashes(wet, WET_SUFFIX)
        return second

    def check_pair(self, first: Dict, second: Dict) -> List[str]:
        errs = []
        for r in (first, second):
            if r["m"]["records"] != self.size:
                errs.append(f"WET export wrote {r['m']['records']} records")
        if first["files"] != second["files"]:
            errs.append("re-submitted WET files differ from the first export")
        return errs

    def gate(self, spark, out: str, last: Dict) -> List[str]:
        got = warc.read_wet(spark, os.path.join(out, "wet")) \
            .select("url", "text").collect()
        extracted = pipeline.extract(self.pages(spark))
        self.failed_docs = extracted.where(
            extracted.error.isNotNull()).count()
        errs = []
        if len(got) != self.size:
            errs.append(f"read_wet returned {len(got)} records, "
                        f"want {self.size}")
        if io_utils.text_digest((r.url, r.text) for r in got) \
                != self.oracle_digest():
            errs.append("WET (url, text) digest differs from the oracle")
        recs = warc.read_warc(spark, self.warc_dir)
        bad = recs.where(recs.error.isNotNull()).count()
        if bad:
            errs.append(f"{bad} WARC records failed to parse")
        return errs


class CurateChain(Workload):
    """``curate.curate`` -> curated corpus written + ``stage_counters``
    over prose pages with planted near-duplicates and contamination; the
    re-submit runs the same job into the same output (no resume: full
    recompute)."""

    name = "curate_chain"
    size = 100
    min_reps = 1
    per_doc_sample = 60

    def generate(self) -> None:
        pages, self.evals, self.plan = gen.curate_inputs(self.seed, self.size)
        self.rows = pages
        io_utils.write_pages(pages, os.path.join(self.in_dir, "pages"),
                             N_FILES)

    def bench_docs(self, spark):
        return spark.createDataFrame(
            [(e["doc_id"], e["text"]) for e in self.evals],
            "doc_id long, text string")

    def warmup(self, spark, out: str) -> None:
        """One untimed submit (the re-submit runs the same code)."""
        self.submit(spark, out)

    def submit(self, spark, out: str) -> Dict:
        cur, audit = curate.curate(spark, self.pages(spark),
                                   self.bench_docs(spark))
        cur.write.mode("overwrite").parquet(os.path.join(out, "curated"))
        counters = curate.stage_counters(audit)
        return {"docs": self.size,
                "failed": self.size - counters["docs_extracted"],
                "counters": counters, "audit": audit}

    def resubmit(self, spark, out: str, first: Dict) -> Dict:
        return self.submit(spark, out)

    def check_pair(self, first: Dict, second: Dict) -> List[str]:
        errs = []
        for r in (first, second):
            c = r["counters"]
            parts = (c["docs_kept"] + c["dropped_quality"]
                     + c["dropped_duplicate"] + c["dropped_contaminated"])
            if parts != c["docs_extracted"]:
                errs.append(f"stage counters do not sum: {c}")
        if first["counters"] != second["counters"]:
            errs.append(f"counters differ across submits: "
                        f"{first['counters']} vs {second['counters']}")
        return errs

    def gate(self, spark, out: str, last: Dict) -> List[str]:
        rows = last["audit"].select(
            "url", "quality_keep", "contaminated", "kept").collect()
        errs = []
        by_url = {r.url: r for r in rows}
        for url in self.plan["contam"]:
            r = by_url.get(url)
            if r is None:
                errs.append(f"planted contamination {url} missing from audit")
            elif r.quality_keep and not r.contaminated:
                errs.append(f"planted contamination {url} not flagged")
        kept = sum(1 for r in rows if r.kept)
        written = spark.read.parquet(os.path.join(out, "curated")).count()
        if not kept == written == last["counters"]["docs_kept"]:
            errs.append(f"kept rows {kept}, written {written}, counter "
                        f"{last['counters']['docs_kept']} disagree")
        return errs


WORKLOADS = {w.name: w for w in (CrawlExtract, WarcBigpage, CurateChain)}
