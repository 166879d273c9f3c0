"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 12 --trace 0

Run from the repository root. It starts Spark at ``local[<cores>]``
(all cores this process may use), sets up once (JVM launch and session
start, executor zip build, seeded input generation), warms up, then repeats the
workload's timed job — a submit and a re-submit over the same output —
for at least ``--seconds`` seconds. Output gates run after the timed
window; any mismatch makes the command exit 1. NOTES.md describes the
workloads and every metric.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` additionally
runs the job in a session with a Spark event log, times every layer
under spans (see layers.py) and prints the per-layer metrics instead.

Everything the run writes stays under ``.bench_work/`` in the current
directory; the span file of a traced run is kept in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Dict, List

import spans as tr  # perfbench/ is on sys.path: it holds this script

DRIVER_MEM = "1g"  # the JVM heap cap (local mode: driver and executors)
TRACED_PAIRS = 2  # timed pairs in the event-logged session
END_TO_END_UNITS = {"docs_per_s": "docs/s", "resume_s": "s", "setup_s": "s",
                    "peak_rss_mb": "MB"}


def _args(argv: List[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before anything reads them."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM (the spark-submit launcher too): temp files under work,
    # and no hsperfdata file, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    # one fixed heap for every run, whatever the calling shell exports
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Bench:
    def __init__(self, args, root: str, work: str):
        import workloads

        self.args = args
        self.root = root
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.wl = workloads.WORKLOADS[args.workload](
            args.seed, os.path.join(work, "inputs",
                                    f"{args.workload}-{args.seed}-"
                                    f"{workloads.WORKLOADS[args.workload].size}"))
        self.tracer = tr.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                             enabled=bool(args.trace))
        self.spark = None
        self.errors: List[str] = []

    # -- session lifecycle --------------------------------------------------

    def _conf(self, event_log: bool) -> Dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self, event_log: bool = False):
        from ocr_module_spark import session
        self.spark = session.get_spark(app=f"perfbench-{self.wl.name}",
                                       cores=self.cores,
                                       extra_conf=self._conf(event_log))
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        kids = tr.descendants(os.getpid())
        try:
            self.stop_session()
        except Exception as exc:  # noqa: BLE001 - the JVM must still end
            print(f"perfbench: stopping Spark failed: {exc!r}",
                  file=sys.stderr)
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            tr.wait_gone(kids, timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- phases -------------------------------------------------------------

    def setup(self) -> Dict[str, float]:
        """One set-up (JVM launch and session start, executor zip, input
        generation), then the warm-up. ``setup_s`` is their sum."""
        from ocr_module_spark import deploy

        out: Dict[str, float] = {}

        def step(name, fn):
            with self.tracer.span(name):
                t0 = time.perf_counter()
                fn()
                out[f"{name}_s"] = time.perf_counter() - t0

        shutil.rmtree(self.wl.in_dir, ignore_errors=True)
        os.makedirs(self.wl.in_dir)
        step("session.start", self.start)
        step("deploy.zip", lambda: deploy.ensure_pyfiles(self.spark))
        step("bench.gen", self.wl.generate)
        step("bench.warmup", lambda: self.wl.warmup(
            self.spark, os.path.join(self.work, "warm")))
        out["setup_s"] = sum(out.values())
        return out

    def measure(self, seconds: float, min_reps: int,
                label: str = "op") -> List[Dict]:
        """Submit/re-submit pairs until ``seconds`` have passed and at
        least ``min_reps`` pairs ran; a pair re-submits the workload's
        ``resubmits`` times. Each sample carries the host-noise markers
        (steal seconds during the pair, 1-minute load)."""
        samples: List[Dict] = []
        sc = self.spark.sparkContext
        t_end = time.perf_counter() + seconds
        rep = 0
        while rep < min_reps or time.perf_counter() < t_end:
            out = os.path.join(self.work, "out", f"{label}-{rep}")
            shutil.rmtree(out, ignore_errors=True)
            steal0 = tr.steal_seconds()
            sc.setLocalProperty(tr.LAYER_PROP, label)
            with self.tracer.span(f"{self.wl.name}.submit"):
                t0 = time.perf_counter()
                first = self.wl.submit(self.spark, out)
                submit_s = time.perf_counter() - t0
            resume_s = []
            for _ in range(self.wl.resubmits):
                with self.tracer.span(f"{self.wl.name}.resubmit"):
                    t0 = time.perf_counter()
                    second = self.wl.resubmit(self.spark, out, first)
                    resume_s.append(time.perf_counter() - t0)
                self.errors += self.wl.check_pair(first, second)
            sc.setLocalProperty(tr.LAYER_PROP, None)
            samples.append({
                "docs": first["docs"], "failed": first["failed"],
                "submit_s": submit_s, "resume_s": resume_s,
                "docs_per_s": first["docs"] / submit_s,
                "steal_s": tr.steal_seconds() - steal0,
                "load_1m": tr.load_1m(),
            })
            if rep > 0:  # keep only the newest output, for the gates
                shutil.rmtree(os.path.join(self.work, "out",
                                           f"{label}-{rep - 1}"),
                              ignore_errors=True)
            self.last = (out, second)
            rep += 1
        return samples

    def gate(self) -> None:
        self.errors += self.wl.gate(self.spark, *self.last)

    def traced(self, untraced_dps: float) -> Dict[str, float]:
        """Per-layer metrics: the job again in an event-logged session
        with spans on, then every layer timed on its own."""
        import layers

        self.stop_session()
        spark = self.start(event_log=True)
        self.wl.warmup(spark, os.path.join(self.work, "warm"))
        samples = self.measure(0, TRACED_PAIRS, label="op")
        traced_dps = statistics.median(s["docs_per_s"] for s in samples)
        m: Dict[str, float] = {
            "bench.traced_docs_per_s": traced_dps,
            "bench.trace_overhead": 1 - traced_dps / untraced_dps,
        }
        m.update(layers.probe_all(spark, self.tracer, self.wl, self.work,
                                  self.cores))
        log_dir = os.path.join(self.work, "events")
        self.stop_session()
        (log,) = os.listdir(log_dir)  # one traced session per run
        tasks = tr.parse_event_log(os.path.join(log_dir, log),
                                   tr.LAYER_PROP)
        m.update(layers.event_log_metrics(tasks))
        return m

    def write_trace(self) -> Dict[str, float]:
        path = os.path.join(self.root, ".bench_work", "traces",
                            f"{self.tracer.run_id}.jsonl")
        self.tracer.write(path)
        return tr.self_time_by_name(self.tracer.spans)


def _median(samples: List[Dict], key: str) -> float:
    return statistics.median(s[key] for s in samples)


def _resumes(samples: List[Dict]) -> List[float]:
    return [t for s in samples for t in s["resume_s"]]


def main(argv: List[str]) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(1, root)  # the program under test
    try:
        import workloads  # imports the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {root}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    _prepare_env(work)
    bench = Bench(args, root, work)
    try:
        setup = bench.setup()
        bench.tracer.enabled = False  # end-to-end numbers run untraced
        with tr.RssSampler() as rss:
            samples = bench.measure(args.seconds, bench.wl.min_reps)
        bench.tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        bench.gate()
        gate_s = time.perf_counter() - t0
        for s in samples:
            if s["failed"] is None:  # counted by the gate, untimed
                s["failed"] = bench.wl.failed_docs
        e2e = {
            "docs_per_s": _median(samples, "docs_per_s"),
            "resume_s": statistics.median(_resumes(samples)),
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_mb,
        }
        per_layer = None
        if args.trace:
            per_layer = {k: v for k, v in setup.items() if k != "setup_s"}
            per_layer.update(bench.traced(e2e["docs_per_s"]))
            failed_docs = sum(s["failed"] for s in samples)
            per_layer["bench.failed_share"] = failed_docs / sum(
                s["docs"] for s in samples)
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    self_times = bench.write_trace() if args.trace else {}

    attempted = sum(s["docs"] for s in samples)
    failed = sum(s["failed"] for s in samples)
    # sample counts: submits, re-submits, set-ups, RSS readings
    n = {"docs_per_s": len(samples), "resume_s": len(_resumes(samples)),
         "setup_s": 1, "peak_rss_mb": rss.readings}
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": bench.cores,
        "samples": len(samples), "gate_s": gate_s,
        "end_to_end": {k: {"median": v, "unit": END_TO_END_UNITS[k],
                           "n": n[k]} for k, v in e2e.items()},
        "failed_share": failed / attempted,
        "peak_rss_procs_mb": rss.peak_procs_mb,
        "per_sample": samples,
        "span_self_s": self_times,
        "gate_errors": bench.errors,
    }
    print(json.dumps(summary, default=float))
    if per_layer is None:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    else:
        import layers
        metrics = {k: {"value": per_layer[k], "unit": u}
                   for k, u in layers.PER_LAYER_UNITS.items()}
    print(json.dumps({"correct": not bench.errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if bench.errors:
        for e in bench.errors:
            print(f"perfbench: gate failed: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
