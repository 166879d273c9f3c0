"""Tests of the benchmark's own code: generators, gates, span arithmetic
and the event-log parser.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # perfbench/
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))  # the repo

import gen  # noqa: E402
import io_utils  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


# -- generators --------------------------------------------------------------

def test_crawl_window_deterministic_per_seed():
    assert gen.crawl_window(7, 100) == gen.crawl_window(7, 100)
    assert gen.crawl_window(7, 100) != gen.crawl_window(8, 100)
    start, n = gen.crawl_window(7, 100)
    assert start % 40 == 0 and n == 100
    assert gen.crawl_rows(7, 5) == gen.crawl_rows(7, 5)


def test_bigpage_records_deterministic_and_shaped():
    a = gen.bigpage_records(3, 40)
    assert a == gen.bigpage_records(3, 40)
    assert a != gen.bigpage_records(4, 40)
    sizes = [len(r["html"]) for r in a]
    assert min(sizes) >= gen.BIGPAGE_MIN_BYTES
    assert max(sizes) <= gen.BIGPAGE_MAX_BYTES + 2_000
    assert gen.bigpage_containers(a, 2) == gen.bigpage_containers(a, 2)


def test_bigpage_fallback_share_reaches_stdlib_parser():
    from ocr_module_spark.htmlparse import parse_html_tagged
    recs = gen.bigpage_records(5, 200)
    paths = [parse_html_tagged(r["html"])[1] for r in recs]
    share = paths.count("stdlib") / len(paths)
    assert 0.03 < share < 0.2


def test_curate_inputs_deterministic_with_plan():
    pages, evals, plan = gen.curate_inputs(9, 120)
    again = gen.curate_inputs(9, 120)
    assert (pages, evals, plan) == again
    assert pages != gen.curate_inputs(10, 120)[0]
    assert len(pages) == 120 and len(evals) == gen.CURATE_EVAL_DOCS
    assert len(plan["contam"]) == gen.CURATE_CONTAM_DOCS
    assert len(plan["heavy"]) >= 2
    assert len({p["url"] for p in pages}) == 120


def test_curate_inputs_small_sizes_always_have_an_original_first():
    # every near-copy needs an earlier original, whatever the shuffle
    for seed in range(60):
        gen.curate_inputs(seed, 40)


# -- spans -------------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "run_id": "r",
            "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans_ = [_span(0, None, 0.0, 10.0),
              _span(1, 0, 1.0, 4.0),
              _span(2, 0, 3.0, 6.0),     # overlaps span 1: union 1..6
              _span(3, 0, 8.0, 12.0),    # clipped to the parent's end
              _span(4, 1, 2.0, 3.0)]     # grandchild: only span 1 loses it
    st = spans.self_times(spans_)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_disabled_is_noop():
    t = spans.Tracer("run", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = spans.Tracer("run", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


# -- gates -------------------------------------------------------------------

def test_rss_sampler_counts_a_process_from_its_second_reading(monkeypatch):
    # pid 3 appears once, as a spawned child sharing the JVM's memory does
    readings = iter([{1: 100, 2: 50}, {1: 100, 2: 60, 3: 100},
                     {1: 100, 2: 60}])
    monkeypatch.setattr(spans, "_tree_rss", lambda root: next(readings))
    s = spans.RssSampler()
    for _ in range(3):
        s._read(1)
    assert s.peak == 160 and s.readings == 3


def test_digest_is_order_independent_and_text_sensitive():
    rows = [("u1", "a"), ("u2", "b")]
    assert io_utils.text_digest(rows) == io_utils.text_digest(rows[::-1])
    assert io_utils.text_digest(rows) != io_utils.text_digest(
        [("u1", "a"), ("u2", "c")])


def test_curate_pair_check_rejects_broken_counters():
    wl = workloads.CurateChain(1, "unused")
    good = {"docs_extracted": 10, "docs_kept": 4, "dropped_quality": 3,
            "dropped_duplicate": 2, "dropped_contaminated": 1}
    ok = {"counters": good, "audit": None}
    assert wl.check_pair(ok, dict(ok)) == []
    bad = {"counters": dict(good, docs_kept=5), "audit": None}
    assert any("do not sum" in e for e in wl.check_pair(ok, bad))
    assert any("differ" in e for e in wl.check_pair(ok, bad))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ocr_module_spark import session
    events = tmp_path_factory.mktemp("events")
    s = session.get_spark(app="perfbench-tests", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(events),
        "spark.eventLog.compress": "false",
    })
    yield s, str(events)
    s.stop()


def test_crawl_gate_rejects_one_corrupted_text_row(spark, tmp_path):
    import pyarrow.parquet as pq

    s, _ = spark
    wl = workloads.CrawlExtract(2, str(tmp_path / "in"))
    wl.size = 48
    wl.generate()
    out = str(tmp_path / "out")
    first = wl.submit(s, out)
    second = wl.resubmit(s, out, first)
    assert wl.check_pair(first, second) == []
    assert wl.gate(s, out, second) == []

    data = os.path.join(out, "data")
    victim = next(os.path.join(data, f) for f in sorted(os.listdir(data))
                  if f.endswith(".parquet")
                  and pq.read_metadata(os.path.join(data, f)).num_rows)
    tbl = pq.read_table(victim)
    texts = tbl.column("text").to_pylist()
    texts[0] = texts[0] + " "
    idx = tbl.schema.get_field_index("text")
    tbl = tbl.set_column(idx, tbl.schema.field(idx), [texts])
    pq.write_table(tbl, victim)
    # the local filesystem's checksum sidecar would reject the rewrite
    os.remove(os.path.join(data, f".{os.path.basename(victim)}.crc"))
    errs = wl.gate(s, out, second)
    assert any("digest" in e for e in errs)


def test_event_log_parser_on_a_tiny_run(spark):
    from ocr_module_spark import corpus, pipeline

    s, events = spark
    sc = s.sparkContext
    sc.setLocalProperty(spans.LAYER_PROP, "tiny")
    pipeline.extract(corpus.pages_df(s, 40)) \
        .write.format("noop").mode("overwrite").save()
    sc.setLocalProperty(spans.LAYER_PROP, None)
    s.stop()
    (log,) = os.listdir(events)
    tasks = spans.parse_event_log(os.path.join(events, log),
                                  spans.LAYER_PROP)
    tiny = [t for t in tasks if t["layer"] == "tiny"]
    assert tiny, "labelled job's tasks are attributed to its layer"
    summary = spans.task_summary(tiny)
    assert summary["n_tasks"] == len(tiny)
    assert summary["executor_cpu_s"] > 0
    assert summary["pythonDataSent"] > 0
    assert summary["pythonDataReceived"] > 0
    assert summary["task_skew"] >= 1.0
