"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest crawlbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from crawlbench.stats import nearest_rank, quartile_spread, tail_percentile
from crawlbench.tracing import Tracer, parse_event_log, plan_shape, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------- percentile rule
def test_nearest_rank_counts_samples_above():
    values = list(range(1, 101))
    assert nearest_rank(values, 90) == (90, 10)
    assert nearest_rank(values, 50) == (50, 50)


def test_tail_is_highest_percentile_with_ten_samples_above():
    assert tail_percentile(list(range(1, 101))) == (90.0, 90, 100)
    assert tail_percentile(list(range(1, 201))) == (95.0, 190, 200)
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990, 1000)
    assert tail_percentile(list(range(1, 41))) == (75.0, 30, 40)


def test_tail_absent_with_few_samples():
    assert tail_percentile([3.0, 1.0, 2.0]) is None
    assert tail_percentile(list(range(39))) is None


def test_quartile_spread_is_share_of_median():
    assert quartile_spread([10.0] * 10) == 0.0
    spread = quartile_spread([float(v) for v in range(1, 11)])
    assert abs(spread - (8.25 - 2.75) / 5.5) < 1e-12


# ------------------------------------------------------------- self time
def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 5.0, 6.0), _span(3, 1, 1.5, 2.5)]
    got = self_times(spans)
    assert got == {0: 7.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_self_time_merges_overlapping_concurrent_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0),
             _span(2, 0, 4.0, 8.0), _span(3, 0, 9.0, 12.0)]
    # children cover [2, 8] and [9, 10] inside the parent
    assert self_times(spans)[0] == 3.0


def test_spans_on_other_threads_take_the_owner_span_as_parent():
    import threading

    tracer = Tracer()

    def merge():
        with tracer.span("merge"):
            pass

    with tracer.span("round"):
        t = threading.Thread(target=merge)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    rec = [s for s in tracer.spans if s["name"] == "merge"][0]
    assert rec["parent"] == 0


def test_wrap_calls_through_and_captures():
    tracer = Tracer()

    class Mod:
        @staticmethod
        def f(x, k=1):
            return x + k

    tracer.patch(Mod, "f", "layer.f", capture=True)
    assert Mod.f(2, k=3) == 5
    tracer.unpatch()
    assert Mod.f(2) == 3
    assert tracer.captured["layer.f"] == ((2,), {"k": 3})
    assert [s["name"] for s in tracer.spans] == ["layer.f"]


# ------------------------------------------------------------- event log
CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "traced"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
     "Stage IDs": [1, 2], "Properties": {}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 90000,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Input Metrics": {"Records Read": 7}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor CPU Time": 1_000_000_000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                 "Local Bytes Read": 90},
        "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor CPU Time": 500_000_000}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
        "Executor CPU Time": 500_000_000}},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 99000},
]


def test_event_log_sums_counters_per_job_group():
    lines = [json.dumps(e) for e in CANNED] + [""]
    got = parse_event_log(lines)
    traced = got["traced"]
    assert traced["tasks"] == 2  # stage 1 belongs to its first job
    assert traced["executor_cpu_s"] == 3.0
    assert traced["gc_s"] == 0.5
    assert traced["shuffle_write_bytes"] == 100
    assert traced["shuffle_read_bytes"] == 100
    assert traced["spill_bytes"] == 7
    assert traced["input_records"] == 7
    assert got["unattributed"]["tasks"] == 2


def test_event_log_windows_attribute_untagged_jobs_by_time():
    lines = [json.dumps(e) for e in CANNED]
    got = parse_event_log(lines, {"traced": (4.0, 6.0)})
    assert got["unattributed.traced"]["tasks"] == 1
    assert got["unattributed.traced"]["executor_cpu_s"] == 0.5
    assert "unattributed" not in got  # job 2 falls in no window


def test_plan_shape_counts_exchanges_and_chain_copies():
    plan = ("Exchange hashpartitioning\n+- BroadcastExchange\n"
            + "Filter (a RLIKE b)\n" * 212)
    assert plan_shape(plan) == {"exchanges": 2, "chain_copies": 2.0}


# ------------------------------------------------------ process clean-up
def test_reap_all_stops_orphaned_grandchildren():
    """A grandchild whose parent exits (as Spark's python daemons do when
    the JVM stops) is re-parented to the run, and stopped and waited for.
    Run in a process of its own: the test runner should not become a
    subreaper."""
    script = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        from crawlbench.run import become_subreaper, child_pids, reap_all
        become_subreaper()
        # the shell starts one sleeper that ignores TERM, prints its pid
        # and exits, leaving it orphaned
        out = subprocess.run(
            ["sh", "-c",
             "(trap '' TERM; exec sleep 60 >/dev/null) & echo $!"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        orphan = int(out)
        assert child_pids() == [orphan], child_pids()
        reap_all(grace=0.5)
        assert child_pids() == []
        try:
            os.kill(orphan, 0)
        except ProcessLookupError:
            print("reaped")
    """)
    out = subprocess.run([sys.executable, "-c", script,
                          os.path.dirname(HERE)], stdout=subprocess.PIPE,
                         text=True, timeout=30, check=True).stdout
    assert out.strip() == "reaped"


# ----------------------------------------------- metric list consistency
def test_benchmark_json_lists_the_metrics_the_code_prints():
    import pytest

    pytest.importorskip("pyspark")
    from crawlbench.layers import spec
    from crawlbench.run import END_TO_END
    from crawlbench.workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == spec()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_brute_force_ranking_orders_by_the_search_rules():
    import pytest

    pytest.importorskip("pyspark")
    from crawlbench.layers import brute_force_top

    def page(u, text, q=0.5, wc=10):
        return {"url_canon": u, "ts14": "20200101000000", "title": "",
                "extracted_text": text, "quality_score": q,
                "word_count": wc}

    pages = [page("a", "crawl index"), page("b", "crawl crawl index"),
             page("c", "crawl"), page("d", "index", q=0.9),
             page("e", "nothing here")]
    top = brute_force_top(pages, "Crawl index_zz", 10)
    # "index_zz" splits on "_" like the JVM tokenizer: terms crawl, index, zz
    assert [u for u, _ in top] == ["b", "a", "d", "c"]
