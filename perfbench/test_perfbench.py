"""The benchmark's own tests: the output checks catch corrupted outputs, and
the span accounting adds up. No Spark session needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys

from perfbench import oracles
from perfbench.trace import children_of, parse_event_log, round_breakdown, union_length
from perfbench.workloads import tree_cpu_s

GOLDEN = {"a": 0, "b": 1, "c": 1, "d": 2}
ERRORS = {"d"}
TYPED = {"projects": 2}


def engine_ok():
    return {"a": (0, 200), "b": (1, 200), "c": (1, 200), "d": (2, 503)}


def test_crawl_check_passes_the_golden_crawl():
    chk = oracles.check_crawl(engine_ok(), GOLDEN, ERRORS, TYPED, TYPED, {1, 2})
    assert (chk.attempted, chk.failed, chk.problems) == (3, 0, [])


def test_crawl_check_counts_corrupted_pages():
    moved = {**engine_ok(), "b": (2, 200)}  # fetched a round late
    missing = {k: v for k, v in engine_ok().items() if k != "c"}
    status = {**engine_ok(), "d": (2, 200)}  # an error page reported as fetched
    extra = {**engine_ok(), "e": (2, 200)}
    for seen in (moved, missing, status, extra):
        assert oracles.check_crawl(seen, GOLDEN, ERRORS, TYPED, TYPED, {1, 2}).failed == 1
    short = oracles.check_crawl(engine_ok(), GOLDEN, ERRORS, {"projects": 1}, TYPED, {1, 2})
    assert short.failed == 1


def test_revalidate_check():
    site = {"p": 200, "q": 200, "x": 503}
    args = dict(store_pages=dict(site), expected_pages=site, due=2,
                round_status={"p": 304, "q": 304, "n": 404}, leftover={"n": 404}, extracted_rows=0)
    assert oracles.check_revalidate(**args).failed == 0
    for corrupt in ({"round_status": {"p": 304, "q": 200, "n": 404}},  # refetched a body
                    {"round_status": {"p": 304, "n": 404}},  # a due page never refetched
                    {"due": 1},
                    {"extracted_rows": 5},
                    {"store_pages": {"p": 200, "x": 503}}):
        assert oracles.check_revalidate(**{**args, **corrupt}).failed > 0


def test_failed_never_exceeds_attempted():
    chk = oracles.check_crawl({}, GOLDEN, ERRORS, {}, {"projects": 50}, {1})
    assert chk.failed == chk.attempted == 2


def test_round_breakdown_adds_up_with_concurrent_children():
    spans = [
        {"id": 0, "name": "round_loop.round", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "fetch.write", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "extraction.write", "parent": 0, "start": 5.0, "end": 8.0},
        {"id": 3, "name": "extraction.write", "parent": 0, "start": 6.0, "end": 9.0},
        {"id": 4, "name": "url_seen.gate", "parent": 1, "start": 2.0, "end": 3.0},  # grandchild
    ]
    b = round_breakdown(spans[0], children_of(spans))
    assert b == {"fetch.write": 3.0, "extraction.write": 4.0, "self": 3.0}
    assert sum(b.values()) == 10.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_event_log_joins_jobs_and_python_counters(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "WriteFiles", "metrics": [], "children": [
             {"nodeName": "MapInPandas", "children": [], "metrics": [
                 {"name": "number of output rows", "accumulatorId": 7},
                 {"name": "data sent to Python workers", "accumulatorId": 8}]}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500,
                       "Accumulables": [{"ID": 7, "Update": "40"}, {"ID": 8, "Update": 900}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    g = parse_event_log(log)["span-1"]
    assert (g["jobs"], g["tasks"], g["python_rows"], g["python_bytes_sent"]) == (1, 1, 40, 900)
    assert abs(g["executor_run_s"] - 0.4) < 1e-9 and abs(g["scheduler_delay_s"] - 0.1) < 1e-9
    assert g["shuffle_write_bytes"] == 64


def test_tree_cpu_counts_live_and_ended_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)  # ended: counts through cutime
    live = subprocess.Popen([sys.executable, "-c", burn + "print('burnt', flush=True)\ninput()"],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert live.stdout.readline().strip() == "burnt"
        spent = tree_cpu_s() - before
    finally:
        live.communicate("\n")
    assert spent >= 0.55
