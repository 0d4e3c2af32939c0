"""The traced run (`--trace 1`): per-layer metrics from benchmark-side spans
joined with the Spark event log. See perfbench/README.md for what each
metric should move."""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench.trace import Tracer, children_of, descendants, group_of, parse_event_log, round_breakdown

# (name, unit); the order is the order of the per_layer list in BENCHMARK.json
PER_LAYER = [
    ("round_loop.round_s", "s"), ("round_loop.self_s", "s"), ("round_loop.rounds", "count"),
    ("round_loop.spark_jobs", "count"), ("round_loop.spark_tasks", "count"),
    ("url_seen.gate_s", "s"), ("url_seen.write_s", "s"), ("url_seen.seen_rows", "count"),
    ("politeness.deferred", "count"), ("politeness.budget_use", "ratio"),
    ("fetch.write_s", "s"), ("fetch.pages", "count"), ("fetch.python_rows", "count"),
    ("fetch.python_bytes", "B"), ("fetch.executor_cpu_s", "s"),
    ("frontier.write_s", "s"), ("frontier.discovered", "count"), ("frontier.dedup_rate", "ratio"),
    ("frontier.shuffle_bytes", "B"),
    ("checkpoint.commit_s", "s"), ("checkpoint.compact_s", "s"), ("checkpoint.compact_bytes", "B"),
    ("checkpoint.store_bytes_per_page", "B"), ("checkpoint.store_files", "count"),
    ("extraction.write_s", "s"), ("extraction.rows", "count"),
    ("recrawl.enqueue_s", "s"), ("recrawl.due", "count"),
    ("revalidate.round_s", "s"), ("revalidate.not_modified_ratio", "ratio"),
    ("spark.executor_run_s", "s"), ("spark.busy_ratio", "ratio"), ("spark.scheduler_delay_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("trace.overhead_ratio", "ratio"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def traced(spark, wl, work: Path, args) -> tuple[dict, list]:
    """Run the operation once plainly and once traced, stop Spark so the
    event log is complete, and return (per-layer metrics, [both ops])."""
    sc = spark.sparkContext
    plain = wl.op()
    tracer = Tracer(sc)
    tracer.install()
    try:
        op = wl.op()
    finally:
        tracer.uninstall()
    n_slots = wl.n_slots
    spark.stop()
    (log,) = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    groups = parse_event_log(log)
    values = layer_metrics(tracer.spans, groups, op, plain, wl, n_slots)
    tracer.dump(work.parent / f"trace-{args.workload}-seed{args.seed}.json",
                {"groups": groups, "metrics": values,
                 "rounds": [round_breakdown(s, children_of(tracer.spans))
                            for s in tracer.spans if s["name"] == "round_loop.round"]})
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    return metrics, [plain, op]


def layer_metrics(spans, groups, op, plain, wl, n_slots) -> dict[str, float]:
    """Seconds are means per round (so the layer means plus self_s add up
    to round_s); counts and bytes are totals over the traced operation."""
    kids = children_of(spans)
    rounds = [s for s in spans if s["name"] == "round_loop.round"]
    breakdown = [round_breakdown(r, kids) for r in rounds]
    counters = [r["attrs"]["counters"] for r in rounds]

    def per_round(layer: str) -> float:
        return _mean(b.get(layer, 0.0) for b in breakdown)

    def spark_sum(key: str, names: tuple[str, ...] | None = None) -> float:
        return sum(groups.get(group_of(s), {}).get(key, 0.0)
                   for s in spans if names is None or s["name"] in names)

    def round_jobs(r, key: str) -> float:
        return sum(groups.get(group_of(s), {}).get(key, 0.0) for s in [r, *descendants(r["id"], kids)])

    enqueues = [s for s in spans if s["name"] == "recrawl.enqueue"]
    revals = [r for r in rounds if r["attrs"]["revalidate"]]
    fetched = sum(c.get("fetched", 0) for c in counters)
    discovered = sum(c.get("discovered_raw", 0) for c in counters)
    due = sum(s["attrs"].get("due", 0) for s in enqueues)
    budget = wl.settings.politeness.per_host_budget * len(wl.site.hosts)
    seen_total = counters[-1].get("seen_total", 0) if counters else 0
    executor_run = spark_sum("executor_run_s")
    return {
        "round_loop.round_s": _mean(r["end"] - r["start"] for r in rounds),
        "round_loop.self_s": per_round("self"),
        "round_loop.rounds": len(rounds),
        "round_loop.spark_jobs": _mean(round_jobs(r, "jobs") for r in rounds),
        "round_loop.spark_tasks": _mean(round_jobs(r, "tasks") for r in rounds),
        "url_seen.gate_s": per_round("url_seen.gate"),
        "url_seen.write_s": per_round("url_seen.write"),
        "url_seen.seen_rows": seen_total,
        "politeness.deferred": sum(max(0, c.get("candidates", 0) - c.get("fetched", 0)) for c in counters),
        "politeness.budget_use": _ratio(fetched, budget * sum(1 for c in counters if c.get("fetched"))),
        "fetch.write_s": per_round("fetch.write"),
        "fetch.pages": fetched,
        "fetch.python_rows": spark_sum("python_rows", ("fetch.write",)),
        "fetch.python_bytes": spark_sum("python_bytes_sent", ("fetch.write",))
        + spark_sum("python_bytes_returned", ("fetch.write",)),
        "fetch.executor_cpu_s": _ratio(spark_sum("executor_cpu_s", ("fetch.write",)), len(rounds)),
        "frontier.write_s": per_round("frontier.write"),
        "frontier.discovered": discovered,
        "frontier.dedup_rate": 1.0 - _ratio(fetched, discovered) if discovered else 0.0,
        "frontier.shuffle_bytes": spark_sum("shuffle_write_bytes", ("frontier.write",)),
        "checkpoint.commit_s": per_round("checkpoint.commit"),
        "checkpoint.compact_s": per_round("checkpoint.compact"),
        "checkpoint.compact_bytes": spark_sum("output_bytes", ("checkpoint.compact",)),
        "checkpoint.store_bytes_per_page": _ratio(op.store_bytes, seen_total),
        "checkpoint.store_files": op.store_files,
        "extraction.write_s": per_round("extraction.write"),
        "extraction.rows": sum(s["attrs"].get("rows", 0) for s in spans if s["name"] == "extraction.write"),
        "recrawl.enqueue_s": _mean(s["end"] - s["start"] for s in enqueues),
        "recrawl.due": due,
        "revalidate.round_s": _mean(r["end"] - r["start"] for r in revals),
        "revalidate.not_modified_ratio": _ratio(sum(r["attrs"]["counters"].get("revalidated", 0)
                                                    for r in revals), due),
        "spark.executor_run_s": executor_run,
        "spark.busy_ratio": _ratio(executor_run, op.seconds * n_slots),
        "spark.scheduler_delay_s": spark_sum("scheduler_delay_s"),
        "spark.shuffle_write_bytes": spark_sum("shuffle_write_bytes"),
        "spark.spill_bytes": spark_sum("spill_bytes"),
        "trace.overhead_ratio": _ratio(op.seconds, plain.seconds),
    }
