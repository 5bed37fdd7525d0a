"""The per-layer figures of a traced run, and the figures printed beside the
gated metrics. The names and units of the gated and per-layer metrics are
listed once, in BENCHMARK.json.

Times are medians per call in milliseconds unless the name says otherwise,
net of the tracer's own time around child spans; ``*_spark_jobs`` /
``*_spark_tasks`` are means per call, counted under the call's own Spark job
group (children included). On ``log_analytics`` the un-suffixed ``plans.*``,
``sources.*`` and ``spark.*`` figures are per pass (the sum over the ten
queries) and the ``.<query>`` variants per query. A layer a workload never
calls reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.spans import inclusive_counts, net_durations, self_times
from perfbench.workloads import QUERY_NAMES

# spans whose median duration is reported as ``<name>_ms``
_CALLS = (
    "producer.flush",
    "engine.produce",
    "engine.fetch_rows",
    "engine.offset_fetch",
    "engine.offset_commit_batch",
    "fsio.write_text_atomic",
    "fsio.write_lock",
    "consumer.poll",
    "consumer.commit",
)
_PER_QUERY = ("plans.build_ms", "plans.build_spark_jobs", "spark.action_ms",
              "spark.jobs", "spark.stages", "spark.tasks")


def pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(setup_s: float, rounds) -> dict[str, float]:
    """The gated metrics over ``rounds``."""
    return {"setup_s": setup_s, "round_s": statistics.median(r.round_s for r in rounds)}


def named_figures(workload: str, e2e: dict, rounds, attempted: int, failed: int) -> dict:
    """Each workload's figures under the names a reader of the workload
    expects (ROADMAP / BASELINE vocabulary), printed beside the gated ones."""
    plain = [r for r in rounds if not r.traced]
    med = lambda key: statistics.median(r.info[key] for r in plain)  # noqa: E731
    ops = [v for r in plain for v in r.ops_ms]
    out = {"setup_s": (e2e["setup_s"], "s"), "round_s": (e2e["round_s"], "s")}
    if workload == "bulk_ingest":
        out["produce_mb_s"] = (med("produce_mb_s"), "MB/s")
        out["drain_mb_s"] = (med("drain_mb_s"), "MB/s")
        out["send_p50_ms"] = (statistics.median(ops), "ms")
    elif workload == "tail_pubsub":
        commits = [v for r in plain for v in r.info["commit_ms"]]
        out["visible_p50_ms"] = (statistics.median(ops), "ms")
        out["visible_p90_ms"] = (pct(ops, 90), "ms")
        out["commit_p50_ms"] = (statistics.median(commits), "ms")
        out["pubsub_msgs_s"] = (med("pubsub_msgs_s"), "1/s")
    else:
        out["pass_s"] = (e2e["round_s"], "s")
        out["query_p50_ms"] = (statistics.median(ops), "ms")
    out["failed_share"] = (failed / max(attempted, 1), "ratio")
    return out


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(tracer, outcome, e2e: dict, session_s: float, setup_overhead: float) -> dict:
    """Every per-layer metric of a traced run (see the module docstring)."""
    spans = tracer.spans
    selfs = self_times(spans)
    net = net_durations(spans)
    counts = inclusive_counts(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ms = lambda s: net[s.id] * 1000  # noqa: E731
    traced = [r for r in outcome.rounds if r.traced]
    m: dict[str, float] = {"session.get_spark_s": session_s}

    for name in _CALLS:
        m[f"{name}_ms"] = _median(ms(s) for s in by_name.get(name, []))
    produce = by_name.get("engine.produce", [])
    m["engine.produce_self_ms"] = _median(selfs[s.id] * 1000 for s in produce)
    m["engine.produce_spark_jobs"] = _mean(counts[s.id][0] for s in produce)
    m["engine.produce_spark_tasks"] = _mean(counts[s.id][2] for s in produce)
    for name in ("engine.fetch_rows", "engine.offset_commit_batch"):
        m[f"{name}_spark_jobs"] = _mean(counts[s.id][0] for s in by_name.get(name, []))
    m["engine.tail_hit_ratio"] = _median(r.info.get("tail_hit_ratio", 0.0) for r in traced)
    m["engine.stored_bytes_per_payload_byte"] = _median(
        r.info.get("stored_bytes_per_payload_byte", 0.0) for r in traced
    )
    # manifests only grow within a round, so the largest write is the
    # round-end manifest
    m["engine.manifest_bytes"] = max(
        (s.attrs["bytes"] for s in by_name.get("fsio.write_text_atomic", [])
         if s.attrs.get("file", "").startswith("_manifest_")),
        default=0,
    )
    m["consumer.poll_self_ms"] = _median(selfs[s.id] * 1000 for s in by_name.get("consumer.poll", []))

    # log_analytics: per query, then per pass
    passes = max(len(traced), 1)
    per_q: dict[str, dict[str, float]] = {}
    for q in QUERY_NAMES:
        builds = [s for s in by_name.get("plans.build", []) if s.attrs.get("query") == q]
        actions = [s for s in by_name.get("spark.action", []) if s.attrs.get("query") == q]
        per_q[q] = {
            "plans.build_ms": _median(ms(s) for s in builds),
            "plans.build_self_ms": _median(selfs[s.id] * 1000 for s in builds),
            "plans.build_spark_jobs": _mean(counts[s.id][0] for s in builds),
            "spark.action_ms": _median(ms(s) for s in actions),
            "spark.jobs": _mean(counts[s.id][0] for s in actions),
            "spark.stages": _mean(counts[s.id][1] for s in actions),
            "spark.tasks": _mean(counts[s.id][2] for s in actions),
        }
        for k in _PER_QUERY:
            m[f"{k}.{q}"] = per_q[q][k]
    for k in ("plans.build_self_ms",) + _PER_QUERY:
        m[k] = sum(v[k] for v in per_q.values())
    loads = by_name.get("sources.load_table", [])
    m["sources.load_table_ms"] = sum(ms(s) for s in loads) / passes
    m["sources.load_table_calls"] = len(loads) / passes
    m["sources.topic_view_ms"] = sum(ms(s) for s in by_name.get("sources.topic_view", [])) / passes

    # tracing overhead: traced rounds against the untraced ones of this run
    m["trace_overhead.round_s"] = end_to_end(0.0, traced)["round_s"] / e2e["round_s"] - 1.0
    m["trace_overhead.setup_s"] = setup_overhead
    return m

