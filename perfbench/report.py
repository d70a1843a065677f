"""Turns a finished run into the printed metrics: the end-to-end set,
the named summary, and (traced runs) the per-layer set."""

from __future__ import annotations

import json
import os

import stats
from workloads import QUERIES, SETUP_REPS

MB = 2**20

#: every runtime view, in refresh order (operational, hourly, analytical)
VIEWS = (
    "pool_states", "per_pool_per_tick_liquidity", "twamm_pool_states",
    "twamm_sale_rate_deltas", "limit_order_pool_states", "oracle_pool_states",
    "spline_pools", "hourly_volume_by_token", "hourly_revenue_by_token",
    "hourly_price_data", "hourly_tvl_delta_by_token", "last_24h_pool_stats",
    "latest_token_registrations", "token_pair_realized_volatility",
    "pool_market_depth", "proposal_delegate_voting_weights",
)
#: stored tables the synthetic feed fills
FEED_TABLES = ("blocks", "swaps", "staker_staked")
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(run, result) -> dict:
    return {
        "setup_s": _m(result.setup_s, "s"),
        "cold_s": _m(result.cold_s, "s"),
        "latency_s": _m(result.latency_s, "s"),
        "throughput_per_s": _m(result.throughput_per_s, "1/s"),
        "peak_rss_mb": _m(run.sampler.peak_bytes / MB, "MB"),
    }


def summary(run, result) -> dict:
    named = {}
    for name, spec in result.named.items():
        value, unit, n = spec[:3]
        entry = {"value": value, "unit": unit, "samples": n}
        if len(spec) > 3:
            entry["percentile"] = spec[3]
        named[name] = entry
    named["setup_s"] = {"value": result.setup_s, "unit": "s", "samples": SETUP_REPS}
    named["peak_rss_mb"] = {"value": run.sampler.peak_bytes / MB, "unit": "MB", "samples": 1}
    named["error_rate"] = {"value": run.failed / max(1, run.attempted), "unit": "ratio",
                           "failed": run.failed, "attempted": run.attempted}
    return {"summary": run.workload, "seed": run.seed, "cores": run.cores,
            "seconds": run.seconds, "metrics": named}


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


def _total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _median_of(spans: list[dict], name: str) -> float:
    xs = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return stats.median(xs) if xs else 0.0


def layer_metrics(run, result) -> dict:
    """Every per-layer metric; a layer the workload does not call reads
    0. Times are totals over the traced part of the run unless the
    name says median."""
    tr = run.tracer
    every = [s for s in tr.spans if s["end"] is not None]
    selfs = stats.self_times(every)
    # the measured window; the cold pass only for silver builds
    spans = [s for s in every if s["stage"] == "window"]
    cold = [s for s in every if s["stage"] == "cold"]
    out: dict[str, dict] = {}

    # ingest + decode
    out["ingest.batch_s"] = _m(_total(spans, "ingest.ingest_batch"), "s")
    out["ingest.rows_in"] = _m(tr.counts.get("ingest.rows_in", 0), "count")
    for t in FEED_TABLES:
        out[f"ingest.rows.{t}"] = _m(tr.counts.get(f"ingest.rows.{t}", 0), "count")
    out["daemon.load_tables_s"] = _m(_total(spans, "daemon.load_tables"), "s")
    # runtime / views
    out["runtime.refresh_operational_s"] = _m(_total(spans, "runtime.refresh_operational"), "s")
    out["runtime.refresh_analytical_s"] = _m(_total(spans, "runtime.refresh_analytical"), "s")
    refresh_self = sum(selfs[s["id"]] for s in spans if s["name"].startswith("runtime.refresh_"))
    out["runtime.refresh_self_s"] = _m(refresh_self, "s")
    for v in VIEWS:
        out[f"runtime.view.{v}_s"] = _m(_total(spans, f"runtime.view.{v}"), "s")
    # silver: builds (and cache hits) of the relations and artifacts
    # the queries read, outermost calls only
    names = {s["id"]: s["name"] for s in cold}
    out["silver.build_s"] = _m(sum(
        s["end"] - s["start"] for s in cold
        if s["name"].startswith("silver.") and not names.get(s["parent"], "").startswith("silver.")
    ), "s")
    # queries
    out["query.plan_build_s"] = _m(_median_of(spans, "query.plan_build"), "s")
    out["query.planning_s"] = _m(_median_of(spans, "query.planning"), "s")
    out["query.exec_s"] = _m(_median_of(spans, "query.exec"), "s")
    for q in QUERIES:
        xs = [s["end"] - s["start"] for s in spans if s["name"] == "query.call" and s.get("query") == q]
        out[f"query.{q}_s"] = _m(stats.median(xs) if xs else 0.0, "s")
    # Spark execution, from the event log, over the traced intervals
    roots = [s for s in spans if s["parent"] is None]
    out.update(exec_metrics(run.eventlog, roots))
    # process
    out["proc.cpu_busy_share"] = _m(run.cpu_busy_share, "share")
    # tracing overhead: traced minus untraced units of work
    on = [v for traced, v in run.samples if traced]
    off = [v for traced, v in run.samples if not traced]
    overhead = stats.median(on) - stats.median(off) if on and off else 0.0
    out["trace.overhead_s"] = _m(overhead, "s")
    out["trace.overhead_share"] = _m(overhead / stats.median(off) if off else 0.0, "share")
    out["trace.spans"] = _m(len(every), "count")
    if run.workload == "live_tail":
        out.update(stream_metrics(run, spans, selfs))
    return out


def read_eventlog(eventlog_dir: str) -> list[dict]:
    events = []
    for d, _, files in os.walk(eventlog_dir):
        for name in sorted(files):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def exec_metrics(eventlog_dir: str, roots: list[dict]) -> dict:
    """Stage, task, shuffle, spill, CPU, GC, skew and Python-boundary
    figures for the tasks launched inside the traced spans."""
    ivs = sorted((s["start"] * 1000, s["end"] * 1000) for s in roots)

    def inside(ms: float) -> bool:
        return any(lo <= ms <= hi for lo, hi in ivs)

    tasks: dict[int, list[float]] = {}
    agg = dict.fromkeys(("shuffle_read", "shuffle_write", "spill", "cpu_ns", "gc_ms", "python"), 0.0)
    n_tasks = 0
    for e in read_eventlog(eventlog_dir):
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info", {})
        if not inside(info.get("Launch Time", 0)):
            continue
        m = e.get("Task Metrics") or {}
        n_tasks += 1
        tasks.setdefault(e["Stage ID"], []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        sr = m.get("Shuffle Read Metrics", {})
        agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        agg["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        agg["cpu_ns"] += m.get("Executor CPU Time", 0)
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in PYTHON_BYTES:
                agg["python"] += float(acc.get("Update", 0) or 0)
    skews = [max(d) / stats.median(d) for d in tasks.values() if len(d) > 1 and stats.median(d) > 0]
    return {
        "exec.stages": _m(len(tasks), "count"),
        "exec.tasks": _m(n_tasks, "count"),
        "exec.shuffle_read_bytes": _m(agg["shuffle_read"], "bytes"),
        "exec.shuffle_write_bytes": _m(agg["shuffle_write"], "bytes"),
        "exec.spill_bytes": _m(agg["spill"], "bytes"),
        "exec.executor_cpu_s": _m(agg["cpu_ns"] / 1e9, "s"),
        "exec.gc_s": _m(agg["gc_ms"] / 1e3, "s"),
        "exec.task_skew": _m(stats.median(skews) if skews else 1.0, "ratio"),
        "exec.python_bytes": _m(agg["python"], "bytes"),
    }


def stream_metrics(run, spans: list[dict], selfs: dict[int, float]) -> dict:
    """live_tail only: the file source, Structured Streaming's own
    per-epoch progress, the micro-batch path and the generator."""
    live = run.live
    epochs = {s["epoch"]: s for s in spans if s["name"] == "daemon.epoch"}
    progress = [p for p in live["progress"] if p["batchId"] in epochs]

    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in progress]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    starts = {p["batchId"]: _iso_s(p["timestamp"]) for p in progress}
    backlog = stats.backlog_at_triggers(live["releases"], live["file_epoch"], starts)
    trigger = dur("triggerExecution")
    # spans under each epoch against Spark's own trigger time
    covered = [
        (epochs[p["batchId"]]["end"] - epochs[p["batchId"]]["start"]) * 1000
        / max(1.0, float(p["durationMs"]["triggerExecution"]))
        for p in progress
    ]
    lags = live["lags"]
    return {
        "ingest.rows_in": _m(sum(p["numInputRows"] for p in progress), "count"),
        "feed.backlog_files": _m(med(backlog), "count"),
        "stream.latest_offset_ms": _m(med(dur("latestOffset")), "ms"),
        "stream.get_batch_ms": _m(med(dur("getBatch")), "ms"),
        "stream.trigger_ms": _m(med(trigger), "ms"),
        "stream.add_batch_ms": _m(med(dur("addBatch")), "ms"),
        "stream.batches": _m(len(progress), "count"),
        "stream.rows_per_batch": _m(med([p["numInputRows"] for p in progress]), "count"),
        "stream.epoch_uncovered_share": _m(1 - med(covered), "share"),
        "daemon.epoch_self_s": _m(med([selfs[s["id"]] for s in epochs.values()]), "s"),
        "ingest.micro_batch_s": _m(_median_of(spans, "ingest.ingest_micro_batch"), "s"),
        "ingest.txn_commit_s": _m(
            _total(spans, "ingest.commit_txn") + _total(spans, "ingest.publish_txn"), "s"),
        "ingest.invalidate_s": _m(_total(spans, "ingest.invalidate_from_block"), "s"),
        "ingest.epochs_skipped": _m(run.tracer.counts.get("ingest.epochs_skipped", 0), "count"),
        "gen.lag_tail_s": _m(stats.percentile(lags, 90) if lags else 0.0, "s"),
    }


def _iso_s(ts: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
