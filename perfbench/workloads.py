"""The three workloads. Each takes a ``harness.Run`` whose Spark
session is up, runs its set-up, measures for ``run.seconds``, checks
its outputs outside the timed part, and returns a ``Result``.

Every workload reports the same five end-to-end metrics (see
``Result``), each read in the workload's own terms, plus a summary
under the workload's own metric names (``named``) that the runner
prints with units and sample counts.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

#: Set-up steps are repeated this many times; ``setup_s`` is their median.
SETUP_REPS = 3
#: Synthetic feed: the repo's synth layout puts 20 events in a block.
EVENTS_PER_BLOCK = 20
#: Read-only corpus the query workload runs on (also its oracle scale),
#: beside the package's default corpus.
CORPUS_SF = "sf0.01"


@dataclasses.dataclass
class Result:
    """The end-to-end metrics every workload reports, each in the
    workload's own terms (see BENCHMARK.json), plus ``named``: the
    workload's metrics by their own names, as (value, unit, samples[,
    percentile])."""

    setup_s: float  # median of the repeated set-up step
    cold_s: float  # the work a fresh session pays first, in full
    latency_s: float  # typical latency of the workload's unit of work
    throughput_per_s: float  # units of work completed per second
    named: dict


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def make_events(seed: int, n: int) -> pa.Table:
    """A seeded ``events`` table in the corpus layout. Block time is a
    function of the block alone (every event of a block carries the
    same time), so the stored ``blocks`` dimension is the same whichever
    event of a block ingest keeps."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    block = ids // EVENTS_PER_BLOCK + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + block * np.timedelta64(2, "s")
    types = np.where(rng.random(n) < 0.5, "purchase", "view")
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(1, 5000, n, dtype=np.int64),
            "event_type": types,
            "value": rng.random(n),
            "props": pa.array(["{}"] * n),
        }
    )


def write_corpus(run, name: str, events: pa.Table) -> str:
    d = run.path(name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(events, os.path.join(d, "events.parquet"))
    return d


def write_feed_file(table: pa.Table, path: str) -> None:
    # microsecond timestamps: the session reads parquet nanos as longs
    # (nanosAsLong), which the stream rejects for block_time
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def family_tables() -> dict[str, str]:
    """Feed selector -> stored table the family lands in."""
    from starknet_indexer_spark.ingest import EVENT_SELECTORS, STORED_PROJECTIONS

    return {
        sel: STORED_PROJECTIONS.get(et, (et, None))[0]
        for et, sel in EVENT_SELECTORS.items()
    }


def expected_counts(feed_dir: str) -> dict[str, int]:
    """Rows each stored table should hold after ingesting the feed,
    read from its parquet files without Spark."""
    import pyarrow.compute as pc

    feed = pq.read_table(feed_dir, columns=["block_number", "keys"])
    names = family_tables()
    out = {"blocks": len(pc.unique(feed.column("block_number")))}
    sel = pc.list_element(feed.column("keys"), 0)
    for r in pc.value_counts(sel).to_pylist():
        out[names[r["values"]]] = r["counts"]
    return out


def stored_counts(spark, tables_dir: str, names) -> dict[str, int]:
    out = {}
    for t in names:
        p = os.path.join(tables_dir, t)
        out[t] = spark.read.parquet(p).count() if os.path.isdir(p) else 0
    return out


def table_digest(spark, path: str) -> tuple[int, int] | None:
    """Order-independent content digest of a parquet dir: row count and
    the exact sum of a 64-bit hash of every row."""
    from pyspark.sql import functions as F

    if not os.path.isdir(path):
        return None
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# ---------------------------------------------------------------------------
# backfill: batch catch-up sync
# ---------------------------------------------------------------------------

BACKFILL_EVENTS = 40_000
BACKFILL_FEED_FILES = 8


def backfill(run) -> Result:
    """Catch-up sync of a staged feed: ``ingest_batch``, then the
    refresh of the per-block (operational) tier over the backfilled
    history. Fixed Spark job overhead dominates (about 45 s cold at 4
    cores whatever the feed size), so a run measures one pass in its
    fresh session, and more only while ``run.seconds`` have not
    elapsed. The analytical tier's boot refresh would add about 20 s a
    run, so only a traced run does it, after the timed part of the
    pass, for its per-view spans. A traced run also compares an
    untraced and a traced warm ingest for the tracing overhead."""
    from pyspark.sql import functions as F

    from starknet_indexer_spark import daemon, ingest, runtime
    from starknet_indexer_spark.sources.feed import read_feed_batch
    from starknet_indexer_spark.sources.synth import synth_raw_feed

    spark = run.spark
    corpus = write_corpus(run, "corpus", make_events(run.seed, BACKFILL_EVENTS))
    feeds, setup = [], []
    for i in range(SETUP_REPS):
        # land the feed: synthesize it from the seeded events as parquet
        feed = run.path(f"feed-{i}")
        t = time.perf_counter()
        synth_raw_feed(spark, corpus).repartition(BACKFILL_FEED_FILES).write.parquet(feed)
        setup.append(time.perf_counter() - t)
        feeds.append(feed)
    expected = expected_counts(feeds[0])
    n_rows = sum(v for k, v in expected.items() if k != "blocks")
    run.log(f"backfill: staged {n_rows} feed rows x{SETUP_REPS}")

    def one_pass(k: int) -> tuple[float, float, float]:
        tdir, vdir = run.path(f"tables-{k}"), run.path(f"views-{k}")
        run.attempted += 1
        if run.tracing:
            run.tracer.count("ingest.rows_in", n_rows)
        t0 = time.perf_counter()  # the feed has landed
        ingest.ingest_batch(spark, read_feed_batch(spark, feeds[k % len(feeds)]), tdir)
        t1 = time.perf_counter()
        tables = daemon.load_tables(spark, tdir)
        runtime.refresh_operational(tables, vdir)
        t2 = time.perf_counter()
        if run.tracing:
            as_of = tables["blocks"].agg(F.max("time")).collect()[0][0]
            runtime.refresh_analytical(spark, tables, vdir, as_of, since=None)
        got = stored_counts(spark, tdir, expected)
        if got != expected:
            run.fail(f"backfill pass {k}: stored {got} != feed {expected}")
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(vdir, ignore_errors=True)
        run.log(f"backfill pass {k}: ingest {t1 - t0:.2f}s operational {t2 - t1:.2f}s")
        return n_rows / (t1 - t0), t2 - t1, t2 - t0

    rates, refresh, to_views = [], [], []
    t_end = time.perf_counter() + run.seconds
    k = 0
    run.window_begin()
    while k == 0 or time.perf_counter() < t_end:
        rate, rf, tv = one_pass(k)
        rates.append(rate)
        refresh.append(rf)
        to_views.append(tv)
        k += 1
    run.window_end()
    if run.tracer is not None:
        # tracing overhead: a further pass costs ~30 s, so compare warm
        # ingests of the same feed instead, in ABBA order so that the
        # JIT still warming up weighs on both sides alike
        run.set_stage("overhead")
        for i, traced in enumerate((False, True, True, False)):
            run.set_tracing(traced)
            t = time.perf_counter()
            ingest.ingest_batch(spark, read_feed_batch(spark, feeds[0]), run.path(f"overhead-{i}"))
            run.samples.append((traced, time.perf_counter() - t))
            shutil.rmtree(run.path(f"overhead-{i}"), ignore_errors=True)
        run.set_tracing(False)
    return Result(
        setup_s=stats.median(setup),
        cold_s=stats.median(to_views),
        latency_s=stats.median(refresh),
        throughput_per_s=stats.median(rates),
        named={
            "backfill_rows_per_s": (stats.median(rates), "rows/s", len(rates)),
            "backfill_to_views_s": (stats.median(to_views), "s", len(to_views)),
            "operational_refresh_s": (stats.median(refresh), "s", len(refresh)),
            "feed_rows": (n_rows, "count", 1),
        },
    )


# ---------------------------------------------------------------------------
# live_tail: open-loop feed into the running daemon
# ---------------------------------------------------------------------------

LIVE_HISTORY_BLOCKS = 1_000
SLICE_BLOCKS = 2
RELEASE_EVERY_S = 0.5
#: every REORG_EVERY-th release invalidates and re-emits the slice before it
REORG_EVERY = 10
#: only the daemon's boot pass runs the analytical tier inside a run
ANALYTICAL_EVERY_S = 3600.0
#: the run length live_tail is meant to be run at (README.md)
LIVE_TAIL_SECONDS = 30
#: tail percentile fixed at that run length: tail_pct(30 s / 0.5 s)
FRESHNESS_TAIL_PCT = 80
ALT_SEED_OFFSET = 7919


def plan_releases(n: int) -> list[dict]:
    """The release schedule: ``n`` releases, one every
    RELEASE_EVERY_S. A normal release lands the next slice; every
    REORG_EVERY-th lands an invalidate marker for the slice before it
    followed by that slice's new-chain version. Slice 0 is the boot
    slice, already in the feed when the daemon starts."""
    out, s = [], 1
    for i in range(n):
        if i > 0 and i % REORG_EVERY == 0:
            out.append({"slice": s - 1, "reorg": True,
                        "files": [f"r{i:04d}-a-marker.parquet", f"r{i:04d}-b-alt.parquet"]})
        else:
            out.append({"slice": s, "reorg": False, "files": [f"r{i:04d}-slice.parquet"]})
            s += 1
    return out


def slice_blocks(history_blocks: int, s: int) -> tuple[int, int]:
    lo = history_blocks + 1 + s * SLICE_BLOCKS
    return lo, lo + SLICE_BLOCKS - 1


def live_tail(run) -> Result:
    from spans import Stamps
    from starknet_indexer_spark import daemon, ingest, runtime
    from starknet_indexer_spark.sources.feed import read_feed_batch
    from starknet_indexer_spark.sources.synth import synth_raw_feed

    spark = run.spark
    n_rel = max(2, int(round(run.seconds / RELEASE_EVERY_S)))
    plan = plan_releases(n_rel)
    n_slices = 1 + sum(1 for r in plan if not r["reorg"])
    hb = LIVE_HISTORY_BLOCKS
    n_events = (hb + n_slices * SLICE_BLOCKS) * EVENTS_PER_BLOCK
    main_dir = write_corpus(run, "corpus", make_events(run.seed, n_events))
    alt_dir = write_corpus(run, "corpus-alt", make_events(run.seed + ALT_SEED_OFFSET, n_events))

    stage, feed = run.path("stage"), run.path("feed")
    tables, views, ckpt = run.path("tables"), run.path("views"), run.path("checkpoint")
    setup = []
    for rep in range(SETUP_REPS):
        # land the inputs: synthesize both chains and cut them into
        # one file per slice (the last repetition's files are used)
        t = time.perf_counter()
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        main = synth_raw_feed(spark, main_dir).orderBy("block_number", "transaction_index").toArrow()
        alt = synth_raw_feed(spark, alt_dir).orderBy("block_number", "transaction_index").toArrow()
        blocks = main.column("block_number").to_numpy()
        alt_blocks = alt.column("block_number").to_numpy()

        def cut(tbl, bn, lo, hi):
            i, j = np.searchsorted(bn, [lo, hi + 1])
            return tbl.slice(int(i), int(j - i))

        history = cut(main, blocks, 1, hb)
        slices = [cut(main, blocks, *slice_blocks(hb, s)) for s in range(n_slices)]
        write_feed_file(history, run.path("history.parquet"))
        write_feed_file(slices[0], os.path.join(stage, "r-boot-slice.parquet"))
        markers = []
        for i, rel in enumerate(plan):
            lo, hi = slice_blocks(hb, rel["slice"])
            if rel["reorg"]:
                markers.append((i, lo - 1))
                write_feed_file(cut(alt, alt_blocks, lo, hi), os.path.join(stage, rel["files"][1]))
            else:
                write_feed_file(slices[rel["slice"]], os.path.join(stage, rel["files"][0]))
        write_markers(spark, markers, plan, stage, run.path("markers"))
        setup.append(time.perf_counter() - t)
        run.log(f"live_tail: staged {len(plan)} releases")

    # seed history with a batch backfill, then boot the daemon on the
    # boot slice; the boot batch (full analytical pass) ends before
    # the window opens
    ingest.ingest_batch(spark, read_feed_batch(spark, run.path("history.parquet")), tables)
    os.makedirs(feed)
    os.replace(os.path.join(stage, "r-boot-slice.parquet"), os.path.join(feed, "r-boot-slice.parquet"))
    run.stamps = Stamps().install()
    t = time.perf_counter()
    run.query = daemon.run_indexer(
        spark, feed, tables, views, ckpt, analytical_every_s=ANALYTICAL_EVERY_S
    )
    run.query.processAllAvailable()
    cold = time.perf_counter() - t

    # open loop: the generator process releases on its own clock
    t0 = time.time() + 0.5
    releases = [dict(r, due=t0 + i * RELEASE_EVERY_S) for i, r in enumerate(plan)]
    plan_path, log_path = run.path("plan.json"), run.path("gen.log")
    with open(plan_path, "w") as f:
        json.dump({"stage_dir": stage, "feed_dir": feed,
                   "releases": [{"due": r["due"], "files": r["files"]} for r in releases]}, f)
    n_swaps_before = len(run.stamps.swaps)  # the boot batch's
    mid = t0 + n_rel * RELEASE_EVERY_S / 2
    half = None
    if run.tracer is not None:
        # a traced run leaves the first half of the window untraced;
        # the two halves give the tracing overhead
        run.set_tracing(False)
        half = threading.Timer(max(0.0, mid - time.time()), run.set_tracing, (True,))
        half.start()
    run.window_begin()
    run.start_generator(plan_path, log_path)
    run.generator.wait(timeout=run.seconds + 30)
    run.query.processAllAvailable()  # drain what was released
    run.window_end()
    if half is not None:
        half.cancel()
        run.set_tracing(False)
    progress = [json.loads(p.json) for p in run.query.recentProgress]
    run.query.stop()
    run.query = None

    with open(log_path) as f:
        logged = {tuple(r["files"]): r for r in map(json.loads, f)}
    for r in releases:
        r["actual"] = logged.get(tuple(r["files"]), {}).get("actual")
        r["head"] = slice_blocks(hb, r["slice"])[1]
    released = [r for r in releases if r["actual"] is not None]
    file_epoch = checkpoint_file_epochs(ckpt)
    swaps = run.stamps.swaps[n_swaps_before:]
    by_release = stats.freshness(released, file_epoch, swaps)
    fresh = list(by_release.values())
    run.samples += [(released[i]["due"] >= mid, v) for i, v in by_release.items()]
    run.attempted += len(releases)
    if len(fresh) < len(releases):
        run.fail(f"live_tail: {len(releases) - len(fresh)} releases never became visible")
    try:
        rate = stats.visible_blocks_per_s(released, file_epoch, swaps)
    except ValueError as exc:  # the window saw fewer than two refreshes
        run.fail(f"live_tail: {exc}; run it for longer")
        rate = 0.0
    lags = [r["actual"] - r["due"] for r in released]
    run.live = {"releases": released, "file_epoch": file_epoch, "swaps": swaps,
                "progress": progress, "lags": lags}

    # output check: the streamed-and-reorged state equals a batch
    # ingest + operational refresh of the surviving chain
    surviving = {r["slice"]: (cut(alt, alt_blocks, *slice_blocks(hb, r["slice"])) if r["reorg"]
                              else slices[r["slice"]]) for r in released}
    canon = pa.concat_tables([history, slices[0], *(surviving[s] for s in sorted(surviving))])
    write_feed_file(canon, run.path("canonical.parquet"))
    ctables, cviews = run.path("check-tables"), run.path("check-views")
    ingest.ingest_batch(spark, read_feed_batch(spark, run.path("canonical.parquet")), ctables)
    runtime.refresh_operational(daemon.load_tables(spark, ctables), cviews)
    names = sorted(n for n in os.listdir(ctables) if not n.startswith(("_", ".")))
    for kind, a, b, items in (("table", tables, ctables, names),
                              ("view", views, cviews, runtime.OPERATIONAL)):
        for name in items:
            got = table_digest(spark, os.path.join(a, name))
            want = table_digest(spark, os.path.join(b, name))
            if got != want:
                run.fail(f"live_tail {kind} {name}: streamed {got} != batch {want}")
    return Result(
        setup_s=stats.median(setup),
        cold_s=cold,
        latency_s=stats.median(fresh),
        throughput_per_s=rate,
        named={
            "freshness_p50_s": (stats.median(fresh), "s", len(fresh)),
            "freshness_tail_s": (stats.percentile(fresh, FRESHNESS_TAIL_PCT), "s",
                                 len(fresh), f"p{FRESHNESS_TAIL_PCT}"),
            "visible_blocks_per_s": (rate, "blocks/s", len(swaps)),
            "offered_blocks_per_s": (SLICE_BLOCKS * sum(not r["reorg"] for r in releases)
                                     / (n_rel * RELEASE_EVERY_S), "blocks/s", len(releases)),
            "boot_batch_s": (cold, "s", 1),
            "gen_lag_max_s": (max(lags), "s", len(lags)),
        },
    )


def write_markers(spark, markers, plan, stage: str, scratch: str) -> None:
    """Write each invalidate marker (block_number = last valid block,
    keys = ["invalidate"], as the feed contract defines it) as its own
    one-row file, through Spark's parquet writer in one job."""
    from pyspark.sql import types as T

    from starknet_indexer_spark.sources.feed import RAW_SCHEMA

    if not markers:
        return
    # keyed by release index, so each marker lands in a file of its own
    schema = T.StructType([*RAW_SCHEMA.fields, T.StructField("rel", T.IntegerType())])
    rows = [(b, None, None, 0, 0, None, None, ["invalidate"], [], None, i) for i, b in markers]
    spark.createDataFrame(rows, schema).repartition("rel").write.partitionBy("rel").parquet(scratch)
    for i, _ in markers:
        d = os.path.join(scratch, f"rel={i}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.replace(os.path.join(d, part), os.path.join(stage, plan[i]["files"][0]))
    shutil.rmtree(scratch, ignore_errors=True)


def checkpoint_file_epochs(ckpt: str) -> dict[str, int]:
    """Feed file name -> micro-batch id, from the file source's own log
    in the checkpoint (``sources/0/<batch>`` and its ``.compact``
    files: a version line, then one JSON entry per file)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# ---------------------------------------------------------------------------
# query_mix: analysts' reads, closed loop, one client
# ---------------------------------------------------------------------------

#: one or two per family, weighted to the families slowest at 4 cores
QUERIES = (
    "v01_pool_states",
    "pricing_summary",
    "sessionize_events",
    "bloom_decontamination",
)


#: steady passes are whole and at least this many, so the number of
#: samples per query does not flip with the machine's speed; with
#: three, each query's median is its middle sample, which the first
#: pass's remaining JIT warm-up does not move
STEADY_PASSES = 3


def corpus_dir() -> str:
    from starknet_indexer_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), CORPUS_SF)


def query_mix(run) -> Result:
    from starknet_indexer_spark import catalog
    from starknet_indexer_spark.queries import REGISTRY

    spark = run.spark
    sf = corpus_dir()
    setup = []
    for _ in range(SETUP_REPS):
        # register the corpus: resolve every table's parquet schema
        t = time.perf_counter()
        catalog.register_all(spark, sf)
        setup.append(time.perf_counter() - t)

    # cold pass: first execution of each query in this session, paying
    # silver and artifact builds; its results feed the oracle check
    results, t0 = {}, time.perf_counter()
    run.set_stage("cold")
    for name in QUERIES:
        run.attempted += 1
        t = time.perf_counter()
        results[name] = run.query_call(name, lambda: REGISTRY[name].fn(spark, sf), collect=True)
        run.log(f"query_mix cold {name}: {time.perf_counter() - t:.2f}s")
    cold = time.perf_counter() - t0

    samples: list[float] = []
    per_query: dict[str, list[float]] = {}
    rng = random.Random(run.seed)
    t_start = time.perf_counter()
    # a traced run alternates untraced and traced passes: twice the window
    t_end = t_start + run.seconds * (2 if run.tracer is not None else 1)
    p = 0
    run.window_begin()
    while p < STEADY_PASSES or time.perf_counter() < t_end:
        # whole passes only, so every query weighs the same in the sample
        order = list(QUERIES)
        rng.shuffle(order)
        with run.phase(p):
            for name in order:
                run.attempted += 1
                t = time.perf_counter()
                run.query_call(name, lambda: REGISTRY[name].fn(spark, sf), collect=False)
                dt = time.perf_counter() - t
                run.samples.append((run.tracing, dt))
                samples.append(dt)
                per_query.setdefault(name, []).append(dt)
        p += 1
    elapsed = time.perf_counter() - t_start
    run.window_end()
    tail = stats.tail_pct(len(samples))
    tail = tail if tail > 50 else 0  # below the median is no tail
    # the queries' costs differ by 3x, so a median over the pooled
    # executions falls between query groups and swings with the mix;
    # summarize each query by its median first
    medians = [stats.median(xs) for xs in per_query.values()]

    con = oracle_connection(sf)
    for name in QUERIES:
        oracle = REGISTRY[name].oracle
        if oracle is None or results[name] is None:  # a failed query already counted
            continue
        want = con.execute(oracle).df()
        if value_hash(results[name]) != value_hash(want) or len(results[name]) != len(want):
            run.fail(f"query_mix {name}: result differs from its oracle")
    con.close()
    return Result(
        setup_s=stats.median(setup),
        cold_s=cold,
        latency_s=stats.geomean(medians),
        throughput_per_s=len(medians) / sum(medians),
        named={
            "query_p50_s": (stats.median(samples), "s", len(samples)),
            # at the 4-s run length (twelve executions) no percentile
            # above the median has ten samples beyond it: the tail is null
            "query_tail_s": (stats.percentile(samples, tail) if tail else None, "s",
                             len(samples), f"p{tail}"),
            "queries_per_s": (len(samples) / elapsed, "1/s", len(samples)),
            "query_geomean_s": (stats.geomean(medians), "s", len(medians)),
            "cold_pass_s": (cold, "s", len(QUERIES)),
        },
    )


def oracle_connection(sf: str):
    """A DuckDB connection with every corpus table as a view, for the
    registered queries' ``oracle_sql``."""
    import duckdb

    from starknet_indexer_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: columns sorted by
    name, floats rounded to 6 places, rows compared as sorted text."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
    rows = sorted(",".join(map(str, r)) for r in pdf.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


WORKLOADS = {"backfill": backfill, "live_tail": live_tail, "query_mix": query_mix}
