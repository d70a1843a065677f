

def test_headline_rotation_invariants():
    """ADVICE r10: HEADLINE_ROTATED was policy documentation only —
    enforce the mechanical invariants so future edits cannot silently
    violate the budget policy: rotated queries are absent from
    HEADLINE, every name (both lists) is registered, and neither list
    holds duplicates. Rotated queries keep full correctness coverage
    via the registry, so registration is the load-bearing check."""
    from bench import HEADLINE, HEADLINE_ROTATED
    from starknet_indexer_spark.queries import REGISTRY

    assert len(HEADLINE) == len(set(HEADLINE))
    assert len(HEADLINE_ROTATED) == len(set(HEADLINE_ROTATED))
    assert not set(HEADLINE) & set(HEADLINE_ROTATED)
    unregistered = [n for n in HEADLINE + HEADLINE_ROTATED if n not in REGISTRY]
    assert not unregistered, unregistered
    # rotated queries must still be plan-pinned: PLANS.md carries a
    # fingerprint row for each (tests/test_plans.py pins the content;
    # here we pin presence so a rotated query cannot drop out of the
    # plan-hygiene surface entirely)
    from bench import _plan_fps

    fps = _plan_fps()
    missing_fp = [n for n in HEADLINE_ROTATED if n not in fps]
    assert not missing_fp, missing_fp


def test_compact_stdout_line_fits_driver_tail_capture():
    """The driver parses the LAST line of a 2000-byte stdout tail; the
    compact line must fit the budget for any query count, keeping the
    slowest (most informative) entries and counting omissions."""
    import json

    from bench import compact_stdout_line

    timings = {f"q{i:03d}": round(0.1 + i * 0.01, 3) for i in range(200)}
    compact = {
        "metric": "headline_steady_total_s",
        "value": 123.4,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "cold_total": 150.0,
        "ingest_rows_per_sec": 100000,
    }
    line = compact_stdout_line(compact, timings, budget=1800)
    assert len(line) <= 1800
    doc = json.loads(line)
    assert doc["metric"] == "headline_steady_total_s" and doc["value"] == 123.4
    kept = doc["queries"]
    assert doc["queries_omitted_fastest"] == 200 - len(kept) > 0
    assert doc["n_queries"] == 200
    # the kept set is exactly the slowest entries
    slowest = sorted(timings, key=timings.get)[-len(kept):]
    assert set(kept) == set(slowest)
    # small maps pass through untouched
    small = {"q1": 1.0}
    c2 = dict(compact, queries=small)
    assert json.loads(compact_stdout_line(c2, small, budget=1800))["queries"] == small


def test_compact_line_protects_changed_queries():
    """r13 (VERDICT r12 item #8): a FAST query whose steady moved >25%
    vs the previous record must survive the fastest-first omission —
    improvements past the cutoff were vanishing from the printed map,
    censoring the round-over-round comparison."""
    import json

    from bench import compact_stdout_line

    timings = {f"q{i:03d}": round(0.1 + i * 0.01, 3) for i in range(200)}
    compact = {
        "metric": "headline_steady_total_s",
        "value": 123.4,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "cold_total": 150.0,
    }
    # q000 is the FASTEST (first to be dropped without protection)
    line = compact_stdout_line(
        compact, timings, budget=1800, protected={"q000"}
    )
    doc = json.loads(line)
    assert len(line) <= 1800
    assert "q000" in doc["queries"]
    assert doc["queries_omitted_fastest"] > 0
    # unprotected fastest still dropped first
    assert "q001" not in doc["queries"]


def test_compact_line_sheds_fixed_fields_when_oversized():
    """ADVICE r7: fixed fields alone exceeding the budget must not fall
    through with an unparseable oversized line — optional fields shed
    until the line fits."""
    import json

    from bench import compact_stdout_line

    compact = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 1.0},
        "sf": 0.1,
        "diff_error": "E" * 5000,  # fixed field bigger than the budget
    }
    line = compact_stdout_line(compact, {"q1": 1.0}, budget=1800)
    assert len(line) <= 1800
    doc = json.loads(line)
    assert doc["truncated"] is True
    assert "diff_error" not in doc


def test_compare_drift_adjudication(tmp_path):
    """VERDICT r7 mandate #5: uniform session drift with unchanged plan
    fingerprints must be suppressed; a same-plan hard (>2x adjusted)
    regression and a plan-changed >1.5x regression must survive."""
    import json

    from bench import compare

    names = [f"q{i}" for i in range(12)]
    base_q = {n: 1.0 for n in names}
    fps_base = {n: "1/1/1/1/yes" for n in names}
    # current run: uniform 1.6x drift on 10 queries, one same-plan 4x
    # (survives: 4/1.6 = 2.5 > hard 2.0), one plan-changed 2.56x
    # (survives: 1.6x adjusted > 1.5 with changed plan)
    cur_q = {n: 1.6 for n in names}
    cur_q["q0"] = 4.0
    cur_q["q1"] = 2.56
    fps_cur = dict(fps_base)
    fps_cur["q1"] = "2/1/1/1/yes"
    bp = tmp_path / "base.json"
    cp = tmp_path / "cur.json"
    bp.write_text(json.dumps(
        {"queries": base_q, "plan_fp": fps_base, "run_ordinal": 1,
         "machine_idle": True}))
    cp.write_text(json.dumps(
        {"queries": cur_q, "plan_fp": fps_cur, "run_ordinal": 4,
         "machine_idle": True}))
    import io

    buf = io.StringIO()
    rc = compare(str(bp), str(cp), out=buf)
    report = buf.getvalue()
    assert rc == 1
    # the two real regressions survive
    assert "| q0 | 1.000 | 4.000 |" in report and "REGRESSION" in report
    assert "| q1 | 1.000 | 2.560 |" in report
    # the drifted-but-same-plan queries are suppressed, visibly
    assert "suppressed" in report
    assert report.count("REGRESSION") == 2
    # pure drift with NO flags at all: clean exit
    cur2 = {n: 1.45 for n in names}
    cp2 = tmp_path / "cur2.json"
    cp2.write_text(json.dumps({"queries": cur2, "plan_fp": fps_base}))
    buf2 = io.StringIO()
    assert compare(str(bp), str(cp2), out=buf2) == 0


def test_compare_drift_suppression_without_fingerprints(tmp_path):
    """Older baselines (driver BENCH_r{N}.json) carry no plan_fp —
    drift adjustment alone must clear uniform-drift false flags, and a
    beyond-drift regression must still flag."""
    import io
    import json

    from bench import compare

    names = [f"q{i}" for i in range(12)]
    bp = tmp_path / "base.json"
    bp.write_text(json.dumps({"queries": {n: 1.0 for n in names}}))
    cur = {n: 1.7 for n in names}  # >1.5x everywhere, pure drift
    cur["q0"] = 3.4  # 2.0x adjusted -> survives (plans unknown)
    cp = tmp_path / "cur.json"
    cp.write_text(json.dumps({"queries": cur}))
    buf = io.StringIO()
    rc = compare(str(bp), str(cp), out=buf)
    report = buf.getvalue()
    assert rc == 1
    assert report.count("REGRESSION") == 1
    assert "q0" in report


def test_compare_same_plan_regression_flags_in_clean_session(tmp_path):
    """r8 ADVICE (medium): with no measured session drift (factor ~1.0)
    the plan-unchanged escape hatch must NOT arm — a genuine same-plan
    1.5-2x regression (constant change, data skew) fails the gate."""
    import io
    import json

    from bench import compare

    names = [f"q{i}" for i in range(12)]
    fps = {n: "1/1/1/1/yes" for n in names}
    bp = tmp_path / "base.json"
    bp.write_text(json.dumps({"queries": {n: 1.0 for n in names},
                              "plan_fp": fps}))
    cur = {n: 1.0 for n in names}  # zero drift
    cur["q0"] = 1.7  # same plan, between threshold and hard_threshold
    cp = tmp_path / "cur.json"
    cp.write_text(json.dumps({"queries": cur, "plan_fp": fps}))
    buf = io.StringIO()
    rc = compare(str(bp), str(cp), out=buf)
    report = buf.getvalue()
    assert rc == 1
    assert report.count("REGRESSION") == 1
    assert "q0" in report
    # ... and the same 1.7x under a measured 1.2 drift with the same
    # plan IS suppressed (adjusted 1.42 < 1.5 via the drift band alone,
    # so push it to 1.9: adjusted 1.58 -> suppressed by the armed
    # plan-unchanged hatch, under the 2.0 hard cap)
    cur2 = {n: 1.2 for n in names}
    cur2["q0"] = 1.9
    cp2 = tmp_path / "cur2.json"
    cp2.write_text(json.dumps({"queries": cur2, "plan_fp": fps}))
    buf2 = io.StringIO()
    assert compare(str(bp), str(cp2), out=buf2) == 0
    assert "drifting session" in buf2.getvalue()


def test_steal_covariate_demand_normalized():
    """r12: the host-contention covariate normalizes steal by BUSY
    (demanded) CPU, not total — single-task stages demand 1 of 32
    vCPUs, so total-normalized steal understates contamination ~32x.
    Also: robust to missing/short samples (non-Linux, truncated stat)."""
    from bench import _cpu_times, _steal_covariate

    # jiffy fields: user nice system idle iowait irq softirq steal
    t0 = [1000, 0, 500, 100000, 50, 0, 10, 200]
    t1 = [1600, 0, 700, 160000, 70, 0, 10, 600]
    cov = _steal_covariate(t0, t1)
    # deltas: busy = 600+200+400 (incl. steal) = 1200, steal = 400
    assert cov == {
        "steal_sec": 4.0,
        "busy_sec": 12.0,
        "steal_pct_of_busy": 33.3,
    }
    assert _steal_covariate(None, t1) is None
    assert _steal_covariate(t0[:4], t1[:4]) is None
    assert _steal_covariate(t0, t0) is None  # zero busy delta
    # live sampler: on this (Linux) machine it must parse
    live = _cpu_times()
    assert live is not None and len(live) >= 8
    assert all(isinstance(v, int) and v >= 0 for v in live)


def test_moved_vs_prior_skips_malformed_prior_records(tmp_path):
    """The prior-record scan behind the print-cutoff protection is
    best-effort: a missing file, a list-shaped ``queries`` and
    non-numeric or non-positive timings protect nothing instead of
    raising on the print path."""
    import json

    from bench import moved_vs_prior

    timings = {"a": 1.0, "b": 2.0, "c": 3.0}
    path = tmp_path / "BENCH_DETAIL.json"
    assert moved_vs_prior(str(path), timings) == set()  # missing file

    def scan(prior) -> set:
        path.write_text(json.dumps(prior))
        return moved_vs_prior(str(path), timings)

    assert scan({"queries": [["a", 0.5]]}) == set()
    assert scan(["not", "a", "record"]) == set()
    assert scan({"queries": {"a": "0.5", "b": None, "c": True}}) == set()
    assert scan({"queries": {"a": 0, "b": -1.0, "c": 0.0}}) == set()
    # well-formed entries still count next to malformed ones
    assert scan({"queries": {"a": "slow", "b": 1.0, "c": 2.9}}) == {"b"}
    path.write_text("{not json")
    assert moved_vs_prior(str(path), timings) == set()
