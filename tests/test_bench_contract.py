"""Bench-output contract: the stdout JSON line must fit the driver's
tail window.

The per-round bench driver captures only the last ~2000 characters of
stdout and parses the final JSON line out of that window. Round 3's
line grew past it (per-query cold + spread maps) and the round's metric
was recorded as `parsed: null`. These tests pin the budget so the line
can't silently outgrow the window again as bench queries are added.
"""

from __future__ import annotations

import json

DRIVER_TAIL_CHARS = 2000
# Headroom for stray log lines that may share the tail window even with
# console progress disabled. Reduced 300 → 200 in r10 to admit the two
# host-calibration fields (the bench session logs at ERROR and prints
# nothing else to stdout, so 200 chars of slack is still generous);
# the next query added to the bench set should move an existing field
# to stderr instead of eating into this.
# r14: 1800 -> 1860 to admit the serving-path trio (bits_topk,
# bits_probe, semdedup_append — verdict item 5). The driver retains
# ~2000 chars (DRIVER_TAIL_CHARS); worst-case xxx.xxx widths serialize
# to 1846 with the trio, leaving 140+ chars of tail margin (the actual
# line, with realistic widths, is ~1760). Any further bench additions
# must shorten names or move a compact field to stderr instead of
# raising this again. The semdedup_append -> semdedup_append_probe
# rename (its timed scope changed in r15) brings the worst case to 1852.
STDOUT_LINE_BUDGET = 1860


def _worst_case_compact_line() -> str:
    """Serialize the compact record with every real bench-query name and
    worst-case numeric widths (xxx.xxx seconds)."""
    from reactionetl_etl_spark.plans.catalog import bench_queries

    names = sorted(bench_queries()) + [
        "etl_ingest",
        "probe_lsh_index",
        "probe_ivf_index",
        "probe_pq_index",
        "probe_ivfpq_index",
        "bits_topk",
        "bits_probe",
        "semdedup_append_probe",
        "training_corpus_build",
    ]
    queries = {n: 999.999 for n in names}
    # compact separators, as bench.py's stdout print uses
    return json.dumps(
        separators=(",", ":"),
        obj=
        {
            "metric": "headline_queries_total_sec",
            "value": 99999.999,
            "unit": "sec",
            "queries": queries,
            "queries_cold_total_sec": 99999.999,
            "ingest_mb_per_s": 9999.99,
            "ingest_512_mb_per_s": 9999.99,
            "lfl_sec": 99999.999,
            "host_calibration_sec": 999.999,
            "contended": True,
            "bench_attempts": 99,
            "sf": 0.1,
        }
    )


def test_compact_line_fits_driver_tail():
    line = _worst_case_compact_line()
    assert len(line) <= STDOUT_LINE_BUDGET, (
        f"bench stdout line would be {len(line)} chars; the driver keeps only "
        f"the last {DRIVER_TAIL_CHARS} — move detail to stderr or trim the "
        "bench set"
    )


def test_detail_maps_not_in_compact_record():
    """The blow-the-budget fields live on stderr, never stdout: the
    compact record's key set is the committed COMPACT_KEYS constant
    (run_bench asserts its record matches at runtime), and the per-map
    detail keys are not in it."""
    import bench

    assert "queries_cold_total_sec" in bench.COMPACT_KEYS
    assert "queries_cold" not in bench.COMPACT_KEYS
    assert "query_spread_sec" not in bench.COMPACT_KEYS
    # the runtime tripwire is present on the function that builds it
    import inspect

    assert "COMPACT_KEYS" in inspect.getsource(bench.run_bench)


def test_prev_round_bench_reads_newest_parseable():
    """The like-for-like pair (r8 verdict item 8) compares against the
    NEWEST committed BENCH_r{N}.json whose parsed queries map exists —
    a malformed or parsed:null round must be skipped, not crash the
    bench or win the newest-round race."""
    import bench

    rnd, queries = bench._prev_round_bench()
    # this repo carries BENCH_r01..r08; r8 parsed fine
    assert rnd >= 8
    assert isinstance(queries, dict) and len(queries) > 10
    assert all(isinstance(v, (int, float)) for v in queries.values())


def test_bench_runs_clamped_positive(monkeypatch):
    """SPARK_GRAFT_BENCH_QUERY_RUNS=0 must not produce an empty warm
    sample (statistics.median raises on it) — ADVICE r3."""
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERY_RUNS", "0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ETL_RUNS", "0")
    import bench

    importlib.reload(bench)
    try:
        assert bench.QUERY_BENCH_RUNS >= 1
        assert bench.ETL_BENCH_RUNS >= 1
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BENCH_QUERY_RUNS")
        monkeypatch.delenv("SPARK_GRAFT_BENCH_ETL_RUNS")
        importlib.reload(bench)


def _mk_section(base: float, pre_mid: set[str]) -> dict:
    names = ["alpha", "beta", "etl_ingest"]
    return {
        "timings": {n: base + i for i, n in enumerate(names)},
        "cold": {n: base + 10 + i for i, n in enumerate(names)},
        "spread": {n: [base, base + 1] for n in names},
        "pre_mid": set(pre_mid),
        "etl_cold": base + 20,
        "etl_mbps": base + 30,
        "lg_sec": base + 40,
        "lg_mbps": base + 50,
    }


def test_compose_single_attempt_passes_through():
    """One section (quiet break, or a one-attempt budget) must pass
    through unchanged — the pre-r15 protocol byte for byte."""
    import bench

    s = _mk_section(1.0, {"alpha"})
    out = bench.compose_attempts([s], [[0.81, 0.79, 0.80]], ref=0.80, tol=0.15)
    assert out["timings"] == s["timings"]
    assert out["etl_mbps"] == s["etl_mbps"]
    assert out["contended"] is False
    assert out["calib"] == 0.81
    assert out["entry_attempt"] == {}
    bad = bench.compose_attempts([s], [[0.81, 0.79, 3.0]], ref=0.80, tol=0.15)
    assert bad["contended"] is True and bad["calib"] == 3.0


def test_compose_records_quiet_last_attempt_wholesale():
    """A contended attempt followed by a quiet one: the record is the
    quiet attempt as it stands, with no entries taken from the
    contended attempt even where its bracket reads closer to the
    reference."""
    import bench

    s1, s2 = _mk_section(1.0, {"alpha"}), _mk_section(2.0, {"alpha"})
    # attempt 1 is contended in its tail only, and its head bracket is
    # exactly on reference; attempt 2 is quiet but not exact
    calibs = [[0.80, 0.80, 4.0], [0.85, 0.75, 0.86]]
    out = bench.compose_attempts([s1, s2], calibs, ref=0.80, tol=0.15)
    assert out["timings"] == s2["timings"]
    assert out["cold"] == s2["cold"] and out["spread"] == s2["spread"]
    assert out["etl_cold"] == s2["etl_cold"] and out["lg_mbps"] == s2["lg_mbps"]
    assert out["entry_attempt"] == {}
    assert out["contended"] is False
    assert out["calib"] == 0.86


def test_compose_picks_quietest_attempt_per_entry():
    """All-contended attempts compose per entry: an entry timed before
    the midpoint probe is judged by (pre, mid), after by (mid, post),
    and the attempt with the least-deviant bracket wins that entry —
    so a burst in attempt 1's tail and attempt 2's head no longer
    contaminates both halves of the record."""
    import bench

    pre_mid = {"alpha"}
    s1, s2 = _mk_section(1.0, pre_mid), _mk_section(2.0, pre_mid)
    # attempt 1: quiet head, contended tail; attempt 2: the reverse
    calibs = [[0.80, 0.80, 4.0], [4.0, 0.80, 0.80]]
    out = bench.compose_attempts([s1, s2], calibs, ref=0.80, tol=0.15)
    assert out["entry_attempt"]["alpha"] == 1       # (pre, mid) quiet in 1
    assert out["entry_attempt"]["beta"] == 2        # (mid, post) quiet in 2
    assert out["entry_attempt"]["etl_ingest"] == 2
    assert out["entry_attempt"]["__ingest512"] == 2
    assert out["timings"]["alpha"] == 1.0 and out["timings"]["beta"] == 3.0
    assert out["etl_cold"] == 2.0 + 20 and out["lg_mbps"] == 2.0 + 50
    # every selected bracket passed the gate -> the composed record is quiet
    assert out["contended"] is False and out["calib"] == 0.80


def test_compose_still_contended_when_no_quiet_bracket_exists():
    """Composition cannot manufacture quiet: when every attempt's
    bracket for some entry is off-reference, the flag stays true and
    calib reports the worst selected sample."""
    import bench

    s1, s2 = _mk_section(1.0, {"alpha"}), _mk_section(2.0, {"alpha"})
    calibs = [[2.0, 2.5, 3.0], [1.9, 2.2, 2.8]]
    out = bench.compose_attempts([s1, s2], calibs, ref=0.80, tol=0.15)
    assert out["contended"] is True
    assert out["calib"] >= 1.9


def test_bench_attempts_clamped_positive(monkeypatch):
    """SPARK_GRAFT_BENCH_ATTEMPTS=0 must still run the timed section
    once (the attempt loop's range would otherwise be empty and the
    record would reference an unbound section)."""
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_BENCH_ATTEMPTS", "0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRE_PROBES", "0")
    import bench

    importlib.reload(bench)
    try:
        assert bench.MAX_BENCH_ATTEMPTS >= 1
        assert bench.CALIB_PRE_PROBES >= 1
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BENCH_ATTEMPTS")
        monkeypatch.delenv("SPARK_GRAFT_BENCH_PRE_PROBES")
        importlib.reload(bench)
