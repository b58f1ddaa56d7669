"""Gate the bench's driver-facing stdout contract (VERDICT r11 #1).

BENCH_r11.json came back ``parsed: null`` because the driver captures
only the last ~2,000 bytes of stdout and parses the FINAL line; round
11's single fat JSON line (timings + minima + 34-entry load maps)
outgrew the capture and lost its head. bench.py now prints diagnostics
on an earlier line and ends stdout with a compact headline line; these
tests pin that line's size and shape so the regression cannot recur
silently when HEADLINE grows.
"""

from __future__ import annotations

import json

import bench

# The driver keeps a 2,000-byte stdout tail; leave headroom for the
# trailing newline and any incidental stdout the JVM appends.
DRIVER_TAIL_CAPTURE = 2000
LINE_BUDGET = 1900


def _worst_case_timings() -> dict[str, float]:
    # widest plausible rendering: every query at a 4-digit-second wall
    # with 3 decimals (e.g. 9999.999) — far above anything observed.
    return {name: 9999.999 for name in bench.HEADLINE}


def test_headline_line_fits_driver_capture():
    line = bench.headline_line(_worst_case_timings(), sf=0.1)
    assert len(line.encode()) < LINE_BUDGET, (
        f"headline line is {len(line.encode())} bytes at "
        f"{len(bench.HEADLINE)} queries; the driver captures only the "
        f"last {DRIVER_TAIL_CAPTURE} — trim HEADLINE or the payload"
    )


def test_headline_line_schema():
    line = bench.headline_line({n: 1.0 for n in bench.HEADLINE}, sf=0.1)
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total_wall"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.1
    assert set(d["queries"]) == set(bench.HEADLINE)
    assert d["value"] == round(sum(d["queries"].values()), 3)
    # the self-flagging gate ratio (VERDICT r11 #5)
    assert d["vs_baseline"] == round(d["value"] / bench.BASELINE_TOTAL_SEC, 3)


def test_headline_line_is_parseable_json_after_tail_truncation():
    """Even if the driver's capture window shrank, a line under budget
    survives tail-truncation intact (the whole line sits inside the
    captured suffix)."""
    line = bench.headline_line(_worst_case_timings(), sf=0.1)
    captured = ("x" * 5000 + "\n" + line)[-DRIVER_TAIL_CAPTURE:]
    last = captured.splitlines()[-1]
    assert json.loads(last)["metric"] == "headline_queries_total_wall"


def test_regression_flags_fire_on_synthetic_regression():
    """VERDICT r12 #2: a 2.4x outlier like BENCH_r12's
    graph_triangle_doulion draw must self-report; at-baseline and
    barely-above draws must not; HEADLINE entries without a baseline
    record yet must be skipped, not KeyError."""
    base = bench.BASELINE_QUERY_SEC["graph_triangle_doulion"]
    timings = {
        "graph_triangle_doulion": round(base * 2.4, 3),   # the r12 case
        "agg_rollup": bench.BASELINE_QUERY_SEC["agg_rollup"],   # quiet
        "pricing_summary": round(                          # under 1.5x
            bench.BASELINE_QUERY_SEC["pricing_summary"] * 1.49, 3),
        "some_brand_new_headline_query": 99.0,             # no baseline
    }
    flags = bench.regression_flags(timings)
    assert set(flags) == {"graph_triangle_doulion"}
    assert flags["graph_triangle_doulion"] == 2.4


def test_regression_flags_baseline_covers_headline():
    """Every current HEADLINE query has a per-query baseline (all 34
    appeared in a parsed driver BENCH record); a future HEADLINE
    addition may lag one round, but a DROPPED baseline entry for an
    existing query would silently disable its flag — pin coverage."""
    missing = [n for n in bench.HEADLINE
               if n not in bench.BASELINE_QUERY_SEC]
    assert not missing, missing


def test_headline_names_are_registered_queries():
    """A typo in a reseated HEADLINE tuple would crash the driver's
    bench run at warm-up; catch it at test time instead."""
    import new_data_pipeline_spark as engine
    engine.load_all()
    missing = [n for n in bench.HEADLINE if n not in engine.QUERIES]
    assert not missing, missing


def test_plan_dump_requires_plans_subdir(tmp_path):
    """tools/plan_dump.py once defaulted to a fixed plans/ subdirectory,
    so a later optimization could silently overwrite an earlier one's
    evidence. The subdirectory is now a required argument; the old
    ``<tag> [query ...]`` form is refused before any Spark work."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(bench.__file__).resolve().parent
    for args in (["before"], ["before", "pricing_summary"]):
        out = subprocess.run(
            [sys.executable, str(root / "tools" / "plan_dump.py"), *args],
            capture_output=True, text=True, cwd=tmp_path, timeout=120)
        assert out.returncode == 1, out.stderr[-500:]
        assert "Usage: python tools/plan_dump.py <subdir> <tag>" in out.stderr
    assert not (root / "plans" / "before").exists()
