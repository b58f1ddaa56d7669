"""The benchmark's own tests (no Spark session): metric catalog and
BENCHMARK.json agree, every layer metric names what it should move, and
failures read as unbounded walls and zero rates, including after the
JVM is lost. Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import re
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import data, layers, metrics, run, workloads
from perfbench.trace import NullTracer

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench_json() -> dict:
    with open(data.ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_benchmark_json_matches_catalog():
    b = _bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert b["workloads"] == [{"name": n, "why": w}
                              for n, w in metrics.WORKLOADS.items()]
    assert b["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better,
         "bound": m.bound} for m in metrics.END_TO_END]
    assert b["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better}
        for m in metrics.PER_LAYER]


def test_names_units_and_bounds():
    every = metrics.END_TO_END + metrics.PER_LAYER
    names = [m.name for m in every] + list(metrics.WORKLOADS)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m.unit) and m.better in ("lower", "higher")
               for m in every)
    assert all(len(w) <= 200 and "\n" not in w
               for w in metrics.WORKLOADS.values())
    bounds = {m.name: m.bound for m in metrics.END_TO_END}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    setup = next(m for m in metrics.END_TO_END if m.name == "setup_s")
    assert (setup.unit, setup.better) == ("s", "lower")


def test_every_layer_metric_names_its_target():
    e2e = {m.name for m in metrics.END_TO_END}
    for m in metrics.PER_LAYER:
        assert m.moves in e2e, m.name
        assert m.on and set(m.on) <= set(metrics.WORKLOADS), m.name


def test_failed_operations_read_unbounded_and_rates_zero():
    assert metrics.wall_or_failed([1.0, 2.0]) == 3.0
    assert metrics.wall_or_failed([1.0, None]) == metrics.FAILED_WALL
    assert layers._rate(100, [2.0, None]) == 0.0
    assert layers._rate(100, [2.0, 3.0]) == 20.0
    # a failed operation makes its family wall unbounded
    v = layers.per_layer(metrics.HEADLINE, {"q": "dedup"},
                         [{"q": 1.0}, {"q": None}], NullTracer(), 5.0)
    assert v["wall_s.dedup"] == metrics.FAILED_WALL
    assert set(v) == {m.name for m in metrics.PER_LAYER}


FAKE_SPARK = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


def _op(name, action, check=None):
    return workloads.Op(name, lambda tracer: action(), check)


def test_lost_jvm_fails_the_operation_in_flight_and_all_after_it():
    jvm = {"exit": None, "ran": []}

    def crash():
        jvm["exit"] = -9
        raise ConnectionError("Answer from Java side is empty")

    outcome = run.Outcome(jvm_exit=lambda: jvm["exit"])
    ops = [_op("a", lambda: jvm["ran"].append("a")),
           _op("b", crash),
           _op("c", lambda: jvm["ran"].append("c"))]
    walls = run.run_pass(FAKE_SPARK, ops, outcome, NullTracer())
    assert walls["a"] is not None and walls["b"] is walls["c"] is None
    assert outcome.jvm_lost and jvm["ran"] == ["a"]
    run.run_pass(FAKE_SPARK, ops, outcome, NullTracer())  # the next pass
    assert (outcome.attempted, outcome.failed) == (6, 5)
    assert "SIGKILL" in outcome.causes[0] and outcome.causes[0].startswith("b")


def test_error_and_mismatch_fail_only_their_operation():
    outcome = run.Outcome(jvm_exit=lambda: None)

    def boom():
        raise ValueError("bad plan")
    ops = [_op("err", boom), _op("wrong", lambda: None, check=lambda: False),
           _op("right", lambda: None, check=lambda: True)]
    walls = run.run_pass(FAKE_SPARK, ops, outcome, NullTracer())
    assert walls["err"] is walls["wrong"] is None
    assert walls["right"] is not None and not outcome.jvm_lost
    assert (outcome.attempted, outcome.failed) == (3, 2)


def test_query_sets_come_from_bench_headline():
    import bench
    import new_data_pipeline_spark as engine
    engine.load_all()
    assert set(workloads.HEADLINE_LEFT_OUT) <= set(bench.HEADLINE)
    chosen = workloads.headline_queries()
    for name in chosen:
        spec = engine.QUERIES[name]
        assert spec.oracle is not None, name
        metrics.family_of(spec.fn.__module__)  # raises if unmapped
    assert {metrics.family_of(engine.QUERIES[n].fn.__module__)
            for n in chosen} == set(metrics.MEASURED_FAMILIES)


def test_pass_wall_skips_the_warm_up_and_takes_medians():
    assert metrics.WARMUP_PASSES == 1
    passes = [{"q": 9.0}, {"q": 1.0}, {"q": 3.0}, {"q": 2.0}]
    assert metrics.median_walls(passes) == {"q": 2.0}
    passes[0]["q"] = None  # failed in the warm-up: still a failure
    assert metrics.median_walls(passes) == {"q": None}
    assert metrics.median_walls([{"q": None}]) == {"q": None}


def test_oracle_answers_follow_the_oracle_sql(tmp_path, monkeypatch):
    monkeypatch.setattr(data, "WORK", tmp_path)

    def answer(sql):
        spec = SimpleNamespace(name="q", oracle=sql)
        return data.oracle_answers(data.SF001, [spec])["q"]
    one = answer("SELECT 1 AS a")
    assert answer("SELECT 1 AS a") == one  # from the cache
    assert answer("SELECT 2 AS a") != one  # the SQL changed: recomputed
    assert answer("SELECT count(*) AS n FROM nation")[0] == ["n"]


def test_ingest_rows_fill_whole_batches():
    assert workloads.INGEST_ROWS % workloads.FEED_BATCH == 0


def test_records_and_expected_store_follow_the_seed():
    a = data.make_records(np.random.default_rng([7, 4]), 4)
    b = data.make_records(np.random.default_rng([7, 4]), 4)
    assert np.array_equal(a.ids, b.ids) and np.array_equal(a.features,
                                                           b.features)
    assert sorted(a.ids) == [1, 2, 3, 4]
    labels = a.labels_by_key()
    for row, i in enumerate(a.ids):
        assert labels[i - 1] == a.labels[row]

    merge = pd.DataFrame([[2] + [0.5] * 16, [9] + [-1.0] * 16],
                         columns=["id"] + data.FEATURE_COLS)
    table = data.expected_table(a, [merge])
    assert list(table["id"]) == [1, 2, 3, 4, 9]
    assert (table.loc[1, data.FEATURE_COLS] == 0.5).all()
    assert (table.loc[4, data.FEATURE_COLS] == -1.0).all()
    row_of_3 = list(a.ids).index(3)
    assert np.array_equal(table.loc[2, data.FEATURE_COLS].to_numpy(),
                          a.features[row_of_3] / 1e6)


@pytest.mark.parametrize("micro", [-2_000_000, -1, 0, 123_457, 1_999_999])
def test_csv_features_parse_back_exactly(micro):
    value = micro / 1e6
    assert float(f"{value:.6f}") == value
