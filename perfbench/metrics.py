"""The benchmark's metric catalog: each metric's name, unit and direction,
the bound of every end-to-end metric, and for every per-layer metric the
end-to-end metric and the workloads it should move.

BENCHMARK.json carries the names, units, directions and bounds; this
module is their source and ``test_perfbench.py`` checks that the two
agree. The "moves" column has no place in BENCHMARK.json, so it lives
here only.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

HEADLINE = "headline-sf0.01"
INGEST = "ingest-feed"

WORKLOADS = {
    HEADLINE: "overhead-bound: five bench.HEADLINE queries on sf0.01 in a "
              "warm JVM; traced, over 40% of query time is building "
              "(catalog.load and eager jobs) and stages run about 2 tasks",
    INGEST: "the reference's serialize and feed commands plus an ACID "
            "store on seeded numeric CSV records: sources, sink and "
            "streaming do the work, no catalog or query operator",
}

# Query families by the module that defines the query.
FAMILIES = {
    "relational": ("relational", "joins", "windows", "aggregates"),
    "dedup": ("dedup", "clustering", "setsim_join"),
    "retrieval": ("similarity", "pq", "sparse_retrieval"),
    "text": ("text_analysis", "corpus_prep", "bpe", "boilerplate",
             "nb_classifier"),
    "graph": ("graph",),
    "events": ("event_queries", "attribution", "assoc_rules",
               "acid_queries"),
}
# Families the headline workload measures. Both graph queries
# (graph_pagerank, graph_triangle_doulion) take about 2 s a warm pass
# and three times that cold: over the per-run time budget.
MEASURED_FAMILIES = ("relational", "dedup", "retrieval", "text", "events")

# Wall time reported for anything that includes a failed operation, and
# the rate reported for a step that failed: a failure can never read as
# a speed-up, and fixing one can never read as a slowdown.
FAILED_WALL = 1e9
FAILED_RATE = 0.0


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    bound: float | None = None  # end-to-end only
    moves: str | None = None  # per-layer only: end-to-end metric it moves
    on: tuple[str, ...] = ()  # ... on these workloads


END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25),
    Metric("pass_s", "s", "lower", bound=0.25),
    Metric("ok_ratio", "ratio", "higher", bound=0.01),
)


def _layer(name, unit, better, moves, on):
    return Metric(name, unit, better, moves=moves, on=tuple(on))


ALL = (HEADLINE, INGEST)
PER_LAYER = (
    _layer("session.start_s", "s", "lower", "setup_s", ALL),
    # Too noisy to bound (a 16 GB max heap grows differently run to run),
    # but a JVM killed for memory fails operations.
    _layer("process.peak_rss_mb", "MB", "lower", "ok_ratio", ALL),
    _layer("catalog.load_calls", "count", "lower", "pass_s", [HEADLINE]),
    _layer("catalog.load_jobs", "count", "lower", "pass_s", [HEADLINE]),
    _layer("catalog.load_s", "s", "lower", "pass_s", [HEADLINE]),
    _layer("build.s", "s", "lower", "pass_s", [HEADLINE]),
    _layer("build.jobs", "count", "lower", "pass_s", [HEADLINE]),
    _layer("build.share", "ratio", "lower", "pass_s", [HEADLINE]),
    _layer("action.s", "s", "lower", "pass_s", [HEADLINE]),
    _layer("action.jobs", "count", "lower", "pass_s", [HEADLINE]),
    _layer("spark.jobs", "count", "lower", "pass_s", ALL),
    _layer("spark.stages", "count", "lower", "pass_s", ALL),
    _layer("spark.tasks", "count", "lower", "pass_s", ALL),
    _layer("spark.tasks_per_stage", "count", "higher", "pass_s", ALL),
    _layer("spark.executor_run_s", "s", "lower", "pass_s", ALL),
    _layer("spark.jvm_gc_s", "s", "lower", "pass_s", ALL),
    _layer("spark.shuffle_write_mb", "MB", "lower", "pass_s", ALL),
    _layer("spark.shuffle_read_mb", "MB", "lower", "pass_s", ALL),
    _layer("spark.spill_mb", "MB", "lower", "pass_s", ALL),
    _layer("spark.failed_tasks", "count", "lower", "ok_ratio", ALL),
    _layer("spark.shuffle_bytes_per_input_row", "B/row", "lower", "pass_s",
           ALL),
    *[_layer(f"wall_s.{f}", "s", "lower", "pass_s", [HEADLINE])
      for f in MEASURED_FAMILIES],
    *[_layer(f"{m}.{f}", unit, "lower", "pass_s", [HEADLINE])
      for m, unit in (("build.s", "s"), ("build.jobs", "count"),
                      ("action.s", "s"), ("action.jobs", "count"),
                      ("spark.executor_run_s", "s"),
                      ("spark.shuffle_write_mb", "MB"))
      for f in MEASURED_FAMILIES],
    _layer("serialize.s", "s", "lower", "pass_s", [INGEST]),
    _layer("serialize.jobs", "count", "lower", "pass_s", [INGEST]),
    _layer("serialize.rows_per_s", "rows/s", "higher", "pass_s", [INGEST]),
    _layer("sink.bytes_per_row", "B/row", "lower", "pass_s", [INGEST]),
    _layer("feed.jobs", "count", "lower", "pass_s", [INGEST]),
    _layer("feed.first_batch_s", "s", "lower", "pass_s", [INGEST]),
    _layer("feed.batch_wait_ms_p50", "ms", "lower", "pass_s", [INGEST]),
    _layer("feed.batch_wait_ms_p99", "ms", "lower", "pass_s", [INGEST]),
    _layer("feed.rows_per_s", "rows/s", "higher", "pass_s", [INGEST]),
    _layer("stream.micro_batches", "count", "lower", "pass_s", [INGEST]),
    _layer("stream.append_s", "s", "lower", "pass_s", [INGEST]),
    _layer("store.rows_per_s", "rows/s", "higher", "pass_s", [INGEST]),
    _layer("acid.merge_s", "s", "lower", "pass_s", [INGEST]),
    _layer("acid.merge_jobs", "count", "lower", "pass_s", [INGEST]),
    _layer("acid.files_rewritten_ratio", "ratio", "lower", "pass_s",
           [INGEST]),
    # pass_s of the traced run: minus pass_s of the untraced run with the
    # same seed, it is the tracing overhead.
    _layer("trace.pass_s", "s", "lower", "pass_s", ALL),
)


def family_of(module: str) -> str:
    """Family of a query defined in ``module`` (its last dotted part)."""
    short = module.rsplit(".", 1)[-1]
    for family, modules in FAMILIES.items():
        if short in modules:
            return family
    raise KeyError(f"module {module!r} belongs to no query family")


# Passes at the start of a run that are not timed: the first pass in a
# fresh JVM pays JIT compilation and code generation, several times the
# wall of a later pass and with much wider spread.
WARMUP_PASSES = 1


def timed(passes: list) -> list:
    """The passes after the warm-up; all of them if no later pass ran
    (the JVM was lost in the warm-up)."""
    return passes[WARMUP_PASSES:] or passes


def median_walls(passes: list[dict]) -> dict[str, float | None]:
    """Each operation's median wall over the timed passes; None if it
    failed in any pass, the warm-up included."""
    out = {}
    for name in passes[0] if passes else {}:
        if any(p.get(name) is None for p in passes):
            out[name] = None
        else:
            out[name] = statistics.median(p[name] for p in timed(passes))
    return out


def wall_or_failed(walls: list[float | None]) -> float:
    """Sum of operation walls; unbounded if any operation failed."""
    if any(w is None for w in walls):
        return FAILED_WALL
    return sum(walls)
