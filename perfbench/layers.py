"""Per-layer metrics of a traced run: family walls and step rates from
its pass walls, everything else from its spans, jobs and stages, each
the median of its per-pass values over the timed passes. A metric whose
layer the workload does not reach reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import metrics, workloads

MB = 2**20


def _rate(rows: int, walls: list[float | None]) -> float:
    if not walls or any(w is None for w in walls):
        return metrics.FAILED_RATE
    return rows / sum(walls)


def _pct(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def per_layer(workload: str, families: dict[str, str], passes: list[dict],
              tracer, session_start_s: float | None) -> dict[str, float]:
    v = {m.name: 0.0 for m in metrics.PER_LAYER}
    v["session.start_s"] = (metrics.FAILED_WALL if session_start_s is None
                            else session_start_s)
    walls = metrics.median_walls(passes)
    for f in metrics.MEASURED_FAMILIES:
        fam = [w for n, w in walls.items() if families.get(n) == f]
        if fam:
            v[f"wall_s.{f}"] = metrics.wall_or_failed(fam)
    if workload == metrics.INGEST:
        n = workloads.INGEST_ROWS
        store = [w for name, w in walls.items() if name.startswith("store.")]
        v["serialize.rows_per_s"] = _rate(n, [walls.get("serialize")])
        v["feed.rows_per_s"] = _rate(n, [walls.get("feed")])
        v["store.rows_per_s"] = _rate(
            n + workloads.MERGE_BATCHES * workloads.MERGE_KEYS, store)
    if hasattr(tracer, "spans"):
        v.update(_timed_trace(tracer, len(passes)))
    return v


def _timed_trace(tracer, n_passes: int) -> dict[str, float]:
    """Each traced metric's median over the timed passes."""
    per_pass = []
    for i in metrics.timed(list(range(n_passes))):
        def of_pass(rows, i=i):
            return [r for r in rows if r["pass"] == i]
        per_pass.append(_from_trace(of_pass(tracer.spans),
                                    of_pass(tracer.jobs),
                                    of_pass(tracer.stages)))
    names = set().union(*per_pass)
    return {k: statistics.median(p[k] for p in per_pass if k in p)
            for k in names}


def _from_trace(spans, jobs, stages) -> dict[str, float]:
    """Traced metrics of one pass."""
    v: dict[str, float] = {}

    def secs(name, op_family=None):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name
                   and (op_family is None or family.get(s["op"]) == op_family))

    def njobs(inside, op_family=None):
        return sum(1 for j in jobs if inside in j["in"]
                   and (op_family is None or family.get(j["op"]) == op_family))

    family = {s["op"]: s.get("family") for s in spans if s["name"] == "op"}
    v["catalog.load_calls"] = sum(1 for s in spans
                                  if s["name"] == "catalog.load")
    v["catalog.load_jobs"] = njobs("catalog.load")
    v["catalog.load_s"] = secs("catalog.load")
    for suffix, fam in [("", None)] + [(f".{f}", f)
                                       for f in metrics.MEASURED_FAMILIES]:
        v["build.s" + suffix] = secs("build", fam)
        v["build.jobs" + suffix] = njobs("build", fam)
        v["action.s" + suffix] = secs("action", fam)
        v["action.jobs" + suffix] = njobs("action", fam)
        fam_stages = [s for s in stages
                      if fam is None or family.get(s["op"]) == fam]
        v["spark.executor_run_s" + suffix] = sum(
            s["executor_run_ms"] for s in fam_stages) / 1000
        v["spark.shuffle_write_mb" + suffix] = sum(
            s["shuffle_write_b"] for s in fam_stages) / MB
    built = v["build.s"] + v["action.s"]
    v["build.share"] = v["build.s"] / built if built else 0.0

    v["spark.jobs"] = len(jobs)
    v["spark.stages"] = len(stages)
    v["spark.tasks"] = sum(s["tasks"] for s in stages)
    v["spark.tasks_per_stage"] = (v["spark.tasks"] / len(stages)
                                  if stages else 0.0)
    v["spark.jvm_gc_s"] = sum(s["gc_ms"] for s in stages) / 1000
    v["spark.shuffle_read_mb"] = sum(s["shuffle_read_b"] for s in stages) / MB
    v["spark.spill_mb"] = sum(s["spill_b"] for s in stages) / MB
    v["spark.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    input_rows = sum(s["input_rows"] for s in stages)
    v["spark.shuffle_bytes_per_input_row"] = (
        sum(s["shuffle_write_b"] for s in stages) / input_rows
        if input_rows else 0.0)

    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    if "serialize" in ops:
        v["serialize.s"] = ops["serialize"]["t1"] - ops["serialize"]["t0"]
        v["serialize.jobs"] = sum(1 for j in jobs if j["op"] == "serialize")
        write = next((s for s in spans if s["name"] == "sink.write_streams"),
                     {})
        v["sink.bytes_per_row"] = write.get("bytes", 0) / max(
            write.get("rows", 0), 1)
    if "feed" in ops:
        waits = [s for s in spans
                 if s["name"] == "feed.batch" and not s.get("last")]
        ms = [1000 * (s["t1"] - s["t0"]) for s in waits]
        v["feed.jobs"] = sum(1 for j in jobs if j["op"] == "feed")
        v["feed.first_batch_s"] = (waits[0]["t1"] - ops["feed"]["t0"]
                                   if waits else 0.0)
        v["feed.batch_wait_ms_p50"] = _pct(ms, 50)
        v["feed.batch_wait_ms_p99"] = _pct(ms, 99)
    ingest = [s for s in spans if s["name"] == "acid_sink.run_ingest"]
    v["stream.micro_batches"] = sum(s.get("micro_batches", 0) for s in ingest)
    v["stream.append_s"] = sum(s.get("add_batch_ms", 0) for s in ingest) / 1000
    merges = [s for s in spans if s["name"] == "acid.merge_upsert"]
    v["acid.merge_s"] = sum(s["t1"] - s["t0"] for s in merges)
    v["acid.merge_jobs"] = njobs("acid.merge_upsert")
    before = sum(s.get("files_before", 0) for s in merges)
    v["acid.files_rewritten_ratio"] = (
        sum(s.get("files_rewritten", 0) for s in merges) / before
        if before else 0.0)
    return v
