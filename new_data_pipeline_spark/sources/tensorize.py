"""Tensorization primitives: deterministic keying, feature flattening,
batch assignment.

Reference analogs (SURVEY.md §2.1): K1 sequential key assignment
(reference serialize.py:30-32,51-55,156-167 — 1-based ints in read
order), T1 label pop (serialize.py:146-154), T2 row→float32 vector
(serialize.py:156-167,304), R3 batch numbering with remainder drop
(serialize.py:670,731-795). The reference's keys were ASCII strings
iterated lexicographically (the "10" < "2" bug, SURVEY §1.4); here keys
are int64 and ordering is explicit — we implement the intent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Persisted range-partitioned frames created by the prefix-sum devices
# below (global_row_number / global_running_sum / grouped_running_sum).
# The persist is CORRECTNESS-bearing, not a speed-up: repartitionByRange
# samples boundaries per execution, so the collected offsets are only
# valid against the cached physical partitioning — an auto-release (on
# next call, or a weakref on the returned frame) could drop the cache
# while a derived plan is still unconsumed and silently attach stale
# offsets to re-sampled ranges. Release is therefore EXPLICIT: callers
# (long-lived sessions, repeated-call loops) call release_range_caches()
# once every frame derived from these devices has been consumed
# (VERDICT r9 #5; bench.py's per-run clearCache() covers the bench).
_RANGE_CACHES: list[DataFrame] = []


def _track_range_cache(df: DataFrame) -> DataFrame:
    _RANGE_CACHES.append(df)
    return df


def release_range_caches() -> int:
    """Unpersist every range-cache the prefix-sum devices created and
    return how many were released. Only call after all frames derived
    from those devices have had their final action — the cache pins the
    sampled range boundaries the collected offsets were computed
    against (see _RANGE_CACHES)."""
    n = 0
    while _RANGE_CACHES:
        df = _RANGE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n


def global_row_number(df: DataFrame, order_by: list[Column | str],
                      key_col: str = "key",
                      num_ranges: int | None = None) -> tuple[DataFrame, int]:
    """Distributed global row_number over ``order_by``; returns (df, n).

    Scale design (SURVEY §7 risk register): a bare
    ``row_number().over(Window.orderBy(...))`` sorts the world in ONE
    task. Instead: range-partition on the ordering, count each range,
    sort each range on its own, and number its rows by their position
    in the sorted partition (``monotonically_increasing_id()`` minus
    the partition id in its upper bits) plus the cumulative counts of
    the ranges before it — the zipWithIndex pattern expressed in
    DataFrame ops. The ranges stay contiguous, so keys equal the global
    row_number while every partition works in parallel, and no
    exchange follows the range partitioning.

    The ranged frame is persisted before the count job so the offsets
    and the keyed output observe the SAME physical partitioning — range
    sampling is rerun per job otherwise, and a nondeterministic upstream
    (sample, AQE-reshuffled input) could silently shift rows between
    ranges, duplicating/dropping keys. The cache lives until Spark
    evicts it (LRU) or ``release_range_caches()`` drops it.

    Jobs per call: the range-boundary sample and the per-range count
    (which fills the cache); the keyed frame itself adds only a
    per-partition sort to its consumer's plan. The per-range count
    collect is O(num_ranges) driver memory — fine at any scale
    (thousands of ranges, not rows). Also returns the total row count n
    (free from the same counts) for rank-ratio functions (ntile /
    percent_rank / cume_dist) that need it. Ties in ``order_by`` are
    numbered in an arbitrary order, as with ``row_number``.
    """
    sess = df.sparkSession
    if num_ranges is None:
        num_ranges = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _track_range_cache(
        df.repartitionByRange(num_ranges, *order_cols)
          .withColumn("__pid", F.spark_partition_id())
          .persist())
    counts = {r["__pid"]: r["cnt"] for r in
              ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_expr = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for pid in sorted(offsets)
                           for x in (pid, offsets[pid])]),
            F.col("__pid")),
        F.lit(0))
    # 0-based position in the sorted partition: the id's lower 33 bits
    ordinal = (F.monotonically_increasing_id()
               - F.shiftleft(F.spark_partition_id().cast("bigint"), 33))
    out = (ranged.sortWithinPartitions(*order_cols)
           .withColumn(key_col, (ordinal + 1 + offset_expr).cast("bigint"))
           .drop("__pid"))
    return out, acc


def global_running_sum(df: DataFrame, order_by: list[Column | str],
                       value_col: str, out_col: str = "__cum",
                       num_ranges: int | None = None) -> DataFrame:
    """Distributed EXCLUSIVE global prefix sum of ``value_col`` over
    ``order_by`` — the ``global_row_number`` range+offset device
    accumulating SUMS instead of counts: range-partition on the
    ordering, collect per-range totals (O(num_ranges) driver memory),
    offset each range's within-partition window cumsum by the
    cumulative totals before it. A bare ``SUM OVER (ORDER BY …)``
    would sort the world in one task; this sorts each range in
    parallel and the result is identical because the ranges are
    contiguous in the ordering."""
    sess = df.sparkSession
    if num_ranges is None:
        num_ranges = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _track_range_cache(
        df.repartitionByRange(num_ranges, *order_cols)
          .withColumn("__pid", F.spark_partition_id())
          .persist())
    # this collect is the FIRST action on the persisted frame, so it
    # fills the cache before the windowed consumer — no cold-cache race
    sums = {r["__pid"]: r["s"] for r in
            ranged.groupBy("__pid").agg(
                F.sum(value_col).alias("s")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid] or 0)
    offset_expr = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for pid in sorted(offsets)
                           for x in (pid, offsets[pid])]),
            F.col("__pid")),
        F.lit(0))
    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ranged
            .withColumn(out_col,
                        (F.sum(value_col).over(w) - F.col(value_col)
                         + offset_expr).cast("bigint"))
            .drop("__pid"))


def grouped_running_sum(df: DataFrame, group_col: str,
                        order_by: list[Column | str], value_col: str,
                        out_col: str = "__cum", total_col: str | None = None,
                        num_ranges: int | None = None,
                        inclusive: bool = True) -> DataFrame:
    """PER-GROUP distributed prefix sum of ``value_col`` over ``order_by``
    within each ``group_col`` value — ``global_running_sum`` generalized to
    partitioned ranges (VERDICT r8 #1).

    A bare ``SUM OVER (PARTITION BY g ORDER BY …)`` executes in
    #distinct-groups tasks — with 3 groups it sorts the whole input in 3
    tasks no matter how big the cluster is. Instead: range-partition on
    (group, ordering) so each group's rows span a CONTIGUOUS run of
    ranges, collect the per-(range, group) subtotals (O(num_ranges +
    n_groups) driver rows — each group adds at most one extra boundary
    row), and offset each range's within-partition windowed cumsum by
    the same group's subtotals in earlier ranges. Every range sorts only
    its own rows, in parallel, and the result is identical to the
    single-task window because ranges are contiguous in the ordering.

    Offsets (and, when ``total_col`` is set, per-group grand totals —
    free from the same collect) are attached via a broadcast join on
    (range-id, group), not a literal map, so the device holds when
    groups number in the thousands.

    The ranged frame is persisted; the subtotal collect is the FIRST
    action on it, filling the cache before the windowed consumer (no
    cold-cache race) and pinning the range boundaries so offsets and
    output observe the same physical partitioning. Deterministic
    release: ``release_range_caches()`` after the final consuming
    action (VERDICT r9 #5 — never before, the cache pins the sampled
    boundaries the offsets were computed against).

    NULL groups are preserved (ADVICE r9): the offset attach is a
    null-safe equi-join (``eqNullSafe``), matching the
    ``SUM OVER (PARTITION BY g)`` semantics this device replaces —
    a plain inner equi-join would silently drop every NULL-group row.
    """
    sess = df.sparkSession
    if num_ranges is None:
        num_ranges = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = _track_range_cache(
        df.repartitionByRange(num_ranges, F.col(group_col), *order_cols)
          .withColumn("__pid", F.spark_partition_id())
          .persist())
    sub = (ranged.groupBy("__pid", group_col)
           .agg(F.sum(value_col).alias("s")).collect())
    by_group: dict = {}
    for r in sub:
        by_group.setdefault(r[group_col], []).append(
            (r["__pid"], int(r["s"] or 0)))
    offset_rows, group_totals = [], {}
    for g, pid_sums in by_group.items():
        acc = 0
        for pid, s in sorted(pid_sums):
            offset_rows.append((pid, g, acc))
            acc += s
        group_totals[g] = acc
    schema_df = df.select(F.col(group_col).alias("__g")).limit(0)
    g_type = schema_df.schema["__g"].dataType.simpleString()
    offsets = sess.createDataFrame(
        offset_rows, f"__opid int, __g {g_type}, __off bigint")
    if total_col is not None:
        totals = sess.createDataFrame(
            [(g, int(t)) for g, t in group_totals.items()],
            f"__tg {g_type}, {total_col} bigint")
        # null-safe: a NULL group's grand total must attach too
        offsets = (offsets.join(totals,
                                F.col("__g").eqNullSafe(F.col("__tg")))
                   .drop("__tg"))
    w = (Window.partitionBy("__pid", group_col).orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(value_col).over(w)
    if not inclusive:
        cum = cum - F.col(value_col)
    return (ranged
            .join(F.broadcast(offsets),
                  (F.col("__pid") == F.col("__opid"))
                  & F.col(group_col).eqNullSafe(F.col("__g")))
            .withColumn(out_col, (cum + F.col("__off")).cast("bigint"))
            .drop("__pid", "__opid", "__g", "__off"))


def assign_keys(df: DataFrame, order_col: str, key_col: str = "key",
                num_ranges: int | None = None) -> DataFrame:
    """Assign contiguous 1-based int64 keys in ``order_col`` order.

    K1 (reference serialize.py:30-32,51-55): the distributed
    range-partitioned row_number — see ``global_row_number``.
    """
    out, _ = global_row_number(df, [order_col], key_col, num_ranges)
    return out


def pop_label(df: DataFrame, label_col: str,
              key_col: str = "key") -> tuple[DataFrame, DataFrame]:
    """T1 label pop: split a keyed frame into (features, labels).

    The reference mutated the feature frame in place and routed the
    label series to a separate stream (serialize.py:146-154,169-173);
    here both halves stay joinable on the key column.
    """
    labels = df.select(key_col, label_col)
    features = df.drop(label_col)
    return features, labels


def flatten_features(df: DataFrame, feature_cols: list[str],
                     out_col: str = "features") -> DataFrame:
    """T2 row→vector: selected numeric columns → one array<float>.

    Mirrors the reference's float32 coercion (np.asarray(dtype=float32),
    serialize.py:304) — a projection + cast, fully codegen'd.
    """
    arr = F.array(*[F.col(c).cast("float") for c in feature_cols])
    return df.withColumn(out_col, arr)


def batch_expr(key_col: str | Column, batch_size: int) -> Column:
    """R3 batch id for a 1-based key: floor((key-1)/batch_size)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.floor((k - 1) / F.lit(batch_size)).cast("bigint")


def assign_batches(df: DataFrame, batch_size: int, key_col: str = "key",
                   batch_col: str = "batch",
                   drop_remainder: bool = True) -> DataFrame:
    """R3 batching: assign batch ids; optionally drop the ragged tail.

    ``n_batches = n // batch_size`` with the remainder dropped is the
    reference's epoch math (serialize.py:670); the cutoff is a filter on
    the key, so Catalyst can push it to the scan when keys are stored.
    """
    if not drop_remainder:
        return df.withColumn(batch_col, batch_expr(key_col, batch_size))
    return _whole_batches(df, batch_size, key_col, batch_col)[0]


def _whole_batches(df: DataFrame, batch_size: int, key_col: str,
                   batch_col: str) -> tuple[DataFrame, int]:
    """Batch ids with the ragged tail dropped, and how many whole
    batches are kept (one count job)."""
    n_batches = df.count() // batch_size
    out = df.withColumn(batch_col, batch_expr(key_col, batch_size))
    return out.filter(F.col(batch_col) < n_batches), n_batches


# Rows per sorted range the feed streams to the driver (see _feed_ranges).
_FEED_RANGE_ROWS = 1 << 16


def _feed_ranges(n_batches: int, batch_size: int, partitions: int) -> int:
    """Number of sorted ranges ``batch_iterator`` feeds ``n_batches``
    whole batches from: at least ``partitions`` (the session's shuffle
    partitions) so the sort runs in parallel, more only to keep each
    range near ``_FEED_RANGE_ROWS`` rows, never more than one per batch."""
    rows = n_batches * batch_size
    return min(n_batches, max(partitions, -(-rows // _FEED_RANGE_ROWS)))


def batch_iterator(df: DataFrame, batch_size: int, key_col: str = "key"):
    """ML hand-off (R3/M1 consumer contract, serialize.py:680-683):
    iterate key-aligned batches ``(batch_id, [Row, ...])`` in key order,
    the ragged tail dropped, without collecting the dataset on the
    driver. Epoch looping (the reference's ``while 1``) belongs to the
    caller.

    The kept rows are globally sorted on ``(batch, key)`` over
    ``_feed_ranges(...)`` ranges and streamed with
    ``toLocalIterator(prefetchPartitions=True)``; a batch may span two
    ranges. Jobs per call: one count (the ragged-tail cutoff and the
    range count), the range-boundary sample, and one job per range —
    at most max(shuffle partitions, rows / 65,536) ranges, never one
    per batch. Driver memory: the partition being read plus the one
    prefetched, each about max(65,536, batch_size) rows
    (``_FEED_RANGE_ROWS``), plus the batch being built.
    """
    batched, n_batches = _whole_batches(df, batch_size, key_col, "batch")
    if n_batches == 0:
        return
    partitions = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    ranges = _feed_ranges(n_batches, batch_size, partitions)
    rows = (batched.repartitionByRange(ranges, "batch", key_col)
            .sortWithinPartitions("batch", key_col)
            .toLocalIterator(prefetchPartitions=True))
    current_id, buf = None, []
    for row in rows:
        if row["batch"] != current_id and buf:
            yield current_id, buf
            buf = []
        current_id = row["batch"]
        buf.append(row)
    if buf:
        yield current_id, buf
