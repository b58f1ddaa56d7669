"""Fixture-based tests for the file-ingest surface (SURVEY.md §2.1
S4-S8, W1/R1) — the pieces DuckDB can't oracle-check.

Fixture layouts copied from FIXTURES.md §B (which documents the
reference's reader expectations, serialize.py:49,70,504-541).
"""

from __future__ import annotations

import json

import pytest

from new_data_pipeline_spark.sources import ingest, sink, tensorize
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def image_tree(tmp_path_factory):
    """B1: data_dir/<label>/<file> with fake binary payloads."""
    root = tmp_path_factory.mktemp("imgs")
    for label in ("cat", "dog"):
        d = root / label
        d.mkdir()
        for i in range(3):
            (d / f"img{i:03d}.png").write_bytes(
                f"{label}-{i}".encode() * 10)
    return str(root)


@pytest.fixture(scope="module")
def mimo_tree(tmp_path_factory):
    """B2: sibling subdirs rgb/ and depth/, same labels and counts."""
    root = tmp_path_factory.mktemp("mimo")
    for sub in ("rgb", "depth"):
        for label in ("cat", "dog"):
            d = root / sub / label
            d.mkdir(parents=True)
            for i in range(2):
                (d / f"f{i}.png").write_bytes(f"{sub}-{label}-{i}".encode())
    return str(root)


def test_s4_labeled_image_dir(spark, image_tree):
    df = ingest.read_labeled_image_dir(spark, image_tree, ext="png")
    rows = df.collect()
    assert len(rows) == 6
    assert {r["label"] for r in rows} == {"cat", "dog"}
    r0 = sorted(rows, key=lambda r: r["path"])[0]
    assert r0["stem"] == "img000"
    assert r0["content"] == b"cat-0" * 10
    assert r0["length"] == len(b"cat-0" * 10)


def test_s5_mimo_rank_join(spark, mimo_tree):
    df = ingest.read_mimo_image_dirs(spark, mimo_tree, ["rgb", "depth"])
    rows = {(r["label"], r["rank"]): r for r in df.collect()}
    assert len(rows) == 4  # 2 labels × 2 ranks
    r = rows[("cat", 1)]
    # i-th sorted file of each subdir shares label and rank
    assert r["content_rgb"] == b"rgb-cat-0"
    assert r["content_depth"] == b"depth-cat-0"


def test_s6_binding_join(spark, image_tree):
    binding = spark.createDataFrame(
        [("r1", "img000"), ("r2", "img002"), ("r3", "img999")],
        "rec_id string, stem string")
    df = ingest.read_binding_scan(
        spark, binding, "stem", f"{image_tree}/cat", ".png")
    got = {r["rec_id"]: r for r in df.collect()}
    assert got["r1"]["content"] == b"cat-0" * 10
    assert got["r3"]["content"] is None  # missing file → null, not crash


def test_s7_csv_source(spark, tmp_path):
    p = tmp_path / "nums.csv"
    p.write_text("a,b,label\n1,2.5,x\n3,4.5,y\n")
    df = ingest.read_numeric_csv(spark, str(p))
    assert df.columns == ["a", "b", "label"]
    assert df.count() == 2


def test_s8_json_layouts(spark, tmp_path):
    plain = tmp_path / "recs.json"
    plain.write_text(json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]))
    df = ingest.read_json_records(spark, str(plain))
    assert sorted(df.columns) == ["a", "b"]
    assert df.count() == 2

    keyed = tmp_path / "keyed.json"
    keyed.write_text(json.dumps(
        {"meta": "v1", "rows": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"},
                                {"a": 3, "b": "z"}]}))
    df2 = ingest.read_json_records(spark, str(keyed), data_key="rows")
    assert sorted(df2.columns) == ["a", "b"]
    assert df2.count() == 3


def test_plan_end_to_end(spark, image_tree, tmp_path):
    """Reference job-spec shape → keyed streams (T6 dispatch + K1)."""
    csv = tmp_path / "feat.csv"
    csv.write_text("fid,v\n10,0.1\n20,0.2\n30,0.3\n")
    spec = {"input": [{"dataType": "image", "path": image_tree,
                       "extension": "png"},
                      {"dataType": "numeric", "path": str(csv)}],
            "output": []}
    streams = ingest.plan(spark, spec)
    assert set(streams) == {"datumdb0", "datumdb1"}
    img_keys = [r["key"] for r in
                streams["datumdb0"].orderBy("key").collect()]
    assert img_keys == [1, 2, 3, 4, 5, 6]  # contiguous, 1-based
    with pytest.raises(ValueError, match="unknown dataType"):
        ingest.plan(spark, {"input": [{"dataType": "bogus"}]})


def test_w1_r1_sink_roundtrip(spark, tmp_path):
    base = str(tmp_path / "store")
    df = spark.range(1, 101).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("v"))
    labels = spark.range(1, 101).select(
        F.col("id").alias("key"), (F.col("id") % 3).alias("label"))
    manifest = sink.write_streams(
        {"datumdb0": df, "labeldb0": labels}, base, keys_per_file=25)
    assert set(manifest["streams"]) == {"datumdb0", "labeldb0"}
    assert manifest["streams"]["labeldb0"]["role"] == "output"

    back = sink.read_streams(spark, base)
    assert back["datumdb0"].count() == 100
    joined = back["datumdb0"].join(back["labeldb0"], "key")
    assert joined.count() == 100  # MIMO alignment on key survives storage


@pytest.mark.parametrize("keys_per_file", [None, 40])
def test_write_streams_manifest_rows_match_readback(spark, tmp_path,
                                                    keys_per_file):
    """The manifest's row counts come from the write itself: they must
    equal the rows read back, also when the stream's own plan ends in a
    range exchange (whose sampling job must not be counted) and when
    keys_per_file adds one; keys, roles and schemas stay as written."""
    base = tmp_path / "store"
    streams = {
        "datumdb0": spark.range(1, 238).select(
            F.col("id").alias("key"), (F.col("id") * 0.5).alias("x"))
            .orderBy(F.col("key").desc()),
        "labeldb0": spark.range(1, 238).select(
            F.col("id").alias("key"), (F.col("id") % 7).alias("label"))
            .filter(F.col("label") != 3),
        "datumdb1": spark.range(0).select(F.col("id").alias("key")),
    }
    manifest = sink.write_streams(streams, str(base),
                                  keys_per_file=keys_per_file)
    back = sink.read_streams(spark, str(base))
    assert manifest == {"streams": {
        name: {"path": str(base / name),
               "role": "output" if name.startswith("labeldb") else "input",
               "schema": df.schema.jsonValue(),
               "rows": back[name].count()}
        for name, df in streams.items()}}
    assert [m["rows"] for m in manifest["streams"].values()] == [237, 203, 0]
    assert json.loads((base / "_catalog.json").read_text()) == manifest


def _multi_range_frame(spark, n):
    """Keys 1..n over several input partitions in scrambled order, so
    the feed's sort, not the input layout, puts batches in order."""
    return (spark.range(1, n + 1, numPartitions=5)
            .select(F.col("id").alias("key"), (F.col("id") * 10).alias("v"))
            .orderBy(F.hash("key")))


def test_batch_iterator_contract(spark):
    """R3/M1 hand-off: key-aligned batches, remainder dropped, no
    driver-side collect of the whole set."""
    df = spark.range(1, 11).select(F.col("id").alias("key"),
                                   (F.col("id") * 10).alias("v"))
    batches = list(tensorize.batch_iterator(df, batch_size=3))
    assert [b for b, _ in batches] == [0, 1, 2]  # 10//3 = 3 batches
    for bid, rows in batches:
        assert [r["key"] for r in rows] == [bid * 3 + 1, bid * 3 + 2, bid * 3 + 3]

    # a frame that spans several sorted ranges, batches straddling them
    n, bs = 1000, 7
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert tensorize._feed_ranges(n // bs, bs, parts) > 1
    batches = list(tensorize.batch_iterator(_multi_range_frame(spark, n), bs))
    assert [b for b, _ in batches] == list(range(n // bs))
    for bid, rows in batches:
        assert [r["key"] for r in rows] == list(
            range(bid * bs + 1, bid * bs + bs + 1))
        assert [r["v"] for r in rows] == [r["key"] * 10 for r in rows]


def _feed_jobs(spark, df, batch_size, group):
    """Spark jobs one full pass of batch_iterator submits, and how many
    batches it yielded."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "batch_iterator job count")
    try:
        n_batches = sum(1 for _ in tensorize.batch_iterator(df, batch_size))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), n_batches


def test_batch_iterator_jobs_do_not_grow_with_batches(spark):
    """The feed used to range-partition into one partition per batch,
    and toLocalIterator runs one Spark job per partition: 10x the
    batches was 10x the jobs. Its job count now follows the ranges."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    small, small_batches = _feed_jobs(
        spark, _multi_range_frame(spark, 1_000), 10, "feed-1k")
    large, large_batches = _feed_jobs(
        spark, _multi_range_frame(spark, 10_000), 10, "feed-10k")
    assert (small_batches, large_batches) == (100, 1_000)
    assert large <= small < small_batches, (small, large)


@pytest.mark.parametrize("case", ["nulls", "empty_ranges", "multi_column"])
def test_global_row_number_equals_single_partition_row_number(spark, case):
    """The range + in-partition-ordinal keying equals a one-partition
    row_number() over the same unique ordering, including NULLs in the
    order column, ranges left empty (more ranges than rows) and a
    mixed-direction multi-column order."""
    from pyspark.sql import Window

    if case == "nulls":
        df = spark.range(0, 300).select(
            "id", F.when(F.col("id") % 4 == 0, None)
            .otherwise(F.col("id") * 7 % 300).alias("a"))
        order, ranges = [F.col("a"), F.col("id")], None
    elif case == "empty_ranges":
        df = spark.range(0, 5).select("id", (F.col("id") * 3).alias("a"))
        order, ranges = [F.col("a")], 16
    else:
        df = spark.range(0, 500).select(
            "id", (F.col("id") % 9).alias("a"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise(F.col("id") % 13).alias("b"))
        order, ranges = [F.col("a").desc(), F.col("b"), F.col("id").desc()], 6
    keyed, n = tensorize.global_row_number(df, order, "rn", ranges)
    want = df.withColumn("want", F.row_number().over(Window.orderBy(*order)))
    try:
        got = {r["id"]: r["rn"] for r in keyed.select("id", "rn").collect()}
        exp = {r["id"]: r["want"] for r in want.select("id", "want").collect()}
    finally:
        tensorize.release_range_caches()
    assert n == len(exp)
    assert got == exp


def test_json_corrupt_records_are_captured_not_fatal(spark, tmp_path):
    """Ingest robustness: a malformed line in a JSON-lines drop must not
    kill the load (PERMISSIVE default) — bad rows surface in
    _corrupt_record for quarantine, good rows load normally. At 100 TB
    a single bad record aborting the job is not an option."""
    p = tmp_path / "records.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n'
                 'THIS IS NOT JSON\n'
                 '{"a": 2, "b": "y"}\n')
    # cache() first: Spark disallows filtering a raw JSON scan by the
    # internal corrupt column alone (SPARK-21610) — the quarantine split
    # must run over a materialized frame
    df = spark.read.json(str(p)).cache()
    try:
        assert "_corrupt_record" in df.columns
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert good.count() == 2 and bad.count() == 1
        assert {r["a"] for r in good.collect()} == {1, 2}
    finally:
        df.unpersist()


def test_csv_schema_enforced_load_quarantines_bad_rows(spark, tmp_path):
    """With an explicit schema (the production path per read_numeric_csv's
    docstring), non-conforming CSV rows null out instead of failing."""
    import pyspark.sql.types as T
    p = tmp_path / "data.csv"
    p.write_text("k,v\n1,10.5\n2,notanumber\n3,30.25\n")
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    df = spark.read.option("header", "true").schema(schema).csv(str(p))
    rows = {r["k"]: r["v"] for r in df.collect()}
    assert rows[1] == 10.5 and rows[3] == 30.25
    assert rows[2] is None  # quarantined value, not a crashed load


def test_s2_s3_archive_prep_zip_replays_s4(spark, image_tree, tmp_path):
    """S2/S3 (reference server.py:90-129,159-173): zip the labeled image
    tree, prepare_archive it, and the S4 scan over the extracted tree
    must see the same labels/files as over the original directory."""
    import shutil

    zip_base = str(tmp_path / "dataset")
    zip_path = shutil.make_archive(zip_base, "zip", image_tree)
    out_dir = ingest.prepare_archive(zip_path, str(tmp_path / "unz"))
    orig = ingest.read_labeled_image_dir(spark, image_tree, ext="png")
    redo = ingest.read_labeled_image_dir(spark, out_dir, ext="png")
    key = lambda df: sorted((r["label"], r["stem"], bytes(r["content"]))
                            for r in df.collect())
    assert key(orig) == key(redo)
    # spec-level replay: an "archive" stream compiles like a "path" one
    keyed = ingest.plan(spark, {"input": [
        {"dataType": "image", "archive": zip_path}]})["datumdb0"]
    assert keyed.count() == orig.count()
    assert "key" in keyed.columns


def test_s2_s3_archive_prep_tar_and_slip_guard(tmp_path):
    import tarfile

    src = tmp_path / "tree"
    (src / "a").mkdir(parents=True)
    (src / "a" / "x.txt").write_text("hello")
    tar_path = tmp_path / "t.tar.gz"
    with tarfile.open(tar_path, "w:gz") as tf:
        tf.add(src / "a" / "x.txt", arcname="a/x.txt")
    out = ingest.prepare_archive(str(tar_path))
    assert (tmp_path / "t_extracted" in [__import__("pathlib").Path(out)]
            or out.endswith("_extracted"))
    assert open(f"{out}/a/x.txt").read() == "hello"
    # zip-slip: a member that escapes must abort
    evil = tmp_path / "evil.tar"
    with tarfile.open(evil, "w") as tf:
        tf.add(src / "a" / "x.txt", arcname="../escape.txt")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ingest.prepare_archive(str(evil), str(tmp_path / "dest2"))


def test_tar_extraction_rejects_special_members_and_strips_modes(tmp_path):
    """ADVICE r9: the data filter must reject special members (FIFOs,
    device nodes) outright and strip dangerous mode bits (setuid,
    world-writable) that a verbatim extractall would apply while
    running privileged."""
    import io
    import os
    import tarfile

    # FIFO member → hard reject
    fifo_tar = tmp_path / "fifo.tar"
    with tarfile.open(fifo_tar, "w") as tf:
        ti = tarfile.TarInfo("pipe")
        ti.type = tarfile.FIFOTYPE
        tf.addfile(ti)
    with pytest.raises(tarfile.SpecialFileError):
        ingest.prepare_archive(str(fifo_tar), str(tmp_path / "d1"))

    # character-device member → hard reject
    dev_tar = tmp_path / "dev.tar"
    with tarfile.open(dev_tar, "w") as tf:
        ti = tarfile.TarInfo("null")
        ti.type = tarfile.CHRTYPE
        ti.devmajor, ti.devminor = 1, 3
        tf.addfile(ti)
    with pytest.raises(tarfile.SpecialFileError):
        ingest.prepare_archive(str(dev_tar), str(tmp_path / "d2"))

    # setuid + world-writable regular file → extracted, bits stripped
    mode_tar = tmp_path / "mode.tar"
    payload = b"#!/bin/sh\n"
    with tarfile.open(mode_tar, "w") as tf:
        ti = tarfile.TarInfo("tool.sh")
        ti.size = len(payload)
        ti.mode = 0o4777  # setuid, world-writable
        tf.addfile(ti, io.BytesIO(payload))
    out = ingest.prepare_archive(str(mode_tar), str(tmp_path / "d3"))
    mode = os.stat(os.path.join(out, "tool.sh")).st_mode
    assert not (mode & 0o4000), "setuid bit must be stripped"
    assert not (mode & 0o022), "group/world write must be stripped"
    assert open(os.path.join(out, "tool.sh"), "rb").read() == payload
