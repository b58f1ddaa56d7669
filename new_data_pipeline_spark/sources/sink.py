"""Multi-stream sink with a durable catalog.

Reference analog (SURVEY.md §2.1 W1/R1): the writer thread routed each
datum to its LMDB sub-database (reference serialize.py:342-387) and the
stream catalog lived only in server-process memory
(serialize.py:456-471) — a deserialize in a fresh process failed. Here
each stream is a parquet directory and the catalog is a JSON manifest
next to the data, so any session can reopen the dataset (the R1
durability fix).

Scale notes: each stream write is a normal distributed parquet write;
``keys_per_file`` optionally range-partitions by key so a key-range
batch scan (R3) prunes files via parquet min/max stats.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def write_streams(streams: dict[str, DataFrame], base_dir: str,
                  key_col: str = "key",
                  keys_per_file: int | None = None) -> dict:
    """W1: write every stream to ``base_dir/<stream>/`` + manifest.

    Returns the manifest dict: stream names, roles (datumdb*/labeldb*),
    schemas, and row counts — the queryable equivalent of the LMDB
    main-DB stream registry (serialize.py:463-471).

    Jobs per stream: the parquet write, plus one count when
    ``keys_per_file`` sizes the range partitioning. The manifest's
    ``rows`` is an ``Observation`` on the write itself, placed above the
    range exchange so its sampling job does not count rows too. Driver
    memory is O(streams); no rows reach the driver.
    """
    manifest: dict = {"streams": {}}
    for name, df in streams.items():
        path = os.path.join(base_dir, name)
        out = df
        if keys_per_file and key_col in df.columns:
            nfiles = max(1, df.count() // keys_per_file)
            out = df.repartitionByRange(nfiles, key_col)
        rows = Observation()
        (out.observe(rows, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite").parquet(path))
        manifest["streams"][name] = {
            "path": path,
            "role": "output" if name.startswith("labeldb") else "input",
            "schema": df.schema.jsonValue(),
            "rows": rows.get["rows"],
        }
    os.makedirs(base_dir, exist_ok=True)
    with open(os.path.join(base_dir, "_catalog.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def read_streams(spark: SparkSession, base_dir: str) -> dict[str, DataFrame]:
    """R1: reopen a dataset from its manifest; validates stream count
    like the reference's main-DB assert (serialize.py:660-663) but
    against durable metadata."""
    with open(os.path.join(base_dir, "_catalog.json")) as f:
        manifest = json.load(f)
    out = {}
    for name, meta in manifest["streams"].items():
        df = spark.read.parquet(meta["path"])
        expected = {f["name"] for f in meta["schema"]["fields"]}
        actual = set(df.columns)
        if expected != actual:
            raise ValueError(
                f"stream {name}: schema drift {sorted(expected ^ actual)}")
        out[name] = df
    return out
