"""Inputs of the benchmark.

- ``data/sf0.01``: the engine's sf0.01 test tables, vendored so the
  benchmark runs from a bare checkout.
- ``_work/oracle-<dataset>.pkl``: each query's DuckDB oracle answer,
  canonicalised like the oracle-parity test does it, kept with a hash of
  the oracle SQL. An answer depends only on the tables and that SQL, so
  it is computed once per checkout, and again when the SQL changes.
- ingest-feed records: numeric CSV input/output streams made from the
  run's seed, with the feed and store answers worked out in numpy.
"""

from __future__ import annotations

import hashlib
import pickle
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = ROOT / "perfbench"
WORK = BENCH_DIR / "_work"
SF001 = BENCH_DIR / "data" / "sf0.01"


def oracle_answers(dataset: Path, specs) -> dict[str, tuple]:
    """{query: (sorted column names, canonical rows)} from DuckDB over
    ``dataset``'s parquet files, cached in ``_work`` per dataset and
    oracle SQL."""
    cache = WORK / f"oracle-{dataset.name}.pkl"
    cached = {}
    if cache.exists():
        with open(cache, "rb") as f:
            cached = pickle.load(f)
    answers = {s.name: cached[s.name][1] for s in specs
               if cached.get(s.name, (None,))[0] == _sql_key(s.oracle)}
    missing = [s for s in specs if s.name not in answers]
    if missing:
        import duckdb

        from new_data_pipeline_spark.catalog import TABLES, table_path
        from tests.conftest import canonical_rows
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{table_path(str(dataset), t)}')")
            for s in missing:
                odf = con.execute(s.oracle).df()
                answers[s.name] = (sorted(odf.columns), canonical_rows(odf))
                cached[s.name] = (_sql_key(s.oracle), answers[s.name])
        finally:
            con.close()
        cache.parent.mkdir(parents=True, exist_ok=True)
        with open(cache, "wb") as f:
            pickle.dump(cached, f)
    return answers


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


N_FEATURES = 16
N_CLASSES = 10
CSV_FILES = 2  # input stream files; also the store's micro-batch count


@dataclass
class Records:
    """Seeded numeric records. Features are whole micro-units so their
    CSV text parses back to exactly ``features / 1e6``."""
    ids: np.ndarray  # file order: a permutation of 1..n
    features: np.ndarray  # (n, N_FEATURES) int64 micro-units, by file row
    labels: np.ndarray  # by file row

    @property
    def n(self) -> int:
        return len(self.ids)

    def labels_by_key(self) -> np.ndarray:
        """Label of key k at index k-1: keys follow id order, ids are 1..n."""
        out = np.empty(self.n, dtype=self.labels.dtype)
        out[self.ids - 1] = self.labels
        return out


FEATURE_COLS = [f"f{i}" for i in range(N_FEATURES)]


def make_records(rng: np.random.Generator, n: int) -> Records:
    return Records(ids=rng.permutation(n) + 1,
                   features=rng.integers(-2_000_000, 2_000_000,
                                         (n, N_FEATURES)),
                   labels=rng.integers(0, N_CLASSES, n))


def _frame(ids: np.ndarray, features: np.ndarray) -> pd.DataFrame:
    df = pd.DataFrame(features / 1e6, columns=FEATURE_COLS)
    df.insert(0, "id", ids.astype(np.int64))
    return df


def write_csv_streams(rec: Records, out: Path) -> tuple[Path, Path]:
    """Input stream (id + features, ``CSV_FILES`` files) and output
    stream (id + label, one file) as header CSVs; returns their dirs."""
    inputs, labels = out / "input", out / "label"
    inputs.mkdir(parents=True)
    labels.mkdir(parents=True)
    frame = _frame(rec.ids, rec.features)
    for i, rows in enumerate(np.array_split(np.arange(rec.n), CSV_FILES)):
        frame.iloc[rows].to_csv(inputs / f"part-{i}.csv", index=False,
                                float_format="%.6f")
    pd.DataFrame({"id": rec.ids, "label": rec.labels}).to_csv(
        labels / "part-0.csv", index=False)
    return inputs, labels


def make_merges(rng: np.random.Generator, n: int, batches: int,
                size: int) -> list[pd.DataFrame]:
    """Upsert batches: ``size`` distinct seeded ids each, drawn from
    1..n*1.1 so about one in eleven is an insert."""
    out = []
    for _ in range(batches):
        ids = rng.choice(n + n // 10, size, replace=False) + 1
        out.append(_frame(ids, rng.integers(-2_000_000, 2_000_000,
                                            (size, N_FEATURES))))
    return out


def expected_table(rec: Records, merges: list[pd.DataFrame]) -> pd.DataFrame:
    """The store after ingesting ``rec`` and applying ``merges`` in order,
    computed without the engine; sorted by id."""
    rows = {int(i): r for i, r in zip(rec.ids, rec.features / 1e6)}
    for m in merges:
        for i, r in zip(m["id"], m[FEATURE_COLS].to_numpy()):
            rows[int(i)] = r
    ids = np.array(sorted(rows), dtype=np.int64)
    df = pd.DataFrame(np.array([rows[i] for i in ids]), columns=FEATURE_COLS)
    df.insert(0, "id", ids)
    return df
