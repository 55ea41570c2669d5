"""Correctness checks, run outside the timed part of every op.

- Query ops: the collected Arrow result against the op's registered
  DuckDB oracle, order-insensitive, with the canonicalisation of
  ``tools/verify_local.py``. Oracle results are computed once per fixture
  directory (``prepare_oracles``) and reused.
- Stream vs batch: the streaming runner's rows against the batch rows of
  ``events_tumbling_5m``.
- ETL: accepted/rejected counts against the generated valid/corrupt files,
  every PNG decodes to its source's shape, and the stats columns ``rows``,
  ``cols`` and ``mean_intensity`` match the decoded PNG.

Each check returns ``None`` when it passes, else a one-line reason.
"""

from __future__ import annotations

import datetime as dt
import os
import pickle

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.verify_local import _canon, _values_equal

ORACLE_FILE = "oracles.pkl"


def prepare_oracles(fixture_dir: str, names: list[str]) -> None:
    """Run each op's DuckDB oracle over ``fixture_dir`` once and store the
    canonical rows next to the tables."""
    import duckdb

    from braintumor_data_pipeline_spark import registry
    from braintumor_data_pipeline_spark.sources.fixtures import TABLES

    specs = registry.all_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'"
        )
    out = {}
    for name in names:
        res = con.execute(specs[name].oracle)
        cols = [d[0] for d in res.description]
        out[name] = _canon([tuple(r) for r in res.fetchall()], cols)
    with open(os.path.join(fixture_dir, ORACLE_FILE), "wb") as fh:
        pickle.dump(out, fh)


def load_oracles(fixture_dir: str) -> dict:
    with open(os.path.join(fixture_dir, ORACLE_FILE), "rb") as fh:
        return pickle.load(fh)


def _py(v):
    """Arrow → the Python value Spark's collect() would give."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def arrow_rows(table: pa.Table) -> list[tuple]:
    cols = table.column_names
    return [
        tuple(_py(r[c]) for c in cols) for r in table.to_pylist()
    ]


def compare_rows(rows, cols, expected) -> str | None:
    """``expected`` is ``(canonical rows, sorted column names)``."""
    want_rows, want_cols = expected
    if sorted(cols) != list(want_cols):
        return f"columns differ: got {sorted(cols)} want {list(want_cols)}"
    if len(rows) != len(want_rows):
        return f"row count differs: got {len(rows)} want {len(want_rows)}"
    got, _ = _canon(rows, cols)
    for i, (g, w) in enumerate(zip(got, want_rows)):
        if not all(_values_equal(a, b) for a, b in zip(g, w)):
            return f"value mismatch at sorted row {i}: got {g} want {w}"
    return None


class QueryChecker:
    """Checks query results against the oracle cache. A result that is
    bit-identical (after sorting) to one already verified for the same op
    passes without the row-by-row comparison."""

    def __init__(self, oracles: dict):
        self.oracles = oracles
        self._verified: dict[str, pa.Table] = {}

    @staticmethod
    def _sorted(table: pa.Table) -> pa.Table | None:
        cols = sorted(table.column_names)
        try:
            return table.select(cols).sort_by([(c, "ascending") for c in cols])
        except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
            return None  # e.g. list columns are not sortable

    def check(self, name: str, table: pa.Table) -> str | None:
        key = self._sorted(table)
        seen = self._verified.get(name)
        if key is not None and seen is not None and key.equals(seen):
            return None
        err = compare_rows(arrow_rows(table), table.column_names, self.oracles[name])
        if err is None and key is not None:
            self._verified[name] = key
        return err


def check_stream(stream: pa.Table, batch: pa.Table | None) -> str | None:
    if batch is None:
        return "no batch events_tumbling_5m result to compare with"
    rows, cols = arrow_rows(batch), batch.column_names
    return compare_rows(arrow_rows(stream), stream.column_names, _canon(rows, cols))


def check_etl(batch, accepted: int, png_dir: str, stats_path: str) -> str | None:
    """``batch`` is a :class:`fixtures.Batch`; ``accepted`` is what
    ``run_etl`` returned."""
    from braintumor_data_pipeline_spark.sources.png import decode_png

    n_files = len(batch.valid) + len(batch.corrupt)
    if accepted != len(batch.valid):
        return f"accepted {accepted} != {len(batch.valid)} valid"
    if n_files - accepted != len(batch.corrupt):
        return f"rejected {n_files - accepted} != {len(batch.corrupt)} corrupt"
    pngs = {os.path.splitext(f)[0] for f in os.listdir(png_dir) if f.endswith(".png")}
    if pngs != set(batch.valid):
        return f"PNG set differs: {len(pngs)} written, {len(batch.valid)} valid"
    stats = pq.read_table(
        stats_path, columns=["file_name", "rows", "cols", "mean_intensity"]
    ).to_pylist()
    if len(stats) != accepted:
        return f"{len(stats)} stats rows != {accepted} accepted"
    for row in stats:
        stem = os.path.splitext(row["file_name"])[0]
        with open(os.path.join(png_dir, stem + ".png"), "rb") as fh:
            img = decode_png(fh.read())
        if img.shape != tuple(batch.valid[stem]):
            return f"{stem}: PNG shape {img.shape} != source {batch.valid[stem]}"
        if (row["rows"], row["cols"]) != img.shape:
            return f"{stem}: stats shape {(row['rows'], row['cols'])} != PNG {img.shape}"
        if not _values_equal(row["mean_intensity"], float(np.mean(img))):
            return f"{stem}: mean_intensity {row['mean_intensity']} != PNG {np.mean(img)}"
    return None
