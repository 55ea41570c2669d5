"""Benchmark inputs, generated inside the checkout.

Two kinds of input:

- **Fixture tables**: the ten parquet tables the query catalog reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``), with
  the schemas, key ranges, row counts and value distributions of the
  project's seed-42 test tables. They are made once per scale factor with
  the fixed seed 42 and reused by every run, so timing runs with different
  ``--seed`` values read the same tables.
- **DICOM batches**: made per run from ``--seed``. int16 MRI-like slices,
  mostly 256² and 512² with some 128², plus about 2% truncated or
  garbage files that the ETL must reject.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_COLORS = "blue cold hot large old red green tiny".split()
_NOUNS = "bolt gear plate ring rod widget anvil spring".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents of 10-100 words; about 4% are near-duplicates
    (one or two words changed) of an earlier document, so the dedup and
    similarity operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
        else:
            idx = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            words = [_VOCAB[j] for j in idx]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(out_dir: str, sf: float) -> None:
    """Write the ten fixture tables for scale factor ``sf`` into
    ``out_dir`` (row counts: lineitem 6M·sf, orders 1.5M·sf, ...)."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def pick(options, n):
        return [options[j] for j in rng.integers(0, len(options), n)]

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": pick(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pick(_PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": pick(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.cumsum(rng.exponential(26e6, n_ev)).astype(np.int64),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": pick(_EVENT_TYPES, n_ev),
                "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# DICOM batches
# ---------------------------------------------------------------------------

#: Slice edge lengths and their shares.
SIZES = ((128, 0.10), (256, 0.45), (512, 0.45))
CORRUPT_SHARE = 0.02


@dataclass
class Batch:
    """One ``run_etl`` input directory and what it must yield."""

    path: str
    valid: dict[str, tuple[int, int]] = field(default_factory=dict)  # stem -> shape
    corrupt: list[str] = field(default_factory=list)


def _slice(rng, n: int) -> np.ndarray:
    """An int16 MRI-like slice: noisy elliptical head, a bright lesion."""
    yy, xx = np.mgrid[0:n, 0:n] / n - 0.5
    ry, rx = rng.uniform(0.35, 0.45, 2)
    head = ((yy / ry) ** 2 + (xx / rx) ** 2) <= 1.0
    cy, cx = rng.uniform(-0.15, 0.15, 2)
    lesion = ((yy - cy) ** 2 + (xx - cx) ** 2) <= rng.uniform(0.002, 0.01)
    img = rng.normal(40, 15, (n, n))
    img += head * rng.uniform(600, 900) + lesion * rng.uniform(500, 900)
    return np.clip(img, -1024, 4095).astype(np.int16)


def _is_readable(data: bytes) -> bool:
    from braintumor_data_pipeline_spark.sources.dicom import dcmread

    try:
        dcmread(data).pixel_array
    except Exception:  # noqa: BLE001 — any parse failure means unreadable
        return False
    return True


def make_dicom_batches(
    out_dir: str, seed: int, n_batches: int, per_batch: int
) -> list[Batch]:
    """Write ``n_batches`` directories of ``per_batch`` files each.
    Corrupt files (half truncated inside the pixel data, half random bytes)
    make up ``CORRUPT_SHARE`` of the files, at least one."""
    from braintumor_data_pipeline_spark.sources.dicom import dcmwrite

    rng = np.random.default_rng(seed)
    pick = random.Random(seed)
    total = n_batches * per_batch
    n_corrupt = max(1, round(total * CORRUPT_SHARE))
    corrupt_ids = set(pick.sample(range(total), n_corrupt))
    # the size mix is exact and only its order is seeded, so every seed
    # asks for the same pixel work
    edges = [edge for edge, share in SIZES for _ in range(round(total * share))]
    edges = (edges + [SIZES[-1][0]] * total)[:total]
    pick.shuffle(edges)
    batches = []
    n_bad = 0
    for b in range(n_batches):
        batch = Batch(os.path.join(out_dir, f"batch{b:02d}"))
        os.makedirs(batch.path, exist_ok=True)
        for k in range(per_batch):
            i = b * per_batch + k
            n = edges[i]
            px = _slice(rng, n)
            wc = [float(rng.integers(300, 700)), 400.0] if i % 7 == 0 else float(
                rng.integers(300, 700)
            )
            data = dcmwrite(
                px,
                patient_id="" if i % 11 == 0 else f"P{seed}-{i // 4}",
                study_uid=f"1.2.{seed}.{b}",
                series_uid=f"1.2.{seed}.{b}.1",
                sop_uid=f"1.2.{seed}.{b}.1.{k}",
                window_center=None if i % 5 == 0 else wc,
                window_width=None if i % 5 == 0 else float(rng.integers(800, 1600)),
            )
            stem = f"img{i:05d}"
            if i in corrupt_ids:
                n_bad += 1
                if n_bad % 2:
                    # cut inside the pixel data: too few samples for rows×cols
                    data = data[: len(data) - int(rng.integers(3, n * n))]
                else:
                    data = rng.bytes(int(rng.integers(2_000, 40_000)))
                while _is_readable(data):  # a random draw that parses is not corrupt
                    data = rng.bytes(len(data))
                batch.corrupt.append(stem)
            else:
                batch.valid[stem] = px.shape
            with open(os.path.join(batch.path, stem + ".dcm"), "wb") as fh:
                fh.write(data)
        batches.append(batch)
    return batches
