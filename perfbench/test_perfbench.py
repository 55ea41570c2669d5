"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

The smoke runs use scale-0.001 fixture tables, a handful of DICOMs and one
warm pass, so each takes seconds of Spark time rather than a full run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import run  # noqa: E402
from checks import QueryChecker, _canon, check_etl  # noqa: E402
from fixtures import Batch, make_dicom_batches  # noqa: E402
from spans import Tracer  # noqa: E402

SMOKE = ["--seed", "3", "--smoke"]


def _bench(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_pass_reports_every_metric(workload):
    p = _bench("--workload", workload, "--trace", "0", *SMOKE)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    report = "\n".join(lines[:-1])
    for name, unit in {**run.END_TO_END, **run.REPORT_ONLY}.items():
        label = "etl_images_per_s" if (
            name == "items_per_s" and workload == "etl_dicom") else name
        assert f" {label} " in report and f" {unit} " in report
    assert "failed_share" in report and "0 of" in report


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_traced_smoke_reports_every_layer_metric(workload):
    """Every per-layer metric is reported. Those of layers the workload does
    not run read exactly 0; the times of those it runs are positive, except
    trace.overhead_s, a difference that noise can make negative."""
    p = _bench("--workload", workload, "--trace", "1", *SMOKE)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert list(result["metrics"]) == run.per_layer_names()
    m = {k: v["value"] for k, v in result["metrics"].items()}
    runs = run.exercised(workload)
    assert {k for k, v in m.items() if k not in runs and v != 0} == set()
    assert {
        k for k in runs
        if run.unit_of(k) in ("s", "ms") and k != "trace.overhead_s" and m[k] <= 0
    } == set()
    assert "trace.overhead_s" in p.stdout
    if workload == "etl_dicom":
        assert ("plans.etl.accepted 9 (generated valid 9), "
                "plans.etl.rejected 1 (generated corrupt 1)") in p.stdout


@pytest.fixture(scope="module")
def session():
    """One Spark session for the in-process tests (a stopped gateway cannot
    be restarted in the same process)."""
    run._prepare_env()
    fixtures = run.fixture_dir(0.001)
    spark, specs, _ = run.set_up()
    yield spark, specs, fixtures
    run.stop_spark(spark)


def test_wrong_expected_result_is_counted_as_failed(session):
    """Feed the query check one deliberately wrong oracle row, through the
    same run_pass path the timed loop uses."""
    spark, specs, fixtures = session
    from checks import load_oracles

    oracles = load_oracles(fixtures)
    rows, cols = oracles["latest_events"]
    bad = [tuple(r) for r in rows]
    bad[0] = tuple(
        (v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else v)
        for v in bad[0]
    )
    ctx = run.Ctx(spark, specs, fixtures, Tracer(False),
                  os.path.join(run.WORK, "test-run"))
    ops = [run.QueryOp("latest_events", "operators.relational"),
           run.QueryOp("histogram_totalprice", "operators.relational")]
    ctx.checker = QueryChecker(dict(oracles, latest_events=(bad, cols)))
    import random

    recs = run.run_pass(ctx, ops, random.Random(0), False, 0)["ops"]
    errs = {r["op"]: r["err"] for r in recs}
    assert errs["histogram_totalprice"] is None
    assert errs["latest_events"] and "mismatch" in errs["latest_events"]


def test_kernel_replay_writes_the_png_run_etl_writes(session, tmp_path):
    """The traced run's per-image kernel times come from replay_image; if
    plans.etl changes its chain, the bytes differ and this fails."""
    from braintumor_data_pipeline_spark.plans.etl import run_etl

    spark = session[0]
    (batch,) = make_dicom_batches(str(tmp_path / "dicom"), 5, 1, 6)
    png_dir = tmp_path / "png"
    assert run_etl(spark, batch.path, str(png_dir), str(tmp_path / "stats")) == len(
        batch.valid)
    for stem in batch.valid:
        with open(os.path.join(batch.path, stem + ".dcm"), "rb") as fh:
            png, ms = run.replay_image(fh.read())
        assert png == (png_dir / f"{stem}.png").read_bytes(), stem
        assert len(ms) == len(run.KERNELS)


def test_query_check_compares_order_insensitively():
    t = pa.table({"k": [2, 1], "v": [0.5, 1.5]})
    good = _canon([(1, 1.5), (2, 0.5)], ["k", "v"])
    checker = QueryChecker({"q": good})
    assert checker.check("q", t) is None
    assert checker.check("q", t.slice(0, 1)) is not None
    wrong = QueryChecker({"q": _canon([(1, 1.5), (2, 0.25)], ["k", "v"])})
    assert "mismatch" in wrong.check("q", t)


def test_etl_check_bites(tmp_path):
    from braintumor_data_pipeline_spark.sources.png import encode_png

    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3)
    png = tmp_path / "png"
    png.mkdir()
    (png / "a.png").write_bytes(encode_png(img))
    stats = str(tmp_path / "stats.parquet")
    pq.write_table(pa.table({"file_name": ["a.dcm"], "rows": [8], "cols": [8],
                             "mean_intensity": [float(img.mean())]}), stats)
    batch = Batch(str(tmp_path), valid={"a": (8, 8)}, corrupt=["b"])
    assert check_etl(batch, 1, str(png), stats) is None
    assert "accepted" in check_etl(batch, 2, str(png), stats)
    wrong_shape = Batch(str(tmp_path), valid={"a": (8, 9)}, corrupt=["b"])
    assert "shape" in check_etl(wrong_shape, 1, str(png), stats)
    pq.write_table(pa.table({"file_name": ["a.dcm"], "rows": [8], "cols": [8],
                             "mean_intensity": [1.0]}), stats)
    assert "mean_intensity" in check_etl(batch, 1, str(png), stats)


def test_tail_keeps_ten_samples_beyond():
    assert run.tail([float(i) for i in range(1, 31)]) == (20.0, 100 * 20 / 30, 10)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_layer_names_match_registry_modules():
    from braintumor_data_pipeline_spark import registry

    specs = registry.all_queries()
    for ops in (run.TABULAR, run.MLPREP):
        for name, module in ops.items():
            assert specs[name].fn.__module__ == f"{run.PKG}.{module}"


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "etl_dicom", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
