"""perfbench: end-to-end and per-layer benchmark of the package.

Run from the root of a checkout::

    python3 perfbench/run.py --workload analytics_sf0.1 --seed 1 --seconds 20 --trace 0

One process drives a closed loop with one client: each op starts when the
previous one has finished, on Spark ``local[<cores>]``. A run sets up, runs
one cold pass, then a fixed number of warm passes that takes about
``--seconds`` at HEAD, checks every op's result outside its timing, and
prints a report. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. See
``perfbench/README.md``.

Inputs, Spark scratch space and outputs all live under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
PKG = "braintumor_data_pipeline_spark"

#: Query ops → the package module that registers them (the layer name).
TABULAR = {
    "flagship_avg_by_group": "operators.relational",
    "latest_events": "operators.relational",
    "pricing_summary": "operators.relational",
    "star_join_revenue": "operators.relational",
    "top_revenue_orders": "operators.relational",
    "window_rank_orders": "operators.relational",
    "rollup_lineitem": "operators.relational",
    "histogram_totalprice": "operators.relational",
    "events_session_30m": "streaming.events",
    "events_asof_last_view": "streaming.events",
    "events_tumbling_5m": "streaming.events",
}
#: bm25_search_topk and tfidf_topk_terms belong here but take 86 s and 37 s
#: per call at sf0.1 on 4 cores, longer than a whole run may take;
#: word_freq_top100 keeps the text layer measured.
MLPREP = {
    "minhash_dedup_groups": "operators.dedup",
    "ngram_jaccard_pairs": "operators.dedup",
    "knn_bruteforce_cosine": "operators.similarity",
    "region_grow_component": "operators.segmentation",
    "mask_metrics": "operators.masks",
    "pixel_minmax_normalize": "operators.pixels",
    "word_freq_top100": "operators.text",
}
STREAM = "streaming.run_streaming_tumbling_counts"
ETL = "plans.etl.run_etl"

#: workload → (query ops, runs the stream op, runs the ETL batches)
WORKLOADS = {
    "etl_dicom": ({}, False, True),
    "analytics_sf0.1": ({**TABULAR, **MLPREP}, True, False),
}

#: Warm pass wall time at HEAD on 4 cores. A run makes
#: round(--seconds / this) warm passes, so every run of a workload does the
#: same work and a faster program finishes its run sooner.
NOMINAL_PASS_S = {"etl_dicom": 3.2, "analytics_sf0.1": 10.0}

#: (fixture scale, ETL batches, DICOMs per batch, set-ups) of a run
FULL = (0.1, 6, 16, 2)
SMOKE = (0.001, 2, 5, 1)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
}
#: Printed, not in the JSON metrics: the driver JVM's heap growth made it
#: vary by 31% between runs (quartile spread over ten seeds), more than
#: any bound a run-to-run comparison may use.
REPORT_ONLY = {"peak_rss_mb": "MB"}

SETUP = ("registry.all_queries_s", "session.get_spark_s", "session.first_job_s")
KERNELS = (
    "sources.dicom.dcmread_ms",
    "functions.imaging.apply_windowing_pipeline_ms",
    "functions.imaging.clahe_ms",
    "functions.imaging.gaussian_blur_ms",
    "sources.png.encode_png_ms",
)
ETL_PLAN = (
    "plans.etl.process_dicom_files_s",
    "plans.etl.run_etl_s",
    "plans.etl.run_etl.single_task_share",
    "plans.etl.kernel_share",
)
CACHING = ("caching.released_per_pass", "caching.release_tracked_s",
           "caching.cached_mb_peak")
#: every workload runs these: the per-op release, Spark's spill counter and
#: the tracing overhead
ALWAYS = CACHING + ("spark.spill_mb", "trace.overhead_s")


def _op_metrics(ops: dict[str, str]) -> list[str]:
    return [
        f"{module}.{name}.{m}"
        for name, module in ops.items()
        for m in ("build_s", "exec_s", "single_task_share", "shuffle_write_mb")
    ]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order. Each traced run reports all
    of them; those of a layer the workload does not run (see
    :func:`exercised`) read 0."""
    return [
        *SETUP, *KERNELS, *ETL_PLAN, *_op_metrics({**TABULAR, **MLPREP}),
        *CACHING, STREAM + "_s", "spark.spill_mb", "trace.overhead_s",
    ]


def exercised(workload: str) -> set[str]:
    """The per-layer metrics that ``workload`` measures."""
    query_ops, with_stream, with_etl = WORKLOADS[workload]
    names = {*SETUP, *ALWAYS, *_op_metrics(query_ops)}
    if with_stream:
        names.add(STREAM + "_s")
    if with_etl:
        names.update(KERNELS + ETL_PLAN)
    return names


def unit_of(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb") or metric.endswith("_mb_peak"):
        return "MB"
    if metric.endswith("share"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# Environment and set-up
# ---------------------------------------------------------------------------

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep Spark, the Python workers and temp files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }


def set_up():
    """Process set-up as a user pays it: import the registry (which imports
    every operator module), start the session, run the first job."""
    t0 = time.perf_counter()
    from braintumor_data_pipeline_spark import registry

    specs = registry.all_queries()
    t1 = time.perf_counter()
    from braintumor_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(100_000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, specs, {
        "setup_s": t3 - t0,
        "registry.all_queries_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.first_job_s": t3 - t2,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _child(*args: str, timeout: float = 600) -> str:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, timeout=timeout, check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def _fixture_path(scale: float) -> str:
    return os.path.join(WORK, "fixtures", f"sf{scale:g}")


def fixture_dir(scale: float) -> str:
    """Tables and oracle results for ``scale``, made once per checkout and
    again when an op has no stored oracle result."""
    from checks import ORACLE_FILE, load_oracles

    path = _fixture_path(scale)
    if not (
        os.path.exists(os.path.join(path, ORACLE_FILE))
        and set(TABULAR) | set(MLPREP) <= set(load_oracles(path))
    ):
        _child("--prepare", str(scale))
    return path


def _prepare(scale: float) -> None:
    from checks import prepare_oracles
    from fixtures import make_tables

    path = _fixture_path(scale)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make_tables(tmp, scale)
    prepare_oracles(tmp, list(TABULAR) + list(MLPREP))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    print("prepared", path)


# ---------------------------------------------------------------------------
# Ops
# ---------------------------------------------------------------------------

class Ctx:
    def __init__(self, spark, specs, fixtures, tracer, run_dir):
        self.spark = spark
        self.specs = specs
        self.fixtures = fixtures
        self.tracer = tracer
        self.run_dir = run_dir
        self.checker = None
        self.batch_tumbling = None  # this pass's batch events_tumbling_5m
        self.n_out = 0

    def fresh_dir(self, tag: str) -> str:
        self.n_out += 1
        return os.path.join(self.run_dir, "out", f"{self.n_out:05d}-{tag}")


class Op:
    """One client request. ``execute`` is timed; ``check`` is not."""

    layer = ""
    name = ""

    def execute(self, ctx) -> None:
        raise NotImplementedError

    def check(self, ctx) -> str | None:
        return None


class QueryOp(Op):
    def __init__(self, name: str, module: str):
        self.name = name
        self.layer = f"{module}.{name}"

    def execute(self, ctx):
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span(self.layer + ".build"):
            df = ctx.specs[self.name].fn(ctx.spark, ctx.fixtures)
        t1 = time.perf_counter()
        with tr.span(self.layer + ".exec"):
            self.result = df.toArrow()
        self.build_s, self.exec_s = t1 - t0, time.perf_counter() - t1

    def check(self, ctx):
        if self.name == "events_tumbling_5m":
            ctx.batch_tumbling = self.result
        err = ctx.checker.check(self.name, self.result)
        self.result = None
        return err


class StreamOp(Op):
    name = layer = STREAM

    def execute(self, ctx):
        from braintumor_data_pipeline_spark.streaming.events import (
            run_streaming_tumbling_counts,
        )

        self.out = ctx.fresh_dir("stream")
        self.frame = run_streaming_tumbling_counts(
            ctx.spark, ctx.fixtures, os.path.join(self.out, "checkpoint")
        )

    def check(self, ctx):
        # compared with the batch result at the end of the pass
        self.result = self.frame.toArrow()
        shutil.rmtree(self.out, ignore_errors=True)
        return None


class EtlOp(Op):
    layer = ETL

    def __init__(self, batch):
        self.batch = batch
        self.name = f"run_etl[{os.path.basename(batch.path)}]"

    def execute(self, ctx):
        from braintumor_data_pipeline_spark.plans.etl import run_etl

        self.out = ctx.fresh_dir("etl")
        self.accepted = run_etl(
            ctx.spark, self.batch.path, os.path.join(self.out, "png"),
            os.path.join(self.out, "stats.parquet"),
        )
        self.items = self.accepted
        n_files = len(self.batch.valid) + len(self.batch.corrupt)
        self.counts = {"accepted": self.accepted, "rejected": n_files - self.accepted}

    def check(self, ctx):
        from checks import check_etl

        err = check_etl(
            self.batch, self.accepted, os.path.join(self.out, "png"),
            os.path.join(self.out, "stats.parquet"),
        )
        shutil.rmtree(self.out, ignore_errors=True)
        return err


def _holds_cache(spark) -> bool:
    jss = spark._jsparkSession
    return not (
        jss.sharedState().cacheManager().isEmpty()
        and spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    )


def run_op(ctx, op, traced: bool, seq: int) -> dict:
    """Run one op: cache hygiene, timed execute, tracked-cache release,
    then the untimed check."""
    from braintumor_data_pipeline_spark.caching import release_tracked

    spark, tr = ctx.spark, ctx.tracer
    rec = {"op": op.name, "layer": op.layer, "err": None, "items": 1}
    if _holds_cache(spark):
        rec["err"] = "Spark held cached data when the op started"
        spark.catalog.clearCache()
    group = f"perfbench-{seq}"
    if traced:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
    t0 = time.perf_counter()
    try:
        with tr.span(op.layer, op_id=group):
            op.execute(ctx)
    except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
        rec["err"] = f"raised {type(exc).__name__}: {str(exc)[:200]}"
    rec["latency_s"] = time.perf_counter() - t0
    if rec["err"] is None:
        rec.update(getattr(op, "counts", {}))
    if traced:
        from spans import cached_bytes, stage_totals

        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["stages"] = stage_totals(spark, group)
        rec["cached_b"] = cached_bytes(spark)
        rec["build_s"] = getattr(op, "build_s", None)
        rec["exec_s"] = getattr(op, "exec_s", None)
    t1 = time.perf_counter()
    with tr.span("caching.release_tracked", op_id=group):
        rec["released"] = release_tracked()
    rec["release_s"] = time.perf_counter() - t1
    if rec["err"] is None:
        t2 = time.perf_counter()
        try:
            rec["err"] = op.check(ctx)
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"check raised {type(exc).__name__}: {str(exc)[:200]}"
        rec["check_s"] = time.perf_counter() - t2
        rec["items"] = getattr(op, "items", 1)
    if rec["err"] is not None:
        rec["items"] = 0
    return rec


def run_pass(ctx, ops, rng, traced: bool, seq0: int) -> dict:
    """One pass over ``ops`` in a seeded order. ``pass_s`` is its wall
    time minus the time spent in correctness checks."""
    from checks import check_stream

    ctx.batch_tumbling = None
    ctx.tracer.enabled = traced
    gc.collect()  # drop the previous pass's results before timing
    order = rng.sample(ops, len(ops))
    t0 = time.perf_counter()
    with ctx.tracer.span("pass"):
        recs = [run_op(ctx, op, traced, seq0 + i) for i, op in enumerate(order)]
    wall = time.perf_counter() - t0
    for op, rec in zip(order, recs):
        if isinstance(op, StreamOp) and rec["err"] is None:
            rec["err"] = check_stream(op.result, ctx.batch_tumbling)
            op.result = None
            if rec["err"] is not None:
                rec["items"] = 0
    checks = sum(r.get("check_s", 0.0) for r in recs)
    return {"ops": recs, "pass_s": wall - checks, "traced": traced, "wall": wall}


# ---------------------------------------------------------------------------
# Traced-run probes (outside the passes)
# ---------------------------------------------------------------------------

def replay_image(data: bytes) -> tuple[bytes, list[float]]:
    """One DICOM through ``run_etl``'s per-image chain, in-process: the PNG
    it writes and the time of each step of :data:`KERNELS`, in ms. The
    benchmark's tests check that the PNG equals ``run_etl``'s."""
    from braintumor_data_pipeline_spark.functions.imaging import (
        apply_windowing_pipeline, clahe, gaussian_blur,
    )
    from braintumor_data_pipeline_spark.sources.dicom import dcmread
    from braintumor_data_pipeline_spark.sources.png import encode_png

    t = [time.perf_counter()]
    ds = dcmread(data)
    arr = ds.pixel_array
    t.append(time.perf_counter())
    wc, ww = ds.window_center, ds.window_width
    img, _, _ = apply_windowing_pipeline(
        arr, wc[0] if wc else None, ww[0] if ww else None
    )
    t.append(time.perf_counter())
    img = clahe(img, clip_limit=2.0, tile_grid=(8, 8))
    t.append(time.perf_counter())
    img = gaussian_blur(img, 0.5)
    t.append(time.perf_counter())
    png = encode_png(img)
    t.append(time.perf_counter())
    return png, [(b - a) * 1e3 for a, b in zip(t, t[1:])]


def etl_probe(ctx, batches) -> dict:
    """Per-image kernel times from an in-process replay of the batches,
    and each batch through ``process_dicom_files`` into the noop sink."""
    import numpy as np

    from braintumor_data_pipeline_spark.plans.etl import process_dicom_files

    tot = dict.fromkeys(KERNELS, 0.0)
    n_img = 0
    noop = []
    for b in batches:
        for stem in b.valid:
            with open(os.path.join(b.path, stem + ".dcm"), "rb") as fh:
                _, ms = replay_image(fh.read())
            for name, v in zip(KERNELS, ms):
                tot[name] += v
            n_img += 1
        with ctx.tracer.span("plans.etl.process_dicom_files"):
            t0 = time.perf_counter()
            process_dicom_files(ctx.spark, b.path).write.format("noop").mode(
                "overwrite"
            ).save()
            noop.append(time.perf_counter() - t0)
    out = {k: v / max(n_img, 1) for k, v in tot.items()}
    out["plans.etl.process_dicom_files_s"] = float(np.median(noop))
    out["_kernel_s"] = sum(tot.values()) / 1e3
    return out


def layer_metrics(ctx, passes, setup_samples, probe, cores) -> dict[str, float]:
    """Per-layer metrics from the traced passes (0 where not exercised)."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    for k in SETUP:
        out[k] = statistics.median(s[k] for s in setup_samples)
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]  # warm, untraced
    by_layer = defaultdict(list)
    for p in traced:
        for r in p["ops"]:
            by_layer[r["layer"]].append(r)

    def share(recs):
        run = sum(r["stages"]["run_ms"] for r in recs)
        return sum(r["stages"]["single_ms"] for r in recs) / run if run else 0.0

    for layer, recs in by_layer.items():
        if layer == STREAM:
            out[STREAM + "_s"] = statistics.median(r["latency_s"] for r in recs)
        elif layer == ETL:
            out["plans.etl.run_etl_s"] = statistics.median(r["latency_s"] for r in recs)
            out["plans.etl.run_etl.single_task_share"] = share(recs)
        else:
            out[layer + ".build_s"] = statistics.median(r["build_s"] for r in recs)
            out[layer + ".exec_s"] = statistics.median(r["exec_s"] for r in recs)
            out[layer + ".single_task_share"] = share(recs)
            out[layer + ".shuffle_write_mb"] = statistics.median(
                r["stages"]["shuffle_b"] / 1e6 for r in recs
            )
    if traced:
        out["caching.released_per_pass"] = statistics.median(
            sum(r["released"] for r in p["ops"]) for p in traced
        )
        out["caching.release_tracked_s"] = statistics.median(
            sum(r["release_s"] for r in p["ops"]) for p in traced
        )
        out["caching.cached_mb_peak"] = max(
            r["cached_b"] for p in traced for r in p["ops"]
        ) / 1e6
        out["spark.spill_mb"] = statistics.median(
            sum(r["stages"]["spill_b"] for r in p["ops"]) / 1e6 for p in traced
        )
        if plain:
            out["trace.overhead_s"] = statistics.median(
                p["pass_s"] for p in traced
            ) - statistics.median(p["pass_s"] for p in plain)
    if probe:
        etl = [r for r in traced[-1]["ops"] if r["layer"] == ETL]
        for k in KERNELS + ("plans.etl.process_dicom_files_s",):
            out[k] = probe[k]
        out["plans.etl.kernel_share"] = probe["_kernel_s"] / (
            sum(r["latency_s"] for r in etl) * cores
        )
    return out


# ---------------------------------------------------------------------------
# Metrics and report
# ---------------------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). With ten samples or fewer, the
    maximum."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10 if n > 10 else n  # 1-based rank
    return xs[k - 1], 100.0 * k / n, n - k


def _host_ref_s() -> float:
    """Seconds of a fixed pure-Python loop on one core, the fastest of five:
    a gauge of the host's speed at this moment, printed in the box record so
    that a shift between sets of runs can be told apart from a change of the
    program. It imports nothing, so it does not change what set-up pays."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def end_to_end(passes, setup_samples, peak_rss_mb) -> tuple[dict, dict]:
    cold, warm = passes[0], [p for p in passes[1:] if not p["traced"]]
    lat = [r["latency_s"] for p in warm for r in p["ops"]]
    t_val, t_pct, t_beyond = tail(lat)
    items = sum(r["items"] for p in warm for r in p["ops"])
    metrics = {
        "setup_s": statistics.median(s["setup_s"] for s in setup_samples),
        "cold_pass_s": cold["pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in warm),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t_val,
        "items_per_s": items / sum(p["pass_s"] for p in warm),
        "peak_rss_mb": peak_rss_mb,
    }
    notes = {
        "setup_s": f"median of {len(setup_samples)} set-ups",
        "pass_s": "median of warm passes " + " ".join(f"{p['pass_s']:.2f}" for p in warm),
        "op_p50_s": f"{len(lat)} ops",
        "op_tail_s": f"p{t_pct:.0f} of {len(lat)} ops, {t_beyond} beyond",
        "peak_rss_mb": "VmHWM, driver JVM + benchmark process",
    }
    return metrics, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="scale-0.001 tables, 2 batches of 5 DICOMs, one set-up, "
                         "one warm pass (for the benchmark's own tests)")
    ap.add_argument("--prepare", type=float, metavar="SCALE", help=argparse.SUPPRESS)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    _prepare_env()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if args.prepare is not None:
        _prepare(args.prepare)
        return 0
    if args.setup_probe:
        spark, _, sample = set_up()
        stop_spark(spark)
        print(json.dumps(sample))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    load_start, ref_start = os.getloadavg(), _host_ref_s()
    # Nothing that imports the package may load before this, so this
    # sample and the child's pay the same imports.
    spark, specs, first = set_up()
    scale, n_batches, per_batch, n_setups = SMOKE if args.smoke else FULL
    t_probe = time.perf_counter()
    setup_samples = [first] + [
        json.loads(_child("--setup-probe", timeout=170))
        for _ in range(n_setups - 1)
    ]
    t_probe = time.perf_counter() - t_probe

    from checks import QueryChecker, load_oracles
    from fixtures import make_dicom_batches
    from spans import Tracer

    query_ops, with_stream, with_etl = WORKLOADS[args.workload]
    fixtures = fixture_dir(scale) if query_ops else None
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")

    tracer = Tracer(enabled=False)  # switched on for traced passes
    ctx = Ctx(spark, specs, fixtures, tracer, run_dir)
    ops: list[Op] = [QueryOp(n, m) for n, m in query_ops.items()]
    if with_stream:
        ops.append(StreamOp())
    batches = []
    if query_ops:
        ctx.checker = QueryChecker(load_oracles(fixtures))
    if with_etl:
        batches = make_dicom_batches(
            os.path.join(run_dir, "dicom"), args.seed, n_batches, per_batch
        )
        ops += [EtlOp(b) for b in batches]

    rng = random.Random(args.seed)
    n_warm = 1 if args.smoke else max(
        2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:  # as many traced passes as untraced, in ABBA order
        n_warm = -(-n_warm // 2) * 2
    passes = [run_pass(ctx, ops, rng, traced=False, seq0=0)]
    for i in range(n_warm):
        traced = bool(args.trace) and i % 4 in (1, 2)
        passes.append(run_pass(ctx, ops, rng, traced, seq0=len(passes) * len(ops)))
    tracer.enabled = bool(args.trace)
    probe = etl_probe(ctx, batches) if args.trace and batches else None

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss = _vmhwm_mb(jvm_pid) + _vmhwm_mb(os.getpid())
    metrics, notes = end_to_end(passes, setup_samples, peak_rss)
    sentinel = None
    if args.trace:
        layers = layer_metrics(ctx, passes, setup_samples, probe, _cores())
        import bench

        sentinel = bench._python_worker_sentinel(spark)
    load_end, ref_end = os.getloadavg(), _host_ref_s()
    stop_spark(spark)

    all_ops = [r for p in passes for r in p["ops"]]
    failed = [r for r in all_ops if r["err"] is not None]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"closed loop, 1 client, local[{os.environ['SPARK_GRAFT_CPUS']}], "
          f"{len(ops)} ops/pass, 1 cold + {len(passes) - 1} warm passes, "
          f"set-up probes {t_probe:.1f} s, checks "
          f"{sum(r.get('check_s', 0.0) for r in all_ops):.1f} s")
    print(f"box: nproc={_cores()} SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"loadavg_1m start={load_start[0]:.2f} end={load_end[0]:.2f} "
          f"host_ref_s start={ref_start:.3f} end={ref_end:.3f}"
          + (f" py_worker_sentinel_s={sentinel:.3f}" if sentinel is not None else ""))
    for k, v in metrics.items():
        label = "etl_images_per_s" if k == "items_per_s" and with_etl else k
        note = notes.get(k, "")
        unit = {**END_TO_END, **REPORT_ONLY}[k]
        print(f"  {label:<18} {v:12.4f} {unit:<4} {note}")
    warm_by_op = defaultdict(list)
    for p in passes[1:]:
        for r in p["ops"]:
            warm_by_op[r["op"]].append(r["latency_s"])
    print("  warm op latency (s): " + ", ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in sorted(
            warm_by_op.items(), key=lambda kv: statistics.median(kv[1]))))
    print(f"  {'failed_share':<18} {len(failed) / len(all_ops):12.4f}      "
          f"{len(failed)} of {len(all_ops)} ops")
    if with_etl:  # exact counts, checked against the generated files per op
        etl = [r for r in passes[-1]["ops"] if r["layer"] == ETL]
        print(f"  plans.etl.accepted {sum(r.get('accepted', 0) for r in etl)} "
              f"(generated valid {sum(len(b.valid) for b in batches)}), "
              f"plans.etl.rejected {sum(r.get('rejected', 0) for r in etl)} "
              f"(generated corrupt {sum(len(b.corrupt) for b in batches)}), "
              "last pass")
    for r in failed[:10]:
        print(f"  FAILED {r['op']}: {r['err']}")
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
    }
    if args.trace:
        tracer.write(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        selfs = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])
        print("  span self time (s):")
        for name, s in selfs[:12]:
            print(f"    {name:<60} {s:9.3f}")
        print(f"  trace.overhead_s {layers['trace.overhead_s']:.4f} "
              "(traced pass_s - untraced pass_s; negative when the "
              "overhead is below the pass-to-pass noise)")
        result["metrics"] = {
            k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
        }
    else:
        result["metrics"] = {
            k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
