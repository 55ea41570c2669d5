"""Central query registry — the contract surface the driver checks.

Every operator from SURVEY §2 that we implement registers here as a named
query: a ``(spark, sf_dir) -> DataFrame`` builder, plus (when the operator
is SQL-expressible) an equivalent DuckDB oracle SQL string. The driver
runs both at sf0.01 and compares row-count + schema + order-insensitive
value-hash, so:

- every computed column is aliased identically on both sides;
- every floating-point output is ``round(x, 6)`` on both sides (different
  summation orders perturb low bits; 6 decimals is far coarser than the
  ~1e-10 relative error of double accumulation at these row counts);
- every LIMIT carries a total-order ORDER BY (value, then key) so both
  engines cut the same prefix.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: Set when the oracle is a frozen VALUES golden generated at one
    #: specific scale factor (tools/pin_oracle.py) rather than a
    #: recomputation — valid only at that SF; verify_local downgrades it
    #: to rows-only elsewhere. None for true recomputing oracles.
    pinned_sf: str | None = None


_REGISTRY: dict[str, QuerySpec] = {}

#: The driver hash-checks only the first DRIVER_WINDOW queries of
#: ``all_queries()``; :func:`driver_window` decides which.
DRIVER_WINDOW = 50

#: bench.py's headline suite, one representative per operator family
#: (SURVEY §2). Always in the window, so the perf and correctness gates
#: cover the same surface.
HEADLINE: tuple[str, ...] = (
    "flagship_avg_by_group",      # A13 group-avg + topk
    "pricing_summary",            # scan-filter-agg (pushdown)
    "star_join_revenue",          # 4-way star join
    "top_revenue_orders",         # selective join + topk
    "window_rank_orders",         # window functions
    "rollup_lineitem",            # grouping sets
    "histogram_totalprice",       # fixed-bin histogram
    "minhash_dedup_groups",       # dedup: minhash signature groups (linear)
    "ngram_jaccard_pairs",        # dedup: inverted-index jaccard
    "knn_bruteforce_cosine",      # similarity top-k
    "pixel_minmax_normalize",     # pixel-relation imaging
    "mask_metrics",               # mask algebra
    "region_grow_component",      # iterative applyInPandas BFS
    "events_session_30m",         # session windows
    "events_asof_last_view",      # as-of join
)

#: Queries whose body changed since their last driver hash. They hold a
#: window slot until WINDOW_LEDGER.json shows a confirmation newer than
#: the change; then drop them from this list.
RECHECK: tuple[str, ...] = ("bm25_search_topk", "tfidf_topk_terms")

#: Rolling module-coverage horizon: every recomputing family is hashed
#: by the current window or by one of the previous (this - 1) rounds.
ROLLING_COVERAGE_ROUNDS = 3

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledger(root: str) -> dict:
    """``WINDOW_LEDGER.json`` at ``root``, or {} when absent or unreadable."""
    try:
        with open(os.path.join(root, "WINDOW_LEDGER.json")) as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        return {}
    return ledger if isinstance(ledger, dict) else {}


def recent_checked_names(root: str | None = None) -> set[str]:
    """Names hash-confirmed (no err; rows, schema and hash all matched)
    in the newest ``ROLLING_COVERAGE_ROUNDS - 1`` driver rounds, read
    from the ``CORRECTNESS_r*.json`` artifacts at ``root``. Red rows do
    not count: a family whose only recent check failed needs a slot.

    The rounds considered are those recorded in ``WINDOW_LEDGER.json``,
    not every artifact on disk, so a ``CORRECTNESS_r*.json`` that lands
    after the ledger was generated cannot advance the horizon and
    uncover a family the window was built around. Without a ledger the
    newest artifacts on disk are used."""
    root = root or _REPO_ROOT
    rounds: dict[int, str] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            rounds[int(m.group(1))] = p
    horizon = sorted(rounds)
    ledger_rounds = _ledger(root).get("rounds")
    if isinstance(ledger_rounds, list):
        horizon = [r for r in horizon if r in ledger_rounds]
    out: set[str] = set()
    for r in horizon[-(ROLLING_COVERAGE_ROUNDS - 1):]:
        try:
            with open(rounds[r]) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and not row.get("err")
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            ):
                out.add(name)
    return out


def family(spec: QuerySpec) -> str:
    """Operator family of a query: the module that registers it."""
    return spec.fn.__module__.rsplit(".", 1)[-1]


def compute_window(
    specs: dict[str, QuerySpec],
    root: str,
    fixed: tuple[str, ...] = HEADLINE + RECHECK,
) -> list[str]:
    """The DRIVER_WINDOW names the driver should hash, built from
    recomputing queries only (oracle-backed, not a pinned golden):

    1. ``fixed`` (HEADLINE + RECHECK);
    2. one member of every family covered neither by step 1 nor by the
       rolling horizon (:func:`recent_checked_names`);
    3. the remaining recomputing queries, filling the window.

    Steps 2 and 3 take queries least recently confirmed first, per
    ``WINDOW_LEDGER.json`` (never confirmed counts as oldest), ties in
    ``specs`` order. Raises if steps 1-2 overflow the window."""
    ledger = _ledger(root).get("queries", {})

    def last_confirmed(name: str) -> int:
        return max(ledger.get(name, {}).get("confirmed_rounds", ()), default=0)

    recompute = [n for n, s in specs.items() if s.oracle and not s.pinned_sf]
    bad = [n for n in fixed if n not in recompute]
    if bad:
        raise RuntimeError(f"window names without a recomputing oracle: {bad}")
    stalest = sorted(recompute, key=last_confirmed)  # stable: ties keep order
    window = list(fixed)
    covered = {family(specs[n]) for n in window}
    covered |= {family(specs[n]) for n in recent_checked_names(root) if n in specs}
    for n in stalest:
        if family(specs[n]) not in covered:
            covered.add(family(specs[n]))
            window.append(n)
    if len(window) > DRIVER_WINDOW:
        raise RuntimeError(
            f"driver window needs {len(window)} slots > {DRIVER_WINDOW}: "
            "shorten HEADLINE or RECHECK"
        )
    chosen = set(window)
    window += [n for n in stalest if n not in chosen][: DRIVER_WINDOW - len(window)]
    return window


@functools.cache
def driver_window() -> tuple[str, ...]:
    """:func:`compute_window` for the full registry and the committed
    artifacts; computed once per process."""
    _load_all()
    return tuple(compute_window(_REGISTRY, _REPO_ROOT))


def _ordered() -> dict[str, QuerySpec]:
    """Registry in driver-facing order: the driver window first, then the
    remaining oracle-backed queries (registration order), then rows-only
    queries (no hash signal — never let them occupy a checked slot)."""
    out: dict[str, QuerySpec] = {n: _REGISTRY[n] for n in driver_window()}
    rest = [n for n in _REGISTRY if n not in out]
    for n in rest:
        if _REGISTRY[n].oracle:
            out[n] = _REGISTRY[n]
    for n in rest:
        if not _REGISTRY[n].oracle:
            out[n] = _REGISTRY[n]
    return out


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    pinned_sf: str | None = None,
):
    """Decorator: register a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags,
            doc=(fn.__doc__ or "").strip(), pinned_sf=pinned_sf,
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Name → spec for everything registered (imports the operator
    modules), ordered so the driver's checked prefix samples every
    operator family (see :func:`compute_window`)."""
    _load_all()
    return _ordered()


def queries_dict() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracles_dict() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_queries().items() if spec.oracle
    }


_loaded = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    # Imported for their registration side effects.
    from .operators import (  # noqa: F401
        relational,
        analytics,
        basket,
        bucketed,
        text,
        dedup,
        similarity,
        pixels,
        masks,
        segmentation,
        imaging_udf,
        multimodal,
        skew,
        bpe,
        components,
        graph,
        graph_twins,
        tpch_shapes,
        llm_pipeline,
        cdc,
        timeseries,
        phash,
        sketch,
        recursive,
        indexing,
        intervals,
        experiments,
    )
    from .plans import app_flow  # noqa: F401
    from .sources import csv_io as _csv_io  # noqa: F401
    from .sources import jsonl as _jsonl  # noqa: F401
    from .sources import orc_io as _orc_io  # noqa: F401
    from .sources import xml_io as _xml_io  # noqa: F401
    from .sources import generator as _generator  # noqa: F401
    from .sources import textdir as _textdir  # noqa: F401
    from .sources import maintenance as _maintenance  # noqa: F401
    from .streaming import events as _events  # noqa: F401

    _loaded = True
