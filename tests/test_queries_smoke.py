"""Smoke: every registered query runs at sf0.001 and the driver contract
holds (full value parity vs DuckDB is tools/verify_local.py's job)."""

from __future__ import annotations

import pytest

from braintumor_data_pipeline_spark import registry


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_query_runs(spark, sf_dir, name):
    spec = registry.all_queries()[name]
    df = spec.fn(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
    # No registered query may OUTPUT a decimal column (r9 verdict): the
    # driver's hasher canonicalizes DECIMAL differently per engine (a
    # pandas-style fetch renders DuckDB DECIMAL as float64 repr while
    # Spark yields Decimal), so exact values still hash-mismatch.
    # Decimal REDUCTIONS stay internal; outputs cast to string/bigint.
    from pyspark.sql.types import DecimalType

    decimal_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not decimal_cols, (
        f"{name} outputs decimal column(s) {decimal_cols}; cast to a "
        "canonical digit string or bigint before returning"
    )


def test_contract_shape():
    import __spark_entry__ as m

    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 140
    assert "flagship_avg_by_group" in qs


def test_driver_window_samples_every_family():
    """The driver hash-checks only the first DRIVER_WINDOW queries; that
    prefix must be exactly driver_window(): oracle-backed throughout,
    covering every operator family within the rolling horizon, and containing
    every bench HEADLINE query so perf and correctness gates cover the
    same surface."""
    import bench

    specs = registry.all_queries()
    names = list(specs)
    window = names[: registry.DRIVER_WINDOW]

    assert len(registry.driver_window()) == registry.DRIVER_WINDOW
    assert window == list(registry.driver_window())
    # every windowed query carries a hashable oracle
    assert all(specs[n].oracle for n in window)
    # ROLLING-3 coverage (r11 policy, VERDICT r10 task 1): every
    # operator family (module) with a RECOMPUTING oracle has a
    # representative inside the current window OR in one of the two
    # most recent driver-checked rounds — no module is ever more than
    # ROLLING_COVERAGE_ROUNDS - 1 rounds from its last driver hash,
    # while freed rep slots amortize never-checked queries. Families
    # whose only oracles are frozen sf0.01 goldens (pinned_sf) don't
    # claim coverage — the window prefers cross-engine recomputation
    # over golden comparison.
    fam = lambda n: specs[n].fn.__module__.rsplit(".", 1)[-1]  # noqa: E731
    recompute_fams = {
        fam(n) for n in specs if specs[n].oracle and not specs[n].pinned_sf
    }
    recent = {n for n in registry.recent_checked_names() if n in specs}
    covered = {fam(n) for n in window} | {fam(n) for n in recent}
    assert recompute_fams <= covered, (
        f"families outside the rolling-{registry.ROLLING_COVERAGE_ROUNDS} "
        f"coverage horizon: {sorted(recompute_fams - covered)}"
    )
    # bench and driver check the same surface
    assert set(bench.HEADLINE) <= set(window)
    # rows-only queries never occupy a slot ahead of an oracle-backed one
    kinds = [bool(specs[n].oracle) for n in names]
    assert kinds == sorted(kinds, reverse=True)


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0


def test_chunk_packing_invariants(spark, sf_dir):
    """Greedy packing: budget respected for multi-doc packs, oversize
    docs isolated, doc order inside a pack preserved, deterministic."""
    from collections import defaultdict

    from braintumor_data_pipeline_spark.operators.llm_pipeline import (
        PACK_BUDGET,
        chunk_packing_greedy,
    )

    rows = chunk_packing_greedy(spark, sf_dir).collect()
    assert rows
    packs = defaultdict(list)
    for r in rows:
        packs[(r.source, r.pack_id)].append(r)
    for (_, _), members in packs.items():
        total = sum(r.n_tokens for r in members)
        if len(members) > 1:
            assert total <= PACK_BUDGET
        # doc order within the pack is ascending (fill order)
        ids = [r.doc_id for r in members]
        assert ids == sorted(ids)
    rows2 = chunk_packing_greedy(spark, sf_dir).collect()
    assert {(r.source, r.pack_id, r.doc_id) for r in rows} == {
        (r.source, r.pack_id, r.doc_id) for r in rows2
    }


def test_rolling_coverage_counts_only_green_rows(tmp_path):
    """recent_checked_names must treat a RED driver row (err, or any
    match flag false/absent) as NOT covered — a family whose only
    recent check failed still needs a live window slot — and must read
    only the newest ROLLING_COVERAGE_ROUNDS - 1 artifacts."""
    import json

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"too_old_green": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "green_recent": green,
                "hash_red": {**green, "hash_match": False},
                "errored": {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "err": "Traceback ...",
                },
            }
        )
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"green_newest": green, "rows_red": {**green, "rows_match": False}})
    )
    got = registry.recent_checked_names(root=str(tmp_path))
    assert got == {"green_recent", "green_newest"}


def test_rolling_coverage_horizon_anchored_to_ledger(tmp_path):
    """ADVICE r11: the horizon must be the newest rounds RECORDED IN
    the committed WINDOW_LEDGER.json, so a CORRECTNESS artifact the
    driver drops MID-ROUND cannot silently advance the horizon and
    trip a window designed with zero family keeps. With a ledger
    listing rounds [1, 2], artifact r03 on disk must be IGNORED."""
    import json

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"green_r1": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"green_r2": green})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"green_inprogress": green})
    )
    (tmp_path / "WINDOW_LEDGER.json").write_text(
        json.dumps({"rounds": [1, 2], "queries": {}, "summary": {}})
    )
    got = registry.recent_checked_names(root=str(tmp_path))
    assert got == {"green_r1", "green_r2"}
    # corrupt ledger: falls back to newest-k artifacts on disk
    (tmp_path / "WINDOW_LEDGER.json").write_text("not json")
    got = registry.recent_checked_names(root=str(tmp_path))
    assert got == {"green_r2", "green_inprogress"}


def _synthetic_specs(families):
    """QuerySpecs for ``{family: [name, ...]}`` in registration order; a
    name ending in ``_pinned`` carries a pinned golden, one ending in
    ``_rows`` no oracle."""
    specs = {}
    for fam, names in families.items():
        for n in names:
            def fn(spark, sf_dir):
                return None

            fn.__module__ = f"pkg.operators.{fam}"
            oracle = None if n.endswith("_rows") else "SELECT 1"
            pinned = "0.01" if n.endswith("_pinned") else None
            specs[n] = registry.QuerySpec(n, fn, oracle, pinned_sf=pinned)
    return specs


def test_window_keeps_stalest_member_of_uncovered_families(tmp_path, monkeypatch):
    """Families outside the horizon get one keep, never-checked first,
    else the oldest confirmation; the fill follows the same order.
    Pinned and rows-only queries never enter, and an artifact the
    ledger does not list (r05) does not move the horizon."""
    import json

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"a1": green}))
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({"c1": green}))
    (tmp_path / "CORRECTNESS_r05.json").write_text("{}")  # not in the ledger
    confirmed = {"a1": [2, 3], "a2": [1], "a3": [1], "b1": [1], "c1": [4]}
    (tmp_path / "WINDOW_LEDGER.json").write_text(
        json.dumps(
            {
                "rounds": [1, 2, 3, 4],
                "queries": {
                    n: {"confirmed_rounds": r, "checked_rounds": r}
                    for n, r in confirmed.items()
                },
            }
        )
    )
    specs = _synthetic_specs(
        {
            "h": ["h1"],
            "a": ["a1", "a2", "a3"],
            "b": ["b1", "b2"],
            "c": ["c1", "c2"],
            "d": ["d1_pinned", "d2_rows"],
        }
    )
    monkeypatch.setattr(registry, "DRIVER_WINDOW", 5)
    # horizon = ledger rounds on disk, newest 2 = r03, r04: a and c covered
    assert registry.compute_window(specs, str(tmp_path), ("h1",)) == [
        "h1", "b2", "c2", "a2", "a3",
    ]
    # without r03 in the horizon, family a needs its stalest member: a2
    # (confirmed r1) over a1 (r3), and over a3 (also r1) by registration
    (tmp_path / "CORRECTNESS_r03.json").unlink()
    assert registry.compute_window(specs, str(tmp_path), ("h1",)) == [
        "h1", "b2", "a2", "c2", "a3",
    ]


def test_window_overflow_and_unknown_names_raise(tmp_path, monkeypatch):
    specs = _synthetic_specs({"h": ["h1"], "a": ["a1"], "b": ["b1"]})
    monkeypatch.setattr(registry, "DRIVER_WINDOW", 2)
    with pytest.raises(RuntimeError, match="3 slots"):
        registry.compute_window(specs, str(tmp_path), ("h1",))
    with pytest.raises(RuntimeError, match="nope"):
        registry.compute_window(specs, str(tmp_path), ("nope",))


def test_window_without_ledger_is_full_and_covers_every_family(tmp_path):
    """An installed copy without the driver artifacts still builds a
    full window: fixed names plus one member of every recomputing
    family."""
    specs = registry.all_queries()
    window = registry.compute_window(specs, str(tmp_path))
    recompute = [n for n, s in specs.items() if s.oracle and not s.pinned_sf]
    assert len(window) == len(set(window)) == registry.DRIVER_WINDOW
    assert window[: len(registry.HEADLINE + registry.RECHECK)] == list(
        registry.HEADLINE + registry.RECHECK
    )
    assert set(window) <= set(recompute)
    assert {registry.family(specs[n]) for n in window} == {
        registry.family(specs[n]) for n in recompute
    }
