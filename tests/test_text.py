"""Text operators against their DuckDB oracles on an adversarial corpus:
a null text, an empty text and a single-token document sit next to
ordinary ones, so null handling and degenerate token arrays diverge
visibly instead of hiding in a fixture that has none of them."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from braintumor_data_pipeline_spark import registry

EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "spark"),
    (4, "spark join join shuffle"),
    (5, "the shuffle of a join"),
    (6, "join spark spark"),
]


@pytest.mark.parametrize("name", ["bm25_search_topk", "tfidf_topk_terms"])
def test_text_scores_match_oracle_on_edge_documents(spark, tmp_path, name):
    texts = [t for _, t in EDGE_DOCS]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in EDGE_DOCS], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(EDGE_DOCS), pa.string()),
                "source": pa.array(["web"] * len(EDGE_DOCS), pa.string()),
                "n_chars": pa.array(
                    [None if t is None else len(t) for t in texts], pa.int64()
                ),
            }
        ),
        tmp_path / "documents.parquet",
    )
    spec = registry.all_queries()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    cur = con.execute(spec.oracle)
    cols = [c[0] for c in cur.description]
    want = cur.fetchall()

    got_df = spec.fn(spark, str(tmp_path))
    assert sorted(got_df.columns) == sorted(cols)
    got = [tuple(r[c] for c in cols) for r in got_df.collect()]
    assert want
    assert sorted(got, key=str) == sorted(want, key=str)
