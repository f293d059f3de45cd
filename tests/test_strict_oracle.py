"""Strict oracle gate for the KG fact and co-mention queries and the url
source-host queries: Spark ``toPandas()`` against DuckDB ``.df()`` at
sf0.01, compared as sorted string renders of every value — no
``canon()`` relaxation of floats, NULLs or dates (the looser check is
tests/test_entry.py; scripts/strict_oracle_check.py runs this over every
query)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.test_entry import SF_DIR, TABLES

STRICT_QUERIES = [
    "kg_delta", "predicate_stats", "current_facts", "kg_ntriples",
    "kg_constraints", "decayed_facts", "inverse_preds", "kg_negatives",
    "transe_margin", "transe_hits", "kg_text", "relation_extract",
    "relation_patterns", "fact_support", "cooc_lift", "tag_cooc",
    "truth_discovery", "crawl_frontier", "url_norm",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def render(pdf):
    cols = sorted(pdf.columns, key=str.lower)
    rows = sorted(tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))
    return [c.lower() for c in cols], rows


@pytest.mark.parametrize("name", STRICT_QUERIES)
def test_query_strictly_matches_oracle(spark, ddb, name):
    got = render(entry_mod.queries()[name](spark, SF_DIR).toPandas())
    want = render(ddb.sql(entry_mod.oracle_sql()[name]).df())
    assert got[0] == want[0]
    assert got[1], "an empty result gates nothing"
    assert got[1] == want[1]
