"""Round-4 second batch: significant_terms (scan + index routes),
term suggester, match_phrase_prefix, wildcard/terms/exists queries,
numeric histogram and cardinality aggregations."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql
from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.positions import (
    duckdb_phrase_match_sql,
    match_phrase_prefix,
    phrase_match,
)
from deces_dataprep_spark.index.query import (
    cardinality_df,
    histogram_df,
    significant_terms_df,
    significant_terms_from_index,
    suggest_terms,
)
from deces_dataprep_spark.operators.es_fields import (
    exists_filter,
    terms_match,
    wildcard_match,
    wildcard_to_regex,
)


def _con(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    return con


# ---------------------------------------------------------------------------
# significant_terms
# ---------------------------------------------------------------------------


def test_significant_terms_excludes_query_terms_and_orders(spark, documents):
    rows = significant_terms_df(spark, documents, "merge sort", k=10).collect()
    assert 0 < len(rows) <= 10
    terms = [r["term"] for r in rows]
    assert "merge" not in terms and "sort" not in terms
    jlhs = [r["jlh"] for r in rows]
    assert jlhs == sorted(jlhs, reverse=True)
    # foreground df can never exceed background df
    assert all(r["fg_df"] <= r["bg_df"] for r in rows)


def test_significant_terms_index_route_identical(spark, documents):
    tables = build_index(spark, documents, n_shards=2)
    scan = significant_terms_df(spark, documents, "merge sort", k=10).collect()
    idx = significant_terms_from_index(
        spark, tables, documents, "merge sort", k=10).collect()
    key = lambda r: (r["term"], r["fg_df"], r["bg_df"], r["jlh"])  # noqa: E731
    assert [key(r) for r in scan] == [key(r) for r in idx]


# ---------------------------------------------------------------------------
# term suggester
# ---------------------------------------------------------------------------


def test_suggest_terms_finds_closest(spark, documents):
    tables = build_index(spark, documents, n_shards=2)
    rows = suggest_terms(spark, tables, "streem", max_edits=2, k=5).collect()
    assert rows, "expected at least one suggestion"
    # 'stream' is a high-df corpus token one edit away
    assert rows[0]["term"] == "stream"
    assert rows[0]["distance"] == 1
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    assert all(r["distance"] <= 2 for r in rows)
    assert all(r["term"].startswith("s") for r in rows)


def test_suggest_terms_prefix_and_self_exclusion(spark, documents):
    tables = build_index(spark, documents, n_shards=2)
    rows = suggest_terms(spark, tables, "stream", max_edits=2, k=5).collect()
    assert all(r["term"] != "stream" for r in rows)


# ---------------------------------------------------------------------------
# match_phrase_prefix
# ---------------------------------------------------------------------------


def test_match_phrase_prefix_vs_duckdb(spark, sf_dir, documents):
    got = sorted(r["doc_id"] for r in
                 match_phrase_prefix(documents, "merge so").collect())
    con = _con(sf_dir)
    want = sorted(r[0] for r in con.sql(
        duckdb_phrase_match_sql("merge so", prefix_last=True)).fetchall())
    assert got == want and got


def test_match_phrase_prefix_superset_of_exact_phrase(spark, documents):
    exact = {r["doc_id"] for r in
             phrase_match(documents, "merge sort").collect()}
    pref = {r["doc_id"] for r in
            match_phrase_prefix(documents, "merge sort").collect()}
    assert exact <= pref


def test_match_phrase_prefix_fixture(spark):
    docs = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick brownie fox"),
         (3, "brown quick fox"), (4, "quick fox brown")],
        "doc_id long, text string")
    got = sorted(r["doc_id"] for r in
                 match_phrase_prefix(docs, "quick bro").collect())
    assert got == [1, 2]


# ---------------------------------------------------------------------------
# wildcard / terms / exists
# ---------------------------------------------------------------------------


def test_wildcard_to_regex_portable():
    assert wildcard_to_regex("s?c1*") == "^s.c1.*$"
    assert wildcard_to_regex("a.b") == "^a\\.b$"


def test_wildcard_match_semantics(spark):
    docs = spark.createDataFrame(
        [(1, "src1"), (2, "src12"), (3, "sxc1"), (4, "src2"), (5, "SRC10")],
        "doc_id long, source string")
    got = sorted(r["doc_id"] for r in
                 wildcard_match(docs, "source", "s?c1*").collect())
    # ? = exactly one char, * = any run (incl. empty); normalizer
    # lowercases SRC10
    assert got == [1, 2, 3, 5]


def test_terms_match_normalizes_values(spark):
    docs = spark.createDataFrame(
        [(1, "src3"), (2, "src7"), (3, "src30"), (4, "src11")],
        "doc_id long, source string")
    got = sorted(r["doc_id"] for r in
                 terms_match(docs, "source", ["SRC3", "src11"]).collect())
    assert got == [1, 4]


def test_exists_filter_null_empty_array(spark):
    docs = spark.createDataFrame(
        [(1, "en", ["a"]), (2, None, []), (3, "", None), (4, "fr", ["b"])],
        "doc_id long, lang string, tags array<string>")
    assert sorted(r["doc_id"] for r in
                  exists_filter(docs, "lang").collect()) == [1, 4]
    assert sorted(r["doc_id"] for r in
                  exists_filter(docs, "tags").collect()) == [1, 4]


# ---------------------------------------------------------------------------
# histogram / cardinality aggregations
# ---------------------------------------------------------------------------


def test_histogram_vs_duckdb(spark, sf_dir, documents):
    got = [(r["bucket"], r["n_docs"]) for r in
           histogram_df(spark, documents, "table row", "n_chars",
                        64).collect()]
    con = _con(sf_dir)
    toks = duckdb_tokens_sql("text")
    want = con.sql(f"""
        SELECT CAST(floor(n_chars::DOUBLE / 64.0) * 64 AS BIGINT) AS bucket,
               count(*)::BIGINT AS n_docs
        FROM documents
        WHERE list_contains({toks}, 'table')
          AND list_contains({toks}, 'row')
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    assert got == [(b, n) for b, n in want] and got


def test_cardinality_exact_vs_duckdb(spark, sf_dir, documents):
    got = cardinality_df(spark, documents, "merge", "source").collect()
    con = _con(sf_dir)
    toks = duckdb_tokens_sql("text")
    want = con.sql(f"""
        SELECT count(DISTINCT source)::BIGINT FROM documents
        WHERE list_contains({toks}, 'merge')
    """).fetchone()[0]
    assert got[0]["cardinality"] == want > 0


def test_cardinality_approx_is_close(spark, documents):
    exact = cardinality_df(spark, documents, "merge", "source") \
        .collect()[0]["cardinality"]
    approx = cardinality_df(spark, documents, "merge", "source",
                            exact=False).collect()[0]["cardinality"]
    assert abs(approx - exact) <= max(2, int(0.1 * exact))


# ---------------------------------------------------------------------------
# rescore + index-served aggregation routes
# ---------------------------------------------------------------------------


def test_rescore_routes_rank_identical(spark, documents):
    """Scan and index-served rescore must agree on both doc order and
    combined scores."""
    from deces_dataprep_spark.index.query import (
        rescore_topk_df,
        rescore_topk_from_index,
    )

    scan = rescore_topk_df(spark, documents, "merge sort", "hash join",
                           k=10, window_size=30,
                           rescore_query_weight=2.0).collect()
    tables = build_index(spark, documents, n_shards=2)
    idx = rescore_topk_from_index(spark, tables, "merge sort", "hash join",
                                  k=10, window_size=30,
                                  rescore_query_weight=2.0).collect()
    assert [(r["doc_id"], r["score"]) for r in scan] == \
        [(r["doc_id"], r["score"]) for r in idx] and scan
    # the empty query is the other branch both routes share
    assert rescore_topk_df(spark, documents, "", "hash join").collect() \
        == rescore_topk_from_index(spark, tables, "", "hash join").collect() \
        == []


def test_rescore_only_reorders_within_window(spark, documents):
    """Every rescored hit must come from the base query's top-N window
    (the rescore re-RANKS, it cannot surface a doc the base query
    missed)."""
    from deces_dataprep_spark.index.query import (
        bm25_topk_df,
        rescore_topk_df,
    )

    window = {r["doc_id"] for r in bm25_topk_df(
        spark, documents, "merge sort", k=30).collect()}
    hits = rescore_topk_df(spark, documents, "merge sort", "hash join",
                           k=10, window_size=30).collect()
    assert hits and all(r["doc_id"] in window for r in hits)


def test_histogram_and_cardinality_index_routes(spark, documents):
    from deces_dataprep_spark.index.query import (
        cardinality_df,
        cardinality_from_index,
        histogram_from_index,
    )

    tables = build_index(spark, documents, n_shards=2)
    scan = [(r["bucket"], r["n_docs"]) for r in
            histogram_df(spark, documents, "table row", "n_chars",
                         64).collect()]
    idx = [(r["bucket"], r["n_docs"]) for r in
           histogram_from_index(spark, tables, documents, "table row",
                                "n_chars", 64).collect()]
    assert scan == idx and scan
    c_scan = cardinality_df(spark, documents, "merge", "source") \
        .collect()[0]["cardinality"]
    c_idx = cardinality_from_index(spark, tables, documents, "merge",
                                   "source").collect()[0]["cardinality"]
    assert c_scan == c_idx > 0
    # empty query: both routes answer over the empty match set
    assert histogram_df(spark, documents, "", "n_chars", 64).collect() \
        == histogram_from_index(spark, tables, documents, "", "n_chars",
                                64).collect() == []
    assert [tuple(r) for r in cardinality_df(
        spark, documents, "", "source").collect()] == [tuple(r) for r in
        cardinality_from_index(spark, tables, documents, "",
                               "source").collect()] == [(0,)]
