"""Round-4 operators: ES sort-on-hits (+ search_after cursor),
date_histogram aggregation (scan + index routes), and the
minimum_should_match knob on bool queries."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql
from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.query import (
    boolean_topk_df,
    boolean_topk_from_index,
    date_histogram_df,
    date_histogram_from_index,
    duckdb_boolean_topk_sql,
)
from deces_dataprep_spark.operators.es_fields import sort_hits


def _con(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    return con


def test_sort_hits_matches_duckdb(spark, sf_dir, documents):
    got = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=False, k=10).collect()]
    con = _con(sf_dir)
    want = con.sql(f"""
        SELECT doc_id, n_chars
        FROM (SELECT doc_id, n_chars,
                     {duckdb_tokens_sql('text')} AS toks FROM documents)
        WHERE list_contains(toks, 'merge') AND list_contains(toks, 'sort')
          AND n_chars IS NOT NULL
        ORDER BY n_chars DESC, doc_id ASC LIMIT 10
    """).fetchall()
    assert got == [(d, n) for d, n in want]


def test_sort_hits_cursor_pages_are_contiguous(spark, documents):
    """Two cursor pages of k must equal one page of 2k — the
    search_after contract (stateless deep pagination)."""
    full = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=True, k=20).collect()]
    p1 = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=True, k=10).collect()]
    last_doc, last_val = p1[-1][0], p1[-1][1]
    p2 = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=True, k=10,
        after=(last_val, last_doc)).collect()]
    assert p1 + p2 == full
    # descending cursor too
    fd = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=False, k=20).collect()]
    d1 = fd[:10]
    d2 = [(r["doc_id"], r["n_chars"]) for r in sort_hits(
        documents, "merge sort", "n_chars", ascending=False, k=10,
        after=(d1[-1][1], d1[-1][0])).collect()]
    assert d1 + d2 == fd


def test_sort_hits_empty_query(spark, documents):
    assert sort_hits(documents, "", "n_chars").count() == 0


def test_date_histogram_matches_duckdb(spark, sf_dir, documents):
    """Filter-context date_histogram over a deterministic derived date
    (doc_id % 90 days from 2024-01-01 — documents carry no timestamp),
    monthly buckets."""
    docs = documents.withColumn(
        "crawl_date",
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(90)).cast("int")))
    got = [(str(r["bucket"]), r["n_docs"]) for r in date_histogram_df(
        spark, docs, "table row", "crawl_date", "month").collect()]
    con = _con(sf_dir)
    want = con.sql(f"""
        SELECT date_trunc('month',
                 DATE '2024-01-01' + (doc_id % 90)::INT) AS bucket,
               count(*) AS n
        FROM (SELECT doc_id, {duckdb_tokens_sql('text')} AS toks
              FROM documents)
        WHERE list_contains(toks, 'table') AND list_contains(toks, 'row')
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    assert got == [(str(b), n) for b, n in want]
    assert len(got) >= 2  # 90-day span → at least 2 monthly buckets


def test_date_histogram_index_route_identical(spark, documents):
    docs = documents.withColumn(
        "crawl_date",
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(90)).cast("int")))
    tables = build_index(spark, docs, n_shards=2)
    scan = [(str(r["bucket"]), r["n_docs"]) for r in date_histogram_df(
        spark, docs, "table row", "crawl_date", "month").collect()]
    idx = [(str(r["bucket"]), r["n_docs"]) for r in date_histogram_from_index(
        spark, tables, docs.select("doc_id", "crawl_date"),
        "table row", "crawl_date", "month").collect()]
    assert scan == idx
    assert date_histogram_df(spark, docs, "", "crawl_date").collect() \
        == date_histogram_from_index(spark, tables, docs, "",
                                     "crawl_date").collect() == []


def test_minimum_should_match_matches_duckdb(spark, sf_dir, documents):
    """msm=2 over 3 should terms, no must: only docs matching ≥2
    distinct shoulds survive; scores still sum all matches."""
    should = ["merge", "sort", "row"]
    got = [(r["doc_id"], r["score"]) for r in boolean_topk_df(
        spark, documents, [], should, k=10,
        minimum_should_match=2).collect()]
    con = _con(sf_dir)
    want = con.sql(duckdb_boolean_topk_sql(
        [], should, k=10, minimum_should_match=2)).fetchall()
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9)
    # the knob is load-bearing: msm=2 must strictly shrink the hit set
    n_strict = boolean_topk_df(spark, documents, [], should, k=100000,
                               minimum_should_match=2).count()
    n_loose = boolean_topk_df(spark, documents, [], should,
                              k=100000).count()
    assert 0 < n_strict < n_loose


def test_minimum_should_match_index_route_identical(spark, documents):
    should = ["merge", "sort", "row"]
    tables = build_index(spark, documents, n_shards=2)
    scan = [(r["doc_id"], r["score"]) for r in boolean_topk_df(
        spark, documents, ["table"], should, k=10, round_digits=None,
        minimum_should_match=2).collect()]
    idx = [(r["doc_id"], r["score"]) for r in boolean_topk_from_index(
        spark, tables, ["table"], should, k=10, round_digits=None,
        minimum_should_match=2).collect()]
    assert [d for d, _ in scan] == [d for d, _ in idx]
    for (_, a), (_, b) in zip(scan, idx):
        assert a == pytest.approx(b, abs=1e-9)
