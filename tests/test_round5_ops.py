"""Round-5 operators: composable sub-aggregations (bucket trees ×
metric leaves, ONE groupBy), multi_match type=cross_fields (term-centric
blended-df scoring, three routes), pipeline aggregations, and
geo_distance ring buckets — each against its DuckDB oracle and (where
routes exist) rank-identical across routes."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index import aggs
from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.query import (
    QueryEngine,
    cross_fields_from_index,
    cross_fields_serve,
    cross_fields_topk_df,
    duckdb_cross_fields_sql,
    multi_match_topk_df,
)


@pytest.fixture(scope="module")
def dated_docs(spark, documents):
    return documents.withColumn(
        "crawl_date",
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(90)).cast("int")))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"'{sf_dir}/documents.parquet'")
    c.execute(f"CREATE VIEW events AS SELECT * FROM "
              f"'{sf_dir}/events.parquet'")
    return c


CRAWL_DUCK = "DATE '2024-01-01' + (doc_id % 90)::INT"


# ---------------------------------------------------------------------------
# composable sub-aggregations
# ---------------------------------------------------------------------------


def _tree_specs():
    buckets = [
        aggs.date_histogram_bucket("crawl_date", "month",
                                   duck_expr=CRAWL_DUCK),
        aggs.terms_bucket("lang"),
    ]
    metrics = [
        aggs.metric("count"),
        aggs.metric("avg", "n_chars"),
        aggs.metric("percentile", "n_chars", percent=50),
        aggs.metric("cardinality", "source"),
    ]
    return buckets, metrics


def test_nested_agg_matches_duckdb(spark, dated_docs, con):
    buckets, metrics = _tree_specs()
    got = aggs.nested_agg_df(spark, dated_docs, "table row", buckets,
                             metrics, top_hits=("n_chars", 3)).toPandas()
    sql = aggs.duckdb_nested_agg_sql("table row", buckets, metrics,
                                     top_hits=("n_chars", 3))
    want = con.sql(sql).df()
    assert list(got.columns) == list(want.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_nested_agg_index_route_identical(spark, dated_docs):
    buckets, metrics = _tree_specs()
    tables = build_index(spark, dated_docs, n_shards=2)
    scan = aggs.nested_agg_df(spark, dated_docs, "table row", buckets,
                              metrics).toPandas()
    idx = aggs.nested_agg_from_index(spark, tables, dated_docs,
                                     "table row", buckets,
                                     metrics).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(scan, idx, check_dtype=False)
    assert aggs.nested_agg_df(spark, dated_docs, "", buckets,
                              metrics).collect() \
        == aggs.nested_agg_from_index(spark, tables, dated_docs, "",
                                      buckets, metrics).collect() == []


def test_nested_agg_rejects_empty_bucket_path_on_both_routes(spark,
                                                            documents):
    count = [aggs.metric("count")]
    with pytest.raises(ValueError, match="at least one bucket"):
        aggs.nested_agg_df(spark, documents, "table row", [], count)
    with pytest.raises(ValueError, match="at least one bucket"):
        aggs.nested_agg_from_index(spark, None, documents, "", [], count)


def test_nested_agg_single_groupby_plan(spark, dated_docs):
    """The scale contract: a depth-d tree without top_hits lowers to
    exactly ONE shuffle (one Exchange chain for one aggregate), never
    one pass per level. A ``cardinality`` leaf legitimately adds
    Spark's second distinct-expansion Exchange (partial dedup on
    keys+field first) — still key-partitioned, still combinable."""
    buckets, metrics = _tree_specs()
    no_distinct = [m for m in metrics if m.kind != "cardinality"]
    plan = aggs.nested_agg_df(
        spark, dated_docs, "table row", buckets, no_distinct
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    plan2 = aggs.nested_agg_df(
        spark, dated_docs, "table row", buckets, metrics
    )._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange hashpartitioning") == 2, plan2


def test_range_bucket_in_tree(spark, documents, con):
    buckets = [aggs.range_bucket(
        "n_chars", [(None, 300.0), (300.0, 450.0), (450.0, None)])]
    metrics = [aggs.metric("count"), aggs.metric("min", "n_chars"),
               aggs.metric("max", "n_chars")]
    got = aggs.nested_agg_df(spark, documents, "table", buckets,
                             metrics).toPandas()
    want = con.sql(aggs.duckdb_nested_agg_sql(
        "table", buckets, metrics)).df()
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_range_bucket_rejects_overlap():
    with pytest.raises(ValueError):
        aggs.range_bucket("x", [(0, 10), (5, 20)])
    with pytest.raises(ValueError):
        aggs.range_bucket("x", [(0, None), (10, 20)])


def test_nested_agg_terms_size_ordering(spark, dated_docs, con):
    """size=N applies ES's terms-agg default ordering: top-N leaf
    buckets by doc count desc, tie → keys asc — matching the oracle."""
    import pandas as pd

    buckets = [aggs.terms_bucket("lang"), aggs.terms_bucket("source")]
    metrics = [aggs.metric("count"), aggs.metric("avg", "n_chars")]
    got = aggs.nested_agg_df(spark, dated_docs, "table", buckets,
                             metrics, size=7).toPandas()
    want = con.sql(aggs.duckdb_nested_agg_sql(
        "table", buckets, metrics, size=7)).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) == 7
    assert list(got["n_docs"]) == sorted(got["n_docs"], reverse=True)
    with pytest.raises(ValueError):
        aggs.nested_agg_df(spark, dated_docs, "table", buckets,
                           [aggs.metric("avg", "n_chars")], size=5)
    with pytest.raises(ValueError):
        aggs.nested_agg_df(spark, dated_docs, "table", buckets, metrics,
                           size=5, top_hits=("n_chars", 2))


def test_bucket_stats_pipeline(spark, dated_docs, con):
    """avg/min/max/sum_bucket sibling pipeline aggs over the
    date_histogram bucket list."""
    import pandas as pd

    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql
    from deces_dataprep_spark.index.query import date_histogram_df

    dh = date_histogram_df(spark, dated_docs, "table row", "crawl_date",
                           "month")
    got = aggs.bucket_stats_over(dh, "n_docs").toPandas()
    toks = duckdb_tokens_sql("text")
    inner = f"""
SELECT date_trunc('month', {CRAWL_DUCK}) AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE list_contains({toks}, 'table') AND list_contains({toks}, 'row')
GROUP BY 1"""
    want = con.sql(aggs.duckdb_bucket_stats_sql(inner, "n_docs")).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert int(got["n_buckets"][0]) >= 2


# ---------------------------------------------------------------------------
# cross_fields
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fielded_docs(spark, documents):
    return documents.select(
        "doc_id", "text", F.substring("text", 1, 80).alias("title"))


CF_QUERY = "spark merge sort"
CF_FIELDS = {"text": 1.0, "title": 2.0}
CF_DUCK_FIELDS = {"text": 1.0, "substr(text, 1, 80)": 2.0}


def test_cross_fields_scan_matches_duckdb(spark, fielded_docs, con):
    for tb in (0.0, 0.3):
        got = [(r["doc_id"], r["score"]) for r in cross_fields_topk_df(
            spark, fielded_docs, CF_QUERY, CF_FIELDS, k=10,
            tie_breaker=tb).collect()]
        want = [(int(d), float(s)) for d, s in con.execute(
            duckdb_cross_fields_sql(CF_QUERY, CF_DUCK_FIELDS, k=10,
                                    tie_breaker=tb)).fetchall()]
        assert [d for d, _ in got] == [d for d, _ in want], tb
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=2e-6)


def test_cross_fields_three_route_rank_identity(spark, fielded_docs):
    t_text = build_index(spark, fielded_docs, n_shards=2, text_col="text")
    t_title = build_index(spark, fielded_docs, n_shards=2,
                          text_col="title")
    engines = {"text": (QueryEngine(t_text), 1.0),
               "title": (QueryEngine(t_title), 2.0)}
    for tb in (0.0, 0.3):
        scan = [(r["doc_id"], r["score"]) for r in cross_fields_topk_df(
            spark, fielded_docs, CF_QUERY, CF_FIELDS, k=10,
            tie_breaker=tb).collect()]
        idx = [(r["doc_id"], r["score"]) for r in cross_fields_from_index(
            spark, {"text": (t_text, 1.0), "title": (t_title, 2.0)},
            CF_QUERY, k=10, tie_breaker=tb).collect()]
        srv = cross_fields_serve(engines, CF_QUERY, k=10, tie_breaker=tb)
        assert [d for d, _ in scan] == [d for d, _ in idx] \
            == [d for d, _ in srv], tb
        for (_, a), (_, b), (_, c) in zip(scan, idx, srv):
            assert a == pytest.approx(b, abs=2e-6)
            assert a == pytest.approx(c, abs=2e-6)


def test_cross_fields_is_term_centric(spark, fielded_docs):
    """The semantic point of cross_fields: its scores differ from the
    doc-centric types on the same fields/boosts (blended df + per-term
    dis_max ≠ whole-field dis_max ≠ per-field sum)."""
    cf = {r["doc_id"]: r["score"] for r in cross_fields_topk_df(
        spark, fielded_docs, CF_QUERY, CF_FIELDS, k=10).collect()}
    best = {r["doc_id"]: r["score"] for r in multi_match_topk_df(
        spark, fielded_docs, CF_QUERY, CF_FIELDS, k=10,
        match_type="best_fields").collect()}
    most = {r["doc_id"]: r["score"] for r in multi_match_topk_df(
        spark, fielded_docs, CF_QUERY, CF_FIELDS, k=10,
        match_type="most_fields").collect()}
    assert cf != best and cf != most


def test_cross_fields_empty(spark, fielded_docs):
    assert cross_fields_topk_df(spark, fielded_docs, "", CF_FIELDS) \
        .count() == 0
    assert cross_fields_topk_df(spark, fielded_docs, CF_QUERY, {}) \
        .count() == 0


def test_cross_fields_serve_routes_distributed_above_threshold(
        spark, fielded_docs, monkeypatch):
    t_text = build_index(spark, fielded_docs, n_shards=2, text_col="text")
    t_title = build_index(spark, fielded_docs, n_shards=2,
                          text_col="title")
    engines = {"text": (QueryEngine(t_text), 1.0),
               "title": (QueryEngine(t_title), 2.0)}
    want = cross_fields_serve(engines, CF_QUERY, k=10)
    monkeypatch.setattr(QueryEngine, "DISTRIBUTED_CORPUS_THRESHOLD", 1)
    got = cross_fields_serve(engines, CF_QUERY, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=2e-6)


def test_cross_fields_operator_and(spark, fielded_docs, con):
    """operator=and keeps only docs matching ALL terms (each in ≥1
    field) — identical to the HAVING-coverage oracle, strictly fewer
    (or equal) hits than operator=or, and rank-identical across the
    scan and index routes."""
    q = CF_QUERY
    got = [(r["doc_id"], r["score"]) for r in cross_fields_topk_df(
        spark, fielded_docs, q, CF_FIELDS, k=30,
        operator="and").collect()]
    want = [(int(d), float(s)) for d, s in con.execute(
        duckdb_cross_fields_sql(q, CF_DUCK_FIELDS, k=30,
                                operator="and")).fetchall()]
    assert [d for d, _ in got] == [d for d, _ in want]
    or_ids = {r["doc_id"] for r in cross_fields_topk_df(
        spark, fielded_docs, q, CF_FIELDS, k=500).collect()}
    and_ids = {r["doc_id"] for r in cross_fields_topk_df(
        spark, fielded_docs, q, CF_FIELDS, k=500,
        operator="and").collect()}
    assert and_ids <= or_ids and len(and_ids) < len(or_ids)
    t_text = build_index(spark, fielded_docs, n_shards=2,
                         text_col="text")
    t_title = build_index(spark, fielded_docs, n_shards=2,
                          text_col="title")
    idx = [(r["doc_id"], r["score"]) for r in cross_fields_from_index(
        spark, {"text": (t_text, 1.0), "title": (t_title, 2.0)}, q,
        k=30, operator="and").collect()]
    srv = cross_fields_serve(
        {"text": (QueryEngine(t_text), 1.0),
         "title": (QueryEngine(t_title), 2.0)}, q, k=30,
        operator="and")
    assert [d for d, _ in got] == [d for d, _ in idx] \
        == [d for d, _ in srv]
    with pytest.raises(ValueError):
        cross_fields_topk_df(spark, fielded_docs, q, CF_FIELDS,
                             operator="xor")


def test_terms_bucket_missing_param(spark, documents, con):
    """ES terms-agg missing=: null keys land in the substitute bucket
    instead of dropping out."""
    import pandas as pd

    nullable = documents.withColumn(
        "maybe_lang",
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, None)
        .otherwise(F.col("lang")))
    buckets = [aggs.terms_bucket(
        "maybe_lang", missing="(none)",
        duck_expr="CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END")]
    metrics = [aggs.metric("count")]
    got = aggs.nested_agg_df(spark, nullable, "table", buckets,
                             metrics).toPandas()
    want = con.sql(aggs.duckdb_nested_agg_sql(
        "table", buckets, metrics)).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert "(none)" in set(got["maybe_lang"])


# ---------------------------------------------------------------------------
# pipeline + geo aggregations
# ---------------------------------------------------------------------------


def test_pipeline_over_buckets_matches_duckdb(spark, dated_docs, con):
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql
    from deces_dataprep_spark.index.query import date_histogram_df

    dh = date_histogram_df(spark, dated_docs, "table row", "crawl_date",
                           "month").select(
        F.date_format("bucket", "yyyy-MM-dd").alias("bucket"), "n_docs")
    got = aggs.pipeline_over_buckets(
        dh, "bucket", "n_docs",
        script=("ratio",
                F.col("n_docs").cast("double")
                / F.col("cumulative_sum"))).toPandas()
    toks = duckdb_tokens_sql("text")
    inner = f"""
SELECT strftime(date_trunc('month', {CRAWL_DUCK}), '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE list_contains({toks}, 'table') AND list_contains({toks}, 'row')
GROUP BY 1"""
    cum = ("sum((n_docs)::DOUBLE) OVER (ORDER BY bucket ASC ROWS BETWEEN "
           "UNBOUNDED PRECEDING AND CURRENT ROW)")
    want = con.sql(aggs.duckdb_pipeline_sql(
        inner, "bucket", "n_docs",
        script=("ratio", f"(n_docs)::DOUBLE / {cum}"))).df()
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_geo_rings_match_duckdb(spark, sf_dir, con):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "lat", (F.col("user_id") % 160).cast("double") - 80.0 + 0.5
    ).withColumn(
        "lon", (F.col("event_id") % 360).cast("double") - 180.0 + 0.25
    ).withColumn("text", F.lit("x"))
    rings = [(None, 1000.0), (1000.0, 5000.0), (5000.0, None),
             (0.0, 20000.0)]  # overlapping ring allowed, like ES
    got = aggs.geo_distance_agg_df(spark, ev, "x", "lat", "lon",
                                   48.8566, 2.3522, rings).toPandas()
    con.execute("CREATE OR REPLACE VIEW ev AS "
                "SELECT *, 'x' AS text FROM events")
    want = con.sql(aggs.duckdb_geo_distance_agg_sql(
        "x",
        "(user_id % 160)::DOUBLE - 80.0 + 0.5",
        "(event_id % 360)::DOUBLE - 180.0 + 0.25",
        48.8566, 2.3522, rings, table="ev")).df()
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every declared ring emitted, in declaration order
    assert list(got["key"])[:3] == ["*-1000.0", "1000.0-5000.0",
                                    "5000.0-*"]
