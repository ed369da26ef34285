"""Round-4 fifth batch: rank_feature / distance_feature / terms_set /
pinned queries and the missing / sampler aggregations."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.query import (
    bm25_topk_df,
    distance_feature_topk_df,
    duckdb_distance_feature_sql,
    duckdb_missing_agg_sql,
    duckdb_pinned_sql,
    duckdb_rank_feature_sql,
    duckdb_sampler_agg_sql,
    duckdb_terms_set_sql,
    missing_agg_df,
    pinned_query_df,
    rank_feature_from_index,
    rank_feature_topk_df,
    sampler_agg_df,
    terms_set_topk_df,
)


def _con(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    return con


Q = "data spark index"


def test_rank_feature_matches_duckdb(spark, sf_dir, documents):
    got = rank_feature_topk_df(spark, documents, Q, "n_chars",
                               function="saturation", pivot=300.0,
                               boost=2.0, k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_rank_feature_sql(
        Q, "n_chars", function="saturation", pivot=300.0, boost=2.0,
        k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]


@pytest.mark.parametrize("fn,kw", [
    ("log", {"scaling": 2.0}),
    ("sigmoid", {"pivot": 250.0, "exp": 2.0}),
])
def test_rank_feature_other_functions_match_duckdb(spark, sf_dir,
                                                   documents, fn, kw):
    got = rank_feature_topk_df(spark, documents, Q, "n_chars",
                               function=fn, boost=1.5, k=10,
                               **kw).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_rank_feature_sql(
        Q, "n_chars", function=fn, boost=1.5, k=10, **kw)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]


def test_rank_feature_index_route_identical(spark, documents):
    tables = build_index(spark, documents, n_shards=4)
    scan = rank_feature_topk_df(spark, documents, Q, "n_chars",
                                pivot=300.0, boost=2.0, k=10).collect()
    idx = rank_feature_from_index(spark, tables, documents, Q,
                                  "n_chars", pivot=300.0, boost=2.0,
                                  k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in scan] == [
        (r["doc_id"], pytest.approx(r["score"], abs=1e-6)) for r in idx]
    assert rank_feature_topk_df(spark, documents, "", "n_chars",
                                pivot=300.0).collect() \
        == rank_feature_from_index(spark, tables, documents, "",
                                   "n_chars", pivot=300.0).collect() == []


def test_rank_feature_missing_feature_contributes_zero(spark, documents):
    d = documents.withColumn(
        "sparse", F.when(F.col("n_chars") % 2 == 0, F.col("n_chars")))
    plain = {r["doc_id"]: r["score"] for r in bm25_topk_df(
        spark, documents, Q, k=10000).collect()}
    boosted = rank_feature_topk_df(spark, d, Q, "sparse", pivot=300.0,
                                   boost=2.0, k=10000).collect()
    by_id = {r["doc_id"]: r["score"] for r in boosted}
    rows = d.select("doc_id", "sparse").collect()
    sparse = {r["doc_id"]: r["sparse"] for r in rows}
    zero = [i for i in by_id if sparse.get(i) is None]
    assert zero, "no missing-feature docs in the match set"
    for i in zero:
        assert by_id[i] == pytest.approx(plain[i], abs=1e-6)


def test_distance_feature_matches_duckdb(spark, sf_dir, documents):
    got = distance_feature_topk_df(spark, documents, Q, "n_chars",
                                   origin=298.0, pivot=50.0,
                                   boost=1.5, k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_distance_feature_sql(
        Q, "n_chars", origin=298.0, pivot=50.0, boost=1.5,
        k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]


def test_terms_set_matches_duckdb(spark, sf_dir, documents):
    d = documents.withColumn(
        "required_matches", (F.col("n_chars") % 3 + 2).cast("long"))
    got = terms_set_topk_df(spark, d, ["merge", "sort", "hash", "scan"],
                            "required_matches", k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_terms_set_sql(
        ["merge", "sort", "hash", "scan"], "(d.n_chars % 3 + 2)",
        k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]


def test_terms_set_per_doc_threshold_bites(spark, documents):
    """A doc-constant threshold of 4 must admit a subset of docs vs a
    threshold of 2 — the per-doc msm actually filters."""
    terms = ["merge", "sort", "hash", "scan"]
    lo = terms_set_topk_df(
        spark, documents.withColumn("m", F.lit(2)), terms, "m",
        k=1 << 30).count()
    hi = terms_set_topk_df(
        spark, documents.withColumn("m", F.lit(4)), terms, "m",
        k=1 << 30).count()
    assert 0 < hi < lo


def test_pinned_matches_duckdb_and_orders(spark, sf_dir, documents):
    ids = [r["doc_id"] for r in
           documents.select("doc_id").orderBy("doc_id").limit(3).collect()]
    got = pinned_query_df(spark, documents, ids, "spark merge sort table",
                          k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_pinned_sql(
        ids, "spark merge sort table", k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]
    assert [r["doc_id"] for r in got[:3]] == ids  # pinned order first


def test_pinned_unknown_id_dropped(spark, documents):
    got = pinned_query_df(spark, documents, [-12345], "merge sort",
                          k=5).collect()
    assert all(r["doc_id"] != -12345 for r in got)


def test_missing_agg_matches_duckdb(spark, sf_dir, documents):
    d = documents.withColumn(
        "maybe_lang",
        F.when(F.col("n_chars") % 3 == 0, F.col("lang")).otherwise(
            F.when(F.col("n_chars") % 3 == 1, F.lit(""))),
    )
    got = missing_agg_df(spark, d, "table row", "maybe_lang").collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_missing_agg_sql(
        "table row",
        "CASE WHEN n_chars % 3 = 0 THEN lang "
        "WHEN n_chars % 3 = 1 THEN '' END")).fetchall()
    assert got[0]["n_docs"] == int(want[0][0]) > 0


def test_sampler_agg_matches_duckdb(spark, sf_dir, documents):
    got = sampler_agg_df(spark, documents, "spark merge sort table",
                         "lang", shard_size=50).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_sampler_agg_sql(
        "spark merge sort table", "lang", shard_size=50)).fetchall()
    assert [(r["lang"], r["n_docs"]) for r in got] == [
        (lang, int(n)) for lang, n in want]
    assert sum(r["n_docs"] for r in got) == 50  # the sample cut


# ---------------------------------------------------------------------------
# percolate
# ---------------------------------------------------------------------------


def test_percolate_matches_duckdb(spark, sf_dir, documents):
    from deces_dataprep_spark.index.querystring import (
        duckdb_percolate_sql,
        percolate_df,
    )

    stored = {"a_phrase": '"merge sort"', "b_bool": "+spark -slow",
              "c_prefix": "quer* row"}
    got = sorted((r["doc_id"], r["query_id"]) for r in
                 percolate_df(spark, documents, stored).collect())
    con = _con(sf_dir)
    want = sorted((int(d), q) for d, q in con.sql(
        duckdb_percolate_sql(stored)).fetchall())
    assert got == want and got


def test_percolate_skips_unparseable_and_unmatched(spark, documents):
    from deces_dataprep_spark.index.querystring import percolate_df

    stored = {"empty": "", "nohit": "zzzznotaterm", "hit": "merge"}
    rows = percolate_df(spark, documents, stored).collect()
    qids = {r["query_id"] for r in rows}
    assert qids == {"hit"}


def test_percolate_streaming_same_projection(spark, documents, tmp_path):
    """The percolate plan is stateless — the identical projection runs
    under readStream (the ES alerting use case: percolate new docs as
    they arrive)."""
    from deces_dataprep_spark.index.querystring import percolate_df

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    documents.limit(200).write.parquet(src)
    stream = (spark.readStream.schema(documents.schema).parquet(src))
    q = (percolate_df(spark, stream, {"hit": "merge sort"})
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["doc_id"] for r in percolate_df(
            spark, documents.limit(200),
            {"hit": "merge sort"}).collect())
    assert got == want and got


# ---------------------------------------------------------------------------
# phrase suggester
# ---------------------------------------------------------------------------


def test_suggest_phrase_corrects_typos(spark, sf_dir, documents):
    from deces_dataprep_spark.index.query import (
        duckdb_suggest_phrase_sql,
        suggest_phrase,
    )

    tables = build_index(spark, documents, n_shards=4)
    got = suggest_phrase(spark, tables, "mergi sortt", k=3).collect()
    assert got[0]["suggestion"] == "merge sort"  # both typos corrected
    con = _con(sf_dir)
    want = con.sql(duckdb_suggest_phrase_sql(
        "mergi sortt", k=3)).fetchall()
    assert [(r["suggestion"], r["score"]) for r in got] == [
        (s, pytest.approx(sc, abs=1e-6)) for s, sc in want]


def test_suggest_phrase_identity_wins_for_clean_query(spark, documents):
    from deces_dataprep_spark.index.query import suggest_phrase

    tables = build_index(spark, documents, n_shards=4)
    got = suggest_phrase(spark, tables, "merge sort", k=3).collect()
    # a correct phrase must not be "corrected": the edit penalty beats
    # any likelihood gain between real words
    assert got[0]["suggestion"] == "merge sort"
