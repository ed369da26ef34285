"""Round-4 fourth batch: boosting and constant_score queries (scan +
index routes, DuckDB oracles) and the range / filters aggregations
(overlapping explicit buckets — the aggs a groupBy cannot express)."""

import duckdb
import pytest

from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.query import (
    bm25_topk_df,
    boosting_topk_df,
    boosting_topk_from_index,
    constant_score_df,
    constant_score_from_index,
    duckdb_boosting_sql,
    duckdb_constant_score_sql,
    duckdb_filters_agg_sql,
    duckdb_range_agg_sql,
    filters_agg_df,
    range_agg_df,
)


def _con(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    return con


# ---------------------------------------------------------------------------
# boosting
# ---------------------------------------------------------------------------


def test_boosting_matches_duckdb(spark, sf_dir, documents):
    got = boosting_topk_df(spark, documents, "data spark index",
                           "dup", negative_boost=0.5, k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_boosting_sql(
        "data spark index", "dup", negative_boost=0.5, k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]


def test_boosting_demotes_not_excludes(spark, documents):
    """A doc matching the negative query stays in the result set with
    score x negative_boost — the contract vs bool.must_not."""
    base = {r["doc_id"]: r["score"] for r in bm25_topk_df(
        spark, documents, "data spark index", k=10000).collect()}
    demoted = {r["doc_id"]: r["score"] for r in boosting_topk_df(
        spark, documents, "data spark index", "dup",
        negative_boost=0.5, k=10000).collect()}
    moved = [d for d in demoted
             if d in base and abs(demoted[d] - base[d] * 0.5) < 1e-4]
    kept = [d for d in demoted
            if d in base and abs(demoted[d] - base[d]) < 1e-6]
    assert moved, "negative query matched nothing — knob unexercised"
    assert kept, "every doc demoted — negative query too broad"


def test_boosting_index_route_identical(spark, documents):
    tables = build_index(spark, documents, n_shards=4)
    scan = boosting_topk_df(spark, documents, "data spark index",
                            "dup", negative_boost=0.5, k=10).collect()
    idx = boosting_topk_from_index(spark, tables, "data spark index",
                                   "dup", negative_boost=0.5,
                                   k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in scan] == [
        (r["doc_id"], pytest.approx(r["score"], abs=1e-6)) for r in idx]
    assert boosting_topk_df(spark, documents, "", "dup").collect() \
        == boosting_topk_from_index(spark, tables, "", "dup").collect() \
        == []


def test_boosting_no_negative_equals_plain_match(spark, documents):
    plain = bm25_topk_df(spark, documents, "merge sort", k=10).collect()
    boost = boosting_topk_df(spark, documents, "merge sort", "", k=10).collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in boost]


# ---------------------------------------------------------------------------
# constant_score
# ---------------------------------------------------------------------------


def test_constant_score_matches_duckdb(spark, sf_dir, documents):
    got = constant_score_df(spark, documents, "table row",
                            boost=1.5, k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_constant_score_sql(
        "table row", boost=1.5, k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), s) for d, s in want]
    assert all(r["score"] == 1.5 for r in got)


def test_constant_score_index_route_identical(spark, documents):
    tables = build_index(spark, documents, n_shards=4)
    scan = constant_score_df(spark, documents, "table row",
                             boost=2.0, k=25).collect()
    idx = constant_score_from_index(spark, tables, "table row",
                                    boost=2.0, k=25).collect()
    assert [tuple(r) for r in scan] == [tuple(r) for r in idx]
    assert constant_score_df(spark, documents, "").collect() \
        == constant_score_from_index(spark, tables, "").collect() == []


# ---------------------------------------------------------------------------
# range / filters aggregations
# ---------------------------------------------------------------------------

RANGES = [(None, 200.0), (150.0, 350.0), (300.0, None)]


def test_range_agg_matches_duckdb(spark, sf_dir, documents):
    got = range_agg_df(spark, documents, "table row", "n_chars",
                       RANGES).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_range_agg_sql(
        "table row", "n_chars", RANGES)).fetchall()
    assert [(r["key"], r["n_docs"]) for r in got] == [
        (k, int(n)) for k, n in want]


def test_range_agg_overlap_and_every_bucket_emitted(spark, documents):
    rows = range_agg_df(spark, documents, "table row", "n_chars",
                        RANGES).collect()
    assert len(rows) == len(RANGES)  # empty buckets still emitted
    # overlapping ranges double-count on purpose (the ES contract):
    # total bucket mass exceeds the match count iff overlap is hit
    matched = constant_score_df(spark, documents, "table row",
                                k=1 << 30).count()
    assert sum(r["n_docs"] for r in rows) >= matched


def test_range_agg_open_ended_keys(spark, documents):
    rows = range_agg_df(spark, documents, "table row", "n_chars",
                        [(None, None)]).collect()
    assert rows[0]["key"] == "*-*"
    assert rows[0]["n_docs"] == constant_score_df(
        spark, documents, "table row", k=1 << 30).count()


def test_filters_agg_matches_duckdb(spark, sf_dir, documents):
    named = {"has_merge": "merge", "has_hash_join": "hash join",
             "nonsense": "zzzznotaterm"}
    got = filters_agg_df(spark, documents, "table row", named).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_filters_agg_sql(
        "table row", named)).fetchall()
    assert [(r["key"], r["n_docs"]) for r in got] == [
        (k, int(n)) for k, n in want]
    by_key = {r["key"]: r["n_docs"] for r in got}
    assert by_key["nonsense"] == 0  # empty named bucket still emitted
    assert by_key["has_merge"] > 0


# ---------------------------------------------------------------------------
# composite aggregation
# ---------------------------------------------------------------------------


def test_composite_agg_matches_duckdb(spark, sf_dir, documents):
    from deces_dataprep_spark.index.query import (
        composite_agg_df,
        duckdb_composite_agg_sql,
    )

    got = composite_agg_df(spark, documents, "table row",
                           ["lang", "source"], size=6,
                           after=("en", "src3")).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_composite_agg_sql(
        "table row", ["lang", "source"], size=6,
        after=("en", "src3"))).fetchall()
    assert [(r["lang"], r["source"], r["n_docs"]) for r in got] == [
        (l, s, int(n)) for l, s, n in want]
    assert 0 < len(got) <= 6


def test_composite_agg_pages_partition_the_bucket_space(spark, documents):
    """Paging with the after cursor must walk every bucket exactly
    once, in key order — the ES composite contract."""
    from deces_dataprep_spark.index.query import composite_agg_df

    full = composite_agg_df(spark, documents, "table row",
                            ["lang", "source"], size=1 << 30).collect()
    paged, after = [], None
    while True:
        page = composite_agg_df(spark, documents, "table row",
                                ["lang", "source"], size=4,
                                after=after).collect()
        if not page:
            break
        paged.extend(page)
        after = (page[-1]["lang"], page[-1]["source"])
    assert [tuple(r) for r in paged] == [tuple(r) for r in full]
    assert len(full) > 4  # ensure >1 page exercised


def test_composite_agg_index_route_identical(spark, documents):
    from deces_dataprep_spark.index.query import (
        composite_agg_df,
        composite_agg_from_index,
    )

    tables = build_index(spark, documents, n_shards=4)
    scan = composite_agg_df(spark, documents, "table row",
                            ["lang", "source"], size=8,
                            after=("de", "src5")).collect()
    idx = composite_agg_from_index(spark, tables, documents,
                                   "table row", ["lang", "source"],
                                   size=8, after=("de", "src5")).collect()
    assert [tuple(r) for r in scan] == [tuple(r) for r in idx]
    assert composite_agg_df(spark, documents, "", ["lang"]).collect() \
        == composite_agg_from_index(spark, tables, documents, "",
                                    ["lang"]).collect() == []


@pytest.mark.parametrize("after", [("de",), ("de", "src5", "x")])
def test_composite_agg_rejects_mismatched_cursor_on_both_routes(
        spark, documents, after):
    """A cursor must carry one value per source on either route — a
    short one would index past its end, a long one silently truncate."""
    from deces_dataprep_spark.index.query import (
        composite_agg_df,
        composite_agg_from_index,
    )

    tables = build_index(spark, documents, n_shards=2)
    for run in (
        lambda: composite_agg_df(spark, documents, "table row",
                                 ["lang", "source"], after=after),
        lambda: composite_agg_from_index(spark, tables, documents,
                                         "table row", ["lang", "source"],
                                         after=after),
    ):
        with pytest.raises(ValueError, match="after cursor has"):
            run()


# ---------------------------------------------------------------------------
# match_bool_prefix + fuzziness AUTO
# ---------------------------------------------------------------------------


def test_match_bool_prefix_matches_duckdb(spark, sf_dir, documents):
    from deces_dataprep_spark.index.querystring import (
        duckdb_match_bool_prefix_sql,
        match_bool_prefix_df,
    )

    got = match_bool_prefix_df(spark, documents, "merge so",
                               k=10).collect()
    con = _con(sf_dir)
    want = con.sql(duckdb_match_bool_prefix_sql(
        "merge so", k=10)).fetchall()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (int(d), pytest.approx(s, abs=1e-6)) for d, s in want]
    assert got, "query matched nothing"


def test_match_bool_prefix_index_route_identical(spark, documents):
    from deces_dataprep_spark.index.querystring import (
        match_bool_prefix_df,
        match_bool_prefix_from_index,
    )

    tables = build_index(spark, documents, n_shards=4)
    scan = match_bool_prefix_df(spark, documents, "merge so",
                                k=10).collect()
    idx = match_bool_prefix_from_index(spark, tables, "merge so",
                                       k=10).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in scan] == [
        (r["doc_id"], round(r["score"], 6)) for r in idx]


def test_match_bool_prefix_and_operator_requires_all(spark, documents):
    from deces_dataprep_spark.index.querystring import match_bool_prefix_df

    rows = match_bool_prefix_df(spark, documents, "merge so", k=10000,
                                default_operator="and").collect()
    or_rows = match_bool_prefix_df(spark, documents, "merge so",
                                   k=10000).collect()
    assert 0 < len(rows) < len(or_rows)


def test_auto_fuzziness_ladder():
    from deces_dataprep_spark.operators.es_fields import auto_fuzziness

    assert [auto_fuzziness(t) for t in
            ["ab", "abc", "abcde", "abcdef", "abcdefgh"]] == \
        [0, 1, 1, 2, 2]


def test_fuzzy_auto_routes_agree(spark, documents):
    from deces_dataprep_spark.index.query import fuzzy_match_from_index
    from deces_dataprep_spark.operators.es_fields import fuzzy_match

    tables = build_index(spark, documents, n_shards=4)
    scan = sorted(r["doc_id"] for r in fuzzy_match(
        documents, "text", "mergu", max_edits="auto")
        .select("doc_id").collect())
    idx = sorted(r["doc_id"] for r in fuzzy_match_from_index(
        spark, tables, "mergu", max_edits="auto").collect())
    assert scan == idx and scan
