"""Round-4 third batch: multi_match best_fields (dis_max), ES
function_score (field_value_factor), sloppy match_phrase, percentiles
and top_hits aggregations, anchored regexp — plus the web-corpus prep
operators (PII redaction, URL→domain, deterministic mixture sampling,
sequence packing, line-level dedup)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.positions import (
    duckdb_phrase_match_sql,
    phrase_match,
    phrase_match_from_index,
    positions_table,
)
from deces_dataprep_spark.index.query import (
    function_score_from_index,
    function_score_topk_df,
    multi_match_from_index,
    multi_match_topk_df,
    percentiles_df,
    top_hits_df,
)
from deces_dataprep_spark.operators.dedup import dedup_lines
from deces_dataprep_spark.operators.es_fields import regexp_match
from deces_dataprep_spark.operators.webprep import (
    host_col,
    mixture_sample,
    pack_concat_chunks,
    pack_sequences_greedy,
    pii_redact,
    registered_domain_col,
    sample_hash_col,
    with_domain,
)


@pytest.fixture(scope="module")
def fielded_docs(spark, documents):
    return documents.select(
        "doc_id", "text", F.substring("text", 1, 80).alias("title"))


# ---------------------------------------------------------------------------
# multi_match type=best_fields
# ---------------------------------------------------------------------------


def test_best_fields_is_dis_max(spark):
    """tie_breaker=0 keeps ONLY the best field's boosted score;
    most_fields sums them. Hand-checkable two-doc corpus."""
    docs = spark.createDataFrame(
        [(1, "alpha alpha beta", "alpha"), (2, "beta gamma", "delta")],
        "doc_id long, text string, title string")
    fields = {"text": 1.0, "title": 2.0}
    best = {r["doc_id"]: r["score"] for r in multi_match_topk_df(
        spark, docs, "alpha", fields, k=10,
        match_type="best_fields", tie_breaker=0.0).collect()}
    most = {r["doc_id"]: r["score"] for r in multi_match_topk_df(
        spark, docs, "alpha", fields, k=10,
        match_type="most_fields").collect()}
    # doc 1 matches in both fields: dis_max strictly below the sum
    assert best[1] < most[1]
    # tie_breaker=1.0 degenerates to most_fields exactly
    tb1 = {r["doc_id"]: r["score"] for r in multi_match_topk_df(
        spark, docs, "alpha", fields, k=10,
        match_type="best_fields", tie_breaker=1.0).collect()}
    assert tb1 == pytest.approx(most)


def test_best_fields_index_route_rank_identical(spark, fielded_docs):
    t_text = build_index(
        spark, fielded_docs.select("doc_id", "text"), n_shards=2)
    t_title = build_index(
        spark, fielded_docs.select(
            "doc_id", F.col("title").alias("text")), n_shards=2)
    fields = {"text": 1.0, "title": 3.0}
    scan = [(r["doc_id"], r["score"]) for r in multi_match_topk_df(
        spark, fielded_docs, "merge sort table", fields, k=10,
        match_type="best_fields", tie_breaker=0.3).collect()]
    idx = [(r["doc_id"], r["score"]) for r in multi_match_from_index(
        spark, {"text": (t_text, 1.0), "title": (t_title, 3.0)},
        "merge sort table", k=10,
        match_type="best_fields", tie_breaker=0.3).collect()]
    assert [d for d, _ in idx] == [d for d, _ in scan]
    for (_, a), (_, b) in zip(idx, scan):
        assert a == pytest.approx(b, abs=2e-6)
    assert scan


def test_best_fields_serve_route_rank_identical(spark, fielded_docs,
                                                tmp_path):
    from deces_dataprep_spark.index.query import (
        QueryEngine,
        multi_match_serve,
    )
    from deces_dataprep_spark.snapshots import load_index, write_index

    wh_t = str(tmp_path / "wh_text")
    wh_i = str(tmp_path / "wh_title")
    write_index(spark, fielded_docs.select("doc_id", "text"), wh_t,
                n_shards=2)
    write_index(
        spark,
        fielded_docs.select("doc_id", F.col("title").alias("text")),
        wh_i, n_shards=2)
    engines = {
        "text": (QueryEngine(load_index(spark, wh_t), spark=spark), 1.0),
        "title": (QueryEngine(load_index(spark, wh_i), spark=spark), 3.0),
    }
    want = [(r["doc_id"], r["score"]) for r in multi_match_topk_df(
        spark, fielded_docs, "merge sort table",
        {"text": 1.0, "title": 3.0}, k=10,
        match_type="best_fields", tie_breaker=0.3).collect()]
    got = multi_match_serve(engines, "merge sort table", k=10,
                            match_type="best_fields", tie_breaker=0.3)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=2e-6)


def test_multi_match_unknown_type_raises(spark, fielded_docs):
    with pytest.raises(ValueError, match="multi_match"):
        multi_match_topk_df(spark, fielded_docs, "merge",
                            {"text": 1.0}, match_type="cross_fields") \
            .collect()


# ---------------------------------------------------------------------------
# function_score
# ---------------------------------------------------------------------------


def test_function_score_modifier_math(spark):
    """ES modifier semantics on a hand-built corpus: log1p is BASE-10
    log10(1+x); ln1p natural; missing substitutes BEFORE the factor."""
    docs = spark.createDataFrame(
        [(1, "alpha", 99.0), (2, "alpha", None)],
        "doc_id long, text string, pop double")
    base = {r["doc_id"]: r["score"] for r in function_score_topk_df(
        spark, docs, "alpha", "pop", factor=1.0, modifier="none",
        missing=3.0, boost_mode="multiply", k=10).collect()}
    logd = {r["doc_id"]: r["score"] for r in function_score_topk_df(
        spark, docs, "alpha", "pop", factor=1.0, modifier="log1p",
        missing=3.0, boost_mode="multiply", k=10).collect()}
    # same BM25 for both docs (identical text) -> ratios expose the fn
    # scores are rounded to 6 digits — the ratio carries that error
    assert base[1] / base[2] == pytest.approx(99.0 / 3.0, rel=1e-3)
    assert logd[1] / logd[2] == pytest.approx(
        np.log10(100.0) / np.log10(4.0), rel=1e-3)
    summed = {r["doc_id"]: r["score"] for r in function_score_topk_df(
        spark, docs, "alpha", "pop", factor=2.0, modifier="none",
        missing=3.0, boost_mode="sum", k=10).collect()}
    assert summed[1] - summed[2] == pytest.approx((99.0 - 3.0) * 2.0,
                                                  abs=1e-5)
    with pytest.raises(ValueError, match="modifier"):
        function_score_topk_df(spark, docs, "alpha", "pop",
                               modifier="square")
    with pytest.raises(ValueError, match="boost_mode"):
        function_score_topk_df(spark, docs, "alpha", "pop",
                               boost_mode="avg").collect()


def test_function_score_index_route_rank_identical(spark, documents):
    t = build_index(spark, documents.select("doc_id", "text"),
                    n_shards=2)
    scan = [(r["doc_id"], r["score"]) for r in function_score_topk_df(
        spark, documents, "data spark index", "n_chars", factor=0.01,
        modifier="log1p", k=10).collect()]
    idx = [(r["doc_id"], r["score"]) for r in function_score_from_index(
        spark, t, documents, "data spark index", "n_chars",
        factor=0.01, modifier="log1p", k=10).collect()]
    assert [d for d, _ in idx] == [d for d, _ in scan]
    for (_, a), (_, b) in zip(idx, scan):
        assert a == pytest.approx(b, abs=2e-6)
    assert scan
    assert function_score_topk_df(spark, documents, "", "n_chars") \
        .collect() == function_score_from_index(
            spark, t, documents, "", "n_chars").collect() == []


# ---------------------------------------------------------------------------
# sloppy phrase
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def slop_corpus(spark):
    rows = [
        (1, "alpha beta"),                  # adjacent
        (2, "alpha x beta"),                # 1 gap
        (3, "alpha x y beta"),              # 2 gaps
        (4, "alpha x y z beta"),            # 3 gaps
        (5, "beta alpha"),                  # reversed — never matches
        (6, "alpha x beta alpha beta"),     # multiple chains; best = 0
        (7, "alpha x gamma y delta"),       # 3-term: gap 1 + gap 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_slop_scan(spark, slop_corpus):
    def ids(phrase, slop):
        return {r["doc_id"]
                for r in phrase_match(slop_corpus, phrase,
                                      slop=slop).collect()}

    assert ids("alpha beta", 0) == {1, 6}
    assert ids("alpha beta", 1) == {1, 2, 6}
    assert ids("alpha beta", 2) == {1, 2, 3, 6}
    assert ids("alpha beta", 3) == {1, 2, 3, 4, 6}
    # in-order contract: reversed never matches at any slop
    assert 5 not in ids("alpha beta", 10)
    # 3-term chain: total gaps add up (1 + 1 = 2)
    assert ids("alpha gamma delta", 1) == set()
    assert ids("alpha gamma delta", 2) == {7}


def test_phrase_slop_index_route_and_oracle(spark, slop_corpus,
                                            documents, sf_dir):
    pos = positions_table(documents, n_shards=2)
    for phrase, slop in (("merge sort", 1), ("the table", 2)):
        want = {r["doc_id"] for r in phrase_match(documents, phrase,
                                                  slop=slop).collect()}
        got = {r["doc_id"] for r in phrase_match_from_index(
            spark, pos, phrase, slop=slop).collect()}
        assert got == want, (phrase, slop)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
        oracle = {r[0] for r in con.sql(
            duckdb_phrase_match_sql(phrase, slop=slop)).fetchall()}
        assert want == oracle, (phrase, slop)
        # slop must be a strict superset of exact adjacency
        exact = {r["doc_id"]
                 for r in phrase_match(documents, phrase).collect()}
        assert exact <= want


# ---------------------------------------------------------------------------
# percentiles / top_hits
# ---------------------------------------------------------------------------


def test_percentiles_exact_interpolation(spark):
    vals = [10.0, 20.0, 30.0, 40.0]
    docs = spark.createDataFrame(
        [(i, "alpha", v) for i, v in enumerate(vals)],
        "doc_id long, text string, v double")
    got = {r["percent"]: r["value"] for r in percentiles_df(
        spark, docs, "alpha", "v",
        percents=[0.0, 50.0, 75.0, 100.0]).collect()}
    want = {p: float(np.percentile(vals, p))
            for p in (0.0, 50.0, 75.0, 100.0)}
    assert got == pytest.approx(want)
    # filter context: only matching docs contribute
    docs2 = docs.union(spark.createDataFrame(
        [(99, "beta", 1e9)], "doc_id long, text string, v double"))
    got2 = {r["percent"]: r["value"] for r in percentiles_df(
        spark, docs2, "alpha", "v", percents=[100.0]).collect()}
    assert got2[100.0] == pytest.approx(40.0)


def test_percentiles_and_top_hits_index_routes(spark, documents):
    """The index-served twins are value/rank-identical to the scan
    routes — closing the from_index symmetry for the last two
    filter-context aggregations."""
    from deces_dataprep_spark.index.query import (
        percentiles_from_index,
        top_hits_from_index,
    )

    t = build_index(spark, documents.select("doc_id", "text"),
                    n_shards=2)
    scan = {r["percent"]: r["value"] for r in percentiles_df(
        spark, documents, "data spark", "n_chars").collect()}
    idx = {r["percent"]: r["value"] for r in percentiles_from_index(
        spark, t, documents.select("doc_id", "n_chars"),
        "data spark", "n_chars").collect()}
    assert idx == pytest.approx(scan)
    assert scan

    scan_th = [(r["group"], r["rank"], r["doc_id"], r["score"])
               for r in top_hits_df(spark, documents, "data spark",
                                    "lang", hits_per_bucket=2).collect()]
    idx_th = [(r["group"], r["rank"], r["doc_id"], r["score"])
              for r in top_hits_from_index(
                  spark, t, documents.select("doc_id", "lang"),
                  "data spark", "lang", hits_per_bucket=2).collect()]
    assert [x[:3] for x in idx_th] == [x[:3] for x in scan_th]
    for a, b in zip(idx_th, scan_th):
        assert a[3] == pytest.approx(b[3], abs=2e-6)
    assert scan_th

    # empty query: no match set on either route
    assert [tuple(r) for r in percentiles_df(
        spark, documents, "", "n_chars").collect()] == [
        tuple(r) for r in percentiles_from_index(
            spark, t, documents.select("doc_id", "n_chars"), "",
            "n_chars").collect()]
    assert top_hits_df(spark, documents, "", "lang").collect() \
        == top_hits_from_index(spark, t, documents, "", "lang") \
        .collect() == []


def test_top_hits_per_bucket_cut(spark):
    rows = [(i, "alpha " * (i + 1), "g%d" % (i % 2)) for i in range(8)]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, lang string")
    out = top_hits_df(spark, docs, "alpha", "lang",
                      hits_per_bucket=2).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group"], []).append(r)
    assert set(by_group) == {"g0", "g1"}
    for g, hits in by_group.items():
        assert [h["rank"] for h in hits] == [1, 2]
        assert hits[0]["score"] >= hits[1]["score"]


# ---------------------------------------------------------------------------
# regexp
# ---------------------------------------------------------------------------


def test_regexp_is_anchored(spark):
    docs = spark.createDataFrame(
        [(1, "src1"), (2, "xsrc1"), (3, "src1x"), (4, "SRC12")],
        "doc_id long, source string")
    got = {r["doc_id"] for r in regexp_match(
        docs, "source", "s.c1[0-9]*").collect()}
    # whole-value semantics: substrings do NOT match; keyword
    # normalization lowercases, so SRC12 does
    assert got == {1, 4}
    # alternation stays inside the anchor group
    got = {r["doc_id"] for r in regexp_match(
        docs, "source", "src1|xsrc1").collect()}
    assert got == {1, 2}


# ---------------------------------------------------------------------------
# webprep: PII
# ---------------------------------------------------------------------------


def test_pii_redact_counts_and_order(spark):
    rows = [
        (1, "mail a.b+c@d-e.co.uk then 10.0.0.1 and +33 (0)1-23-45-67-89"),
        (2, "no pii here"),
        (3, "two mails x@y.com z@w.org"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 1 \
        and out[1]["n_phone"] == 1
    t = out[1]["text_redacted"]
    assert "<EMAIL>" in t and "<IP>" in t and "<PHONE>" in t
    assert "@" not in t and "10.0.0.1" not in t
    assert out[2]["n_email"] == out[2]["n_ip"] == out[2]["n_phone"] == 0
    assert out[2]["text_redacted"] == "no pii here"
    assert out[3]["n_email"] == 2
    # an email's digits must not double-count as phone/ip
    docs2 = spark.createDataFrame(
        [(1, "call 0123456789 or mail 0123456789@numeric.mail")],
        "doc_id long, text string")
    r = pii_redact(docs2).collect()[0]
    assert r["n_email"] == 1 and r["n_phone"] == 1


# ---------------------------------------------------------------------------
# webprep: URL → host/domain
# ---------------------------------------------------------------------------


def test_host_and_registered_domain(spark):
    rows = [
        (1, "https://WWW.News.BBC.co.uk:8080/p/1?q=1#f"),
        (2, "http://user:pw@example.com/x"),
        (3, "ftp://localhost/file"),
        (4, "not a url"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: (r["host"], r["domain"])
           for r in with_domain(docs).collect()}
    assert out[1] == ("www.news.bbc.co.uk", "co.uk")
    assert out[2] == ("example.com", "example.com")
    assert out[3] == ("localhost", "localhost")   # no dot: passthrough
    assert out[4] == ("", "")


# ---------------------------------------------------------------------------
# webprep: deterministic mixture sampling
# ---------------------------------------------------------------------------


def test_mixture_sample_deterministic_across_partitioning(spark):
    docs = spark.createDataFrame(
        [(i, "a.com" if i % 2 else "b.org") for i in range(2000)],
        "doc_id long, domain string")
    w = {"a.com": 0.5, "b.org": 0.1}
    one = {r["doc_id"] for r in mixture_sample(
        docs.repartition(1), w, seed=7).collect()}
    many = {r["doc_id"] for r in mixture_sample(
        docs.repartition(16), w, seed=7).collect()}
    assert one == many                      # partitioning-independent
    again = {r["doc_id"] for r in mixture_sample(
        docs, w, seed=7).collect()}
    assert again == one                     # run-to-run stable
    other = {r["doc_id"] for r in mixture_sample(
        docs, w, seed=8).collect()}
    assert other != one                     # the seed actually matters
    # rates land near the targets (splitmix64 is uniform)
    n_a = sum(1 for d in one if d % 2)
    n_b = len(one) - n_a
    assert abs(n_a / 1000 - 0.5) < 0.06
    assert abs(n_b / 1000 - 0.1) < 0.04


def test_sample_hash_matches_duckdb_mix64_on_negative_ids(spark):
    """The pandas-UDF splitmix64 and the exact-integer SQL oracle must
    agree bit-for-bit — including int64-negative ids, which must wrap
    into uint64 space (two's complement)."""
    from deces_dataprep_spark.operators.webprep import (
        _SAMPLE_MOD,
        duckdb_mix64_sql,
    )

    ids = [0, 1, -1, 2**63 - 1, -2**63, 123456789, -987654321]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["h"] for r in docs.select(
        "doc_id", sample_hash_col("doc_id", seed=7).alias("h")).collect()}
    import pandas as pd

    con = duckdb.connect()
    # register via pandas: a -2^63 SQL literal would overflow to
    # INT128 before the unary minus applies
    con.register("t", pd.DataFrame({"doc_id": pd.array(ids, "int64")}))
    uid = ("(CASE WHEN doc_id < 0 THEN doc_id::HUGEINT "
           "+ 18446744073709551616 ELSE doc_id::HUGEINT END)")
    h = duckdb_mix64_sql(f"({uid} + 7) % 18446744073709551616")
    want = dict(con.sql(
        f"SELECT doc_id, ({h}) % {_SAMPLE_MOD} FROM t").fetchall())
    assert got == {k: int(v) for k, v in want.items()}


# ---------------------------------------------------------------------------
# webprep: sequence packing
# ---------------------------------------------------------------------------


def test_pack_concat_chunks_offsets(spark):
    # one bucket so the layout is hand-checkable
    docs = spark.createDataFrame(
        [(0, 100), (32, 950), (64, 300), (96, 60)],
        "doc_id long, n_tokens long")
    out = {r["doc_id"]: r for r in pack_concat_chunks(
        docs, 1024, n_buckets=32).collect()}
    assert all(r["bucket"] == 0 for r in out.values())
    assert [out[d]["offset"] for d in (0, 32, 64, 96)] == \
        [0, 100, 1050, 1350]
    # doc 32 STARTS in seq 0 (straddles the 1024 cut — the documented
    # concat-and-chunk semantics); doc 64 starts in seq 1
    assert [out[d]["seq_id"] for d in (0, 32, 64, 96)] == [0, 0, 1, 1]


def test_pack_sequences_greedy_no_split(spark):
    docs = spark.createDataFrame(
        [(0, 600), (32, 500), (64, 500), (96, 300), (128, 2000)],
        "doc_id long, n_tokens long")
    out = pack_sequences_greedy(docs, 1024, n_buckets=32).collect()
    seqs = {}
    for r in out:
        seqs.setdefault((r["bucket"], r["seq_id"]), []).append(
            r["n_tokens"])
    # every doc lands exactly once
    assert sorted(r["doc_id"] for r in out) == [0, 32, 64, 96, 128]
    # no sequence exceeds the cap except oversize singletons
    for k, sizes in seqs.items():
        if len(sizes) > 1:
            assert sum(sizes) <= 1024, (k, sizes)
    # the oversize doc is alone in its sequence
    big = [k for k, sizes in seqs.items() if 2000 in sizes]
    assert len(big) == 1 and seqs[big[0]] == [2000]
    # FFD packs 600+300 and 500+500 together (2 bins, not 3)
    assert len(seqs) == 3


def test_pack_deterministic_across_partitioning(spark):
    docs = spark.createDataFrame(
        [(i, (i * 37) % 900 + 10) for i in range(500)],
        "doc_id long, n_tokens long")
    a = sorted(map(tuple, pack_sequences_greedy(
        docs.repartition(1), 1024).collect()))
    b = sorted(map(tuple, pack_sequences_greedy(
        docs.repartition(16), 1024).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# line-level dedup
# ---------------------------------------------------------------------------


def test_dedup_lines_first_occurrence_wins(spark):
    rows = [
        (1, ["cookie banner", "unique one"]),
        (2, ["cookie banner", "unique two", "cookie banner"]),
        (3, ["cookie banner"]),                     # fully deduped
        (4, []),                                    # empty doc
    ]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, lines array<string>")
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[1]["text_kept"] == "cookie banner\nunique one"
    assert out[1]["n_kept"] == 2 and out[1]["n_orig"] == 2
    # doc 2 keeps only its unique line (banner seen in doc 1; its own
    # second copy dropped too)
    assert out[2]["text_kept"] == "unique two"
    assert out[2]["n_kept"] == 1 and out[2]["n_orig"] == 3
    assert out[3]["text_kept"] == "" and out[3]["n_kept"] == 0
    assert out[4]["n_kept"] == 0 and out[4]["n_orig"] == 0


def test_dedup_lines_within_doc_position_order(spark):
    # duplicate INSIDE one doc: first position survives, order kept
    docs = spark.createDataFrame(
        [(7, ["b line", "a line", "b line", "c line"])],
        "doc_id long, lines array<string>")
    r = dedup_lines(docs).collect()[0]
    assert r["text_kept"] == "b line\na line\nc line"
    assert r["n_kept"] == 3 and r["n_orig"] == 4
