"""Layer probes of the traced run, and the event-log fold into per-layer
metrics.

Every traced run reports every per-layer metric. A workload measures the
layers its own phases exercise (``serve`` the query shapes, ``build`` the
snapshot writes); the probes below measure every layer from outside,
with small inputs taken from the same workload's pages and index: a
1/PROBE_MOD sample of the pages in two page files, seeded queries over
the index's own dictionary. The streaming ingest and the Spark-plan
query routes are measured only here, and their answers are checked: the
compacted stream against a batch build of the same pages, each
Spark-plan answer against TAAT.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import workloads
import helpers
import tracing


def _pages_sample(run, pages_dir: str) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(run.work, "probe_pages")
    with run.span("runner.sample_pages"):
        run.spark.read.parquet(pages_dir) \
            .filter(F.pmod(F.xxhash64("doc_id", F.lit(99)),
                           F.lit(workloads.PROBE_MOD)) == 0) \
            .repartitionByRange(2, "doc_id").write.parquet(out)
    return out


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def _timed(fn, reps: int = 1) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return helpers.median(times)


def analyze(run, sample: str, qm) -> None:
    from deces_dataprep_spark.functions.analyze import tokens_col
    from deces_dataprep_spark.index.query import analyze_query

    pages = run.spark.read.parquet(sample)
    with run.span("functions.analyze.tokens_col"):
        run.layer["analyze.tokenize_s"] = _timed(
            lambda: pages.select(tokens_col("text").alias("t"))
            .write.format("noop").mode("overwrite").save())
    texts = [qm.make(s)["text"] for s in ("dense", "selective", "mixed",
                                          "accented") for _ in range(25)]
    with run.span("functions.analyze.analyze_query"):
        us = []
        for t in texts:
            t0 = time.perf_counter()
            analyze_query(t)
            us.append((time.perf_counter() - t0) * 1e6)
    run.layer["analyze.query_us"] = helpers.median(us)


def builder(run, sample: str) -> None:
    from deces_dataprep_spark.index.builder import build_index

    pages = run.spark.read.parquet(sample)

    def build():
        tables = build_index(run.spark, pages, n_shards=workloads.N_SHARDS)
        tables.postings.write.format("noop").mode("overwrite").save()
        tables.norms.write.format("noop").mode("overwrite").save()
        tables.unpersist_tokens()

    with run.span("index.builder.build_index"):
        run.layer["builder.build_noop_s"] = _timed(build)


def codec(run, files: dict, qm) -> None:
    """Decode the head terms' blocks (the densest posting lists of the
    index) and re-encode the decoded arrays."""
    import numpy as np

    from deces_dataprep_spark.index.arrow_serve import ArrowIndexReader
    from deces_dataprep_spark.index.codec import (
        decode_blocks_concat,
        encode_postings_columnar,
    )

    reader = ArrowIndexReader.maybe(files)
    with run.span("index.arrow_serve.ArrowIndexReader.postings"):
        cols = reader.postings(qm.head[:8])
    groups: dict = {}
    for i, term in enumerate(cols["term"]):
        groups.setdefault((int(cols["shard"][i]), term), []).append(i)
    args = [([cols["doc_gaps"][i] for i in ix], [cols["tfs"][i] for i in ix],
             np.asarray([cols["first_doc"][i] for i in ix]),
             np.asarray([cols["n_docs"][i] for i in ix])) for ix in groups.values()]
    n_post = int(sum(int(a[3].sum()) for a in args))
    decoded = []

    def decode():
        decoded[:] = [decode_blocks_concat(*a) for a in args]

    def encode():
        for ids, tfs in decoded:
            encode_postings_columnar(ids, tfs)

    with run.span("index.codec.decode_blocks_concat"):
        run.layer["codec.decode_mpostings_per_s"] = n_post / 1e6 / _timed(decode, 5)
    with run.span("index.codec.encode_postings_columnar"):
        run.layer["codec.encode_mpostings_per_s"] = n_post / 1e6 / _timed(encode, 5)


def snapshots(run, sample: str, wh: str, pages_dir: str, qm) -> str:
    """Snapshot facts of the workload's index; returns a batch build of
    the sample pages (the streaming probe's reference), whose write and
    optimize times stand in when the workload built nothing itself."""
    import pyarrow.parquet as pq

    from deces_dataprep_spark.snapshots import load_index

    batch_wh = os.path.join(run.work, "probe_wh")
    w, o = run.build_once(sample, batch_wh)
    run.layer.setdefault("snapshots.write_index_s", w)
    run.layer.setdefault("snapshots.optimize_s", o)
    with run.span("snapshots.load_index"):
        run.layer["snapshots.load_index_s"] = _timed(
            lambda: load_index(run.spark, wh), 3)
    with run.span("runner.parquet_footers"):
        files = workloads.snapshot_files(wh)
        ranges = []
        for f in files["postings"]:
            md = pq.ParquetFile(f).metadata
            ti = md.schema.names.index("term")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ti).statistics
                ranges.append((st.min, st.max) if st is not None and st.has_min_max
                              else (None, None))
        terms = qm.head[:10] + qm.mid[:10] + qm.tail[:10]
        per_term = [sum(1 for lo, hi in ranges
                        if lo is None or lo <= t <= hi) for t in terms]
        run.layer["snapshots.row_groups_per_term"] = sum(per_term) / len(per_term)
        live = sum(os.path.getsize(f) for fs in files.values() for f in fs)
        total = helpers.tree_bytes(wh)
        run.layer["snapshots.bytes_written_per_input_byte"] = (
            total / workloads.text_bytes(pages_dir))
        run.layer["snapshots.dead_bytes_ratio"] = (total - live) / total
    return batch_wh


def incremental(run, sample: str, batch_wh: str, qm) -> None:
    """Drop the sample's page files, ingest one micro-batch per file,
    compact, and check the compacted index against the batch build of
    the same pages."""
    from deces_dataprep_spark.streaming.incremental import (
        compact_deltas,
        incremental_index,
        stream_pages,
    )

    files = _parquet_files(sample)
    wh = os.path.join(run.work, "probe_stream")
    in_dir = os.path.join(run.work, "probe_stream_in")
    os.makedirs(in_dir)
    for i, f in enumerate(files):
        shutil.copy(f, os.path.join(in_dir, f"part-{i:05d}.parquet"))
    with run.span("streaming.incremental.incremental_index") as sp:
        q = incremental_index(
            run.spark, stream_pages(run.spark, in_dir, max_files_per_trigger=1),
            wh, n_shards=workloads.N_SHARDS,
            checkpoint=os.path.join(run.work, "probe_stream_ck"))
        q.awaitTermination()
    t1 = time.perf_counter()
    with run.span("streaming.incremental.compact_deltas"):
        compact_deltas(run.spark, wh, n_shards=workloads.N_SHARDS)
    compact_s = time.perf_counter() - t1
    run.attempted += len(files) + 1
    batches = [p["durationMs"]["triggerExecution"] / 1000.0
               for p in q.recentProgress if p["numInputRows"] > 0]
    if len(batches) != len(files):
        raise RuntimeError(f"{len(batches)} micro-batches for {len(files)} files")
    run.layer["incremental.first_batch_s"] = batches[0]
    run.layer["incremental.batch_p50_s"] = helpers.median(batches[1:] or batches)
    run.layer["incremental.compact_s"] = compact_s
    run.stream_span = (sp["id"], len(batches))
    stream_eng = run.engine(wh)
    ref = run.engine(batch_wh)
    for shape in ("dense", "selective", "mixed", "accented"):
        qq = qm.make(shape)
        run.check(f"batch-ref: {qq['text']!r}", lambda qq=qq: helpers.topk_mismatch(
            run.query(stream_eng, qq, "taat"), run.query(ref, qq, "taat"), workloads.K))


def cluster(run, wh: str, qm) -> None:
    """The run's first Spark-plan query, then two distributed (the route
    ``auto`` takes at scale) to one broadcast, each checked against TAAT."""
    eng = run.engine(wh)
    taat = run.engine(wh)
    methods = ["distributed", "distributed", "broadcast"]
    methods = ["distributed"] + [methods[i] for i in run.rng.permutation(3)]
    recs = []
    for i, m in enumerate(methods):
        q = qm.make(("dense", "selective", "mixed")[i % 3])
        t = time.perf_counter()
        with run.span(f"index.query.QueryEngine.search.{m}") as sp:
            res = eng.search(q["text"], workloads.K, method=m)
        recs.append((m, (time.perf_counter() - t) * 1000.0, sp["id"]))
        run.check(f"taat: {m} {q['text']!r}", lambda q=q, res=res: helpers.topk_mismatch(
            res, run.query(taat, q, "taat"), workloads.K))
    run.layer["query.cluster_first_ms"] = recs[0][1]
    run.layer["query.dist_p50_ms"] = helpers.median(
        [ms for m, ms, _ in recs[1:] if m == "distributed"])
    run.layer["query.broadcast_p50_ms"] = helpers.median(
        [ms for m, ms, _ in recs[1:] if m == "broadcast"])
    run.cluster_spans = [sid for _, _, sid in recs[1:]]


def arrow(run, files: dict, qm) -> None:
    from deces_dataprep_spark.index.arrow_serve import ArrowIndexReader
    from deces_dataprep_spark.index.query import analyze_query

    with run.span("index.arrow_serve.ArrowIndexReader"):
        t = time.perf_counter()
        reader = ArrowIndexReader.maybe(files)
        reader.stats()
        reader.term_dfs(qm.head[:1])
        reader.postings([])
        run.layer["arrow_serve.open_s"] = time.perf_counter() - t
    with run.span("index.arrow_serve.ArrowIndexReader.all_norms"):
        run.layer["arrow_serve.norms_load_s"] = _timed(reader.all_norms)
    ms = []
    with run.span("index.arrow_serve.ArrowIndexReader.postings"):
        for shape in ("dense", "selective", "mixed", "accented") * 5:
            terms = analyze_query(qm.make(shape)["text"])
            ms.append(_timed(lambda: reader.postings(terms)) * 1000.0)
    run.layer["arrow_serve.postings_p50_ms"] = helpers.median(ms)


def wand(run, wh: str, qm) -> None:
    """WAND and TAAT on the same dense and selective queries, postings
    and norms already fetched, so only the kernels are timed."""
    from deces_dataprep_spark.index.query import analyze_query

    eng = run.engine(wh)
    dfs = dict(workloads.dictionary_by_df(workloads.snapshot_files(wh)))
    w_ms, t_ms, cand = [], [], []
    for shape in ("dense", "selective") * 5:
        q = qm.make(shape)
        run.query(eng, q, "taat")
        with run.span("index.wand.wand_topk"):
            w_ms.append(_timed(lambda: eng.search(q["text"], workloads.K, method="wand")) * 1e3)
        with run.span("index.wand.taat_topk"):
            t_ms.append(_timed(lambda: eng.search(q["text"], workloads.K, method="taat")) * 1e3)
        cand.append(sum(dfs.get(t, 0) for t in analyze_query(q["text"])))
    run.layer["wand.wand_p50_ms"] = helpers.median(w_ms)
    run.layer["wand.taat_p50_ms"] = helpers.median(t_ms)
    run.layer["wand.candidate_postings_p50"] = helpers.median(cand)


def fill(run, e2e: dict) -> None:
    """Measure every layer from outside on the workload's own pages and
    index; the workload's own numbers for a layer are kept."""
    files = workloads.snapshot_files(e2e["index"])
    qm = workloads.QueryMaker(files, run.rng)
    sample = _pages_sample(run, e2e["pages"])
    analyze(run, sample, qm)
    builder(run, sample)
    codec(run, files, qm)
    batch_wh = snapshots(run, sample, e2e["index"], e2e["pages"], qm)
    incremental(run, sample, batch_wh, qm)
    arrow(run, files, qm)
    wand(run, e2e["index"], qm)
    if "query.first_query_ms" not in run.layer:
        recs: list = []
        run.serve_segment(run.engine(e2e["index"]), qm.segment(), recs)
        run.query_layers(recs)
    cluster(run, e2e["index"], qm)


def _subtree(tracer, root: int) -> list[int]:
    ids, frontier = [root], [root]
    while frontier:
        kids = [s["id"] for s in tracer.spans if s["parent"] in frontier]
        ids += kids
        frontier = kids
    return ids


def _totals(run, folded, roots: list[int]) -> dict:
    return tracing.merge([folded["spans"][i] for r in roots
                          for i in _subtree(run.tracer, r) if i in folded["spans"]])


def fold_layers(run) -> None:
    """Fold the event log onto the spans; print the per-module ledger."""
    tr = run.tracer
    folded = tracing.fold(tracing.read_event_log(run.event_log), tr.spans, tr.run_id)

    b = _totals(run, folded, [s["id"] for s in tr.spans_named("index.builder.build_index")])
    run.layer.update({
        "builder.executor_run_s": b["executor_run_ms"] / 1000.0,
        "builder.python_eval_s": b["python_eval_ms"] / 1000.0,
        "builder.gc_s": b["gc_ms"] / 1000.0,
        "builder.shuffle_write_bytes": b["shuffle_write_bytes"],
        "builder.spill_bytes": b["spill_bytes"],
        "builder.tasks": b["tasks"],
        "builder.task_skew": tracing.task_skew(b),
    })
    span_id, n_batches = run.stream_span
    run.layer["incremental.jobs_per_batch"] = (
        _totals(run, folded, [span_id])["jobs"] / n_batches)
    per_q = [_totals(run, folded, [s]) for s in run.cluster_spans]
    run.layer["query.jobs_per_cluster_query"] = (
        sum(t["jobs"] for t in per_q) / len(per_q))
    run.layer["query.tasks_per_cluster_query"] = (
        sum(t["tasks"] for t in per_q) / len(per_q))
    run.layer["trace.overhead_share"] = tr.overhead_s / (time.time() - workloads.T0)
    run.layer["trace.uncovered_share"] = tr.uncovered_share()
    print(json.dumps({"ledger": tracing.ledger(tr, folded)}, sort_keys=True))
