"""One measured run of a workload, or the one-off preparation of its inputs.

Started by ``run.py``, which sizes the host, prepares the cache and
passes ``HOSTBENCH_T0`` (the wall clock just before this process was
spawned) so ``setup_s`` counts interpreter and JVM start.

The run drives the package only through its public API. Every answer is
checked outside the timed regions; a mismatch or an exception counts as
a failed operation. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

T0 = float(os.environ.get("HOSTBENCH_T0", time.time()))

import numpy as np  # noqa: E402

import helpers  # noqa: E402
import tracing  # noqa: E402

K = 10
N_SHARDS = 4
#: corpus variants prepared per checkout; ``seed % VARIANTS`` picks one
VARIANTS = 4
CORPUS_SEED0 = 1000
N_CORPUS = 20_000
TOKENS = (150, 300)
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang", "doc_id"]
#: a build reindexes the seed's whole corpus variant (N_CORPUS pages) in
#: a JVM that has run nothing else: a batch reindex job. A cold build of
#: a few hundred pages already takes about half as long (see
#: STEADINESS.md, build size), so a smaller slice would leave per-page
#: work a minor share of the wall. ``--build-mod M`` reindexes a seeded
#: 1/M slice instead; ``steadiness.py`` uses it to measure that share
BUILD_MOD = 1
#: the traced run's layer probes use 1/PROBE_MOD of the workload's pages
PROBE_MOD = 10

#: a serve run sends round(--seconds / SERVE_SEGMENT_S) segments, the
#: cost of one segment and its answer checks on a 4-core host: the work
#: depends on --seconds only, never on how fast the host happens to be
SERVE_SEGMENT_S = 6.0

#: query shapes dealt per serve segment, in fixed proportions; the
#: repeats copy earlier queries of these shapes, so the mix of work a
#: segment holds does not depend on the seed. The counts are an
#: assumption, not taken from a query log: selective queries are the
#: common case of a search box, so they get twice the share of each
#: other class; four is the least count that deals each dense term
#: count and each query_string template once per segment; six repeats
#: (a fifth of the segment) give the term cache and the TAAT memo a
#: sample per segment without making cached answers the median query
SEGMENT = (("dense", 4), ("selective", 8), ("mixed", 4), ("accented", 4),
           ("querystring", 4))
REPEATS = ("dense", "dense", "mixed", "selective", "selective", "querystring")
#: surface forms of the corpus's accented words, for the analyzer to fold
ACCENTED = ("Café", "DÉCÈS", "Ångström", "NAÏVE", "Señor", "Über", "ÉCLAIR")
#: accented capitals that fold onto the ASCII letters of dictionary terms
ACCENT_MAP = str.maketrans("aceinouwy", "ÀÇÉÏÑÔÜẂÝ")
#: per segment: one dense query of each term count, one query_string of
#: each template (AND, OR, NOT, prefix)
DENSE_TERMS = (2, 3, 3, 4)
QS_TEMPLATES = ("+{h} +{m}", "{m} | {t}", "+{h} -{m}", "{p}*")

PER_LAYER = (
    ("session.start_s", "s"),
    ("analyze.tokenize_s", "s"), ("analyze.query_us", "us"),
    ("builder.build_noop_s", "s"), ("builder.executor_run_s", "s"),
    ("builder.python_eval_s", "s"), ("builder.gc_s", "s"),
    ("builder.shuffle_write_bytes", "B"), ("builder.spill_bytes", "B"),
    ("builder.tasks", "count"), ("builder.task_skew", "ratio"),
    ("codec.encode_mpostings_per_s", "Mpostings/s"),
    ("codec.decode_mpostings_per_s", "Mpostings/s"),
    ("snapshots.write_index_s", "s"), ("snapshots.optimize_s", "s"),
    ("snapshots.load_index_s", "s"), ("snapshots.row_groups_per_term", "count"),
    ("snapshots.bytes_written_per_input_byte", "ratio"),
    ("snapshots.dead_bytes_ratio", "ratio"),
    ("incremental.first_batch_s", "s"), ("incremental.batch_p50_s", "s"),
    ("incremental.compact_s", "s"), ("incremental.jobs_per_batch", "count"),
    ("arrow_serve.open_s", "s"), ("arrow_serve.norms_load_s", "s"),
    ("arrow_serve.postings_p50_ms", "ms"),
    ("wand.wand_p50_ms", "ms"), ("wand.taat_p50_ms", "ms"),
    ("wand.candidate_postings_p50", "count"),
    ("querystring.p50_ms", "ms"),
    ("query.first_query_ms", "ms"), ("query.cold_p50_ms", "ms"),
    ("query.repeat_p50_ms", "ms"), ("query.dense_p50_ms", "ms"),
    ("query.selective_p50_ms", "ms"), ("query.mixed_p50_ms", "ms"),
    ("query.accented_p50_ms", "ms"), ("query.tail_ms", "ms"),
    ("query.dist_p50_ms", "ms"), ("query.broadcast_p50_ms", "ms"),
    ("query.cluster_first_ms", "ms"), ("query.jobs_per_cluster_query", "count"),
    ("query.tasks_per_cluster_query", "count"),
    ("host.cpu_probe_before_ms", "ms"), ("host.cpu_probe_after_ms", "ms"),
    ("trace.overhead_share", "ratio"), ("trace.uncovered_share", "ratio"),
)
END_TO_END = (("setup_s", "s"), ("driver_rss_mb", "MB"), ("op_p50_ms", "ms"),
              ("op_rate_per_s", "1/s"), ("bytes_per_posting", "B"))


def log(msg: str) -> None:
    print(f"[hostbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- set-up

def start_spark(app: str, work: str, event_log: str | None):
    from deces_dataprep_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare(cache: str, work: str) -> None:
    """Build every variant's corpus and its optimized serve index, in
    place under ``cache`` (snapshot manifests hold absolute paths)."""
    from deces_dataprep_spark.snapshots import optimize_postings, write_index
    from deces_dataprep_spark.sources.corpus import synth_pages

    spark = start_spark("hostbench-prepare", work, None)
    try:
        for v in range(VARIANTS):
            d = os.path.join(cache, f"v{v}")
            t = time.time()
            synth_pages(spark, N_CORPUS, seed=CORPUS_SEED0 + v,
                        min_tokens=TOKENS[0], max_tokens=TOKENS[1]) \
                .select(*PAGE_COLS).write.parquet(os.path.join(d, "pages"))
            pages = spark.read.parquet(os.path.join(d, "pages"))
            write_index(spark, pages, os.path.join(d, "serve"))
            optimize_postings(spark, os.path.join(d, "serve"))
            log(f"prepared variant {v} in {time.time() - t:.1f}s")
    finally:
        spark.stop()


# ---------------------------------------------------------- index facts

def snapshot_files(wh: str) -> dict[str, list[str]]:
    from deces_dataprep_spark.snapshots import SnapshotLog

    snap = SnapshotLog(wh).latest()
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {wh}")
    return {name: t["files"] for name, t in snap["tables"].items()}


def column_sum(files: list[str], col: str) -> int:
    import pyarrow.parquet as pq

    return int(sum(pq.read_table(f, columns=[col])[col].to_numpy().sum()
                   for f in files))


def row_count(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def index_facts(wh: str) -> dict:
    files = snapshot_files(wh)
    live = sum(os.path.getsize(f) for fs in files.values() for f in fs)
    return {"sum_df": column_sum(files["dictionary"], "df"),
            "postings": column_sum(files["postings"], "n_docs"),
            "norms_rows": row_count(files["norms"]),
            "live_bytes": live, "files": files}


def gate_reason(facts: dict, n_docs: int) -> str | None:
    if facts["sum_df"] != facts["postings"]:
        return f"sum(df) {facts['sum_df']} != postings {facts['postings']}"
    if facts["norms_rows"] != n_docs:
        return f"norms rows {facts['norms_rows']} != docs {n_docs}"
    return None


def text_bytes(pages_dir: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(pages_dir, format="parquet").to_table(columns=["text"])
    return int(pc.sum(pc.binary_length(t["text"])).as_py())


def dictionary_by_df(files: dict) -> list[tuple[str, int]]:
    import pyarrow.dataset as ds

    t = ds.dataset(files["dictionary"], format="parquet").to_table(
        columns=["term", "df"])
    pairs = list(zip(t["term"].to_pylist(), t["df"].to_pylist()))
    pairs.sort(key=lambda p: (-p[1], p[0]))
    return pairs


# -------------------------------------------------------------- queries

class QueryMaker:
    """Seeded queries over an index's own dictionary: head terms (top
    30 by df), mid terms (ranks 100-999) and tail terms (rank 1000 on,
    df at least 2), each a term the query analyzer maps onto itself, plus
    accented surface forms for the analyzer to fold: the corpus's own
    accented words, and dictionary terms written in accented capitals.

    ``accented_matched`` counts the accented forms whose folded term the
    index holds. The index build tokenizes without ASCII folding while
    the query analyzer folds, so on a corpus with accented words this
    count is 0: those query terms match no posting."""

    def __init__(self, files: dict, rng: np.random.Generator):
        import pandas as pd

        from deces_dataprep_spark.functions.analyze import tokenize_series
        from deces_dataprep_spark.index.query import analyze_query

        pairs = dictionary_by_df(files)
        toks = tokenize_series(pd.Series([t for t, _ in pairs]))
        terms = [p for p, tk in zip(pairs, toks) if tk == [p[0]]]
        self.rng = rng
        self.head = [t for t, _ in terms[:30]]
        self.mid = [t for t, _ in terms[100:1000]]
        self.tail = [t for t, df in terms[1000:] if df >= 2]
        self.accented = list(ACCENTED)
        vocab = {t for t, _ in terms}
        self.accented_matched = sum(
            all(x in vocab for x in analyze_query(s)) for s in ACCENTED)
        if not (self.head and self.mid and self.tail):
            raise RuntimeError("dictionary too small for the query shapes")

    def pick(self, pool, n):
        return [str(x) for x in self.rng.choice(pool, size=n, replace=False)]

    @staticmethod
    def accent(term: str) -> str:
        """``term`` in accented capitals that the analyzer folds back
        onto it (``w00543`` -> ``Ẃ00543``)."""
        from deces_dataprep_spark.index.query import analyze_query

        form = term.translate(ACCENT_MAP).upper()
        return form if analyze_query(form) == [term] else term.upper()

    def make(self, shape: str, i: int | None = None) -> dict:
        """A query of ``shape``; ``i`` picks the dense term count and
        the query_string template, at random when None."""
        r = self.rng
        if i is None:
            i = int(r.integers(len(QS_TEMPLATES)))
        if shape == "dense":
            words = self.pick(self.head, DENSE_TERMS[i % len(DENSE_TERMS)])
        elif shape == "selective":
            words = self.pick(self.mid, 1) + self.pick(self.tail, 1)
        elif shape == "mixed":
            words = self.pick(self.head, 1) + self.pick(self.tail, 2)
        elif shape == "accented":
            words = self.pick(self.accented, 1) + [
                self.accent(t) for t in self.pick(self.mid, 1) + self.pick(self.tail, 1)]
        elif shape == "querystring":
            m = self.pick(self.mid, 1)[0]
            text = QS_TEMPLATES[i % len(QS_TEMPLATES)].format(
                h=self.pick(self.head, 1)[0], m=m, t=self.pick(self.tail, 1)[0],
                p=m[:4])
            return {"shape": shape, "kind": "qs", "text": text,
                    "template": i % len(QS_TEMPLATES)}
        else:
            raise ValueError(shape)
        r.shuffle(words)
        return {"shape": shape, "kind": "bm25", "text": " ".join(words)}

    def segment(self) -> list[dict]:
        """One segment: every shape in its fixed count (the dense term
        counts and query_string templates dealt once each), in seeded
        order; each repeat copies an earlier query of its source shape
        and is placed after it."""
        base = [self.make(s, i) for s, n in SEGMENT for i in range(n)]
        seq = [base[i] for i in self.rng.permutation(len(base))]
        for shape in REPEATS:
            srcs = [i for i, q in enumerate(seq)
                    if q["shape"] == shape]
            src = srcs[int(self.rng.integers(len(srcs)))]
            pos = int(self.rng.integers(src + 1, len(seq) + 1))
            seq.insert(pos, {**seq[src], "shape": "repeat"})
        return seq


# ------------------------------------------------------------- the run

class Run:
    """State of one measured run: Spark, tracer, counts and metrics."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.variant = args.seed % VARIANTS
        self.vdir = os.path.join(args.cache, f"v{self.variant}")
        self.rng = np.random.default_rng(args.seed)
        self.trace = bool(args.trace)
        self.event_log = os.path.join(args.work, "eventlog") if self.trace else None
        self.tracer = tracing.Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.report: dict[str, dict] = {}
        self.layer: dict[str, float] = {}
        self.phase_walls: dict[str, float] = {}
        self.spark = None

    # helpers ----------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        with self.span(f"phase.{name}"):
            yield
        self.phase_walls[name] = time.perf_counter() - t
        log(f"{self.args.workload}: {name} done at {time.time() - T0:.1f}s")

    def put(self, name: str, value: float, unit: str, n: int, **extra) -> None:
        self.report[name] = {"value": float(value), "unit": unit,
                             "samples": int(n), **extra}

    def op_failed(self, what: str, reason: str) -> None:
        self.failed += 1
        self.notes.append(f"{what}: {reason}")

    def check(self, what: str, fn) -> None:
        """A correctness check outside the timed regions: one attempted
        operation, failed when it raises or returns a reason."""
        self.attempted += 1
        with self.span(f"runner.check.{what.split(':')[0]}"):
            try:
                reason = fn()
            except Exception as e:  # a failed check must not end the run
                reason = f"{type(e).__name__}: {e}"
        if reason:
            self.op_failed(what, reason)

    def engine(self, wh: str):
        """A QueryEngine on the arrow serving tier over ``wh``'s latest snapshot."""
        from deces_dataprep_spark.index.query import QueryEngine
        from deces_dataprep_spark.snapshots import load_index

        with self.span("snapshots.load_index"):
            tables = load_index(self.spark, wh)
        with self.span("index.query.QueryEngine"):
            return QueryEngine(tables, io="arrow", spark=self.spark)

    def query(self, eng, q: dict, method: str = "auto"):
        if q["kind"] == "qs":
            with self.span("index.query.QueryEngine.query_string"):
                return eng.query_string(q["text"], K)
        with self.span("index.query.QueryEngine.search"):
            return eng.search(q["text"], K, method=method)

    def oracle_check(self, pages_dir: str, eng, q: dict) -> None:
        """One query against the Spark-SQL oracle over the raw pages."""
        from deces_dataprep_spark.index.query import bm25_topk_df
        from deces_dataprep_spark.index.querystring import query_string_topk_df

        def run():
            got = self.query(eng, q)
            pages = self.spark.read.parquet(pages_dir)
            fn = query_string_topk_df if q["kind"] == "qs" else bm25_topk_df
            module = fn.__module__.removeprefix("deces_dataprep_spark.")
            with self.span(f"{module}.{fn.__name__}"):
                want = [(r["doc_id"], r["score"])
                        for r in fn(self.spark, pages, q["text"], K).collect()]
            return helpers.topk_mismatch(got, want, K)

        self.check(f"oracle: {q['text']!r}", run)

    # phases -----------------------------------------------------------
    def start(self) -> None:
        with self.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = start_spark(f"hostbench-{self.args.workload}",
                                     self.work, self.event_log)
            self.layer["session.start_s"] = time.perf_counter() - t
        if self.trace:
            # spans from here on set Spark job groups
            self.tracer.sc = self.spark.sparkContext

    # ------------------------------------------------------------ build
    def build_slice(self) -> str:
        from pyspark.sql import functions as F

        pages_dir = os.path.join(self.vdir, "pages")
        if self.args.build_mod == 1:
            return pages_dir
        out = os.path.join(self.work, "slice")
        with self.span("runner.slice_corpus"):
            pages = self.spark.read.parquet(pages_dir)
            pages.filter(F.pmod(F.xxhash64("doc_id", F.lit(self.args.seed)),
                                F.lit(self.args.build_mod)) == 0) \
                .write.parquet(out)
        return out

    def build_once(self, pages_dir: str, wh: str) -> tuple[float, float]:
        from deces_dataprep_spark.snapshots import optimize_postings, write_index

        pages = self.spark.read.parquet(pages_dir)
        t0 = time.perf_counter()
        with self.span("snapshots.write_index"):
            write_index(self.spark, pages, wh, n_shards=N_SHARDS)
        t1 = time.perf_counter()
        with self.span("snapshots.optimize_postings"):
            optimize_postings(self.spark, wh)
        return t1 - t0, time.perf_counter() - t1

    def workload_build(self) -> dict:
        with self.phase("setup"):
            self.start()
            slice_dir = self.build_slice()
            with self.span("runner.count_docs"):
                n_docs = row_count(sorted(
                    os.path.join(slice_dir, f) for f in os.listdir(slice_dir)
                    if f.endswith(".parquet")))
        setup_s = time.time() - T0

        wh = os.path.join(self.work, "wh")
        with self.phase("measure"):
            self.attempted += 1
            w, o = self.build_once(slice_dir, wh)
        rss = helpers.peak_rss_mb()

        with self.phase("check"):
            with self.span("runner.index_facts"):
                facts = index_facts(wh)
            self.check("gates: built index", lambda: gate_reason(facts, n_docs))
            qm = QueryMaker(facts["files"], self.rng)
            eng = self.engine(wh)
            taat = self.engine(wh)
            for shape in ("dense", "selective", "mixed"):
                q = qm.make(shape)
                self.check(f"taat: {q['text']!r}", lambda q=q: helpers.topk_mismatch(
                    self.query(eng, q), self.query(taat, q, "taat"), K))
            self.oracle_check(slice_dir, eng, qm.make("selective"))

        self.put("build_docs_per_s", n_docs / (w + o), "docs/s", 1, docs=n_docs,
                 build_mod=self.args.build_mod)
        bpp = facts["live_bytes"] / facts["sum_df"]
        self.put("bytes_per_posting", bpp, "B", 1)
        self.layer["snapshots.write_index_s"] = w
        self.layer["snapshots.optimize_s"] = o
        return {"setup_s": setup_s, "op_p50_ms": (w + o) * 1000.0,
                "op_rate_per_s": n_docs / (w + o), "bytes_per_posting": bpp,
                "driver_rss_mb": rss, "pages": slice_dir, "index": wh}

    # ------------------------------------------------------------ serve
    def serve_segment(self, eng, queries: list[dict], out: list[dict]) -> None:
        from deces_dataprep_spark.index.query import analyze_query

        seen: set[str] = set()
        for q in queries:
            terms = set(analyze_query(q["text"])) if q["kind"] == "bm25" else set()
            cold = q["kind"] == "bm25" and q["shape"] != "repeat" and not (terms & seen)
            seen |= terms
            self.attempted += 1
            t = time.perf_counter()
            try:
                res = self.query(eng, q)
            except Exception as e:
                self.op_failed(f"query {q['text']!r}", f"{type(e).__name__}: {e}")
                continue
            out.append({"q": q, "ms": (time.perf_counter() - t) * 1000.0,
                        "cold": cold, "result": res})

    def workload_serve(self) -> dict:
        wh = os.path.join(self.vdir, "serve")
        pages = os.path.join(self.vdir, "pages")
        with self.phase("setup"):
            self.start()
            eng = self.engine(wh)
            with self.span("runner.query_maker"):
                facts = index_facts(wh)
                qm = QueryMaker(facts["files"], self.rng)
                n_seg = max(3, round(self.args.seconds / SERVE_SEGMENT_S))
                segments = [qm.segment() for _ in range(n_seg)]
        setup_s = time.time() - T0

        recs: list[dict] = []
        with self.phase("measure"):
            t0 = time.perf_counter()
            for i, seg in enumerate(segments):
                if i:
                    eng = self.engine(wh)
                self.serve_segment(eng, seg, recs)
            wall = time.perf_counter() - t0
        rss = helpers.peak_rss_mb()

        with self.phase("check"):
            self.check("gates: served index", lambda: gate_reason(
                facts, row_count(sorted(
                    os.path.join(pages, f) for f in os.listdir(pages)
                    if f.endswith(".parquet")))))
            taat = self.engine(wh)
            # every BM25 answer against a TAAT engine's; a seeded
            # query_string text per template against the Spark plan over
            # the persisted index (about 2 s each); any other
            # query_string text only where it recurs, against its first
            # answer
            want: dict[str, list] = {}
            qs_checked = self.qs_sample(recs)

            def expected(q: dict) -> list:
                if q["text"] not in want:
                    want[q["text"]] = (
                        self.query(taat, q, "taat") if q["kind"] == "bm25"
                        else self.query_string_from_index(taat, q))
                return want[q["text"]]

            for r in recs:
                q = r["q"]
                if q["kind"] == "qs" and q["text"] not in qs_checked \
                        and q["text"] not in want:
                    want[q["text"]] = r["result"]
                    continue
                self.check(f"answer: {q['text']!r}", lambda r=r: helpers.topk_mismatch(
                    r["result"], expected(r["q"]), K))
            pool = [r["q"] for r in recs if r["q"]["kind"] == "bm25"]
            self.oracle_check(pages, taat, pool[int(self.rng.integers(len(pool)))])

        if not recs:
            raise RuntimeError("every query failed: " + "; ".join(self.notes))
        lat = [r["ms"] for r in recs]
        p50 = helpers.median(lat)
        qps = len(recs) / wall
        self.put("query_p50_ms", p50, "ms", len(lat))
        tl = helpers.tail(lat)
        if tl:
            self.put("query_tail_ms", tl[1], "ms", len(lat), percentile=tl[0])
        self.put("queries_per_s", qps, "1/s", len(lat))
        bpp = facts["live_bytes"] / facts["sum_df"]
        self.put("bytes_per_posting", bpp, "B", 1)
        self.put("accented_forms_matched", qm.accented_matched, "count",
                 len(ACCENTED))
        self.query_layers(recs)
        return {"setup_s": setup_s, "op_p50_ms": p50, "op_rate_per_s": qps,
                "bytes_per_posting": bpp, "driver_rss_mb": rss, "pages": pages,
                "index": wh}

    def qs_sample(self, recs: list[dict]) -> set[str]:
        """One seeded query_string text per template, from first answers."""
        by_template: dict[int, list[str]] = {}
        for r in recs:
            q = r["q"]
            if q["shape"] == "querystring":
                by_template.setdefault(q["template"], []).append(q["text"])
        return {texts[int(self.rng.integers(len(texts)))]
                for _, texts in sorted(by_template.items())}

    def query_string_from_index(self, eng, q: dict) -> list:
        from deces_dataprep_spark.index.querystring import (
            query_string_topk_from_index,
        )

        with self.span("index.querystring.query_string_topk_from_index"):
            return [(r["doc_id"], r["score"]) for r in query_string_topk_from_index(
                self.spark, eng.tables, q["text"], K).collect()]

    def query_layers(self, recs: list[dict]) -> None:
        lat = [r["ms"] for r in recs]
        self.layer["query.first_query_ms"] = lat[0]
        tl = helpers.tail(lat)
        self.layer["query.tail_ms"] = tl[1] if tl else max(lat)
        cold = [r["ms"] for r in recs if r["cold"]]
        if cold:
            self.layer["query.cold_p50_ms"] = helpers.median(cold)
        for shape in ("repeat", "dense", "selective", "mixed", "accented"):
            xs = [r["ms"] for r in recs if r["q"]["shape"] == shape]
            if xs:
                self.layer[f"query.{shape}_p50_ms"] = helpers.median(xs)
        xs = [r["ms"] for r in recs if r["q"]["shape"] == "querystring"]
        if xs:
            self.layer["querystring.p50_ms"] = helpers.median(xs)


WORKLOADS = {"build": Run.workload_build, "serve": Run.workload_serve}


def main() -> int:
    """Entry point of the measured child process (see ``run.py``)."""
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--build-mod", type=int, default=BUILD_MOD)
    ap.add_argument("--prepare", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()

    if args.prepare:
        prepare(args.cache, args.work)
        return 0

    import probes

    run = Run(args)
    if run.trace:
        run.tracer = tracing.Tracer(enabled=True)
    run.layer["host.cpu_probe_before_ms"] = helpers.cpu_probe_ms()
    try:
        e2e = WORKLOADS[args.workload](run)
        if run.trace:
            with run.phase("probe"):
                probes.fill(run, e2e)
    finally:
        if run.spark is not None:
            run.spark.stop()
    run.layer["host.cpu_probe_after_ms"] = helpers.cpu_probe_ms()
    run.put("setup_s", e2e["setup_s"], "s", 1)
    run.put("driver_rss_mb", e2e["driver_rss_mb"], "MB", 1)
    for key in ("host.cpu_probe_before_ms", "host.cpu_probe_after_ms"):
        run.put(key, run.layer[key], "ms", 1)

    if run.trace:
        probes.fold_layers(run)
        names = PER_LAYER
        values = run.layer
    else:
        names = END_TO_END
        values = e2e
    missing = [n for n, _ in names if n not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"report": run.report, "variant": run.variant,
                      "phases_s": run.phase_walls, "failures": run.notes[:20]},
                     sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names},
    }))
    return 0


