"""SPIMI-style distributed inverted-index build (SURVEY §7.4, §2B #25).

The reference delegates index construction to Elasticsearch (bulk sink,
``datasets/deces_index.yml``); here it is explicit Spark dataflow.

Architecture — designed for 10^12-doc scale, tested on local[32]:

1. **Sharding by doc space.** The index is ``n_shards`` independent
   sub-indexes, ``shard = pmod(doc_id, n_shards)`` (exactly ES's own
   shard model). This is the *salt* of the posting shuffle: a head
   term's postings are split across shards, so no single task ever owns
   a stopword's global posting list. Queries run WAND per shard and
   merge the per-shard partial top-k (the sort-merge of partials;
   exact because scoring uses *global* df/N/avgdl).

2. **One posting shuffle, fully columnar.** ``explode(tokens)`` →
   ``repartition(P, shard, term)`` → ``sortWithinPartitions(shard,
   term, doc_id)``. ``dl`` (doc length) is attached before the explode
   so it rides along. Tungsten's sort-based shuffle spills to disk, so
   even a pathological (shard, term) run never has to fit in memory as
   one record — this replaces the earlier collect_list compaction,
   which materialized per-bucket arrays (GC-heavy) and needed a second
   shuffle plus a dictionary join.

3. **Streaming numpy encoder.** ``mapInPandas`` consumes the sorted
   columnar stream: consecutive equal doc_ids within a (shard, term)
   run collapse to tf (so no separate tf aggregation shuffle), blocks
   are emitted incrementally as 128 postings accumulate (constant
   memory per group, whatever the term's df), and each block stores
   ``block_max_tfnorm = max(tf / (tf + k1(1-b+b·dl/avgdl)))`` — the
   tf-norm part of BM25. idf is a per-term constant, so factoring it
   out of the stored bound removes the global-df join from the build
   entirely; the query side multiplies the bound by idf(df) from the
   dictionary.

4. **Dictionary from block metadata.** Each block carries ``n_docs``
   and ``sum_tf``, so ``dictionary(term, df, cf)`` is a cheap
   aggregation over posting *blocks* (thousands of times smaller than
   postings) — no extra pass over the corpus. df is global because a
   doc lives in exactly one shard.

Output tables (written by :mod:`deces_dataprep_spark.snapshots`):
  postings(shard, term, block_id, n_docs, first_doc, last_doc,
           doc_gaps binary, tfs binary, block_max_tfnorm double,
           sum_tf long)
  dictionary(term, df, cf)
  norms(shard, doc_id, doc_len)
  stats(n_docs, avgdl)
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import tokens_col
from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.codec import BLOCK_SIZE, encode_postings_columnar

# block_id is long: salted builds offset it by salt * blocks_per_salt,
# which exceeds int32 once the doc-id space is web-scale.
POSTINGS_SCHEMA = (
    "shard int, term string, block_id long, n_docs int, first_doc long, "
    "last_doc long, doc_gaps binary, tfs binary, block_max_tfnorm double, "
    "sum_tf long"
)


@dataclass
class IndexTables:
    postings: DataFrame
    dictionary: DataFrame
    norms: DataFrame
    stats: DataFrame  # single row: n_docs, avgdl
    positions: DataFrame | None = None  # optional phrase-query table
    #: snapshot-manifest file lists per table (set by snapshots.load_index)
    #: — lets a serving tier read the same pinned snapshot without Spark
    #: (index.arrow_serve.ArrowIndexReader)
    files: dict[str, list[str]] | None = None
    #: False for a pre-compaction delta index (streaming.incremental.
    #: load_delta_index): its block_max_tfnorm bounds were encoded with
    #: batch-local stats, so WAND's skipping is unsound — QueryEngine
    #: refuses method='wand' and routes 'auto' to exact paths until
    #: compact_deltas() rebuilds globally-valid bounds.
    trusted_bounds: bool = True
    #: the persisted tokenized projection when build_index(cache_tokens=
    #: True) — the returned plans read it, so build_index cannot
    #: unpersist it itself; call unpersist_tokens() once the postings/
    #: norms have been materialized (write_index does) or the corpus-
    #: sized cache block outlives the build in a long-lived session.
    tokens: DataFrame | None = None

    def unpersist_tokens(self) -> None:
        if self.tokens is not None:
            self.tokens.unpersist()
            self.tokens = None


def docs_with_tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     tokenizer=None) -> DataFrame:
    """(doc_id, tokens, dl) — native tokenizer, JVM-side.

    ``tokenizer`` overrides the analyzer (Column -> array<string>), e.g.
    ``es_fields.edge_ngram_field`` to build the autocomplete index over
    the same machinery (deces_index.yml:28-33 analyzer family)."""
    tok = (tokenizer or tokens_col)(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tok.alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))


def term_frequencies(docs: DataFrame, n_shards: int, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(shard, term, doc_id, tf, dl) — one shuffle, partial-agg, codegen.

    Not on the index-build hot path anymore (the encoder folds tf from
    the sorted stream); kept as the oracle-checkable tf operator."""
    toks = docs_with_tokens(docs, text_col, id_col)
    # explode_outer + post-filter, NOT explode: plain explode generates an
    # implicit size(tokens)>0 pre-filter that Catalyst pushes below the
    # tokens projection, re-evaluating the whole tokenizer expression a
    # second time per row in the scan stage (visible in PLANS.md).
    exploded = toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        "dl",
        F.explode_outer("tokens").alias("term"),
    ).filter(F.col("term").isNotNull())
    return exploded.groupBy("shard", "term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def dictionary_from_postings(postings: DataFrame) -> DataFrame:
    """(term, df, cf) from block metadata — cheap (blocks ≪ postings)."""
    return postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
    )


class _StreamEncoder:
    """Streaming block encoder over the sorted (shard, term, doc_id, dl)
    columnar stream. Carries one open (shard, term) group across Arrow
    batches; collapses duplicate doc_ids to tf; emits full blocks
    eagerly (constant memory regardless of a term's df)."""

    def __init__(self, n_docs: int, avgdl: float, block_size: int,
                 k1: float = bm25.K1, b: float = bm25.B):
        self.avgdl = avgdl
        self.block_size = block_size
        self.k1 = k1
        self.b = b
        self.cur: tuple[int, str] | None = None
        # pending aggregated postings of the open group
        self.p_ids = np.empty(0, np.uint64)
        self.p_tfs = np.empty(0, np.uint64)
        self.p_dls = np.empty(0, np.float64)
        self.next_block = 0
        self.prev_last = 0
        self.out: dict[str, list] = {k: [] for k in (
            "shard", "term", "block_id", "n_docs", "first_doc", "last_doc",
            "doc_gaps", "tfs", "block_max_tfnorm", "sum_tf")}
        self.out_rows = 0

    def _tfnorm(self, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        t = tfs.astype(np.float64)
        return t / (t + self.k1 * (1.0 - self.b + self.b * dls / self.avgdl))

    def _emit(self, n: int) -> None:
        """Encode the first ``n`` pending postings into blocks (vectorized)."""
        if n == 0:
            return
        ids, tfs, dls = self.p_ids[:n], self.p_tfs[:n], self.p_dls[:n]
        shard, term = self.cur[0], self.cur[1]
        cols = encode_postings_columnar(ids, tfs, self._tfnorm(tfs, dls),
                                        self.block_size, self.prev_last,
                                        self.next_block)
        k = len(cols["block_id"])
        if k:
            o = self.out
            o["shard"].extend([shard] * k)
            o["term"].extend([term] * k)
            o["block_id"].extend(cols["block_id"].tolist())
            o["n_docs"].extend(cols["n_docs"].tolist())
            o["first_doc"].extend(cols["first_doc"].tolist())
            o["last_doc"].extend(cols["last_doc"].tolist())
            o["doc_gaps"].extend(cols["doc_gaps"])
            o["tfs"].extend(cols["tfs"])
            o["block_max_tfnorm"].extend(cols["block_max_score"].tolist())
            o["sum_tf"].extend(cols["sum_tf"].tolist())
            self.out_rows += k
            self.next_block = int(cols["block_id"][-1]) + 1
            self.prev_last = int(cols["last_doc"][-1])
        self.p_ids = self.p_ids[n:]
        self.p_tfs = self.p_tfs[n:]
        self.p_dls = self.p_dls[n:]

    def _emit_full_blocks(self) -> None:
        # hold the last pending doc back: its tf may still grow in the
        # next batch (a doc_id run can span batch boundaries)
        avail = self.p_ids.size - 1
        n_full = (avail // self.block_size) * self.block_size
        self._emit(n_full)

    def close_group(self) -> None:
        self._emit(self.p_ids.size)
        self.cur = None
        self.next_block = 0
        self.prev_last = 0

    def feed_segment(self, key: tuple, ids: np.ndarray,
                     tfs: np.ndarray, dls: np.ndarray,
                     first_block: int = 0) -> None:
        """One contiguous run of a single group (``(shard, term)`` or
        ``(shard, term, salt)``): aggregated (unique doc_ids, tf counts,
        dls), sorted by doc_id. ``first_block`` offsets the group's
        block_ids (salted builds give each salt range its own id range
        so block_id order == doc order across the whole term)."""
        if self.cur is not None and key != self.cur:
            self.close_group()
        if self.cur is None:
            self.cur = key
            self.next_block = first_block
        if self.p_ids.size and ids.size and ids[0] == self.p_ids[-1]:
            # doc run split across batches: merge boundary counts
            self.p_tfs[-1] += tfs[0]
            ids, tfs, dls = ids[1:], tfs[1:], dls[1:]
        self.p_ids = np.concatenate([self.p_ids, ids])
        self.p_tfs = np.concatenate([self.p_tfs, tfs])
        self.p_dls = np.concatenate([self.p_dls, dls])
        self._emit_full_blocks()

    def drain(self) -> pd.DataFrame | None:
        if not self.out_rows:
            return None
        df = pd.DataFrame(self.out)
        self.out = {k: [] for k in self.out}
        self.out_rows = 0
        return df


@dataclass
class SaltSpec:
    """df-skew salting parameters, derived from the corpus:

    hot terms (df > threshold) are split into ``n_ranges`` contiguous
    doc-id ranges of ``width = ceil(span / n_ranges)`` over the OBSERVED
    id span [min_id, max_id] — id-space-agnostic (works for dense 0..N
    ids and for random 64-bit ids alike). Each range's blocks are offset
    by ``salt * blocks_per_salt`` with ``blocks_per_salt =
    ceil(n_docs / block_size)`` (no range can hold more docs than the
    corpus), so block_id order == doc order across the whole term."""

    min_id: int
    width: int          # doc-id width of one salt range (≥ 1)
    blocks_per_salt: int
    hot: frozenset | None  # None = salt every term (narrow use)

    def salts_np(self, docs: np.ndarray, terms: pd.Series) -> np.ndarray:
        s = ((docs - np.uint64(self.min_id)) // np.uint64(self.width)) \
            .astype(np.int64)
        if self.hot is not None:
            s = np.where(terms.isin(self.hot).to_numpy(), s, 0)
        return s


def make_salt_spec(min_id: int, max_id: int, n_ranges: int, n_docs: int,
                   block_size: int = BLOCK_SIZE,
                   hot_terms: list[str] | None = None) -> SaltSpec:
    width = max(1, (max_id - min_id) // n_ranges + 1)
    return SaltSpec(
        min_id=min_id, width=width,
        blocks_per_salt=-(-n_docs // block_size),
        hot=frozenset(hot_terms) if hot_terms is not None else None,
    )


def _encode_batches(batches: Iterator[pd.DataFrame], n_docs: int, avgdl: float,
                    block_size: int,
                    salt: SaltSpec | None = None) -> Iterator[pd.DataFrame]:
    """Streaming encode of the sorted columnar stream; see
    :class:`SaltSpec` for the optional hot-term salting. The salt is
    recomputed from doc_id here (nothing extra rides the shuffle).

    Accepts either the raw per-occurrence stream (one row per token
    occurrence; duplicate doc runs are collapsed to tf here) or the
    tf-folded stream (a ``tf`` column, one row per unique (term, doc) —
    the round-6 default plan: the fold happens JVM-side in the
    aggregation that reuses the posting exchange, so ~40% fewer rows
    cross the Arrow boundary). Both yield byte-identical blocks
    (tested)."""
    enc = _StreamEncoder(n_docs, avgdl, block_size)
    for batch in batches:
        if batch.empty:
            continue
        shards = batch["shard"].to_numpy(np.int64)
        terms = batch["term"].to_numpy()  # object array of str
        docs = batch["doc_id"].to_numpy(np.int64).astype(np.uint64)
        dls = batch["dl"].to_numpy(np.float64)
        tfs = (batch["tf"].to_numpy(np.int64).astype(np.uint64)
               if "tf" in batch.columns else None)
        salts = salt.salts_np(docs, batch["term"]) if salt else None
        # group boundaries on (shard, term[, salt])
        if batch.shape[0] == 1:
            seg_starts = np.array([0], dtype=np.int64)
        else:
            change = (shards[1:] != shards[:-1]) | (terms[1:] != terms[:-1])
            if salts is not None:
                change |= salts[1:] != salts[:-1]
            seg_starts = np.concatenate(([0], np.flatnonzero(change) + 1))
        seg_ends = np.concatenate((seg_starts[1:], [batch.shape[0]]))
        for s0, s1 in zip(seg_starts, seg_ends):
            d = docs[s0:s1]
            if salts is None:
                key: tuple = (int(shards[s0]), terms[s0])
                first_block = 0
            else:
                key = (int(shards[s0]), terms[s0], int(salts[s0]))
                first_block = int(salts[s0]) * salt.blocks_per_salt
            if tfs is not None:
                # pre-folded: (term, doc) unique — feed runs directly
                enc.feed_segment(key, d, tfs[s0:s1], dls[s0:s1],
                                 first_block)
            else:
                # collapse duplicate doc_ids (sorted) → tf per unique doc
                runs = np.concatenate(
                    ([0], np.flatnonzero(d[1:] != d[:-1]) + 1))
                counts = np.diff(
                    np.concatenate((runs, [d.size]))).astype(np.uint64)
                enc.feed_segment(key, d[runs], counts, dls[s0:s1][runs],
                                 first_block)
        out = enc.drain()
        if out is not None:
            yield out
    enc.close_group()
    out = enc.drain()
    if out is not None:
        yield out


def postings_plan_from_tokens(
    spark: SparkSession,
    toks: DataFrame,
    n_shards: int,
    n_docs: int,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    partitions: int | None = None,
    salt: SaltSpec | None = None,
    layout: str = "packed",
) -> DataFrame:
    """The posting-build dataflow over a pre-tokenized projection
    (``(doc_id, tokens, dl)``) — explode → repartition(shard, term) →
    sort → streaming encode. Taking tokens (not raw docs) lets callers
    persist ONE tokenized projection and derive norms, stats, and
    postings from it (single tokenize pass over the corpus).

    ``salt`` (the df-skew defuser, :class:`SaltSpec`): hot terms are
    additionally partitioned by their doc-id salt range, so a
    stopword's postings inside one shard split across up to n_ranges
    partitions instead of serializing into one task; WAND/TAAT read
    salted and unsalted indexes identically (tested rank-identical).
    Always restrict to a hot set (``SaltSpec.hot``): salting every term
    fragments (shard, term) groups into tiny segments — measured ~10×
    slower than unsalted on a 10k-term Zipf corpus. Requires
    non-negative doc_ids.

    ``layout`` picks how rows cross the Python boundary — both produce
    BYTE-IDENTICAL postings (tested). Both now fold tf JVM-side inside
    the one posting exchange (repartition by the partition keys, then a
    groupBy whose keys extend them — HashPartitioning on a subset of
    the grouping keys satisfies the aggregation's clustering, so no
    second exchange), because the JVM→Python boundary costs ~5-8 µs/row
    REGARDLESS of column width, Arrow batch size, or mapInPandas-vs-
    mapInArrow (measured again in round 6: a consume-only mapInArrow
    over the 90M-row sorted stream cost 16 s of the 25 s encode stage),
    so the one lever is CROSSING FEWER ROWS:

    * ``'packed'`` (default since round 6): after the fold, ONE window
      pass (row_number + lag over one spec, ordering already satisfied
      by the fold's sort) buckets postings into 128-doc blocks and a
      block-BOUNDED ``collect_list`` packs them — the boundary carries
      ONE ROW PER BLOCK (~410k rows instead of 52M unique postings at
      400k docs; encode stage 22.4 s → 11.9 s, full noop build 29.3 s
      → ~15 s). Not the unbounded round-1 compaction this module's
      header warns about: arrays cap at ``block_size``, no second
      posting shuffle, no dictionary join; the window buffers one
      (shard, term, salt) group and spills past
      ``spark.sql.windowExecBufferSpillThreshold`` — with the fold
      done by the hash aggregate (not a w_doc window, as the round-5
      packed experiment did), the remaining buffering measured
      threshold-insensitive (11.9 s vs 12.1 s with 4M-row buffers).
    * ``'stream'``: the folded per-posting Arrow stream into the
      incremental :class:`_StreamEncoder` — zero group buffering at
      any df; kept only as the byte-identity reference for
      ``'packed'``. The streaming compaction does not use it: it
      re-encodes through :func:`pack_and_encode_folded`, the packed
      tail.

    Beware same-plan re-execution when benchmarking: Spark reuses
    completed shuffle map stages of an identical plan, so only
    fresh-plan (cold) timings compare layouts honestly."""
    # explode_outer + post-filter, NOT explode: plain explode generates an
    # implicit size(tokens)>0 pre-filter that Catalyst pushes below the
    # tokens projection, re-evaluating the whole tokenizer expression a
    # second time per row in the scan stage (visible in PLANS.md).
    exploded = toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        "dl",
        F.explode_outer("tokens").alias("term"),
    ).filter(F.col("term").isNotNull())
    # default posting partitions = 3× the cluster parallelism (scale-
    # adaptive, not a constant): the reduce stage carries the fold +
    # sort + pack + encode, and 2-4 tasks per core smooths its task-size
    # tail the way classic shuffle sizing prescribes — measured 11.0 s
    # (1× slots) → 8.8 s (3×) for the 400k-doc posting job, flat from
    # 2×-4×, so the multiplier is not a tuned local constant.
    n_part = partitions or 3 * spark.sparkContext.defaultParallelism
    part_keys = [F.col("shard"), F.col("term")]
    if salt is not None:
        # exact integer division (`div`), NOT float `/` + cast: double
        # rounding near an integer boundary would disagree with the
        # uint64 // in SaltSpec.salts_np and split one (shard, term,
        # salt) group across two partitions — duplicated first_block /
        # out-of-order blocks for that term. Both sides must compute
        # bit-identical salts.
        salt_col = F.expr(
            f"(doc_id - {salt.min_id}L) div {salt.width}L")
        if salt.hot is not None:
            salt_col = F.when(F.col("term").isin(list(salt.hot)), salt_col) \
                        .otherwise(F.lit(0))
        part_keys.append(salt_col)
    bs = block_size
    if layout == "stream":
        # tf-fold INSIDE the one posting exchange (round 6): repartition
        # by (shard, term[, salt]) first, then groupBy(part_keys ∪
        # doc_id) — HashPartitioning on a subset of the grouping keys
        # satisfies the aggregation's clustering requirement, so the
        # aggregate reuses the exchange (ONE Exchange in the plan,
        # plan-asserted). The fold collapses duplicate (term, doc)
        # occurrences to tf JVM-side, so the sort and the JVM→Python
        # Arrow boundary carry one row per unique posting (~40% fewer
        # rows on web text; the boundary is the build's dominant cost —
        # measured 22.4 s → 16.2 s for the encode stage at 400k docs).
        # The salt expression must be IN the grouping keys when salting
        # is on, or the subset check fails and Catalyst inserts a second
        # exchange.
        folded = (
            exploded.repartition(n_part, *part_keys)
            .groupBy(*part_keys, F.col("doc_id"))
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
            .select("shard", "term", "doc_id", "tf", "dl")
            .sortWithinPartitions("shard", "term", "doc_id")
        )

        def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return _encode_batches(batches, n_docs, avgdl, bs, salt)

        return folded.mapInPandas(encode, POSTINGS_SCHEMA)
    if layout != "packed":
        raise ValueError(f"unknown postings layout: {layout!r}")

    # Packed layout over the SAME folded stream (round 6): the tf fold
    # is the exchange-reusing hash aggregate (as above), then ONE
    # window pass (row_number + lag share a spec; the fold's sort
    # already satisfies the window ordering) buckets unique postings
    # into 128-doc blocks and a block-BOUNDED collect_list packs them —
    # the Arrow boundary then carries ONE ROW PER BLOCK (~410k rows at
    # 400k docs) instead of one row per posting. __salt is materialized
    # as a column (monotone in doc_id within (shard, term), so sorting
    # (shard, term, __salt, doc_id) equals the stream layout's order)
    # so the repartition, the fold's groupBy and the window specs all
    # reference the same attribute and the whole chain shares the one
    # exchange (plan-asserted: 1 Exchange, 2 Sorts — the 52M-row fold
    # sort plus the 410k-row block re-sort).
    if salt is not None:
        base = exploded.withColumn("__salt", part_keys[2])
        rep_cols = [F.col("shard"), F.col("term"), F.col("__salt")]
        grp_cols = ["shard", "term", "__salt"]
    else:
        # no constant __salt column: it would ride the shuffle for
        # nothing — the block math below treats absent salt as 0
        base = exploded
        rep_cols = [F.col("shard"), F.col("term")]
        grp_cols = ["shard", "term"]
    folded = (
        base.repartition(n_part, *rep_cols)
        .groupBy(*grp_cols, F.col("doc_id"))
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .sortWithinPartitions(*grp_cols, "doc_id")
    )
    return pack_and_encode_folded(folded, salt, bs, avgdl)


def pack_and_encode_folded(folded: DataFrame, salt: SaltSpec | None,
                           block_size: int, avgdl: float) -> DataFrame:
    """Block-pack + encode a FOLDED posting stream — the shared tail of
    the packed layout (also reused by the streaming compaction, whose
    decoded delta rows are already tf-folded). ``folded`` must carry
    (shard, term[, __salt], doc_id, tf, dl), be clustered by
    (shard, term[, __salt]) and sorted by (..., doc_id); ``__salt`` is
    required exactly when ``salt`` is given."""
    from pyspark.sql import Window

    bs = block_size
    grp_cols = (["shard", "term", "__salt"] if salt is not None
                else ["shard", "term"])
    w_grp = Window.partitionBy(*grp_cols).orderBy("doc_id")
    rn = F.row_number().over(w_grp)
    uniq = folded.select(
        *grp_cols, "doc_id", "tf", "dl",
        ((rn - 1) - ((rn - 1) % bs)).alias("__blk0"),
    )
    # group keys extend the partition keys → the aggregate reuses the
    # existing clustering, no exchange; collect_list is bounded at
    # block_size elements per group by construction.
    blocks = uniq.groupBy(*grp_cols, "__blk0").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf", "dl")))
        .alias("ps"))
    blocks_per_salt = salt.blocks_per_salt if salt is not None else 0
    salt_off = (F.col("__salt") * F.lit(blocks_per_salt)
                if salt is not None else F.lit(0))
    w_blk = Window.partitionBy(*grp_cols).orderBy("__blk0")
    packed = blocks.select(
        "shard", "term",
        (salt_off + (F.col("__blk0") / bs).cast("long")).alias("block_id"),
        F.col("ps.doc_id").alias("ids"),
        F.col("ps.tf").alias("tfs_arr"),
        F.col("ps.dl").alias("dls"),
        # each salt range restarts its gap chain at 0, exactly like the
        # stream encoder's close_group()
        F.coalesce(
            F.lag(F.element_at(F.col("ps.doc_id"), -1)).over(w_blk),
            F.lit(0),
        ).alias("prev_last"),
    )

    def encode_packed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _encode_packed_batches(batches, avgdl)

    return packed.mapInPandas(encode_packed, POSTINGS_SCHEMA)


def _encode_packed_batches(batches: Iterator[pd.DataFrame], avgdl: float,
                           k1: float = bm25.K1,
                           b: float = bm25.B) -> Iterator[pd.DataFrame]:
    """Per-block vectorized encode of the JVM-packed block rows: every
    input row is one complete block (unique sorted doc_ids, folded tfs,
    dls, its block_id and the previous block's last doc), so encoding
    is row-local — one varint pass over the batch's concatenated
    arrays, byte-identical to the streaming encoder (tested)."""
    from deces_dataprep_spark.index.codec import _varint_encode_offsets

    for batch in batches:
        if batch.empty:
            continue
        n = len(batch)
        lens = np.fromiter((len(x) for x in batch["ids"]), np.int64, n)
        flat_ids = np.concatenate(
            [np.asarray(x, np.int64) for x in batch["ids"]]).view(np.uint64)
        flat_tfs = np.concatenate(
            [np.asarray(x, np.int64) for x in batch["tfs_arr"]]) \
            .astype(np.uint64)
        flat_dls = np.concatenate(
            [np.asarray(x, np.float64) for x in batch["dls"]])
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        ends = starts + lens
        prev = batch["prev_last"].to_numpy(np.int64).view(np.uint64)
        gaps = np.empty_like(flat_ids)
        gaps[1:] = flat_ids[1:] - flat_ids[:-1]
        gaps[starts] = flat_ids[starts] - prev
        gap_buf, gap_offs = _varint_encode_offsets(gaps)
        tf_buf, tf_offs = _varint_encode_offsets(flat_tfs)
        t = flat_tfs.astype(np.float64)
        tfnorm = t / (t + k1 * (1.0 - b + b * flat_dls / avgdl))
        yield pd.DataFrame({
            "shard": batch["shard"].to_numpy(np.int32),
            "term": batch["term"],
            "block_id": batch["block_id"].to_numpy(np.int64),
            "n_docs": lens.astype(np.int32),
            "first_doc": flat_ids[starts].astype(np.int64),
            "last_doc": flat_ids[ends - 1].astype(np.int64),
            "doc_gaps": [gap_buf[gap_offs[s]:gap_offs[e]]
                         for s, e in zip(starts, ends)],
            "tfs": [tf_buf[tf_offs[s]:tf_offs[e]]
                    for s, e in zip(starts, ends)],
            "block_max_tfnorm": np.maximum.reduceat(tfnorm, starts),
            "sum_tf": np.add.reduceat(flat_tfs.astype(np.int64), starts),
        })


def hot_terms_by_df(toks: DataFrame, df_threshold: int,
                    sample_frac: float = 0.01,
                    seed: int = 42) -> list[str]:
    """Terms whose document frequency exceeds ``df_threshold``,
    estimated from a fixed-seed sample (deterministic given the same
    input/partitioning): the salting candidates. Sampling keeps the
    extra pass ~sample_frac of a full df aggregation — hot terms are by
    definition visible in any sample."""
    frac = min(1.0, sample_frac)
    s = toks.sample(fraction=frac, seed=seed) if frac < 1.0 else toks
    cutoff = max(1, int(df_threshold * frac))
    rows = (
        s.select(F.explode_outer(F.array_distinct("tokens")).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cutoff)
        .collect()
    )
    return sorted(r["term"] for r in rows)


#: auto-salting trips when a sampled term's df exceeds this fraction of
#: the corpus — a true stopword sits at ~50% df on web text, so 10% is
#: a comfortable straggler threshold (one (shard, term) group holding
#: >=10% of all docs dominates its task's runtime).
AUTO_SALT_DF_FRAC = 0.1
#: don't bother auto-salting tiny corpora: below this the whole build is
#: a handful of tasks and salting only fragments encoder groups.
AUTO_SALT_MIN_DOCS = 100_000


def auto_salt_spec(
    spark: SparkSession,
    toks: DataFrame,
    n_docs: int,
    min_id: int,
    max_id: int,
    block_size: int = BLOCK_SIZE,
    sample_frac: float = 0.01,
    df_frac: float = AUTO_SALT_DF_FRAC,
    min_docs: int | None = None,  # None → AUTO_SALT_MIN_DOCS at call time
) -> SaltSpec | None:
    """Derive the df-skew :class:`SaltSpec` automatically — the
    scale-safe DEFAULT (round-2 finding: opt-in salting protects
    nothing; a real web corpus always carries stopword-grade skew).

    A term is hot when its sampled df exceeds ``df_frac * n_docs``; hot
    terms are split across ``defaultParallelism`` (clamped [4, 64])
    doc-id ranges so a stopword's postings fan across the executor
    slots instead of serializing into one task. Returns None when the
    corpus is small or no term crosses the threshold — the unsalted
    plan is already right there. Costs one ~``sample_frac`` sampled df
    aggregation (hot terms are by definition visible in any sample)."""
    if n_docs < (AUTO_SALT_MIN_DOCS if min_docs is None else min_docs):
        return None
    hot = hot_terms_by_df(toks, max(64, int(df_frac * n_docs)), sample_frac)
    if not hot:
        return None
    n_ranges = max(4, min(64, spark.sparkContext.defaultParallelism))
    return make_salt_spec(min_id, max_id, n_ranges, n_docs, block_size, hot)


def norms_from_tokens(toks: DataFrame, n_shards: int) -> DataFrame:
    return toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        F.col("dl").alias("doc_len"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    n_shards: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = BLOCK_SIZE,
    partitions: int | None = None,
    tokenizer=None,
    cache_tokens: bool = True,
    salt_ranges: int | None = None,
    salt_df_threshold: int | None = None,
    salt_sample_frac: float = 0.01,
    auto_salt: bool = True,
) -> IndexTables:
    """Build the full index (postings/dictionary/norms/stats) lazily.

    Skew defense is ON by default: with no explicit ``salt_ranges``,
    :func:`auto_salt_spec` samples the df distribution and salts any
    stopword-grade hot terms (df > 10% of docs) across the executor
    slots — at AUTO_SALT_MIN_DOCS+ corpus sizes the unsalted build
    re-creates the straggler the salting machinery was built to kill.
    Pass ``auto_salt=False`` (or explicit ``salt_ranges``) to override.

    The returned postings/dictionary/norms are unevaluated plans;
    callers trigger execution by writing them. With ``cache_tokens``
    (default) the tokenized projection is persisted MEMORY_AND_DISK on
    first evaluation (the eager stats pass), so the corpus is tokenized
    exactly ONCE — the postings pass re-reads the cached projection
    instead of re-running the analyzer (round-1 tokenized twice).
    Disable for corpora where caching tokens costs more than
    re-tokenizing (rare: the analyzer is regex-heavy CPU work, while
    the cache is sequential serialized I/O).
    """
    from pyspark import StorageLevel

    toks = docs_with_tokens(docs, text_col, id_col, tokenizer)
    if cache_tokens:
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    norms = norms_from_tokens(toks, n_shards)
    # global stats — tiny; computed eagerly (the encoder needs avgdl);
    # this is also what materializes the token cache.
    stats_row = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"),
        F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id"),
    ).collect()[0]
    n_docs_g = int(stats_row["n_docs"])
    avgdl_g = float(stats_row["avgdl"] or 0.0)

    salt = None
    if salt_ranges:
        hot = (hot_terms_by_df(toks, salt_df_threshold, salt_sample_frac)
               if salt_df_threshold is not None else None)
        salt = make_salt_spec(int(stats_row["min_id"] or 0),
                              int(stats_row["max_id"] or 0),
                              salt_ranges, n_docs_g, block_size, hot)
    elif auto_salt:
        salt = auto_salt_spec(
            spark, toks, n_docs_g,
            int(stats_row["min_id"] or 0), int(stats_row["max_id"] or 0),
            block_size, salt_sample_frac,
        )
    postings = postings_plan_from_tokens(spark, toks, n_shards, n_docs_g,
                                         avgdl_g, block_size, partitions,
                                         salt)
    dictionary = dictionary_from_postings(postings)
    stats_df = spark.createDataFrame(
        [(n_docs_g, avgdl_g)], "n_docs long, avgdl double"
    )
    return IndexTables(postings=postings, dictionary=dictionary, norms=norms,
                       stats=stats_df,
                       tokens=toks if cache_tokens else None)
