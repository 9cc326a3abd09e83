"""Continuous serving-index maintenance from a CDC feed (SURVEY §2.3
N100) — the N50 changefeed driving the index advance/retract pairs.

The batch family already proves each step exact: BM25 postings advance
(N45) and retract (N97), PQ codes advance (N43) and retract; all four
are per-document-decomposable state edits.  What production runs is
the COMPOSITION under a stream: a feed of ``op ∈ I/U/D`` document (or
vector) changes, applied per micro-batch so the serving index is
always current — without re-tokenizing/re-encoding anything but the
batch.  The one state maintainer runs it through
:func:`~.streaming.retention.full_state_step`: pass an
``apply`` closure ``(prior_state | None, batch) → new full state``
built from the batch-exact pieces; three canonical closures ship here
(:func:`bm25_feed_apply`, :func:`pq_feed_apply`,
:func:`graph_feed_apply`).

Order within a batch: deletes/old-versions retract FIRST, then
inserts/updates advance — an ``op="U"`` therefore lands as
retract-then-reinsert, and several I/U rows for one id in ONE batch
resolve via the advance's latest-wins reduction.  Each batch must be
a NET changefeed (at most one op per id — exactly what N50's
state-diff emits); a raw transaction log carrying e.g. I-then-D for
one id inside a single batch must be netted upstream, because a set
of per-id ops carries no intra-batch ordering.  A feed's net effect
equals rebuilding the index over the net corpus — the pytest pins
``streamed chain ≡ batch index(net corpus)`` bit-for-bit, across
deletes, updates, and re-deliveries.

State discipline (the one batch-dir protocol): each batch dir holds the
FULL advanced index (newest complete dir is the state — serving reads
exactly one dir), ``_DONE`` lands last, a re-delivered complete or
compacted batch returns before reading anything (apply is NOT
idempotent against an already-advanced state in general), and N78
retention deletes expired dirs outright (each is subsumed by every
newer state).

Scale shape: per batch the work is feed-sized (tokenize/encode the
batch, two anti-joins against the state) plus the state rewrite; at
100 TB the rewrite becomes a partition-pruned MERGE on the term-hash /
id-bucket layout — the same seam every state table in this repo
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_snapshotter_spark.streaming.retention import ApplyFn


def bm25_feed_apply(*, id_col: str = "doc_id",
                    text_col: str = "text") -> ApplyFn:
    """Apply closure for a BM25 postings state: feed rows
    ``(op, id, text)`` — D retracts, I/U retract-then-reinsert."""
    from hbase_snapshotter_spark.operators.retrieval import (
        advance_bm25_index,
        build_bm25_index,
        retract_bm25_index,
    )

    def apply(prior: DataFrame | None, feed: DataFrame) -> DataFrame:
        docs = feed.filter(F.col("op").isin("I", "U")) \
            .select(id_col, text_col)
        if prior is None:
            postings, _ = build_bm25_index(docs, id_col=id_col,
                                           text_col=text_col)
            return postings
        gone = feed.filter(F.col("op") == "D").select(id_col)
        retracted, _ = retract_bm25_index(prior, gone, id_col=id_col)
        postings, _ = advance_bm25_index(retracted, docs, id_col=id_col,
                                         text_col=text_col)
        return postings

    return apply


def pq_feed_apply(C, *, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> ApplyFn:
    """Apply closure for a PQ code-table state under the FROZEN
    codebook ``C``: feed rows ``(op, id, vector)``."""
    from hbase_snapshotter_spark.operators.similarity import (
        advance_pq_index,
        pq_encode,
        retract_pq_index,
    )

    def apply(prior: DataFrame | None, feed: DataFrame) -> DataFrame:
        vecs = feed.filter(F.col("op").isin("I", "U")) \
            .select(id_col, vec_col)
        if prior is None:
            return pq_encode(vecs, C, id_col=id_col, vec_col=vec_col)
        gone = feed.filter(F.col("op") == "D").select(id_col)
        return advance_pq_index(
            retract_pq_index(prior, gone, id_col=id_col), vecs, C,
            id_col=id_col, vec_col=vec_col)

    return apply


def graph_feed_apply(*, id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3, min_shared: int = 3,
                     max_df: int | None = 50) -> ApplyFn:
    """Apply closure for the N122 similarity-graph state: feed rows
    ``(op, id, text)`` — D deletes, I/U doc-wins replace — advanced
    via :func:`~hbase_snapshotter_spark.operators.dedup
    .advance_shingle_edges`, so per batch only the batch's docs are
    shingled and only delta/cap-crossing-touched neighborhoods
    recompute.  The two state tables (uncapped shingle index + capped
    edge list) ride ONE discriminated frame — ``kind ∈ {sh, e}`` —
    so the generic maintainer's one-state-dir contract holds
    unchanged."""
    from hbase_snapshotter_spark.operators.dedup import (
        advance_shingle_edges,
        doc_shingles,
        shared_shingle_edges,
        spread,
    )

    def pack(sh: DataFrame, e: DataFrame) -> DataFrame:
        return sh.select(
            F.lit("sh").alias("kind"), F.col(id_col),
            F.col("shingle"),
            F.lit(None).cast("long").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.lit(None).cast("long").alias("n_shared"),
        ).unionByName(e.select(
            F.lit("e").alias("kind"),
            F.lit(None).cast("long").alias(id_col),
            F.lit(None).cast("string").alias("shingle"),
            "id_a", "id_b", "n_shared"))

    def apply(prior: DataFrame | None, feed: DataFrame) -> DataFrame:
        docs = feed.filter(F.col("op").isin("I", "U")) \
            .select(id_col, text_col)
        if prior is None:
            return pack(
                doc_shingles(spread(docs), id_col, text_col, n),
                shared_shingle_edges(docs, id_col, text_col, n=n,
                                     min_shared=min_shared,
                                     max_df=max_df))
        sh = prior.filter(F.col("kind") == "sh") \
            .select(id_col, "shingle")
        e = prior.filter(F.col("kind") == "e") \
            .select("id_a", "id_b", "n_shared")
        gone = feed.filter(F.col("op") == "D").select(id_col)
        new_sh, new_e = advance_shingle_edges(
            sh, e, docs, id_col, text_col, n=n, min_shared=min_shared,
            max_df=max_df, delete_ids=gone)
        return pack(new_sh, new_e)

    return apply
