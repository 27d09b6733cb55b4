"""Streaming ExactSubstr span-anchor maintenance: the incremental twin
of the batch ``repeated_span_pairs`` query (plans/pipeline_queries.py).

The expensive pass — normalize, tokenize, mod-anchor the k-grams, hash
the exact 50-token spans (pipeline/dedup.py ``span_anchor_table``, the
shared implementation) — runs ONCE per document, in the micro-batch
that delivers it. The sink maintains only the distinct
``(doc_id, span_hash)`` anchor index; pair assembly happens at READ
time via the shared ``span_pair_rollup``, so the streaming deployment
answers "which documents repeat 50-token spans verbatim" at any moment
without ever re-touching raw text, and the stored state is the
content-defined anchor subsample (≈ tokens/A rows), not the corpus.

At-least-once contract (same as rollup_sink/hll_sink): the store
commits through versioned_store's fold step, whose pointer is both the
commit point and the batch high-water mark — a replayed micro-batch is
a no-op — and a doc-id anti-join inside the merge makes re-delivered
documents idempotent even ACROSS batch boundaries (anchors are
deterministic in the text, so a re-delivered doc could only re-insert
identical rows; the anti-join keeps the distinct invariant without
trusting that).

Scale note: the versioned store materializes on the driver (its
documented contract), bounded here by anchor mass — density 1/A of
span positions over the duplication-relevant corpus slice. A 100 TB
deployment would swap ``commit_store`` for an append-only parquet/Delta
anchor table partitioned by ``sh`` prefix; the merge logic (anti-join +
union) and the read-side rollup are unchanged — that swap is exactly
why pair assembly is not baked into the sink.

Reference scope: the reference has no streaming dedup; this follows the
repo convention that every batch pipeline operator with bounded state
gets a watermark/foreachBatch twin (tick bars, rollup, HLL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..pipeline.dedup import span_anchor_table, span_pair_rollup
from .versioned_store import read_store, start_store_sink


def merge(stored: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Add the anchors of documents not yet indexed to the stored index."""
    delta = span_anchor_table(batch.select("doc_id", "text"))
    if stored is None:
        return delta
    # cross-batch redelivery safety: drop docs already indexed
    delta = delta.join(stored.select("doc_id").distinct(), "doc_id", "left_anti")
    return stored.unionByName(delta)


def start_span_anchor_sink(docs: DataFrame, store_path: str):
    """Start a foreachBatch stream maintaining the distinct
    (doc_id, sh) anchor index at store_path. `docs` needs doc_id + text.
    Returns the StreamingQuery; read pairs with read_span_pairs."""
    return start_store_sink(docs, store_path, merge)


def read_span_pairs(spark, store_path: str, n_docs: int | None = None) -> DataFrame:
    """(doc_a, doc_b, shared_spans, span_frac) over every document the
    stream has delivered so far — by construction the batch
    ``repeated_span_pairs`` output on the same corpus."""
    cur = read_store(spark, store_path)
    if cur is None:
        raise FileNotFoundError(f"no committed span-anchor store at {store_path}")
    return span_pair_rollup(cur, n_docs=n_docs)
