"""Streaming incremental corpus dedup — the SignatureIndex
(lakehouse/dedup_index.py) driven by Structured Streaming.

Each micro-batch of documents is probed against the STORED corpus
signatures (band join on the index — the corpus text is never read),
near-duplicates of the corpus are dropped, and the survivors'
signatures are ingested into the index so LATER batches dedup against
them too. This is the reference's continuous-ingestion loop
(`main.py:362-370`) composed with the dedup index: the pipeline that
keeps a 100 TB corpus duplicate-free as it grows, at per-batch cost
O(batch × collisions).

Exactly-once: the commit rule and query runner every foreachBatch
sink shares (streaming/pipeline.py). `run_foreach_batch` checkpoints
offsets at `<index root>/_checkpoints/<checkpoint_name>`; the batch's
`batch_mark` rides the WAP publish of the INDEX table, so a replayed
micro-batch that `batch_landed` is skipped before any probe — a replay
would otherwise see its own signatures in the index and drop
everything as duplicates. A run still active after `poll_timeout_s`
is stopped with TimeoutError.

Intra-batch duplicates: the probe is batch-vs-index only, so two
near-identical docs ARRIVING TOGETHER both survive the probe. The
standard fix (applied here) runs the in-batch pair pass
(`minhash_lsh_pairs`) over the survivors first — batch-local cost,
no corpus involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lakehouse.dedup_index import SignatureIndex
from ..operators.dedup import minhash_lsh_pairs
from .pipeline import batch_landed, batch_mark, run_foreach_batch


def streaming_dedup_ingest(
    source: DataFrame,
    index: SignatureIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 32,
    threshold: float = 0.5,
    dedup_within_batch: bool = True,
    checkpoint_name: str = "dedup_ingest",
    poll_timeout_s: float = 120.0,
) -> dict:
    """Run the streaming source (bounded; availableNow) through
    probe → drop → ingest. Returns {"batches": n, "kept": n, "dropped": n}.
    Kept/dropped counts are per-run (not replayed batches)."""
    stats = {"batches": 0, "kept": 0, "dropped": 0}

    def _commit(df: DataFrame, batch_id: int) -> None:
        if batch_landed(index.table, checkpoint_name, batch_id) or df.isEmpty():
            return
        batch = df.select(id_col, text_col).localCheckpoint()
        n_in = batch.count()
        if dedup_within_batch:
            pairs = minhash_lsh_pairs(
                batch,
                id_col=id_col,
                text_col=text_col,
                n=index.n,
                num_hashes=index.num_hashes,
                bands=bands,
                threshold=threshold,
                hash_mode="portable",
            )
            losers = pairs.select(
                F.greatest("doc_a", "doc_b").alias(id_col)
            ).distinct()
            batch = batch.join(losers, id_col, "left_anti")
        hits = (
            index.probe(batch, id_col, text_col, bands, threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        kept = batch.join(hits, id_col, "left_anti").localCheckpoint()
        n_kept = kept.count()
        # WAP ingest of the survivors' signatures; the batch mark rides
        # the publishing commit itself (one atomic snapshot)
        index.append(
            kept,
            id_col,
            text_col,
            wap=True,
            extra_summary=batch_mark(checkpoint_name, batch_id),
        )
        stats["batches"] += 1
        stats["kept"] += n_kept
        stats["dropped"] += n_in - n_kept

    run_foreach_batch(source, index.table.root, checkpoint_name, _commit, poll_timeout_s)
    return stats
