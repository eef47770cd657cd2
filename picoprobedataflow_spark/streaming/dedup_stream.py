"""Streaming incremental near-dup detection: a document stream is
deduplicated per micro-batch against the signature/band state written
by all previous batches — the daily-crawl dedup loop, run continuously.

Shape: ``foreachBatch`` + parquet state tables. Flink-style keyed
operator state would cap at executor memory; the signature store for a
100 TB corpus is itself terabytes, so it lives as a TABLE (partition
by ``band`` at write time and the candidate equi-join co-locates).
Each epoch:

1. read the accumulated ``sigs``/``bands`` state (batch read — the
   stream never holds corpus state in memory);
2. :func:`~..operators.dedup.incremental_minhash_dedup` — work scales
   with the batch, never re-hashes the corpus;
3. write pairs + new state rows, all partitioned by epoch with
   DYNAMIC partition overwrite — a replayed epoch (failure recovery)
   overwrites its own partition instead of appending duplicates, which
   is what makes foreachBatch exactly-once here.

Equivalence contract (pytest): after draining N batches, the union of
per-epoch pair outputs equals a single full-corpus
``minhash_lsh_dedup`` — every near-dup pair is emitted exactly once,
in the epoch its LATER member arrived.

Reference analog: the watcher's seen-set skip semantics
(picoprobe/utils.py:126-131), upgraded from an in-memory set of exact
checksums to durable LSH state with near-dup semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.operators.dedup import (
    HashFn, incremental_minhash_dedup, portable_hash64)
from picoprobedataflow_spark.streaming.loop import (
    ensure_params, fn_name, read_state, start_epoch_loop, write_epoch)

SIG_SCHEMA = "doc_id long, salt bigint, minhash bigint"
BAND_SCHEMA = "doc_id long, band bigint, band_sig string"


def run_incremental_dedup_stream(doc_stream: DataFrame, state_dir: str,
                                 checkpoint_dir: str,
                                 num_hashes: int = 16, k: int = 3,
                                 band_size: int = 4,
                                 hash_fn: HashFn = portable_hash64,
                                 available_now: bool = True
                                 ) -> StreamingQuery:
    """Run the loop over a streaming DataFrame of (doc_id, text).

    Writes under ``state_dir``: ``sigs/`` and ``bands/`` (the growing
    corpus state, append semantics via per-epoch partitions) and
    ``pairs/`` (doc_a, doc_b, est_jaccard per epoch). The signature
    hyper-parameters persist with the state and a resume under
    different values is rejected (round 16 — signatures from two
    (num_hashes, k, band_size, hash_fn) settings are two
    incompatible encodings; mixing them silently stops pairing old
    against new)."""
    spark = doc_stream.sparkSession
    ensure_params(spark, state_dir, {
        "num_hashes": str(num_hashes), "k": str(k),
        "band_size": str(band_size),
        "hash_fn": fn_name(hash_fn)})
    sig_dir = os.path.join(state_dir, "sigs")
    band_dir = os.path.join(state_dir, "bands")
    pair_dir = os.path.join(state_dir, "pairs")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        corpus_sigs = read_state(spark, sig_dir, SIG_SCHEMA,
                                 before_epoch=epoch_id)
        corpus_bands = read_state(spark, band_dir, BAND_SCHEMA,
                                  before_epoch=epoch_id)
        # broadcast_batch (round 17): a micro-batch is
        # broadcast-size by the streaming contract, so the corpus
        # band/sig state streams map-side through the candidate and
        # estimate joins instead of being shuffled every epoch.
        new_sigs, new_bands, pairs = incremental_minhash_dedup(
            batch, corpus_sigs, corpus_bands,
            num_hashes=num_hashes, k=k, band_size=band_size,
            hash_fn=hash_fn, broadcast_batch=True)
        # The op owns no cache (round-12 review find: its old
        # internal persist leaked one cache entry per micro-batch —
        # the unpersist here used to target DERIVED frames and
        # matched nothing). The loop persists the frames it writes
        # twice-or-more and unpersists the SAME references.
        new_sigs = new_sigs.persist()
        new_bands = new_bands.persist()
        try:
            # pairs BEFORE state: if the epoch replays after a
            # partial failure, recomputing against pre-epoch state
            # stays correct (its own partitions are overwritten)
            write_epoch(pairs, pair_dir, epoch_id)
            write_epoch(new_sigs, sig_dir, epoch_id)
            write_epoch(new_bands, band_dir, epoch_id)
        finally:
            new_sigs.unpersist()
            new_bands.unpersist()

    return start_epoch_loop(doc_stream, _process, checkpoint_dir,
                            available_now)


PHASH_STATE_SCHEMA = "path string, simhash long"


def run_image_dedup_stream(image_stream: DataFrame, state_dir: str,
                           checkpoint_dir: str, max_hamming: int = 6,
                           n_chunks: int = 8, grid: int = 8,
                           codec: str = "auto",
                           available_now: bool = True
                           ) -> StreamingQuery:
    """The image twin of :func:`run_incremental_dedup_stream`: a
    stream of (path, width, height, image) micro-batches is
    perceptually fingerprinted (:func:`..operators.multimodal.
    image_phash`, one Arrow-batched map per batch) and paired against
    the accumulated signature state with
    :func:`..operators.dedup.incremental_simhash_pairs` — per-epoch
    work scales with the batch; the corpus is never re-paired.

    Writes under ``state_dir``: ``sigs/`` (path, simhash per epoch —
    the growing corpus state) and ``pairs/`` (doc_a, doc_b, hamming
    per epoch). Same exactly-once posture as the text loop: every
    table partitioned by epoch with dynamic overwrite, pairs written
    BEFORE state so a replayed epoch recomputes against pre-epoch
    state and overwrites only its own partitions. Drain equivalence
    (pytest): the union of per-epoch pairs equals one full-corpus
    :func:`..operators.multimodal.image_near_dup_pairs` run."""
    from picoprobedataflow_spark.operators.dedup import \
        incremental_simhash_pairs
    from picoprobedataflow_spark.operators.multimodal import \
        image_phash

    spark = image_stream.sparkSession
    # State-identity params (round-16 review find — this loop was
    # left out of the guard): the stored simhash encodes grid and
    # codec; resuming under either changed silently hamming-compares
    # two incompatible fingerprint spaces. max_hamming / n_chunks
    # are pairing policy, not state encoding, and stay free.
    ensure_params(spark, state_dir, {"grid": str(grid),
                                     "codec": str(codec)})
    sig_dir = os.path.join(state_dir, "sigs")
    pair_dir = os.path.join(state_dir, "pairs")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        state = read_state(spark, sig_dir, PHASH_STATE_SCHEMA,
                           before_epoch=epoch_id)
        new_sigs = (image_phash(batch, grid=grid, codec=codec)
                    .select("path", F.col("phash").alias("simhash"))
                    .persist())
        try:
            # broadcast_batch (round 17): the micro-batch's chunk
            # table broadcasts; the accumulated sig state streams
            # map-side instead of shuffling on (j, chunk) per epoch.
            pairs = incremental_simhash_pairs(
                state, new_sigs, max_hamming=max_hamming,
                n_chunks=n_chunks, bits=64, id_col="path",
                broadcast_batch=True)
            write_epoch(pairs, pair_dir, epoch_id)
            write_epoch(new_sigs, sig_dir, epoch_id)
        finally:
            new_sigs.unpersist()

    return start_epoch_loop(image_stream, _process, checkpoint_dir,
                            available_now)
