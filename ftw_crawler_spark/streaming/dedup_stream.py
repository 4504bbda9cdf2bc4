"""Streaming incremental near-dup gate: admit each micro-batch of
documents against everything admitted so far.

Batch-mode dedup (operators/dedup.py) answers "which docs in THIS
corpus are duplicates of each other"; a crawl never has the whole
corpus — documents arrive forever, and each arrival must be admitted
or dropped NOW, against a state store that only grows. This module is
that composition: the same sketches (exact content hash, MinHash/LSH
bands, exact n-gram Jaccard verify, connected components) run per
micro-batch inside ``foreachBatch``, with the cross-batch state kept
as three append-only parquet relations.

Admission policy per micro-batch (deterministic — a pure function of
(batch membership, doc ids); pinned against a plain-Python oracle in
test_dedup_stream):

1. exact, in-batch: one survivor per content hash (min doc id).
2. exact, vs store: drop docs whose content hash was ever admitted
   (broadcast-able semi-join against ``hashes/``).
3. near, vs store: LSH band collisions against ``bands/`` nominate
   (new, old) candidates; ONLY the collided old docs' texts are
   fetched back (semi-join into ``admitted/``) and candidates are
   verified by exact n-gram Jaccard ≥ ``tau``. Verified ⇒ the new doc
   drops. The store is probed by band hash — per-batch state I/O is
   O(collisions), never a scan of the admitted corpus.
4. near, in-batch: exact Jaccard pairs among the remaining docs →
   connected components → min doc id per component survives (the same
   cluster-retention semantics as the batch family; greedy
   arrival-order semantics would make admission depend on intra-batch
   task order, which nothing downstream could replay).
5. survivors append to ``admitted/`` (id, text), ``hashes/``, and
   ``bands/``.

Exactly-once: state appends are per-batch subdirectories keyed by the
streaming batch id (the offset log pins file→batch assignment), so a
replayed batch overwrites its own state delta instead of doubling it
(the index sink's ``batch=K`` overwrite makes the same argument).

Compaction: a stream that runs forever accumulates one state subdir
per micro-batch, so listing + footer overhead grows O(batches). Every
``compact_every`` accumulated deltas they are folded into ONE
``c{B}`` segment covering all state strictly below the
currently-processing batch B (the same MOR economics as the index
sink: O(state) rewrite amortized to O(state/compact_every) per
batch). Crash-safe: tmp-write + atomic rename, superseded dirs become
invisible to the reader the instant the rename lands and are swept on
the next fold. Safe w.r.t. replay: foreachBatch commits batch N
before delivering N+1, so only the current batch can ever replay —
and the fold covers state strictly BEFORE it (a replayed batch B
re-reads ``c{B}`` exactly as it read the deltas the segment
replaced).

Scale notes: the admitted corpus never ships anywhere — ``hashes/``
and ``bands/`` are narrow relations joined on uniform md5 keys, and
step 3 reads back only collided texts. Docs shorter than the shingle
width have no sketch and pass the near gates (exact gate still
applies). Doc ids must be globally unique across the stream (crawl_seq
provides that in the pipeline).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftw_crawler_spark.operators import dedup

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


class DedupStream:
    """Owns the state directories + the per-batch admission pipeline."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 n_perm: int = dedup.DEFAULT_N_PERM,
                 bands: int = dedup.DEFAULT_BANDS,
                 tau: float = 0.6, compact_every: int = 16):
        self.spark = spark
        self.state_dir = state_dir
        self.n_perm = n_perm
        self.bands = bands
        self.tau = tau
        # 0/None disables compaction (the sibling knobs' convention:
        # IndexSink.should_compact, run_crawl); values
        # below 2 would rewrite O(state) nearly every batch — the
        # exact amplification the fold exists to avoid
        self.compact_every = compact_every or 0
        self.admitted_dir = os.path.join(state_dir, "admitted")
        self.hashes_dir = os.path.join(state_dir, "hashes")
        self.bands_dir = os.path.join(state_dir, "bands")
        self.ckpt = os.path.join(state_dir, "stream_checkpoint")
        self.query = None
        self._roots = [
            (self.admitted_dir, "doc_id long, text string"),
            (self.hashes_dir, "content_hash string"),
            (self.bands_dir,
             "doc_id long, band_idx int, band_hash string"),
        ]

    # -- state ----------------------------------------------------------------

    def _read_state(self, root: str, schema: str,
                    before: int | None = None) -> DataFrame:
        """State strictly before ``before`` (all when None): the newest
        usable compacted segment (boundary ≤ before) plus the deltas
        from its boundary up to ``before``. Batch N reading only state
        < N is what makes a crash-replay idempotent: the replayed batch
        sees the exact pre-batch state, recomputes the same survivors,
        and its overwrite rewrites an identical delta — reading
        everything would let a replay collide with its own prior output
        and erase it. Deltas below a segment's boundary are IGNORED
        even if present (a fold interrupted mid-sweep leaves them; the
        segment supersedes them by construction)."""
        if os.path.isdir(root):
            names = os.listdir(root)
            comp = sorted(int(d[1:]) for d in names
                          if d.startswith("c")
                          and (before is None or int(d[1:]) <= before))
            base = comp[-1] if comp else 0
            paths = ([os.path.join(root, f"c{base:09d}")]
                     if comp else [])
            paths += [os.path.join(root, d) for d in sorted(names)
                      if d.startswith("b") and int(d[1:]) >= base
                      and (before is None or int(d[1:]) < before)]
            if paths:
                return self.spark.read.schema(schema).parquet(*paths)
        return self.spark.createDataFrame([], schema)

    def _append_state(self, df: DataFrame, root: str,
                      batch_id: int) -> None:
        # one subdir per streaming batch, overwritten on replay (the
        # plain 'b' prefix — not 'batch=' — keeps Spark's partition
        # discovery from inventing a partition column)
        (df.write.mode("overwrite")
         .parquet(os.path.join(root, f"b{batch_id:09d}")))

    def _maybe_compact(self, batch_id: int) -> None:
        """Fold the accumulated per-batch deltas below the current
        batch into one segment per state root once ``compact_every``
        have piled up since the last fold. Idempotent under replay (a
        re-run sees boundary == batch_id and skips); crash-safe at
        every step (tmp-write → atomic rename → sweep; an interrupted
        sweep's leftovers are invisible to the reader and removed by
        the next fold)."""
        if self.compact_every < 2:
            return
        root0 = self._roots[0][0]
        if not os.path.isdir(root0):
            return
        names = os.listdir(root0)
        comp = [int(d[1:]) for d in names if d.startswith("c")]
        base = max(comp) if comp else 0
        pend = [d for d in names
                if d.startswith("b") and base <= int(d[1:]) < batch_id]
        if len(pend) < self.compact_every:
            return
        for root, schema in self._roots:
            folded = self._read_state(root, schema, before=batch_id)
            tmp = os.path.join(root, f"_tmp_c{batch_id:09d}")
            shutil.rmtree(tmp, ignore_errors=True)
            folded.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, os.path.join(root, f"c{batch_id:09d}"))
            for d in os.listdir(root):
                if (d.startswith("_tmp_")
                        or (d[0] in "bc" and d[1:].isdigit()
                            and int(d[1:]) < batch_id)):
                    shutil.rmtree(os.path.join(root, d),
                                  ignore_errors=True)

    def admitted(self) -> DataFrame:
        return self._read_state(self.admitted_dir,
                                "doc_id long, text string")

    # -- per-batch admission ---------------------------------------------------

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # fold accumulated state deltas FIRST — everything below this
        # batch is committed (foreachBatch delivers N+1 only after N's
        # commit), so the fold can never cover a replayable batch
        self._maybe_compact(batch_id)
        h = F.md5(F.coalesce(F.col("text"), F.lit("")))
        docs = batch.select("doc_id", "text",
                            h.alias("content_hash"))

        # 1. exact, in-batch: min doc id per content hash
        rep = docs.groupBy("content_hash").agg(
            F.min("doc_id").alias("doc_id"))
        docs = docs.join(rep, ["content_hash", "doc_id"], "left_semi")

        # 2. exact, vs store
        seen_hashes = self._read_state(self.hashes_dir,
                                       "content_hash string",
                                       before=batch_id)
        docs = (docs.join(seen_hashes, "content_hash", "left_anti")
                .localCheckpoint(eager=True))

        # 3. near, vs store: band collisions nominate; exact Jaccard
        #    over ONLY the collided old texts verifies
        new_bands = dedup.minhash_bands(
            docs, n_perm=self.n_perm, bands=self.bands
        ).localCheckpoint(eager=False)
        old_bands = self._read_state(
            self.bands_dir,
            "doc_id long, band_idx int, band_hash string",
            before=batch_id)
        hit_old = (old_bands
                   .join(new_bands.select("band_idx", "band_hash")
                         .distinct(),
                         ["band_idx", "band_hash"], "left_semi")
                   .select("doc_id").distinct())
        old_texts = self._read_state(
            self.admitted_dir, "doc_id long, text string",
            before=batch_id).join(hit_old, "doc_id", "left_semi")
        if old_texts.limit(1).count() > 0:
            old_texts = old_texts.localCheckpoint(eager=False)
            both = docs.select("doc_id", "text").unionByName(old_texts)
            pairs = dedup.ngram_jaccard_pairs(both, threshold=self.tau)
            # counterpart ids of pairs with an admitted doc on one
            # side: the anti-join below only ever removes NEW docs
            # (old ids aren't in ``docs``), so old-old pairs are inert
            old_a = old_texts.select(F.col("doc_id").alias("a"))
            old_b = old_texts.select(F.col("doc_id").alias("b"))
            drop_new = (pairs.join(old_b, "b", "left_semi")
                        .select(F.col("a").alias("doc_id"))
                        .unionByName(
                            pairs.join(old_a, "a", "left_semi")
                            .select(F.col("b").alias("doc_id")))
                        .distinct())
            docs = (docs.join(drop_new, "doc_id", "left_anti")
                    .localCheckpoint(eager=True))

        # 4. near, in-batch: exact-Jaccard pairs -> components -> min
        #    id per component survives (cluster retention, not greedy)
        in_pairs = dedup.ngram_jaccard_pairs(
            docs.select("doc_id", "text"), threshold=self.tau)
        if in_pairs.limit(1).count() > 0:
            comp = dedup.connected_components(in_pairs)
            keep = comp.groupBy("component").agg(
                F.min("node").alias("doc_id"))
            clustered = comp.select(F.col("node").alias("doc_id"))
            docs = docs.join(
                clustered.join(keep, "doc_id", "left_anti"),
                "doc_id", "left_anti")
        docs = docs.localCheckpoint(eager=True)

        # 5. append survivors to state
        self._append_state(docs.select("doc_id", "text"),
                           self.admitted_dir, batch_id)
        self._append_state(docs.select("content_hash"),
                           self.hashes_dir, batch_id)
        self._append_state(
            dedup.minhash_bands(docs, n_perm=self.n_perm,
                                bands=self.bands)
            .select("doc_id", "band_idx", "band_hash"),
            self.bands_dir, batch_id)

    # -- lifecycle --------------------------------------------------------------

    def start(self, delta_dir: str, available_now: bool = True):
        stream = (self.spark.readStream.schema(DOC_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(delta_dir))
        writer = (stream.writeStream
                  .foreachBatch(self._process_batch)
                  .option("checkpointLocation", self.ckpt))
        if available_now:
            writer = writer.trigger(availableNow=True)
        self.query = writer.start()
        return self.query

    def run_available(self, delta_dir: str, timeout: int = 300) -> None:
        """Process everything currently in delta_dir, then stop."""
        q = self.start(delta_dir, available_now=True)
        q.awaitTermination(timeout)
        if q.isActive:
            q.stop()
