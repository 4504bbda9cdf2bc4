"""The index sink: upsert-by-UID over partitioned parquet (M3, S8/S9).

The reference POSTs each document to Solr (solr.py:29-50) and deletes
purged UIDs (solr.py:74-77). The north-star sink is Iceberg
``MERGE INTO index ON UID`` — in this sandbox (no Iceberg runtime) the
same semantics are provided by the documented fallback (SURVEY.md §4.3):
an append-only parquet log of document versions + tombstones, ordered
by a monotone ``op_seq``, with upsert-by-UID resolved on read via a
last-writer-wins window. Appends are per-batch (atomic directory
writes under ``delta/batch=K``), so the sink is also the crawl's
checkpoint log: a resumed run re-reads committed batches only.

At scale: the read-side window shuffles on UID once; compaction
(``compact()``) folds the log back into a single snapshot so the
window cost is bounded by data written since the last compaction —
the same pattern Iceberg's MOR (merge-on-read) uses.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# anchored (same convention as plans/crawl.py's checkpoint regex): a
# stray dir that merely CONTAINS "batch=" must not be adopted as a log
# generation
_BATCH_DIR_RE = re.compile(r"^batch=(-?\d+)(_deletes)?$")


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class IndexSink:
    def __init__(self, spark: SparkSession, root: str,
                 read_only: bool = False):
        """``read_only`` skips crash recovery: a CONSUMER process
        (export CLI, CDC tail) must never mutate a sink another
        process may be mid-compaction on — recovery deleting a live
        writer's _SUCCESS-marked compact-tmp between its write and its
        swap would strand the writer's renames and lose the base.
        Recovery belongs to the single writer that owns the root."""
        self.spark = spark
        self.root = root
        self.base_path = os.path.join(root, "base")
        self.delta_root = os.path.join(root, "delta")
        self.read_only = read_only
        if not read_only:
            self._recover_compaction()

    def _recover_compaction(self) -> None:
        """Adopt a completed-but-unswapped compaction snapshot after a
        crash: if the base is gone (or was renamed aside) and a
        _SUCCESS-marked tmp exists, finish the swap; otherwise discard
        the partial tmp. Replaying delta dirs over an adopted snapshot
        is idempotent (upsert-by-UID LWW)."""
        import shutil
        tmp = self.base_path + ".compact-tmp"
        old = self.base_path + ".old"
        if self._exists(tmp) and not self._exists(self.base_path):
            shutil.rmtree(self.base_path, ignore_errors=True)
            os.rename(tmp, self.base_path)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)

    # -- write side ---------------------------------------------------------

    def _writable(self) -> None:
        if self.read_only:
            raise RuntimeError("IndexSink opened read_only; writes and "
                               "compaction belong to the owning writer")

    def write_base(self, df: DataFrame) -> None:
        """Initial snapshot (pre-existing index state)."""
        self._writable()
        (df.withColumn("op_seq", F.lit(-2).cast("long"))
           .withColumn("is_delete", F.lit(False))
           .write.mode("overwrite").parquet(self.base_path))

    def write_base_files(self, src_parquet_dir: str) -> None:
        """Zero-Spark base install: file-level copy of an existing
        parquet dir. The read side normalizes the missing op_seq /
        is_delete columns to (-2, false), so this is equivalent to
        write_base without paying a full rewrite job (the base can be
        100× the per-batch delta at a real crawl's scale)."""
        self._writable()
        import shutil
        shutil.rmtree(self.base_path, ignore_errors=True)
        shutil.copytree(src_parquet_dir, self.base_path)
        success = os.path.join(self.base_path, "_SUCCESS")
        if not os.path.exists(success):
            with open(success, "w"):
                pass

    def append_upserts(self, docs: DataFrame, batch_id: int) -> None:
        """Docs must carry UID + op_seq (crawl_seq serves as op_seq —
        later crawls of the same UID win, matching Solr's
        last-write-wins upsert)."""
        self._writable()
        (docs.withColumn("is_delete", F.lit(False))
             .write.mode("overwrite")
             .parquet(os.path.join(self.delta_root, f"batch={batch_id}")))

    def append_deletes(self, uids: DataFrame, batch_id: int) -> None:
        """Tombstones (S9). ``uids``: (UID). op_seq below all crawl rows
        of this run (crawl_seq >= 0) but above the base snapshot (-2) — purge runs before
        crawling (main.py:102)."""
        self._writable()
        (uids.select("UID")
             .withColumn("op_seq", F.lit(-1).cast("long"))
             .withColumn("is_delete", F.lit(True))
             .write.mode("overwrite")
             .parquet(os.path.join(self.delta_root,
                                   f"batch={batch_id}_deletes")))

    # -- read side ----------------------------------------------------------

    def _delta_dirs(self) -> list[tuple[int, bool, str]]:
        """Committed (_SUCCESS-marked) log generations as
        (batch_id, is_deletes, path), batch-ordered. Pure metadata —
        a directory LIST, no Spark job."""
        out = []
        if os.path.isdir(self.delta_root):
            for d in sorted(os.listdir(self.delta_root)):
                m = _BATCH_DIR_RE.match(d)
                p = os.path.join(self.delta_root, d)
                if m and self._exists(p):
                    out.append((int(m.group(1)), bool(m.group(2)), p))
        out.sort(key=lambda t: (t[0], t[1]))
        return out

    def _read_log(self, min_batch: int | None = None,
                  max_batch: int | None = None,
                  include_base: bool = True) -> DataFrame | None:
        parts = []
        if include_base and self._exists(self.base_path):
            parts.append(self.spark.read.parquet(self.base_path))
        for bid, _, p in self._delta_dirs():
            if min_batch is not None and bid <= min_batch:
                continue
            if max_batch is not None and bid > max_batch:
                continue
            parts.append(self.spark.read.parquet(p))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # a file-copied base (write_base_files) lacks the log columns —
        # absent op_seq means "base snapshot", absent is_delete "upsert"
        if "op_seq" not in out.columns:
            out = out.withColumn("op_seq", F.lit(None).cast("long"))
        if "is_delete" not in out.columns:
            out = out.withColumn("is_delete",
                                 F.lit(None).cast("boolean"))
        return (out.withColumn("op_seq",
                               F.coalesce(F.col("op_seq"),
                                          F.lit(-2).cast("long")))
                .withColumn("is_delete",
                            F.coalesce(F.col("is_delete"),
                                       F.lit(False))))

    @staticmethod
    def _resolve_lww(log: DataFrame) -> DataFrame:
        """Last op per UID; one shuffle on UID."""
        w = Window.partitionBy("UID").orderBy(F.col("op_seq").desc())
        return (log.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))

    def current(self) -> DataFrame | None:
        """The MERGE-resolved view: last op per UID, tombstones dropped."""
        log = self._read_log()
        if log is None:
            return None
        return (self._resolve_lww(log)
                .filter(~F.col("is_delete")).drop("is_delete"))

    def as_of(self, batch_id: int) -> DataFrame | None:
        """Time travel (Iceberg ``VERSION AS OF`` analog): the
        MERGE-resolved index as it stood after generation ``batch_id``
        committed — base snapshot + delta generations ≤ batch_id only.

        History reaches back to the last compaction: ``compact()``
        folds the log into a new base (op_seq −2) and drops the delta
        dirs, exactly like Iceberg snapshot expiry — generations folded
        away are no longer addressable, and ``as_of`` of a pre-fold
        generation returns the folded base state. Cost is identical to
        ``current()`` minus the skipped generations (the batch filter
        is a metadata LIST — no Spark job touches excluded dirs)."""
        log = self._read_log(max_batch=batch_id)
        if log is None:
            return None
        return (self._resolve_lww(log)
                .filter(~F.col("is_delete")).drop("is_delete"))

    def changes(self, since_batch: int,
                until_batch: int | None = None) -> DataFrame | None:
        """CDC (Iceberg changelog analog): the NET change per UID in
        generations (since_batch, until_batch] — the winning row with
        ``_change_type`` 'upsert' or 'delete'. A UID deleted then
        re-crawled inside the window emits one upsert (its final
        state); a re-crawl of identical content is still an upsert
        event (Solr LWW semantics — no value diffing). This is the
        incremental-consumer read path at 100 TB: re-embed / re-export
        only what changed since the last training snapshot, never
        rescan the base. Returns None when the window holds no
        committed generations (same contract as ``current`` on an
        empty sink).

        Application contract: rows keep ``op_seq``, and the consumer
        applies them to its ``as_of(since_batch)`` snapshot as an LWW
        MERGE on (UID, op_seq) — never a blind set-patch. op_seq is
        not batch-monotone (a run-start purge tombstone is ordered at
        −1, BELOW every crawl row by design — see append_deletes), so
        a window can carry a tombstone that loses to an upsert the
        consumer already holds; the merge resolves that correctly
        because LWW over any partition of the op log is associative.
        Pinned by test_cdc_reconstruction_invariant.

        op_seq uniqueness scope: the merge key assumes at most one
        upsert per (UID, op_seq) content version. That holds in the
        supported lifecycle — one writer run per sink root (re-running
        --out resumes, it never starts a second logical run), each URL
        crawled at most once per run, and follow-mode discovered seqs
        (2^62 + xxhash64(url), a pure URL function) therefore minted
        once. Feeding a sink from multiple logical runs would need a
        run-epoch folded into op_seq first — equal-seq re-upserts
        would tie in the LWW window and be skipped by merge-applying
        consumers."""
        log = self._read_log(min_batch=since_batch,
                             max_batch=until_batch, include_base=False)
        if log is None:
            return None
        return (self._resolve_lww(log)
                .withColumn("_change_type",
                            F.when(F.col("is_delete"), F.lit("delete"))
                             .otherwise(F.lit("upsert")))
                .drop("is_delete"))

    def op_log(self, include_base: bool = True) -> DataFrame | None:
        """The FULL committed op log (base snapshot + every delta
        generation), one row per operation — the change-HISTORY
        surface, in contrast to ``changes`` which nets to one winning
        row per UID. This is what feeds the adaptive recrawl
        scheduler: distinct (url, modified) upsert observations
        across generations estimate each url's change rate
        (operators/incremental.change_observations →
        recrawl_schedule). Same snapshot-expiry caveat as ``as_of``:
        history reaches back to the last compaction."""
        return self._read_log(include_base=include_base)

    def history(self) -> list[dict]:
        """Committed generations (Iceberg ``snapshots`` metadata-table
        analog): [{'batch_id', 'kind'}] in commit order, plus the base
        snapshot when present. Metadata-only — a LIST, no Spark job."""
        out = []
        if self._exists(self.base_path):
            out.append({"batch_id": None, "kind": "base"})
        out.extend({"batch_id": bid,
                    "kind": "deletes" if is_del else "upserts"}
                   for bid, is_del, _ in self._delta_dirs())
        return out

    def should_compact(self, compact_every: int | None,
                       max_delta_frac: float | None = 0.5,
                       compact_min_bytes: int = 256 << 20) -> bool:
        """MOR maintenance policy: compact when the delta log exceeds
        EITHER ``compact_every`` generations OR ``max_delta_frac`` of
        the base snapshot's bytes. Generation count alone misgauges
        both extremes — a run of many tiny batches would compact
        (rewrite the whole base) for nothing, while a few huge batches
        would let the read-side LWW window grow unboundedly before the
        count trips.

        ``compact_min_bytes`` floors the BYTE trigger: early in a crawl
        the base is near-empty, so a bare ratio fires on every batch —
        a full base rewrite per batch is O(total²) write amplification.
        With the floor, compactions only happen once the delta is
        absolutely large, so the base grows geometrically between them
        and amortized rewrite work stays O(total / max_delta_frac).
        The generation-count trigger is unaffected (it bounds the
        number of log dirs the read side unions, floor or not).

        Sizes come from file metadata (a directory walk — an
        object-store LIST in production), no Spark job."""
        if not os.path.isdir(self.delta_root):
            return False
        # committed generations only — the same set the read side
        # unions; an uncommitted (no _SUCCESS) dir must not trigger a
        # base rewrite that its writer could still be racing
        gens = len(self._delta_dirs())
        if compact_every and gens >= compact_every:
            return True
        if max_delta_frac is not None and self._exists(self.base_path):
            base = _dir_bytes(self.base_path)
            # committed generations only, same as the count trigger —
            # a crashed writer's uncommitted dir must not byte-trip a
            # base rewrite either
            delta = sum(_dir_bytes(p) for _, _, p in self._delta_dirs())
            if base > 0 and delta >= compact_min_bytes \
                    and delta >= max_delta_frac * base:
                return True
        return False

    def compact(self) -> None:
        """Fold the log into a fresh base snapshot. Crash-safe: the
        snapshot is fully written (with _SUCCESS) before the old base
        is moved aside, and every intermediate state is recoverable —
        either the old base is still in place, or the _SUCCESS-marked
        tmp is adopted by ``_recover_compaction``; leftover delta dirs
        replay idempotently over the compacted base."""
        self._writable()
        cur = self.current()
        if cur is None:
            return
        import shutil
        tmp = self.base_path + ".compact-tmp"
        old = self.base_path + ".old"
        (cur.withColumn("op_seq", F.lit(-2).cast("long"))
            .withColumn("is_delete", F.lit(False))
            .write.mode("overwrite").parquet(tmp))
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(self.base_path):
            os.rename(self.base_path, old)
        os.rename(tmp, self.base_path)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(self.delta_root, ignore_errors=True)

    @staticmethod
    def _exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS"))
