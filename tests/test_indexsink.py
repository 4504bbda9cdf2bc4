"""IndexSink: upsert-by-UID log semantics, tombstones, compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ftw_crawler_spark.operators.indexsink import IndexSink


def _sink(spark, tmp_path):
    sink = IndexSink(spark, str(tmp_path / "index"))
    base = spark.createDataFrame(
        [("u1", "http://a/1", "old-1"),
         ("u2", "http://a/2", "old-2"),
         ("u3", "http://a/3", "old-3")],
        "UID string, url string, Title string")
    sink.write_base(base)
    deletes = spark.createDataFrame([("u2",)], "UID string")
    sink.append_deletes(deletes, batch_id=0)
    ups = spark.createDataFrame(
        [("u1", "http://a/1", "new-1", 10),
         ("u4", "http://a/4", "new-4", 11)],
        "UID string, url string, Title string, op_seq long")
    sink.append_upserts(ups, batch_id=1)
    return sink


def test_merge_resolution(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    rows = {r["UID"]: r["Title"] for r in sink.current().collect()}
    assert rows == {"u1": "new-1", "u3": "old-3", "u4": "new-4"}


def test_current_memoized_per_generation_set(spark, tmp_path):
    """``current()`` hands back the same view while the committed
    generation set is unchanged, and a new one after every write that
    changes it — including an in-place rewrite of a batch dir (a crash
    replay), whose rewritten rows must be what the new view reads."""
    sink = _sink(spark, tmp_path)
    schema = "UID string, url string, Title string, op_seq long"

    def titles(view):
        return {r["UID"]: r["Title"] for r in view.collect()}

    views = [sink.current()]
    assert sink.current() is views[-1]
    for write in (
            lambda: sink.append_upserts(spark.createDataFrame(
                [("u3", "http://a/3", "new-3", 12)], schema), batch_id=2),
            lambda: sink.append_deletes(
                spark.createDataFrame([("u4",)], "UID string"),
                batch_id=3),
            sink.compact,
            lambda: sink.append_upserts(spark.createDataFrame(
                [("u1", "http://a/1", "replay-a", 30)], schema),
                batch_id=4),
            # the same batch dir written again, as a replay would
            lambda: sink.append_upserts(spark.createDataFrame(
                [("u1", "http://a/1", "replay-b", 30)], schema),
                batch_id=4)):
        write()
        view = sink.current()
        assert all(view is not v for v in views)
        assert sink.current() is view
        views.append(view)
    # u4's purge tombstone (op_seq -1) loses to its op_seq 11 upsert
    assert titles(views[-1]) == {"u1": "replay-b", "u3": "new-3",
                                 "u4": "new-4"}


def test_upsert_beats_earlier_tombstone(spark, tmp_path):
    """A UID deleted in the purge phase (op_seq -1) and re-crawled
    (op_seq >= 0) survives with the new version."""
    sink = _sink(spark, tmp_path)
    sink.append_deletes(
        spark.createDataFrame([("u4",)], "UID string"), batch_id=2)
    # op_seq -1 tombstone loses to u4's op_seq 11 upsert
    assert "u4" in {r["UID"] for r in sink.current().collect()}


def test_compaction_preserves_state_and_folds_log(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    before = sorted((r["UID"], r["Title"])
                    for r in sink.current().collect())
    n_deltas = len(os.listdir(sink.delta_root))
    assert n_deltas >= 2
    sink.compact()
    assert not os.path.isdir(sink.delta_root)
    after = sorted((r["UID"], r["Title"])
                   for r in sink.current().collect())
    assert after == before
    # post-compaction writes still resolve on top of the new base
    sink.append_upserts(
        spark.createDataFrame([("u3", "http://a/3", "newer-3", 20)],
                              "UID string, url string, Title string, "
                              "op_seq long"), batch_id=5)
    rows = {r["UID"]: r["Title"] for r in sink.current().collect()}
    assert rows["u3"] == "newer-3"
    assert rows["u1"] == "new-1"


def test_compaction_crash_recovery(spark, tmp_path):
    """Crash between moving the old base aside and adopting the
    _SUCCESS-marked snapshot: a new IndexSink over the same root must
    finish the swap and serve identical contents."""
    import shutil

    sink = _sink(spark, tmp_path)
    before = sorted((r["UID"], r["Title"])
                    for r in sink.current().collect())
    # replicate compact() up to the crash point
    tmp = sink.base_path + ".compact-tmp"
    (sink.current().withColumn("op_seq", F.lit(-2).cast("long"))
         .withColumn("is_delete", F.lit(False))
         .write.mode("overwrite").parquet(tmp))
    shutil.rmtree(sink.delta_root)
    os.rename(sink.base_path, sink.base_path + ".old")  # crash here

    sink2 = IndexSink(spark, str(tmp_path / "index"))
    assert os.path.isdir(sink2.base_path)
    assert not os.path.isdir(tmp)
    after = sorted((r["UID"], r["Title"])
                   for r in sink2.current().collect())
    assert after == before


def test_incomplete_compaction_tmp_discarded(spark, tmp_path):
    """A tmp without _SUCCESS (crash mid-write) is discarded; the
    intact base keeps serving."""
    sink = _sink(spark, tmp_path)
    before = sorted((r["UID"], r["Title"])
                    for r in sink.current().collect())
    tmp = sink.base_path + ".compact-tmp"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"torn")
    sink2 = IndexSink(spark, str(tmp_path / "index"))
    assert not os.path.isdir(tmp)
    after = sorted((r["UID"], r["Title"])
                   for r in sink2.current().collect())
    assert after == before


def test_as_of_time_travel(spark, tmp_path):
    """VERSION AS OF analog: each generation boundary is addressable;
    pre-log reads serve the base; post-compaction reads fold away."""
    sink = _sink(spark, tmp_path)   # base, deletes@0, upserts@1
    # before any delta generation: the raw base snapshot
    at_base = {r["UID"]: r["Title"] for r in sink.as_of(-1).collect()}
    assert at_base == {"u1": "old-1", "u2": "old-2", "u3": "old-3"}
    # after the purge generation, before the crawl batch
    at0 = {r["UID"] for r in sink.as_of(0).collect()}
    assert at0 == {"u1", "u3"}
    # after batch 1 == current()
    at1 = sorted((r["UID"], r["Title"]) for r in sink.as_of(1).collect())
    cur = sorted((r["UID"], r["Title"]) for r in sink.current().collect())
    assert at1 == cur
    # history reaches back only to the last compaction (snapshot expiry)
    sink.compact()
    folded = sorted((r["UID"], r["Title"])
                    for r in sink.as_of(-1).collect())
    assert folded == cur


def test_changes_cdc_net_effect(spark, tmp_path):
    """Changelog analog: net change per UID inside the generation
    window, tombstone-in-window beaten by a later re-crawl."""
    sink = _sink(spark, tmp_path)
    # window (0, 1]: only batch 1's upserts
    ch = {r["UID"]: r["_change_type"]
          for r in sink.changes(since_batch=0, until_batch=1).collect()}
    assert ch == {"u1": "upsert", "u4": "upsert"}
    # window (-1, 1]: the purge tombstone AND the upserts
    ch = {r["UID"]: r["_change_type"]
          for r in sink.changes(since_batch=-1).collect()}
    assert ch == {"u1": "upsert", "u2": "delete", "u4": "upsert"}
    # delete then re-crawl inside one window nets to the upsert
    sink.append_deletes(
        spark.createDataFrame([("u1",)], "UID string"), batch_id=2)
    sink.append_upserts(
        spark.createDataFrame([("u1", "http://a/1", "re-1", 30)],
                              "UID string, url string, Title string, "
                              "op_seq long"), batch_id=3)
    ch = {r["UID"]: (r["_change_type"], r["Title"]) for r in
          sink.changes(since_batch=1, until_batch=3).collect()}
    assert ch == {"u1": ("upsert", "re-1")}
    # empty window → None (same contract as current() on an empty sink)
    assert sink.changes(since_batch=3) is None


def test_cdc_reconstruction_invariant(spark, tmp_path):
    """The incremental-consumer contract: for ANY generation boundary
    m, LWW-merging changes(since=m) into as_of(m) on (UID, op_seq)
    equals current() — a downstream re-embed/re-export job that
    applies the CDC stream to its last snapshot lands exactly on the
    live index. The merge (not a set-patch) is load-bearing: batch 2's
    purge tombstone sits at op_seq −1, below u1's batch-1 upsert, so a
    consumer already holding that upsert must let it win."""
    sink = _sink(spark, tmp_path)
    sink.append_deletes(
        spark.createDataFrame([("u1",)], "UID string"), batch_id=2)
    sink.append_upserts(
        spark.createDataFrame([("u5", "http://a/5", "new-5", 40)],
                              "UID string, url string, Title string, "
                              "op_seq long"), batch_id=3)
    cur = {r["UID"] for r in sink.current().collect()}
    assert "u1" in cur                      # tombstone lost on op_seq
    for m in (-1, 0, 1, 2):
        held = {r["UID"]: r["op_seq"] for r in sink.as_of(m).collect()}
        merged = dict(held)
        for r in sink.changes(since_batch=m).collect():
            if r["UID"] in merged and merged[r["UID"]] >= r["op_seq"]:
                continue                    # held version wins LWW
            if r["_change_type"] == "delete":
                merged.pop(r["UID"], None)
            else:
                merged[r["UID"]] = r["op_seq"]
        assert set(merged) == cur, f"boundary {m}"


def test_history_lists_committed_generations(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    assert sink.history() == [
        {"batch_id": None, "kind": "base"},
        {"batch_id": 0, "kind": "deletes"},
        {"batch_id": 1, "kind": "upserts"},
    ]
    # an uncommitted (no _SUCCESS) or foreign dir is never adopted
    os.makedirs(os.path.join(sink.delta_root, "batch=9"))
    os.makedirs(os.path.join(sink.delta_root, "not-a-batch=3"))
    assert {h["batch_id"] for h in sink.history()} == {None, 0, 1}
    sink.compact()
    assert sink.history() == [{"batch_id": None, "kind": "base"}]


def test_read_only_sink_never_mutates(spark, tmp_path):
    """A consumer-opened sink (read_only=True) must not run crash
    recovery — deleting a live writer's _SUCCESS-marked compact-tmp
    between its write and its swap would strand the writer's renames —
    and must refuse writes outright."""
    import pytest

    sink = _sink(spark, tmp_path)
    tmp = sink.base_path + ".compact-tmp"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    ro = IndexSink(spark, str(tmp_path / "index"), read_only=True)
    assert os.path.isdir(tmp)          # untouched by the consumer
    assert {r["UID"] for r in ro.current().collect()} == \
        {"u1", "u3", "u4"}
    for call in (lambda: ro.compact(),
                 lambda: ro.append_deletes(
                     spark.createDataFrame([("u1",)], "UID string"), 9),
                 lambda: ro.write_base_files(str(tmp_path))):
        with pytest.raises(RuntimeError, match="read_only"):
            call()
    # the OWNING writer still recovers (here: discards the stale tmp)
    IndexSink(spark, str(tmp_path / "index"))
    assert not os.path.isdir(tmp)


def test_compaction_triggers_ignore_uncommitted_dirs(spark, tmp_path):
    """Neither the generation count nor the byte trigger may see a
    crashed writer's uncommitted (no _SUCCESS) delta dir."""
    sink = _sink(spark, tmp_path)      # 2 committed generations
    junk = os.path.join(sink.delta_root, "batch=99")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0.parquet"), "wb") as fh:
        fh.write(b"x" * (1 << 20))     # big uncommitted leftover
    assert not sink.should_compact(compact_every=3, max_delta_frac=None)
    # byte trigger: committed deltas are tiny vs the 1 MiB leftover —
    # a huge frac threshold must stay quiet even with the floor off
    assert not sink.should_compact(compact_every=100, max_delta_frac=3.0,
                                   compact_min_bytes=0)


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style additive schema evolution: a later generation may
    carry a NEW column; older rows read it as NULL, the LWW merge and
    the windowed reads are unaffected (unionByName with
    allowMissingColumns on the read side)."""
    sink = _sink(spark, tmp_path)   # generations without 'lang'
    sink.append_upserts(spark.createDataFrame(
        [("u7", "http://a/7", "t7", "de", 50)],
        "UID string, url string, Title string, lang string, "
        "op_seq long"), batch_id=4)
    cur = {r["UID"]: r["lang"] for r in sink.current().collect()}
    assert cur == {"u1": None, "u3": None, "u4": None, "u7": "de"}
    # a windowed read exposes the union schema of the generations it
    # actually reads: time travel BEFORE the column existed serves the
    # schema as of that boundary
    assert "lang" not in sink.as_of(1).columns
    ch = sink.changes(since_batch=1)
    assert {r["UID"]: r["lang"] for r in ch.collect()} == {"u7": "de"}
    # compaction folds the evolved schema into the base
    sink.compact()
    assert {r["UID"]: r["lang"] for r in sink.current().collect()} == cur


def test_snapshot_diff_classification(spark):
    from ftw_crawler_spark.operators.incremental import snapshot_diff
    old = spark.createDataFrame(
        [("a", "u1", 10), ("b", "u2", 20), ("c", "u3", 30),
         ("d", None, 40)],
        "UID string, url string, n long")
    new = spark.createDataFrame(
        [("b", "u2", 20), ("c", "u3-moved", 30), ("d", None, 40),
         ("e", "u5", 50)],
        "UID string, url string, n long")
    out = {r["UID"]: r["change"] for r in snapshot_diff(
        old, new, key_col="UID",
        fingerprint_cols=("url", "n")).collect()}
    assert out == {"a": "removed", "b": "unchanged", "c": "changed",
                   "d": "unchanged",  # NULL fingerprint compares equal
                   "e": "added"}


def test_compaction_policy_by_bytes_and_generations(spark, tmp_path):
    """should_compact fires on EITHER trigger: generation count
    (compact_every) or delta bytes vs base fraction — many tiny
    batches and few huge ones both compact sensibly."""
    sink = _sink(spark, tmp_path)   # base + 2 small delta generations
    # generation trigger
    assert not sink.should_compact(compact_every=3, max_delta_frac=None)
    assert sink.should_compact(compact_every=2, max_delta_frac=None)
    # byte trigger: two tiny deltas are already a large fraction of the
    # tiny base here, so a high threshold stays quiet and a low one
    # fires even though the generation budget (100) is nowhere near
    assert not sink.should_compact(compact_every=100,
                                   max_delta_frac=50.0,
                                   compact_min_bytes=0)
    assert sink.should_compact(compact_every=100, max_delta_frac=0.01,
                               compact_min_bytes=0)
    # the min-bytes floor suppresses the ratio trigger while the delta
    # is absolutely small (a young crawl's near-empty base would
    # otherwise ratio-fire on every batch — O(total²) rewrites); the
    # default floor is far above any test-sized delta
    assert not sink.should_compact(compact_every=100,
                                   max_delta_frac=0.01)
    assert not sink.should_compact(compact_every=100,
                                   max_delta_frac=0.01,
                                   compact_min_bytes=1 << 30)
    # and with no base snapshot the byte trigger never divides by zero
    empty = IndexSink(spark, str(tmp_path / "index2"))
    assert not empty.should_compact(compact_every=1, max_delta_frac=0.5,
                                    compact_min_bytes=0)
