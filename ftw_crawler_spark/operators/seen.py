"""URL-seen filtering: PARTITIONED bloom filter + exact anti-join backstop.

North-rule component (M4): at 10^10-URL frontier scale the
frontier⋈index equi-join for the incremental check
(operators/incremental.py) would shuffle every frontier row. Instead a
bloom filter is built over indexed urls and broadcast to the frontier
scan: never-indexed urls (the common case on a growing crawl) skip the
join entirely; candidate positives are verified by the EXACT join — a
false positive can only cost a lookup, never drop or misclassify a URL
(SURVEY.md §4.2).

The filter is SHARDED by ``pmod(xxhash64(url, seed), n_shards)``:

- **build**: url hashes are repartitioned by shard, and each task
  materializes only the ≤8 MiB bit arrays of the shards in its
  partition — never the whole filter. At the 10^10-URL / fpp 0.03
  design point the monolithic array is ~9 GB per task; a shard is
  ``n_bits/n_shards`` (2^26 bits → 2048 shards of 8 MiB).
- **merge**: because all rows of a shard land in one partition, the
  driver receives exactly one (shard, bits) row per non-empty shard
  and ORs it into place — O(total bytes) once, not
  O(num_partitions × total).
- **probe**: each url routes to its shard (same hash) and tests k
  double-hashed positions (Kirsch-Mitzenmacher: h1 + i·h2) inside that
  shard only. TWO serving modes (``split_by_bloom(mode=...)``):

  * ``broadcast`` — the concatenated array closes over an Arrow
    pandas UDF (numpy gather, no shuffle). Right while the filter is
    small enough to ship whole (≤ ``BROADCAST_MAX_BYTES``).
  * ``sharded`` — the filter stays a (shard, bits) RELATION; probe
    rows are routed to their shard by the same hash and membership is
    evaluated in a cogrouped Arrow UDF that sees ONE shard's bits per
    group. Task memory is O(shard + group rows), never O(filter) —
    at the 10^10-URL / fpp 0.03 design point the monolithic array is
    ~9 GB, a shard 8 MiB. Cost: one shuffle of the probe side on the
    shard key (O(batch)) plus a shuffle of the filter bytes
    (O(filter) — amortized: on a real cluster the shard table is the
    persisted checkpoint state table, already partitioned by shard).
  * ``auto`` (default) — broadcast below ``BROADCAST_MAX_BYTES``,
    sharded above. Both modes are bit-identical (same shard routing,
    same k positions); the exact anti-join backstop downstream makes
    either safe.

- **relation form (the 10^10 end-to-end path)**: ``split_by_index``
  dispatches on the filter's computed size. Below
  ``BROADCAST_MAX_BYTES`` it takes the bytes path above; above it the
  filter NEVER exists as one object anywhere — ``
  build_url_bloom_relation`` keeps it as a (shard, bits) DataFrame
  (one ≤8 MiB row per shard, driver holds only the plan),
  ``merge_bloom_relations`` ORs incremental batches shard-by-shard,
  and the cogrouped probe joins shard-to-shard. Driver memory O(1),
  task memory O(shard), at every stage of build/merge/serve.

(Spark's internal BloomFilter aggregate is not SQL-exposed in this
build, and rolling our own keeps the filter format stable for the
checkpoint state table and gives the shard layout the north rule asks
for.)
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_MAGIC = b"BLS2"
_HEADER = struct.Struct("<QII")       # n_bits (per shard), k, n_shards
_SHARD_SEED = 0x5A4D
_H2_SEED = 0x5EED
_SHARD_MAX_BITS = 1 << 26             # 8 MiB bit array per shard
BROADCAST_MAX_BYTES = 64 << 20        # auto mode: shard-serve above this


def _params(expected_items: int, fpp: float) -> tuple:
    n_bits = max(1 << 10, int(-expected_items * math.log(fpp)
                              / (math.log(2) ** 2)))
    n_bits = 1 << (n_bits - 1).bit_length()          # power of two
    k = max(1, round(n_bits / expected_items * math.log(2)))
    return n_bits, min(k, 8)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int,
               n_bits: int) -> np.ndarray:
    """(len, k) within-shard bit positions via double hashing; n_bits is
    2^m so the modulo is a mask."""
    mask = n_bits - 1
    idx = np.empty((len(h1), k), dtype=np.int64)
    for i in range(k):
        idx[:, i] = (h1 + i * h2) & mask
    return idx


def bloom_shape(bloom_bytes: bytes) -> tuple:
    """(n_bits_per_shard, k, n_shards) of a serialized filter."""
    assert bloom_bytes[:4] == _MAGIC
    return _HEADER.unpack(bloom_bytes[4:4 + _HEADER.size])


def _hash_cols(url_col: str, n_shards: int) -> list:
    return [
        F.pmod(F.xxhash64(F.col(url_col), F.lit(_SHARD_SEED)),
               F.lit(n_shards)).cast("int").alias("s"),
        F.xxhash64(F.col(url_col)).alias("h1"),
        F.xxhash64(F.col(url_col), F.lit(_H2_SEED)).alias("h2"),
    ]


def _resolve_shape(df: DataFrame, expected_items: int | None,
                   fpp: float, shape: tuple | None,
                   n_shards: int | None) -> tuple:
    if shape is not None:
        return shape
    if expected_items is None:
        expected_items = df.count()
    expected_items = max(1024, expected_items)
    total_bits, k = _params(expected_items, fpp)
    if n_shards is None:
        n_shards = max(1, total_bits // _SHARD_MAX_BITS)
    return total_bits // n_shards, k, n_shards   # both powers of two


def _shard_build_plan(df: DataFrame, url_col: str,
                      shape: tuple) -> DataFrame:
    """The shared build plan: (s, bits) with all of a shard's rows
    co-located so each task materializes ONLY the ≤8 MiB arrays of the
    shards in its partition (≈1 in expectation) and the output has
    exactly one row per non-empty shard."""
    n_bits, k, n_shards = shape
    shard_bytes = n_bits // 8
    hashes = df.select(*_hash_cols(url_col, n_shards))
    if n_shards > 1:
        # the memory-bounding step: co-locating a shard's rows means a
        # task materializes only its own partition's shard arrays
        # (≈1 each), never one array per shard it happens to see. A
        # 1-shard filter is ≤8 MiB total, so it builds as parallel
        # per-partition partials instead (no shuffle of hash rows).
        hashes = hashes.repartition(n_shards, "s")

    def partition_filter(pdfs):
        shards: dict[int, np.ndarray] = {}
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for s_val, grp in pdf.groupby("s"):
                bits = shards.setdefault(
                    int(s_val), np.zeros(shard_bytes, dtype=np.uint8))
                idx = _positions(grp["h1"].to_numpy(dtype=np.int64),
                                 grp["h2"].to_numpy(dtype=np.int64),
                                 k, n_bits).ravel()
                np.bitwise_or.at(bits, idx >> 3,
                                 np.uint8(1) << (idx & 7).astype(np.uint8))
        for s_val, bits in shards.items():
            yield pd.DataFrame({"s": [s_val], "bits": [bits.tobytes()]})

    return hashes.mapInPandas(partition_filter, "s int, bits binary")


def build_url_bloom(df: DataFrame, url_col: str = "url",
                    expected_items: int | None = None,
                    fpp: float = 0.03,
                    shape: tuple | None = None,
                    n_shards: int | None = None) -> bytes | None:
    """One-pass distributed sharded build. Returns the serialized filter
    (header: magic, per-shard n_bits, k, n_shards) or None for an empty
    relation. The driver holds O(total filter bytes) once — the small-
    filter form; above ``BROADCAST_MAX_BYTES`` use
    ``build_url_bloom_relation`` and the filter never exists whole.

    ``shape=(n_bits, k, n_shards)`` pins the geometry so the result is
    OR-merge compatible with an existing filter (incremental per-batch
    deltas, ``IncrementalUrlFilter.add``)."""
    shape = _resolve_shape(df, expected_items, fpp, shape, n_shards)
    parts = _shard_build_plan(df, url_col, shape).collect()
    return assemble_bloom_bytes(
        [(row["s"], row["bits"]) for row in parts], shape)


def assemble_bloom_bytes(shard_rows: list, shape: tuple) -> bytes | None:
    """Collected (s, bits) shard rows → the serialized byte-form filter
    (the driver-side tail of ``build_url_bloom``, shared with callers
    that collected the shard rows inside a larger fused job)."""
    n_bits, k, n_shards = shape
    shard_bytes = n_bits // 8
    if not shard_rows:
        return None
    merged = np.zeros(shard_bytes * n_shards, dtype=np.uint8)
    for s, bits in shard_rows:
        off = s * shard_bytes
        merged[off:off + shard_bytes] |= np.frombuffer(bits,
                                                       dtype=np.uint8)
    return _MAGIC + _HEADER.pack(n_bits, k, n_shards) + merged.tobytes()


def fused_delta_counts_plan(df: DataFrame, url_col: str, shape: tuple,
                            ok_col: str) -> DataFrame:
    """ONE Arrow pass emitting a bloom delta's shard rows AND row
    counts: per input partition, (s, bits) rows for the shards it saw
    plus one counts row (s = -1) carrying (n total, n with ``ok_col``
    NULL). ``IncrementalUrlFilter.admit`` folds the seen-filter delta
    build into the counts job it pays anyway (the crawl's
    link-discovery admission) instead of running a second job.

    Bit math is ``_positions`` verbatim, so
    ``assemble_bloom_bytes(shard rows)`` is byte-identical to
    ``build_url_bloom(df)`` at the same shape (OR is commutative —
    ``_shard_build_plan``'s co-locating repartition exists to bound
    task memory on the RELATION form, which never drives through this
    collected path; pinned by test_seen's fused-equivalence test)."""
    n_bits, k, n_shards = shape
    shard_bytes = n_bits // 8
    src = df.select(*_hash_cols(url_col, n_shards),
                    F.col(ok_col).isNull().cast("int").alias("__ok"))

    def gen(pdfs):
        shards: dict[int, np.ndarray] = {}
        n = ok = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            ok += int(pdf["__ok"].sum())
            for s_val, grp in pdf.groupby("s"):
                bits = shards.setdefault(
                    int(s_val), np.zeros(shard_bytes, dtype=np.uint8))
                idx = _positions(grp["h1"].to_numpy(dtype=np.int64),
                                 grp["h2"].to_numpy(dtype=np.int64),
                                 k, n_bits).ravel()
                np.bitwise_or.at(bits, idx >> 3,
                                 np.uint8(1) << (idx & 7).astype(np.uint8))
        rows = [(s_val, bits.tobytes(), None, None)
                for s_val, bits in shards.items()]
        rows.append((-1, None, n, ok))
        yield pd.DataFrame(rows, columns=["s", "bits", "n", "ok"])

    return src.mapInPandas(gen, "s int, bits binary, n long, ok long")


def build_url_bloom_relation(df: DataFrame, url_col: str = "url",
                             expected_items: int | None = None,
                             fpp: float = 0.03,
                             shape: tuple | None = None,
                             n_shards: int | None = None):
    """Relation-form build: ``((s, bits) DataFrame, shape)``. The filter
    exists ONLY as one ≤8 MiB row per non-empty shard — no collect, no
    concatenated array, driver memory O(plan). This is the 10^10-URL
    build path; on a real cluster the returned relation is written as
    the checkpoint state table partitioned by ``s`` and reused across
    batches via ``merge_bloom_relations``."""
    shape = _resolve_shape(df, expected_items, fpp, shape, n_shards)
    rel = _shard_build_plan(df, url_col, shape)
    if shape[2] == 1:
        # the 1-shard build emits parallel per-partition partials —
        # canonicalize to one row per shard (the probe cogroup reads
        # exactly one bits row per group)
        rel = merge_bloom_relations(rel, rel.limit(0))
    return rel, shape


def merge_bloom_relations(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two same-shape (s, bits) relations shard-by-shard (the
    incremental path: previous state table ∪ this batch's delta). Each
    task ORs one shard's ≤8 MiB rows — bit-identical to the byte-form
    ``merge_blooms`` on the same inputs."""
    def or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for raw in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame({"s": [pdf["s"].iloc[0]],
                             "bits": [acc.tobytes()]})

    return (a.unionByName(b).groupBy("s")
            .applyInPandas(or_group, "s int, bits binary"))


def merge_blooms(a: bytes | None, b: bytes | None) -> bytes | None:
    """OR-merge two same-shape filters (per-batch broadcast merge)."""
    if a is None:
        return b
    if b is None:
        return a
    hdr = 4 + _HEADER.size
    assert a[:hdr] == b[:hdr], "bloom shape mismatch"
    merged = (np.frombuffer(a[hdr:], dtype=np.uint8)
              | np.frombuffer(b[hdr:], dtype=np.uint8))
    return a[:hdr] + merged.tobytes()


def might_contain_col(bloom_bytes: bytes, url_col: str = "loc",
                      opaque: bool = False):
    """Vectorized shard-routed membership probe over the broadcast
    filter bytes (the small-filter serving mode — the whole array
    ships to each worker; use the sharded mode above
    BROADCAST_MAX_BYTES).

    ``opaque`` marks the UDF nondeterministic so the optimizer treats
    the probe's result as a value, not a formula: a deterministic probe
    referenced in a join condition is substituted through the join's
    key equality (constraint inference) and re-evaluated as an inferred
    filter over the OTHER side — a Python pass over the whole known
    set."""
    n_bits, k, n_shards = bloom_shape(bloom_bytes)
    bits = np.frombuffer(bloom_bytes[4 + _HEADER.size:], dtype=np.uint8)

    @F.pandas_udf("boolean")
    def probe(s: pd.Series, h1: pd.Series, h2: pd.Series) -> pd.Series:
        if len(h1) == 0:
            return pd.Series([], dtype=bool)
        idx = _positions(h1.to_numpy(dtype=np.int64),
                         h2.to_numpy(dtype=np.int64), k, n_bits)
        g = idx + (s.to_numpy(dtype=np.int64) * n_bits)[:, None]
        hit = (bits[g >> 3] >> (g & 7).astype(np.uint8)) & 1
        return pd.Series(hit.all(axis=1))

    if opaque:
        probe = probe.asNondeterministic()
    return probe(*_hash_cols(url_col, n_shards))


def shard_rows(bloom_bytes: bytes) -> list:
    """Serialized filter → [(shard_id, shard_bits)] for the NON-EMPTY
    shards — the relation form of the filter. On a real cluster this
    is the persisted (shard, bits) checkpoint state table, partitioned
    by shard_id; in-process it is derived from the merged bytes."""
    n_bits, _, n_shards = bloom_shape(bloom_bytes)
    shard_bytes = n_bits // 8
    raw = bloom_bytes[4 + _HEADER.size:]
    out = []
    for s in range(n_shards):
        chunk = raw[s * shard_bytes:(s + 1) * shard_bytes]
        if any(chunk):
            out.append((s, chunk))
    return out


def _mark_sharded(frontier: DataFrame, shards: DataFrame,
                  shape: tuple, url_col: str) -> DataFrame:
    """Shard-served probe core: route each row to its shard, cogroup
    with the (s, bits) relation, evaluate membership against ONLY that
    shard's bytes. No task ever materializes the whole filter — the
    scale path for filters too big to broadcast."""
    from pyspark.sql import types as T

    n_bits, k, n_shards = shape
    shards = shards.select(F.col("s").alias("__bs"), "bits")
    out_cols = frontier.columns
    out_schema = T.StructType(
        list(frontier.schema.fields)
        + [T.StructField("__maybe_seen", T.BooleanType())])

    def probe_group(left: pd.DataFrame, right: pd.DataFrame):
        if len(left) == 0:
            return pd.DataFrame(
                columns=out_cols + ["__maybe_seen"])
        out = left[out_cols].copy()
        if len(right) == 0:
            out["__maybe_seen"] = False
            return out
        bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
        idx = _positions(left["__bh1"].to_numpy(dtype=np.int64),
                         left["__bh2"].to_numpy(dtype=np.int64),
                         k, n_bits)
        hit = (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        out["__maybe_seen"] = hit.all(axis=1)
        return out

    s, h1, h2 = _hash_cols(url_col, n_shards)
    hashed = frontier.select(
        "*", s.alias("__bs"), h1.alias("__bh1"), h2.alias("__bh2"))
    return (hashed.groupBy("__bs")
            .cogroup(shards.groupBy("__bs"))
            .applyInPandas(probe_group, out_schema))


def _split_sharded(frontier: DataFrame, bloom_bytes: bytes,
                   url_col: str):
    """Byte-form entry to the shard-served probe: expand the serialized
    filter into its (s, bits) relation, then probe shard-to-shard."""
    shape = bloom_shape(bloom_bytes)
    shards = frontier.sparkSession.createDataFrame(
        shard_rows(bloom_bytes), "s int, bits binary")
    return _mark_sharded(frontier, shards, shape, url_col)


def split_by_bloom_relation(frontier: DataFrame, shards: DataFrame,
                            shape: tuple, url_col: str = "loc"):
    """(definitely_new, candidates) against a relation-form filter from
    ``build_url_bloom_relation`` — the whole filter never exists as one
    object on any node. The marked relation is locally checkpointed
    once: both output branches consume it, and without the
    materialization each would re-run the cogrouped probe (and the
    upstream filter build) from scratch."""
    marked = _mark_sharded(frontier, shards, shape,
                           url_col).localCheckpoint(eager=False)
    new = marked.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    cand = marked.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    return new, cand


def _is_broadcastable(shape: tuple) -> bool:
    """THE serving-form dispatch rule: filters whose total payload fits
    under ``BROADCAST_MAX_BYTES`` ship as driver bytes (broadcast
    probe); larger ones stay a (shard, bits) relation end-to-end. One
    definition so split_by_index and IncrementalUrlFilter can never
    pick different forms for the same geometry."""
    n_bits, _, n_shards = shape
    return n_bits // 8 * n_shards <= BROADCAST_MAX_BYTES


def split_by_index(frontier: DataFrame, indexed: DataFrame,
                   probe_col: str = "loc", url_col: str = "url",
                   expected_items: int | None = None,
                   fpp: float = 0.03):
    """End-to-end seen split against an indexed-URL relation, picking
    the serving form by the filter's computed size: small filters build
    to driver bytes and broadcast-probe (no extra shuffle); filters
    over ``BROADCAST_MAX_BYTES`` stay a (shard, bits) relation through
    build → probe, so neither the driver nor any task ever holds the
    concatenated array. Either way the result is a bloom PRE-filter:
    callers verify candidates with the exact join (no false negatives
    by construction, false positives only cost the lookup)."""
    shape = _resolve_shape(indexed, expected_items, fpp, None, None)
    if _is_broadcastable(shape):
        bloom = build_url_bloom(indexed, url_col, shape=shape)
        return split_by_bloom(frontier, bloom, probe_col)
    rel, shape = build_url_bloom_relation(indexed, url_col, shape=shape)
    return split_by_bloom_relation(frontier, rel, shape, probe_col)


class IncrementalUrlFilter:
    """Caller-maintained incremental seen filter: build ONCE over the
    initial url relation, grow with O(batch) deltas, serve in the
    size-appropriate form — all three decisions owned here so callers
    (plans/crawl.py: the plan-phase seen filter and link discovery)
    never re-state the geometry/dispatch rules.

    Geometry is pinned at construction (``expected_items`` budgets the
    url volume the filter will ever hold — a production run sizes this
    from its expected discovery volume). If the set outgrows the sizing
    the fpp degrades but membership stays a PRE-filter: no false
    negatives by construction (every added url sets its bits), so the
    exact-join backstop downstream keeps results bit-identical.

    Serving form is picked from the pinned geometry's payload size:
    driver bytes below ``BROADCAST_MAX_BYTES`` (broadcast probe), else
    the (shard, bits) relation end-to-end — build, delta-merge and
    cogrouped probe all stay O(shard) per task and the filter never
    exists as one object on any node (the 10^10-URL path).

    Relation-form block lifecycle: each ``add`` supersedes the previous
    full-filter copy, and waiting for driver GC / ContextCleaner to
    reclaim a superseded ~O(filter)-byte relation would stack stale
    copies on a long-running crawl. So inter-compaction copies are
    ``persist()``ed (public API, released explicitly the moment the
    successor is materialized) and every ``compact_every``-th add is a
    ``localCheckpoint`` that truncates the persisted lineage chain —
    at any instant the executors hold at most the live copy, one
    in-flight successor, and one GC-pending checkpoint per compaction
    window.

    Thread-safety: mutable state, single-writer by contract (the crawl
    plan calls ``add`` only from its one-in-flight prefetch thread)."""

    def __init__(self, df: DataFrame, url_col: str = "url",
                 expected_items: int | None = None, fpp: float = 0.03,
                 shape: tuple | None = None,
                 n_shards: int | None = None, compact_every: int = 8):
        self.shape = _resolve_shape(df, expected_items, fpp, shape,
                                    n_shards)
        self._broadcastable = _is_broadcastable(self.shape)
        self._compact_every = max(1, compact_every)
        self._adds_since_compact = 0
        self._rel_persisted = False
        if self._broadcastable:
            self._bytes = build_url_bloom(df, url_col, shape=self.shape)
            self._rel = None
        else:
            rel, _ = build_url_bloom_relation(df, url_col,
                                              shape=self.shape)
            self._rel = rel.localCheckpoint(eager=True)
            self._bytes = None

    @property
    def is_broadcastable(self) -> bool:
        """True when the filter serves as driver bytes (the small-
        filter form), False for the (shard, bits) relation form."""
        return self._broadcastable

    def admit(self, df: DataFrame, url_col: str,
              ok_col: str) -> tuple[int, int]:
        """Count ``df`` — (n rows, ok rows with ``ok_col`` NULL) — and
        add its urls to the filter. In the driver-bytes form the counts
        and the bloom delta come out of ONE Arrow pass (a separate
        delta build was a whole second driver job per call) and merge
        driver-side with ``add_bytes``, bit-identical to ``add``; the
        relation form, whose delta never exists as driver bytes, counts
        first and then ``add``s."""
        if self._broadcastable:
            rows = fused_delta_counts_plan(df, url_col, self.shape,
                                           ok_col).collect()
            n = sum(r["n"] for r in rows if r["s"] == -1)
            ok = sum(r["ok"] for r in rows if r["s"] == -1)
            if n:
                self.add_bytes(assemble_bloom_bytes(
                    [(r["s"], r["bits"]) for r in rows if r["s"] >= 0],
                    self.shape))
            return n, ok
        c = df.agg(F.count(F.lit(1)).alias("n"),
                   F.count(F.when(F.col(ok_col).isNull(), F.lit(1)))
                   .alias("ok")).collect()[0]
        if c["n"]:
            self.add(df, url_col)
        return c["n"], c["ok"]

    def add_bytes(self, delta_bytes: bytes | None) -> None:
        """Merge a delta already collected by the caller (byte form
        from ``assemble_bloom_bytes`` over ``fused_delta_counts_plan``
        shard rows at THIS filter's shape) — zero Spark jobs. Only
        valid in the broadcast serving form."""
        assert self._broadcastable, \
            "add_bytes is the small-filter path; relation form uses add"
        self._bytes = merge_blooms(self._bytes, delta_bytes)

    def add(self, df: DataFrame, url_col: str = "url") -> None:
        """OR-merge one batch's urls into the filter: O(batch) delta
        build + O(shards) merge — never a rescan of the full set."""
        if self._broadcastable:
            delta = build_url_bloom(df, url_col, shape=self.shape)
            self._bytes = merge_blooms(self._bytes, delta)
            return
        delta, _ = build_url_bloom_relation(df, url_col,
                                            shape=self.shape)
        merged = merge_bloom_relations(self._rel, delta)
        self._adds_since_compact += 1
        if self._adds_since_compact >= self._compact_every:
            new_rel = merged.localCheckpoint(eager=True)
            new_persisted = False
            self._adds_since_compact = 0
        else:
            new_rel = merged.persist(StorageLevel.MEMORY_AND_DISK)
            new_rel.count()          # materialize BEFORE releasing old
            new_persisted = True
        old, old_persisted = self._rel, self._rel_persisted
        self._rel, self._rel_persisted = new_rel, new_persisted
        if old_persisted:
            # explicit release — the successor's blocks are already
            # materialized, so nothing recomputes through this copy
            # (and if an executor ever lost a successor block, lineage
            # bottoms out at the last checkpoint, staying correct)
            old.unpersist(blocking=False)

    def mark(self, df: DataFrame, url_col: str = "loc") -> DataFrame:
        """``df`` plus a boolean ``__maybe_seen`` (False ⇒ surely
        unseen) against the current state, in either serving form. For
        callers that gate ONE exact join on the column (a join
        condition ``AND __maybe_seen``) instead of forking the plan
        into ``split``'s two branches: the probe runs once, and no
        branch re-plans the input."""
        if not self._broadcastable:
            return _mark_sharded(df, self._rel, self.shape, url_col)
        if self._bytes is None:
            # empty filter: same posture as split_by_bloom — all
            # candidates, the exact join decides
            return df.withColumn("__maybe_seen", F.lit(True))
        return df.withColumn(
            "__maybe_seen",
            might_contain_col(self._bytes, url_col, opaque=True))

    def split(self, frontier: DataFrame, url_col: str = "loc"):
        """(definitely_new, candidates) against the current state."""
        if self._broadcastable:
            return split_by_bloom(frontier, self._bytes, url_col)
        return split_by_bloom_relation(frontier, self._rel, self.shape,
                                       url_col)


def split_by_bloom(frontier: DataFrame, bloom_bytes: bytes | None,
                   url_col: str = "loc", mode: str = "auto"):
    """(definitely_new, candidates) — definitely_new rows skip the exact
    index join; candidates go through it. With no filter everything is
    a candidate.

    ``mode``: 'broadcast' ships the whole filter to each worker (fast,
    no extra shuffle — small filters); 'sharded' serves the filter as
    a (shard, bits) relation with a cogrouped probe (task memory
    O(shard) — the 10^10-URL path); 'auto' picks by filter size."""
    if bloom_bytes is None:
        return frontier.limit(0), frontier
    if mode == "auto":
        mode = ("sharded" if len(bloom_bytes) > BROADCAST_MAX_BYTES
                else "broadcast")
    if mode == "sharded":
        marked = _split_sharded(frontier, bloom_bytes, url_col)
    else:
        marked = frontier.withColumn(
            "__maybe_seen", might_contain_col(bloom_bytes, url_col))
    new = marked.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    cand = marked.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    return new, cand
