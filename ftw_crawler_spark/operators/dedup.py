"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference crawler's implicit dedup (upsert-by-UID), a
100 TB corpus pipeline needs content-level dedup. All hot paths are
built-in Column expressions (whole-stage codegen — no Python); the
cross-engine-checkable variants use a 60-bit md5-prefix hash
(``conv(substr(md5(s),1,15),16,10)``) that DuckDB reproduces exactly
(``('0x'||substr(md5(s),1,15))::BIGINT``) so every operator has an
ANSI-SQL oracle.

Scale notes per operator:
- exact: one shuffle on the content hash (map-side partial agg).
- minhash-LSH: signatures are per-row expressions (no shuffle); the
  band join shuffles on (band_idx, band_hash) — bucket sizes are
  bounded by collision probability, and the candidate verify is a
  narrow pair join.
- n-gram Jaccard: inverted-index self-join on shingle hash; add a
  document-frequency cutoff (``max_df``) at scale to drop
  stop-shingles that would quadratically blow up a bucket.
- SimHash: explode → per-token hash → 64 shift-mask vote sums with
  map-side combine; near-dup pairs by banded Hamming join.
- embedding cosine: see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P_SHINGLE_WIDTH = 3
DEFAULT_N_PERM = 16
DEFAULT_BANDS = 4

# universal-hash family for the minhash permutations:
# h_i(x) = (a_i * x + b_i) mod MINHASH_P over x = base-hash & MINHASH_MASK.
# One md5 per shingle + n_perm codegen multiply-add-mods, instead of
# n_perm md5 invocations per shingle row; every constant is embedded in
# the DuckDB oracle SQL too, so the sketch stays engine-bit-identical.
# Bounds: a < 2^20 (odd), x < 2^40 -> a*x + b < 2^61, no 64-bit
# overflow in either engine; MINHASH_P = smallest prime > 2^40.
MINHASH_P = 1099511627791
MINHASH_MASK = (1 << 40) - 1


def _minhash_consts(n_perm: int) -> list:
    import hashlib
    out = []
    for i in range(n_perm):
        a = int(hashlib.md5(f"mh-a-{i}".encode())
                .hexdigest()[:5], 16) | 1
        b = int(hashlib.md5(f"mh-b-{i}".encode())
                .hexdigest()[:10], 16)
        out.append((a, b))
    return out


def md5_long(col: Column) -> Column:
    """60-bit positive hash identical across Spark/DuckDB/Python."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens, empty strings dropped — identical semantics to
    DuckDB ``list_filter(string_split_regex(text,'\\s+'), x -> x <> '')``."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")


def shingles_col(tokens: Column, w: int = P_SHINGLE_WIDTH) -> Column:
    """w-word shingles joined by single spaces; empty array when fewer
    than w tokens.

    Built by ``zip_with``-folding the token array against its own
    shifted slices (w-1 linear passes) rather than
    ``transform(sequence, i -> element_at…)`` — higher-order functions
    evaluate interpreted per element, and the random-access form costs
    O(n·w) interpreted steps vs this form's O(n·(w-1)); measured ~9×
    faster on the sf0.1 corpus. ``zip_with`` pads the shorter side with
    NULL and ``concat_ws`` skips nulls, so the trailing partial
    shingles are cut off with ``slice``."""
    n = F.size(tokens)
    acc = tokens
    for j in range(1, w):
        shifted = F.slice(tokens, j + 1,
                          F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, shifted,
                         lambda a, b: F.concat_ws(" ", a, b))
    mk = F.slice(acc, 1, F.greatest(n - (w - 1), F.lit(0)))
    return F.when(n >= w, mk).otherwise(
        F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact duplicates: one row per duplicated content
    (group size > 1) with the representative (min id). One shuffle,
    map-side combine."""
    return (docs
            .select(F.md5(F.col(text_col)).alias("content_hash"),
                    F.col(id_col))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("group_size"),
                 F.min(id_col).alias("rep_doc_id"))
            .filter(F.col("group_size") > 1))


def drop_exact_dups(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each content group."""
    w_rep = (docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
             .agg(F.min(id_col).alias("rep_doc_id")))
    return (docs.join(w_rep,
                      (F.md5(F.col(text_col))
                       == w_rep["content_hash"])
                      & (F.col(id_col) == w_rep["rep_doc_id"]),
                      "left_semi"))


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       n_perm: int = DEFAULT_N_PERM) -> DataFrame:
    """(id, mh_0..mh_{n-1}): minhash signature via explode → one base
    hash + affine permutation family per shingle row (whole-stage
    codegen) → map-side-combined min-aggregation on the doc id.

    This is deliberately NOT the per-row array form
    (``array_min(transform(shingles, salted))``): higher-order
    functions evaluate interpreted per element, measured ~3× slower
    than the exploded codegen path; the groupBy shuffles only
    n_perm longs per doc after partial aggregation."""
    toks = tokens_col(text_col)
    sh = F.array_distinct(shingles_col(toks))
    ex = docs.select(F.col(id_col), F.explode(sh).alias("__s"))
    # one engine-neutral base hash per shingle, then the affine
    # permutation family — n_perm multiply-add-mods in codegen
    # instead of n_perm md5 calls per shingle row
    x = md5_long(F.col("__s")).bitwiseAND(F.lit(MINHASH_MASK))
    hashed = ex.withColumn("__x", x).select(
        id_col, *[((F.lit(a) * F.col("__x") + F.lit(b))
                   % F.lit(MINHASH_P)).alias(f"__h{i}")
                  for i, (a, b) in
                  enumerate(_minhash_consts(n_perm))])
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"mh_{i}") for i in range(n_perm)])


def minhash_bands(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  n_perm: int = DEFAULT_N_PERM,
                  bands: int = DEFAULT_BANDS) -> DataFrame:
    """(id, band_idx, band_hash): md5 of the ':'-joined signature slice
    per band. Docs with no shingles (< w tokens) are excluded (their
    signature is undefined — min of empty; explode drops them)."""
    r = n_perm // bands
    sig = minhash_signatures(docs, text_col, id_col, n_perm)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * r + j}").cast("string")
                 for j in range(r)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"),
                     F.md5(F.concat_ws(":", *parts)).alias("band_hash")))
    return (sig.select(id_col, F.explode(F.array(*band_cols))
                       .alias("band"))
            .select(id_col, F.col("band.band_idx").alias("band_idx"),
                    F.col("band.band_hash").alias("band_hash")))


def minhash_candidate_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            n_perm: int = DEFAULT_N_PERM,
                            bands: int = DEFAULT_BANDS) -> DataFrame:
    """LSH candidates: distinct (a < b) pairs sharing ≥1 band bucket.
    Shuffle key = (band_idx, band_hash). The band table is
    localCheckpoint'd so the self-join computes signatures ONCE (plain
    self-join lineage would run the whole minhash pipeline twice)."""
    bands_df = minhash_bands(docs, text_col, id_col, n_perm,
                             bands).localCheckpoint(eager=False)
    a = bands_df.select(F.col(id_col).alias("a"), "band_idx",
                        "band_hash")
    b = bands_df.select(F.col(id_col).alias("b"), "band_idx",
                        "band_hash")
    return (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.6,
                        max_df: int | None = None) -> DataFrame:
    """Exact Jaccard over distinct w-shingle hash sets, candidate pairs
    from the inverted shingle index. ``max_df`` drops shingles present
    in more than max_df docs (stop-shingle guard — REQUIRED at scale,
    optional at test scale for oracle parity)."""
    toks = tokens_col(text_col)
    sh = F.array_distinct(shingles_col(toks))
    exploded = (docs.select(F.col(id_col),
                            F.explode(sh).alias("shingle"))
                .select(id_col, md5_long(F.col("shingle")).alias("sh"))
                # consumed 3× (sizes + both join sides) — compute once
                .localCheckpoint(eager=False))
    if max_df is not None:
        df_counts = exploded.groupBy("sh").agg(
            F.count(F.lit(1)).alias("df"))
        exploded = (exploded.join(
            df_counts.filter(F.col("df") <= max_df), "sh", "left_semi"))
    # (id, sh) is distinct by construction (array_distinct before the
    # explode) — no distinct/countDistinct shuffles needed
    sizes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sh"))
    a = exploded.select(F.col(id_col).alias("a"), "sh")
    b = exploded.select(F.col(id_col).alias("b"), "sh")
    shared = (a.join(b, "sh").filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("shared")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"))
    out = (shared.join(sa, "a").join(sb, "b")
           .withColumn("jaccard",
                       F.round(F.col("shared")
                               / (F.col("na") + F.col("nb")
                                  - F.col("shared")), 4))
           .filter(F.col("jaccard") >= threshold)
           .select("a", "b", "jaccard"))
    return out


def shared_window_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", w: int = 50,
                        max_df: int | None = None) -> DataFrame:
    """Exact substring-window dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): two documents that
    share ANY exact ``w``-token window are duplicates — the gate that
    catches verbatim boilerplate MinHash's similarity threshold lets
    through (a licence block pasted into otherwise-different pages).

    Shape: distinct w-token windows per doc → hashed inverted window
    index → window-bucket self-join → (a, b, n_shared) with a < b. At
    100 TB the inverted index is the biggest intermediate but every
    join is a bucket equi-join (never all-pairs) and ``max_df`` drops
    windows present in more than max_df docs (a window shared by
    thousands of docs is template boilerplate — its pair count is
    quadratic and carries no decision value beyond "shared"). w = 50
    is the published gate; pass a smaller w for short-doc corpora."""
    toks = tokens_col(text_col)
    win = F.array_distinct(shingles_col(toks, w))
    ex = (docs.select(F.col(id_col), F.explode(win).alias("win"))
          .select(id_col, md5_long(F.col("win")).alias("wh"))
          .localCheckpoint(eager=False))
    if max_df is not None:
        df_counts = ex.groupBy("wh").agg(F.count(F.lit(1)).alias("df"))
        ex = ex.join(df_counts.filter(F.col("df") <= max_df), "wh",
                     "left_semi")
    a = ex.select(F.col(id_col).alias("a"), "wh")
    b = ex.select(F.col(id_col).alias("b"), "wh")
    return (a.join(b, "wh").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_shared")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         n_bits: int = 64) -> DataFrame:
    """Explode-codegen SimHash (majority vote per bit over the token hash multiset):
    one 60-bit hash per token row, 64 shift-mask vote sums with
    map-side combine — avoids the per-token interpreted HOF fold over
    64-length arrays (~3× faster at corpus scale)."""
    ex = docs.select(F.col(id_col),
                     F.explode(tokens_col(text_col)).alias("__w"))
    h = md5_long(F.col("__w"))
    votes = [F.sum(
        F.when(F.shiftright(h, n_bits - 1 - b).bitwiseAND(1) == 1,
               F.lit(1)).otherwise(F.lit(-1))).alias(f"__b{b}")
        for b in range(n_bits)]
    agg = ex.groupBy(id_col).agg(*votes)
    bits = [F.when(F.col(f"__b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)]
    return agg.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bands: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming, candidates
    from banded substring equality (pigeonhole: ≤3 differing bits over
    4 bands ⇒ ≥1 band identical)."""
    fp = simhash_fingerprints(docs, text_col, id_col)
    # fingerprint as a single long (bit string → two 32-bit halves →
    # shift+or; the high half may exceed 2^31 but Java's << wraps into
    # the right two's-complement bit pattern) — the Hamming verify is
    # then one codegen bit_count(xor) per pair instead of an interpreted
    # 64-element string zip_with, and the band self-join shuffles 8-byte
    # longs instead of 64-char strings.
    def _as_long(col):
        hi = F.conv(F.substring(col, 1, 32), 2, 10).cast("long")
        lo = F.conv(F.substring(col, 33, 32), 2, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    # checkpoint before the band self-join: plain lineage would run the
    # explode + 64-vote-sum fingerprint aggregation once per join side
    fp = (fp.withColumn("__shl", _as_long(F.col("simhash")))
          .localCheckpoint(eager=False))
    width = 64 // bands
    band_arr = F.array(*[
        F.struct(F.lit(i).alias("band_idx"),
                 F.substring("simhash", i * width + 1, width)
                 .alias("band_val"))
        for i in range(bands)])
    banded = (fp.select(id_col, "__shl",
                        F.explode(band_arr).alias("b"))
              .select(id_col, "__shl",
                      F.col("b.band_idx").alias("band_idx"),
                      F.col("b.band_val").alias("band_val")))
    a = banded.select(F.col(id_col).alias("a"),
                      F.col("__shl").alias("sh_a"), "band_idx",
                      "band_val")
    b = banded.select(F.col(id_col).alias("b"),
                      F.col("__shl").alias("sh_b"), "band_idx",
                      "band_val")
    cand = (a.join(b, ["band_idx", "band_val"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "sh_a", "sh_b").distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b",
                         max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` is the minimum node id of its connected component.

    This is the step that turns any of the pair-producing dedup
    operators (MinHash/SimHash/n-gram/embedding) into actionable
    clusters: keep ``node == component`` as the canonical doc, drop
    the rest.

    Two regimes, chosen from what the run observes:

    - propagation: iterative min-label propagation — each round joins
      the (undirected) edge list against the current labels and takes
      the per-node min. One label shuffle per round; rounds = graph
      diameter. The right tool for near-dup graphs, which are dense
      near-cliques (diameter ≤ ~4).
    - pointer doubling: each round ALSO shortcuts labels through
      themselves (L(v) ← min(L(v), L(L(v))) — a labels self-join),
      halving the remaining distance to the component minimum every
      round: O(log n) rounds on adversarial long-chain graphs where
      propagation needs O(diameter). Costs one extra shuffle per
      round, so it only wins when the diameter is large.

    Propagation runs until a convergence probe at round ≥ 4 still sees
    changes, then pointer doubling runs the rest. Near-dup cliques
    (diameter ≤ ~4) pay zero extra shuffles; long transitive chains —
    whose diameter is unknowable before the run at 10^10-edge scale —
    finish in the doubled regime's O(log n) residual rounds instead
    of O(diameter).

    Both regimes reach the same labels: every step only lowers a
    node's label toward (never past) its component minimum, and the
    probe-detected fixpoint of any step mix is that minimum —
    interleaving shortcut rounds changes the path, not the fixpoint.
    The driver sees only a changed-row probe every 2nd round (label
    change is monotone, so the fixpoint is detected at most one no-op
    round late while the fixed per-job latency halves), and lineage is
    truncated per round (localCheckpoint) — the same pattern as the
    k-means refinement loop. ``stats``, when given, receives
    {"rounds": n} for observability/tests.
    """
    edges = (pairs.select(F.col(a_col).alias("src"),
                          F.col(b_col).alias("dst"))
             .unionByName(pairs.select(F.col(b_col).alias("src"),
                                       F.col(a_col).alias("dst")))
             .distinct()
             # materialize once: every round joins the edge list, and
             # without this each round would re-execute the (possibly
             # expensive) upstream pair-mining plan
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    rounds = 0
    doubling = False
    for _ in range(max_iter):
        rounds += 1
        # min label over each node's neighbours, pre-aggregated before
        # the join back (map-side combine shrinks the shuffled hop set
        # to one row per node)
        hop = (edges.join(labels,
                          edges["src"] == labels["node"])
               .groupBy(F.col("dst").alias("node"))
               .agg(F.min("component").alias("__h")))
        # carry old + new side by side so the convergence check is a
        # scan of this round's checkpoint, not another shuffle join
        upd = (labels.join(hop, "node", "left")
               .select("node", F.col("component").alias("__old"),
                       F.least(
                           "component",
                           F.coalesce("__h", F.col("component")))
                       .alias("component")))
        if doubling:
            # shortcut: L(v) ← min(L(v), L(L(v))). L(v) is always the
            # id of a node in v's component, so the self-join is total
            # (left join only guards the in-flight asymmetry before
            # convergence); labels stay within the component and only
            # decrease — same fixpoint, logarithmic rounds on chains
            thru = upd.select(F.col("node").alias("__ln"),
                              F.col("component").alias("__lc"))
            upd = (upd.join(thru, upd["component"] == thru["__ln"],
                            "left")
                   .select("node", "__old",
                           F.least("component",
                                   F.coalesce("__lc", "component"))
                           .alias("component")))
        # lazy: the next action materializes this round's checkpoint.
        # The convergence count runs only on EVEN rounds (and at the
        # iteration cap): label change is monotone — once a round has
        # no changes every later round has none — so checking every
        # 2nd round detects the same fixpoint at most one no-op round
        # late, and each check job executes the (fused) unmaterialized
        # rounds since the last one: the per-round fixed job latency,
        # the dominant cost at sandbox scale, is halved
        upd = upd.localCheckpoint(eager=False)
        labels = upd.select("node", "component")
        if rounds % 2 == 0 or rounds == max_iter:
            changed = (upd.filter(F.col("component") < F.col("__old"))
                       .limit(1).count())
            if changed == 0:
                break
            if rounds >= 4:
                # still moving after the near-clique horizon: the graph
                # has real diameter — switch to the doubled regime
                doubling = True
    if stats is not None:
        stats["rounds"] = rounds
        stats["doubled"] = doubling
    return labels
