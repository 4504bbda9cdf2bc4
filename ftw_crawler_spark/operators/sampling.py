"""Deterministic corpus sampling for training-data curation.

A 100-TB pipeline samples constantly — ablation subsets, per-source
quotas, held-out splits — and the samples must be REPRODUCIBLE
(re-running the job on the same snapshot yields the same rows,
independent of partitioning and task order). Both operators therefore
key on a content hash of a stable id, never on ``rand()``:

- ``hash_sample``: Bernoulli-style p-sampling via ``hash(key) mod 1e6
  < p·1e6`` — a codegen filter, no shuffle, trivially pushed down.
- ``stratified_sample``: exactly-n-per-stratum via a per-stratum
  ``row_number`` ordered by the hash (a deterministic shuffle of each
  stratum), served as the same salted two-phase top-k the politeness
  scheduler uses — per-(stratum, salt) top-n over S buckets, then
  per-stratum top-n over the ≤S·n survivors — so a Zipf-head stratum
  never sorts in one task.

The md5-based hash keeps every sample decision byte-reproducible in
DuckDB/Python for the oracle gate (same trick as operators/dedup.py
``md5_long``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ftw_crawler_spark.operators.dedup import md5_long

PPM = 1_000_000


def _sample_hash(key: Column, salt: str) -> Column:
    return md5_long(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def hash_sample(df: DataFrame, key_col: str, rate_ppm: int,
                salt: str = "s") -> DataFrame:
    """Keep rows whose keyed hash lands below ``rate_ppm``/1e6 — a
    deterministic ~(rate_ppm/1e6) sample, stable across reruns and
    partitionings."""
    h = _sample_hash(F.col(key_col), salt)
    return df.filter(F.pmod(h, F.lit(PPM)) < F.lit(rate_ppm))


def _pow_quarters(c: Column, q: int) -> Column:
    """``c ** (q/4)`` for q in 1..4 built ONLY from IEEE-exact ops
    (sqrt is correctly rounded; pow() is not guaranteed bit-identical
    across engines, so temperature exponents are restricted to
    quarters — the standard 0.25/0.5/0.75/1.0 mixture range)."""
    if q == 1:
        return F.sqrt(F.sqrt(c))
    if q == 2:
        return F.sqrt(c)
    if q == 3:
        return F.sqrt(c) * F.sqrt(F.sqrt(c))
    if q == 4:
        return c.cast("double")
    raise ValueError(f"alpha_quarters must be 1..4, got {q}")


def mixture_sample(df: DataFrame, source_col: str, key_col: str,
                   target_rows: int, alpha_quarters: int = 2,
                   salt: str = "m") -> DataFrame:
    """Temperature-weighted mixture sampling across sources — the
    multilingual/multi-source balancing step of a training-data
    pipeline (sample source s with weight ∝ count_s^α, α = q/4):
    up-weights the tail, damps the head.

    Per-source keep probability
    ``p_s = min(1, target_rows · c_s^α / (Σ_t c_t^α · c_s))`` is
    derived in one tiny aggregate over sources (map-side combined; the
    per-source relation is ~|domains| rows — broadcast back, never a
    corpus-wide shuffle), then applied as the same deterministic
    hash filter as ``hash_sample``. Σ c^α accumulates in DECIMAL after
    a round(·, 6) pin so the sum is order-independent and
    engine-identical (a 1-row aggregate broadcast back, never an
    all-rows window); the final probability is pinned to ppm with
    floor(round(·, 6)·1e6) on both engines (Spark cast truncates,
    DuckDB's rounds — floor() avoids the mismatch).

    Returns the sampled rows with p_ppm attached (drop it downstream).
    Deterministic in (keys, per-source counts) alone."""
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    term = _pow_quarters(F.col("__c").cast("double"), alpha_quarters)
    terms = counts.withColumn("__t",
                              F.round(term, 6).cast("decimal(38,6)"))
    # Σ c^α as a 1-row aggregate broadcast back — NOT an
    # all-rows window, which would funnel every source through one
    # task at web scale (millions of registrable domains)
    total = terms.agg(F.sum("__t").alias("__W"))
    weights = (terms.crossJoin(F.broadcast(total))
               .withColumn(
                   "p_ppm",
                   F.floor(F.round(
                       F.least(
                           F.lit(1.0),
                           F.lit(float(target_rows))
                           * F.col("__t").cast("double")
                           / (F.col("__W").cast("double")
                              * F.col("__c").cast("double"))), 6)
                       * F.lit(PPM)).cast("long"))
               .select(source_col, "p_ppm"))
    h = _sample_hash(F.col(key_col), salt)
    return (df.join(F.broadcast(weights), source_col)
            .filter(F.pmod(h, F.lit(PPM)) < F.col("p_ppm")))


def dsir_weights(docs: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 256,
                 broadcast_model: bool = True) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by how target-like its
    hashed bag-of-words is — the data-selection step that picks
    pretraining documents resembling a trusted corpus (the paper's
    hashed-n-gram importance estimator, here over hashed unigrams).

    Model: both corpora collapse to ``n_buckets`` hashed token-bucket
    counts (one map-side-combined shuffle each) — the model size is
    FIXED regardless of corpus size, the property that makes DSIR
    tractable at 100 TB: the serving relations are always
    broadcastable. Per token position with bucket b, the add-one-
    smoothed likelihood ratio

        r = ((c_tgt[b]+1) · (N_src+B)) / ((c_src[b]+1) · (N_tgt+B))

    is ONE IEEE division of exactly-representable integers (the
    products stay far under 2^53) rounded to 9 dp; the document weight
    is the DECIMAL-summed mean of its positions' ratios, rounded to
    6 dp — the same division-free cross-engine-exact construction as
    ``textstats.lm_score`` (arithmetic-mean ratio rather than the
    paper's log-product: monotone in target-likeness, exact in SQL).

    Returns (id, n_tokens, dsir_w_r6). Docs with no tokens drop out
    (no positions — same as the oracle's explode). Scale shape: two
    count shuffles bounded at ``n_buckets`` rows, then the position
    relation joins the broadcast model + 1-row totals and combines
    per doc — no corpus-wide shuffle beyond the per-doc agg."""
    from ftw_crawler_spark.operators.dedup import tokens_col
    bkt = F.pmod(md5_long(F.col("w")), F.lit(n_buckets)).alias("bk")
    pos = docs.select(F.col(id_col),
                      F.explode(tokens_col(text_col)).alias("w")) \
        .select(id_col, bkt)
    tpos = target.select(
        F.explode(tokens_col(text_col)).alias("w")).select(bkt)
    ct = pos.groupBy("bk").agg(F.count(F.lit(1)).alias("__cs"))
    tt = tpos.groupBy("bk").agg(F.count(F.lit(1)).alias("__ct"))
    # ≤ n_buckets rows each, but 3 consumers (totals + the position
    # join) — checkpoint lazily so each count agg runs once
    ct = ct.localCheckpoint(eager=False)
    tt = tt.localCheckpoint(eager=False)
    tot = (ct.agg(F.sum("__cs").alias("__ns"))
           .crossJoin(tt.agg(F.sum("__ct").alias("__nt"))))
    if broadcast_model:
        ct, tt = F.broadcast(ct), F.broadcast(tt)
    num = ((F.coalesce(F.col("__ct"), F.lit(0)) + 1)
           * (F.col("__ns") + n_buckets)).cast("double")
    den = ((F.coalesce(F.col("__cs"), F.lit(0)) + 1)
           * (F.col("__nt") + n_buckets)).cast("double")
    return (pos.join(tt, "bk", "left").join(ct, "bk", "left")
            .crossJoin(F.broadcast(tot))
            .select(id_col, F.round(num / den, 9).alias("__r"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("__r").cast("decimal(28,12)"))
                 .cast("double").alias("__s"))
            .select(id_col, "n_tokens",
                    F.round(F.col("__s") / F.col("n_tokens"), 6)
                    .alias("dsir_w_r6")))


def dsir_select(docs: DataFrame, target: DataFrame, n: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 256) -> DataFrame:
    """Top-``n`` most target-like documents by DSIR importance weight
    (weight desc, id asc — deterministic). The global top-n compiles
    to TakeOrderedAndProject (per-partition heads merged on the
    driver), never a full sort. Returns (id, n_tokens, dsir_w_r6)."""
    w = dsir_weights(docs, target, text_col, id_col, n_buckets)
    return w.orderBy(F.desc("dsir_w_r6"), F.asc(id_col)).limit(n)


def stratified_sample(df: DataFrame, strata_col: str, key_col: str,
                      n_per_stratum: int, salt: str = "t",
                      salt_buckets: int | None = 16) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order
    (deterministic per-stratum shuffle), hash then key as tie-break.

    ``salt_buckets``: Zipf-head skew guard (same exact two-phase top-k
    as the politeness scheduler, operators/politeness.py:select_batch).
    A head stratum — one domain holding billions of rows — would
    otherwise sort entirely in ONE task under the single
    ``Window.partitionBy(stratum)``. With S buckets the rank runs in
    two exact phases: per-(stratum, salt) top-n (S-way parallel), then
    per-stratum top-n over at most S·n survivors. Every global top-n
    row is by construction within its bucket's top-n, so the result is
    IDENTICAL to the single-window form (pinned by
    test_sampling's equivalence test). None disables the pre-phase."""
    order_key = F.md5(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    order = [order_key, F.col(key_col)]
    if salt_buckets and salt_buckets > 1:
        w1 = Window.partitionBy(strata_col, "__salt").orderBy(*order)
        df = (df.withColumn("__salt",
                            F.pmod(F.xxhash64(F.col(key_col)
                                              .cast("string")),
                                   F.lit(salt_buckets)))
              .withColumn("__r1", F.row_number().over(w1))
              .filter(F.col("__r1") <= n_per_stratum)
              .drop("__salt", "__r1"))
    w = Window.partitionBy(strata_col).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_per_stratum)
            .drop("__rn"))
