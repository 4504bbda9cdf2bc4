"""Similarity search over embedding columns (array<float>).

Training-data-pipeline operators beyond the reference crawler: a
100 TB corpus needs embedding-level near-dup detection and ANN
retrieval. Two paths:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is tiny and **broadcast**; the corpus side streams.
  Every dot product is a sequential fold (``zip_with`` +
  ``aggregate`` — deterministic summation order, bit-reproduced by
  DuckDB's list_dot_product), so each operator here has an exact
  oracle.
- ``lsh_ann``: random-hyperplane (sign) LSH — the scale path. Plane
  sign matrices are derived deterministically from md5 so the whole
  pipeline (codes, buckets, re-rank) has an exact ANSI-SQL oracle.
  At 10^10 rows the bucket join replaces the O(N·Q) cross product
  with a shuffle on the code key; skewed buckets are handled by
  increasing ``n_planes`` (bucket size halves per plane).

Scale notes: brute-force is O(N·Q·d) but shuffle-free (broadcast
join); LSH is one shuffle on (code) + a narrow re-rank. For IVF-style
partitioning, cluster centroids would play the role of ``code`` —
same bucket-join shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PLANES = 6
DIM = 64


def _md5_long(s: str) -> int:
    """60-bit md5-prefix int — same value as dedup.md5_long / DuckDB
    ``('0x'||substr(md5(s),1,15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def plane_signs(n_planes: int = DEFAULT_PLANES, dim: int = DIM) -> list:
    """Deterministic ±1 hyperplane matrix: sign(p,j) = +1 iff
    md5_long(f"{p}:{j}") is odd. Reproducible in any engine with md5."""
    return [[1.0 if _md5_long(f"{p}:{j}") % 2 == 1 else -1.0
             for j in range(dim)]
            for p in range(n_planes)]


def _dot(a, b):
    """Dot product of two array<double> columns: the sequential fold
    (deterministic order — matches DuckDB ``list_dot_product``
    bit-for-bit, so every caller is oracle-checkable)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return (df.withColumn("__v", v)
            .withColumn("__norm",
                        F.sqrt(_dot(F.col("__v"), F.col("__v")))))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors of each query over the corpus.

    queries is broadcast (small side); sim = dot/(|a|·|b|) with
    deterministic fold order; ties broken by neighbor id. Returns
    (query_id, neighbor_id, rank, sim_r4).
    """
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__v").alias("nv"), F.col("__norm").alias("nn"))
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    sim = _dot(F.col("qv"), F.col("nv")) / (F.col("qn")
                                            * F.col("nn"))
    pairs = (c.join(F.broadcast(q),
                    F.col("neighbor_id") != F.col("query_id"))
             .withColumn("sim", sim))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.round("sim", 4).alias("sim_r4")))


def lsh_codes(df: DataFrame, n_planes: int = DEFAULT_PLANES,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, code): sign-LSH bucket code as an n_planes-char '0'/'1'
    string. Pure column expressions (codegen)."""
    signs = plane_signs(n_planes)
    v = _as_double(F.col(vec_col))
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(s) for s in signs[p]])
        proj = _dot(v, plane)
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(F.col(id_col).alias("vid"),
                     v.alias("__v"),
                     F.concat(*bits).alias("code"))


def _lloyd(corpus: DataFrame, n_centroids: int, n_iter: int,
           id_col: str, vec_col: str):
    """Shared Lloyd's loop, fully IN-PLAN: returns (vecs, assign_fn,
    cents) where ``cents`` is the final (cid int, c array<double>)
    RELATION — the whole n_iter chain evaluates inside the caller's
    single action, with the tiny per-iteration centroid relations
    riding broadcast exchanges (the same in-plan-iteration shape as
    linkgraph.pagerank's rounds). The previous form collected K·dim
    doubles to the driver per iteration, which made every Lloyd
    consumer pay n_iter+1 serial driver round-trips — measured as the
    dominant cost of the kmeans/ivf queries at sandbox job latency
    (BENCH_r04 audit; values bit-identical either way because the
    collect round-tripped exact IEEE doubles)."""
    # lazy-checkpoint once: the chain references this relation in
    # every iteration plus the final assignment — without it each
    # occurrence re-reads the corpus and re-runs the interpreted
    # norm fold
    vecs = (corpus.select(F.col(id_col).alias("vid"),
                          _as_double(F.col(vec_col)).alias("v"))
            .withColumn("n2", _dot(F.col("v"), F.col("v")))
            .localCheckpoint(eager=False))

    def assign(cents_df):
        cdf = cents_df.withColumn("c2", _dot(F.col("c"), F.col("c")))
        d2 = (F.col("n2") - 2.0 * _dot(F.col("v"), F.col("c"))
              + F.col("c2"))
        # argmin as a map-side-combinable min-struct aggregation — a
        # row_number window over the N·K crossJoin would sort every
        # vid's K rows; (d2, cid) is unique per group (one row per
        # cid), so the struct min IS the (d2 asc, cid asc) argmin and
        # the trailing v field never decides the comparison
        return (vecs.crossJoin(F.broadcast(cdf))
                .withColumn("__d2", d2)
                .groupBy("vid")
                .agg(F.min(F.struct(F.col("__d2"), F.col("cid"),
                                    F.col("v"))).alias("__b"))
                .select("vid", F.col("__b.cid").alias("cid"),
                        F.col("__b.v").alias("v"),
                        F.col("__b.__d2").alias("__d2")))

    cents = vecs.filter(F.col("vid") < n_centroids).select(
        F.col("vid").cast("int").alias("cid"), F.col("v").alias("c"))
    for _ in range(n_iter):
        assigned = assign(cents)
        comp = assigned.select(
            "cid", F.posexplode("v").alias("j", "x"))
        # centroids that lost every member drop out of the groupBy
        # naturally (same policy as the SQL oracle's empty groups)
        cents = (comp.groupBy("cid", "j")
                 .agg((F.sum(F.col("x").cast("decimal(28,12)"))
                       .cast("double")
                       / F.count(F.lit(1))).alias("m"))
                 .groupBy("cid")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("j", "m"))).alias("jm"))
                 .select("cid", F.col("jm.m").alias("c")))
    if n_iter:
        # the final centroid relation is consumed more than once
        # (ivf_ann broadcasts it for lists AND probes) — checkpoint so
        # the Lloyd chain is never re-run per consumer (the
        # multi-consumer-sketch invariant)
        cents = cents.localCheckpoint(eager=False)
    return vecs, assign, cents


def kmeans_refine(corpus: DataFrame, n_centroids: int = 4,
                  n_iter: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Lloyd's k-means for IVF centroid refinement — the iterative
    DataFrame algorithm, made CROSS-ENGINE DETERMINISTIC:

    - distances use sequential-fold dot products (``aggregate`` over
      ``zip_with`` — same fold order as DuckDB's list_dot_product), so
      ||v-c||² = |v|² − 2·v·c + |c|² is bit-stable;
    - centroid means are computed per component with DECIMAL(28,12)
      sums (exact, order-independent — a double sum's value depends on
      reduction order, which no distributed engine guarantees) cast
      back to double;
    - init = first ``n_centroids`` vectors; ties break on lower cid.

    Each iteration: broadcast centroids → assign (argmin L2) → exact
    per-component mean → new centroid table (tiny, driver-collected:
    K·dim doubles — the classic Lloyd's-on-Spark shape). Returns the
    final assignment (vec_id, cid, dist_r6).
    """
    _, assign, cents = _lloyd(corpus, n_centroids, n_iter, id_col,
                              vec_col)
    final = assign(cents)
    return final.select(F.col("vid").alias("vec_id"), "cid",
                        F.round(F.sqrt(F.col("__d2")), 6)
                        .alias("dist_r6"))


def kmeans_centroids(corpus: DataFrame, n_centroids: int = 4,
                     n_iter: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """The refined centroid TABLE (cid, c) — the piece ``ivf_ann``
    consumes (``centroids=``); same deterministic Lloyd's loop as
    ``kmeans_refine``. Returned LAZY (checkpointed relation): nothing
    runs until the consumer's action, so kmeans→ivf composes into one
    job."""
    _, _, cents = _lloyd(corpus, n_centroids, n_iter, id_col, vec_col)
    return cents


def ivf_ann(corpus: DataFrame, query_ids, k: int = 5,
            n_centroids: int = 8, n_probe: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding",
            centroids: DataFrame | None = None) -> DataFrame:
    """IVF-style ANN: corpus rows are assigned to their nearest centroid
    (inverted lists); each query probes its ``n_probe`` nearest lists
    and re-ranks candidates by exact cosine.

    ``centroids`` — a (cid, c array<double>) table, normally the
    output of ``kmeans_centroids`` (refined seeding: better-balanced
    inverted lists → higher recall at the same n_probe). Defaults to
    the first ``n_centroids`` corpus vectors (deterministic naive
    seeding — kept as the fallback and for A/B recall tests). Either
    way the centroid table is tiny and broadcast twice (assignment +
    probe); the only shuffle is the candidate equi-join on
    ``centroid_id`` — same bucket-join shape as LSH, with list sizes
    ~N/n_centroids instead of N/2^planes.

    Returns (query_id, neighbor_id, rank).
    """
    if centroids is not None:
        cents = (centroids.select(F.col("cid").alias("centroid_id"),
                                  F.col("c").alias("cv"))
                 .withColumn("cn", F.sqrt(_dot(F.col("cv"),
                                               F.col("cv")))))
    else:
        cents = (with_norm(corpus.filter(F.col(id_col) < n_centroids),
                           vec_col)
                 .select(F.col(id_col).alias("centroid_id"),
                         F.col("__v").alias("cv"),
                         F.col("__norm").alias("cn")))

    def assign(df: DataFrame, topn: int, out: str) -> DataFrame:
        """nearest-centroid ids by cosine; ties break on centroid_id."""
        sim = _dot(F.col("__v"), F.col("cv")) / (F.col("__norm")
                                                 * F.col("cn"))
        scored = (df.crossJoin(F.broadcast(cents))
                  .withColumn("__csim", sim))
        if topn == 1:
            # the corpus-wide list assignment: argmax as a map-side-
            # combinable min-struct agg (negated sim is exact), not a
            # row_number sort of every row's K centroid candidates
            return (scored
                    .groupBy(id_col)
                    .agg(F.min(F.struct(-F.col("__csim"),
                                        F.col("centroid_id"),
                                        F.col("__v"),
                                        F.col("__norm"))).alias("__b"))
                    .select(F.col(id_col),
                            F.col("__b.__v").alias("__v"),
                            F.col("__b.__norm").alias("__norm"),
                            F.col("__b.centroid_id").alias(out)))
        w = Window.partitionBy(id_col).orderBy(
            F.desc("__csim"), F.asc("centroid_id"))
        return (scored
                .withColumn("__crank", F.row_number().over(w))
                .filter(F.col("__crank") <= topn)
                .select(F.col(id_col), F.col("__v"), F.col("__norm"),
                        F.col("centroid_id").alias(out)))

    normed = with_norm(corpus, vec_col).select(
        id_col, "__v", "__norm")
    lists = assign(normed, 1, "centroid_id")
    probes = assign(normed.filter(F.col(id_col).isin(list(query_ids))),
                    n_probe, "centroid_id")

    q = probes.select(F.col(id_col).alias("query_id"), "centroid_id",
                      F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    c = lists.select(F.col(id_col).alias("neighbor_id"), "centroid_id",
                     F.col("__v").alias("nv"), F.col("__norm").alias("nn"))
    sim = _dot(F.col("qv"), F.col("nv")) / (F.col("qn")
                                            * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    # each corpus row lives in exactly one inverted list, so a
    # (query, neighbor) pair joins at most once — no dedup needed
    return (c.join(F.broadcast(q), "centroid_id")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank")))


def embedding_neardup_pairs(corpus: DataFrame, tau: float = 0.25,
                            n_planes: int = DEFAULT_PLANES,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup detection (training-data pipeline op):
    candidate pairs share a sign-LSH bucket (one shuffle on ``code``),
    then exact-cosine verify at ``round(sim, 6) >= tau`` — the rounding
    pins the threshold comparison across engines so the whole operator
    is oracle-checkable. Returns (a, b, sim_r4) with a < b.

    At 10^10 rows the bucket join bounds the pair candidates to
    intra-bucket O(Σ b_i²); raise ``n_planes`` to halve bucket sizes
    per extra plane (same knob as MinHash LSH band width)."""
    coded = lsh_codes(corpus, n_planes, id_col, vec_col)
    coded = coded.withColumn(
        "__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    left = coded.select(F.col("vid").alias("a"), "code",
                        F.col("__v").alias("av"),
                        F.col("__norm").alias("an"))
    right = coded.select(F.col("vid").alias("b"), "code",
                         F.col("__v").alias("bv"),
                         F.col("__norm").alias("bn"))
    sim = _dot(F.col("av"), F.col("bv")) / (F.col("an")
                                            * F.col("bn"))
    return (left.join(right, "code")
            .filter(F.col("a") < F.col("b"))
            .withColumn("sim", sim)
            .filter(F.round("sim", 6) >= tau)
            .select("a", "b", F.round("sim", 4).alias("sim_r4")))


def semdedup(corpus: DataFrame, tau: float = 0.7,
             n_centroids: int = 4, n_iter: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering then WITHIN-CLUSTER cosine
    pruning — the embedding-space analog of MinHash near-dup, catching
    paraphrases and re-renders that share no n-grams.

    Pipeline (one plan):

    1. deterministic Lloyd's k-means (the shared ``_lloyd`` loop)
       assigns every vector to a cluster — the clustering exists ONLY
       to bound comparisons: pairs are mined per cluster, never
       corpus-wide;
    2. within each cluster, pairs at ``round(cos, 6) >= tau`` are
       semantic duplicates (equi-join on ``cid`` — at 10^10 rows the
       candidate set is intra-cluster O(Σ c_i²); raise ``n_centroids``
       to shrink clusters, exactly the paper's scaling knob);
    3. duplicate pairs form groups via ``connected_components`` (the
       same clusterer every other dedup family feeds);
    4. keep policy: per group, the member FURTHEST from its centroid
       survives (tie → lower id) — Abbas et al.'s low-similarity-to-
       centroid choice, which retains the least prototypical example
       of each semantic duplicate set and drops the redundant core.

    Returns one row per corpus vector:
    (vec_id, cid, dist_r6, grp, keep) — ``grp`` the duplicate-group id
    (min member id; own id when the vector has no duplicate), ``keep``
    1 for the retained representative else 0. ``keep = 1`` rows are
    the deduplicated corpus; the kmeans assignment (vec_id, cid,
    dist_r6) is the ``kmeans_refine`` relation verbatim.

    Determinism: fold-order dot products + decimal centroid means (the
    ``_lloyd`` contract) make cluster ids, distances, similarities and
    therefore groups and keep flags bit-identical across engines — the
    whole operator has an exact SQL oracle (kmeans CTE generations +
    recursive-CTE closure over the pair relation).
    """
    from ftw_crawler_spark.operators.dedup import connected_components
    _, assign, cents = _lloyd(corpus, n_centroids, n_iter, id_col,
                              vec_col)
    # the assignment feeds three consumers (both pair-join sides + the
    # final projection) — checkpoint so the Lloyd chain runs once (the
    # multi-consumer-sketch invariant)
    asg = assign(cents).localCheckpoint(eager=False)
    withn = asg.withColumn(
        "__n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    left = withn.select(F.col("vid").alias("a"), "cid",
                        F.col("v").alias("av"), F.col("__n").alias("an"))
    right = withn.select(F.col("vid").alias("b"), "cid",
                         F.col("v").alias("bv"), F.col("__n").alias("bn"))
    sim = _dot(F.col("av"), F.col("bv")) / (F.col("an")
                                            * F.col("bn"))
    pairs = (left.join(right, "cid")
             .filter(F.col("a") < F.col("b"))
             .filter(F.round(sim, 6) >= tau)
             .select("a", "b"))
    comp = connected_components(pairs)
    lab = (asg.join(comp, asg["vid"] == comp["node"], "left")
           .select("vid", "cid", "__d2",
                   F.coalesce("component", "vid").alias("grp")))
    w = Window.partitionBy("grp").orderBy(F.desc("__d2"), F.asc("vid"))
    return (lab.withColumn("__rk", F.row_number().over(w))
            .select(F.col("vid").alias("vec_id"), "cid",
                    F.round(F.sqrt("__d2"), 6).alias("dist_r6"),
                    "grp",
                    F.when(F.col("__rk") == 1, F.lit(1))
                    .otherwise(F.lit(0)).cast("long").alias("keep")))


def lsh_ann(corpus: DataFrame, query_ids, k: int = 5,
            n_planes: int = DEFAULT_PLANES, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket,
    re-ranked by exact cosine. Returns (query_id, neighbor_id, rank).

    The bucket equi-join on ``code`` is the one shuffle; at corpus
    scale the query side (codes of the query set) is broadcast.
    """
    coded = lsh_codes(corpus, n_planes, id_col, vec_col)
    coded = coded.withColumn(
        "__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    q = (coded.filter(F.col("vid").isin(list(query_ids)))
         .select(F.col("vid").alias("query_id"),
                 F.col("code"),
                 F.col("__v").alias("qv"), F.col("__norm").alias("qn")))
    cand = (coded.select(F.col("vid").alias("neighbor_id"), "code",
                         F.col("__v").alias("nv"),
                         F.col("__norm").alias("nn"))
            .join(F.broadcast(q), "code")
            .filter(F.col("neighbor_id") != F.col("query_id")))
    sim = _dot(F.col("qv"), F.col("nv")) / (F.col("qn")
                                            * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (cand.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank")))
