"""Near-dup clustering (connected components) + deterministic sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from ftw_crawler_spark.operators import sampling
from ftw_crawler_spark.operators.dedup import connected_components


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, "a long, b long")
    return {r["node"]: r["component"]
            for r in connected_components(pairs).collect()}


def test_components_basic(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_long_chain_converges(spark):
    # diameter > 1 round: labels must propagate hop by hop
    chain = [(i, i + 1) for i in range(1, 9)]
    got = _cc(spark, chain)
    assert got == {i: 1 for i in range(1, 10)}


def test_components_direction_irrelevant(spark):
    assert _cc(spark, [(5, 2), (2, 9)]) == {2: 2, 5: 2, 9: 2}


def test_auto_switches_only_when_diameter_is_real(spark):
    """Propagation on near-clique graphs (zero extra shuffles), pointer
    doubling once a probe at round >= 4 still sees movement — the same
    component-minimum labels either way (monotone steps share the
    fixpoint)."""
    clique = spark.createDataFrame(
        [(i, j) for i in range(1, 6) for j in range(i + 1, 6)],
        "a long, b long")
    s_clique: dict = {}
    got = {r["node"]: r["component"] for r in connected_components(
        clique, stats=s_clique).collect()}
    assert got == {i: 1 for i in range(1, 6)}
    assert not s_clique["doubled"]          # never left propagation

    chain = spark.createDataFrame([(i, i + 1) for i in range(16)],
                                  "a long, b long")
    s_auto: dict = {}
    auto = {r["node"]: r["component"] for r in connected_components(
        chain, max_iter=30, stats=s_auto).collect()}
    assert auto == {i: 0 for i in range(17)}
    assert s_auto["doubled"]                # probe tripped the switch
    assert s_auto["rounds"] <= 12           # beats the 16-round diameter


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in
         sampling.hash_sample(df, "doc_id", 300_000).collect()}
    b = {r["doc_id"] for r in
         sampling.hash_sample(df.repartition(17), "doc_id",
                              300_000).collect()}
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.4          # ~30% +- hash variance


def test_hash_sample_rate_monotone(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    small = {r["doc_id"] for r in
             sampling.hash_sample(df, "doc_id", 100_000).collect()}
    big = {r["doc_id"] for r in
           sampling.hash_sample(df, "doc_id", 500_000).collect()}
    assert small <= big                        # nested samples


def test_stratified_exact_quota_and_determinism(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("src"))
    out = sampling.stratified_sample(df, "src", "doc_id", 10)
    counts = {r["src"]: r["n"] for r in
              out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 10, "1": 10, "2": 10}
    again = sampling.stratified_sample(df.repartition(13), "src",
                                       "doc_id", 10)
    assert {tuple(r) for r in out.collect()} == \
        {tuple(r) for r in again.collect()}


def test_stratified_small_stratum_kept_whole(spark):
    df = spark.range(5).select(F.col("id").alias("doc_id"),
                               F.lit("only").alias("src"))
    assert sampling.stratified_sample(df, "src", "doc_id", 10).count() == 5


def test_stratified_two_phase_identical_and_salted(spark):
    """The salted two-phase top-n (Zipf-head skew guard) must return
    byte-identical rows to the single-window form, and its plan must
    rank per-(stratum, salt) FIRST — no whole-stratum single-task sort
    before the bounded survivor pass."""
    # skewed strata: one head stratum with 500 rows, tails with ~25
    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, F.lit("head"))
        .otherwise((F.col("id") % 4).cast("string")).alias("src"))
    two_phase = sampling.stratified_sample(df, "src", "doc_id", 7,
                                           salt_buckets=16)
    single = sampling.stratified_sample(df, "src", "doc_id", 7,
                                        salt_buckets=None)
    assert {tuple(r) for r in two_phase.collect()} == \
        {tuple(r) for r in single.collect()}
    # plan shape: two window phases, the inner one partitioned on the
    # salt too — so no partition ever holds a whole head stratum
    plan = two_phase._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2 and "__salt" in plan
    single_plan = single._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in single_plan


def _py_dsir(texts, target_ids, n_buckets=16):
    """Row-wise DSIR oracle replicating the engine's math: md5-bucket
    hashing, add-one likelihood ratio as ONE IEEE division,
    round(…, 9), exact decimal sum, double mean, round(…, 6)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    def bk(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15],
                   16) % n_buckets

    ct, cs = {}, {}
    for did, t in texts.items():
        for w in t.split():
            b = bk(w)
            cs[b] = cs.get(b, 0) + 1
            if did in target_ids:
                ct[b] = ct.get(b, 0) + 1
    ns, nt = sum(cs.values()), sum(ct.values())
    out = {}
    for did, t in texts.items():
        toks = t.split()
        if not toks:
            continue
        rs = [((ct.get(bk(w), 0) + 1) * (ns + n_buckets))
              / ((cs.get(bk(w), 0) + 1) * (nt + n_buckets))
              for w in toks]
        total = sum((Decimal(repr(round(r, 9)))
                     .quantize(Decimal("1e-12"), ROUND_HALF_UP)
                     for r in rs), Decimal(0))
        out[did] = (len(toks), round(float(total) / len(toks), 6))
    return out


def test_dsir_weights_match_python_oracle(spark):
    texts = {0: "alpha beta alpha", 1: "alpha gamma",
             2: "delta epsilon zeta", 3: "beta beta alpha",
             4: "   "}  # whitespace-only: no positions, drops out
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    target = df.filter(F.col("doc_id").isin(0, 1))
    got = {r["doc_id"]: (r["n_tokens"], r["dsir_w_r6"])
           for r in sampling.dsir_weights(df, target,
                                          n_buckets=16).collect()}
    assert got == _py_dsir(texts, {0, 1})
    assert 4 not in got


def test_dsir_target_like_docs_rank_higher(spark):
    """Docs sharing the target corpus's vocabulary must outscore
    vocabulary-disjoint docs, and dsir_select must surface them."""
    rows = [(i, "alpha beta gamma") for i in range(10)]        # target-ish
    rows += [(i + 10, "omega psi chi") for i in range(30)]     # off-target
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") < 5)
    sel = sampling.dsir_select(df, target, n=10, n_buckets=64)
    picked = {r["doc_id"] for r in sel.collect()}
    assert picked == set(range(10))
    w = {r["doc_id"]: r["dsir_w_r6"]
         for r in sampling.dsir_weights(df, target,
                                        n_buckets=64).collect()}
    assert min(w[i] for i in range(10)) > max(w[i + 10]
                                              for i in range(30))


def test_dsir_partition_invariance(spark):
    rows = [(i, f"tok{i % 7} tok{(i * 3) % 11} tok{i % 5}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 4 == 0)
    a = sorted(map(tuple, sampling.dsir_weights(
        df.repartition(13), target.repartition(7)).collect()))
    b = sorted(map(tuple, sampling.dsir_weights(
        df.coalesce(1), target.coalesce(1)).collect()))
    assert a == b and len(a) == 60
