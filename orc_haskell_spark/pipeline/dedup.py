"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

All-Catalyst implementations (no Python UDFs): tokenization, shingling,
hashing (md5 — chosen because the DuckDB oracle computes the identical
digest, so candidate generation is engine-independent), inverted-index
joins, and banded LSH are plain DataFrame expressions, so predicate
pushdown / codegen / AQE skew handling apply.

Scale notes (100 TB):
- the inverted-index join (token -> doc list) is the one shuffle; hot
  tokens are capped by document frequency (``max_df``) before the join,
  the classic stop-token cut that bounds the quadratic blow-up.
- MinHash/SimHash signatures are fixed-width per doc (bands explode to
  ``bands`` rows/doc), so the LSH join shuffles O(docs x bands) tiny
  rows, not O(docs x tokens).
- candidate pairs are exactly verified (true Jaccard) after the
  probabilistic stage, so false positives never escape; band count is
  sized so misses at the target threshold are ~1e-8.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

TOKEN_SPLIT = "\\s+"


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW input up to the session's
    default parallelism so per-doc signature math (md5 shingles, 64
    permutations, bit sums) runs on every core instead of inside the
    scan's task count. Scale-guarded no-op when the scan already yields
    enough partitions — a 100 TB input has thousands of splits and must
    never pay an extra payload shuffle for this; only the
    few-splits-small-table shape (guide: input skew / small files)
    benefits."""
    sc = df.sparkSession.sparkContext
    try:
        nin = df.rdd.getNumPartitions()
    except Exception:
        return df
    n = sc.defaultParallelism
    return df.repartition(n) if nin < n else df


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct word tokens per document."""
    return (df.select(id_col, F.explode(
        F.array_distinct(F.split(F.col(text_col), TOKEN_SPLIT))).alias("token"))
        .filter(F.length("token") > 0))


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups: keeper = min(id) per identical key tuple."""
    return (df.groupBy(*key_cols)
            .agg(F.min(id_col).alias("keeper"),
                 F.count("*").alias("copies")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.5,
                        max_df: int | None = 1000) -> DataFrame:
    """Token-set Jaccard near-dup pairs via a document-frequency-capped
    inverted-index join, exactly verified.

    Returns (id_a, id_b, jacc) with id_a < id_b and jacc >= threshold.

    Scale shape: candidate pairs come from tokens present in at most
    ``max_df`` documents (the classic stop-token cut — a token like
    "the" with df = N would otherwise contribute O(df^2) candidates);
    each candidate is then verified with the exact Jaccard over the
    *full* (uncapped) token sets, so reported jacc values are exact and
    there are no false positives. The only approximation is recall: a
    pair sharing exclusively ultra-common tokens (every shared token in
    > max_df docs) produces no candidate. ``max_df=None`` is the
    documented exact-mode escape hatch (uncapped index; small tables
    only — O(df^2) on the hottest token).
    """
    df = _spread(df)
    t = tokens(df, id_col, text_col)
    if max_df is not None:
        dfreq = t.groupBy("token").agg(F.count("*").alias("df_tok"))
        t = t.join(F.broadcast(dfreq.filter(F.col("df_tok") <= max_df)),
                   "token").select(id_col, "token")
    cand = (t.selectExpr(f"{id_col} as id_a", "token")
            .join(t.selectExpr(f"{id_col} as id_b", "token"), "token")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()).localCheckpoint(eager=False)
    # tokenize only documents that appear in a candidate pair (the
    # same semi-join-before-expansion shape as minhash verification)
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .union(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    tk = df.join(cand_ids, id_col, "leftsemi").select(
        F.col(id_col),
        F.filter(F.array_distinct(F.split(F.col(text_col), TOKEN_SPLIT)),
                 lambda x: F.length(x) > 0).alias("tk"))
    return (cand
            .join(tk.selectExpr(f"{id_col} as id_a", "tk as tk_a"), "id_a")
            .join(tk.selectExpr(f"{id_col} as id_b", "tk as tk_b"), "id_b")
            .withColumn("inter", F.size(F.array_intersect("tk_a", "tk_b")))
            .withColumn("jacc", F.col("inter") / (
                F.size("tk_a") + F.size("tk_b") - F.col("inter")))
            .filter(F.col("jacc") >= threshold)
            .select("id_a", "id_b", F.round("jacc", 6).alias("jacc")))


def _shingles(text_col: str, n: int):
    """Word n-gram shingles as an array column (distinct).

    Pure-API (no F.expr): SQL-parsed expression strings mangle regex
    escapes ('\\s+' parses to 's+'), silently changing the tokenizer.
    """
    toks = F.split(F.col(text_col), TOKEN_SPLIT)
    idxs = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, shingle_n: int = 3) -> DataFrame:
    """MinHash signature per doc via Carter-Wegman permutations: each
    shingle is md5'd once into two 60-bit halves (h1, h2); permutation j
    is min over shingles of (h1 + j*h2) & (2^40-1). 64x fewer digest
    computations than hashing per permutation; engine-independent should
    an oracle ever need to reproduce it (conv/substr/md5 exist in both
    Spark and DuckDB and agree bit-for-bit)."""
    sh = _shingles(text_col, shingle_n)
    mask40 = (1 << 40) - 1
    # md5 once per shingle into a digest array, then slice both hash
    # halves from it — the previous twin transforms each recomputed
    # md5(s) (Catalyst CSE does not cross lambda boundaries), doubling
    # the digest cost per document
    base = (df.select(F.col(id_col), sh.alias("__sh"))
            .select(F.col(id_col),
                    F.expr("transform(__sh, s -> md5(s))").alias("__ds"))
            .select(
                F.col(id_col),
                F.expr("transform(__ds, d -> "
                       "cast(conv(substring(d, 1, 15), 16, 10) as bigint)"
                       ")").alias("h1s"),
                F.expr(f"transform(__ds, d -> "
                       f"(cast(conv(substring(d, 17, 15), 16, 10) as bigint) "
                       f"& {mask40}) | 1)").alias("h2s")))  # odd -> proper perm
    perms = F.expr(
        f"transform(sequence(0, {num_perm - 1}), j -> "
        f"array_min(zip_with(h1s, h2s, (a, b) -> (a + j * b) & {mask40})))")
    return base.select(F.col(id_col), perms.alias("sig"))


def _banded_sig(sig_df: DataFrame, id_col: str, bands: int,
                band_r: int) -> DataFrame:
    """(id, band) rows: band = index + the band's signature slice,
    pipe-joined. One string per band keeps the join key narrow."""
    return sig_df.select(
        id_col,
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f"concat(b, '|', concat_ws('|', slice(sig, b * {band_r} + 1, {band_r}))))"
        )).alias("band"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.8, num_perm: int = 64,
                      band_r: int = 4, shingle_n: int = 3) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exactly verified.

    bands = num_perm / band_r; candidates share >= 1 band; each candidate
    pair is verified with true shingle Jaccard >= threshold, so output
    contains no false positives (and P(miss) at s=0.8, r=4, 16 bands is
    ~1e-8).
    """
    bands = num_perm // band_r
    df = _spread(df)
    sig = minhash_signatures(df, id_col, text_col, num_perm, shingle_n)
    # localCheckpoint (lazy): the banded table feeds BOTH sides of the
    # self-join below — without it every signature (md5 shingles + 64
    # permutations, the dominant cost) is computed twice. Banded rows
    # are (id, short band string): tiny relative to the text input.
    banded = _banded_sig(sig, id_col, bands, band_r) \
        .localCheckpoint(eager=False)
    cand = (banded.alias("x").join(banded.alias("y"), "band")
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(F.col(f"x.{id_col}").alias("id_a"),
                    F.col(f"y.{id_col}").alias("id_b"))
            .distinct()).localCheckpoint(eager=False)
    # exact verification on candidates only — and shingles only for
    # DOCUMENTS THAT APPEAR IN A CANDIDATE (semi-join before the
    # n-gram expansion): at corpus scale candidates are a tiny
    # fraction, so the expensive shingle arrays are never built for
    # the other 99%+ of documents (guide: project/filter before the
    # expensive work, not after)
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .union(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    need = df.join(cand_ids, id_col, "leftsemi")
    sh = need.select(F.col(id_col),
                     _shingles(text_col, shingle_n).alias("sh"))
    verified = (cand
                .join(sh.selectExpr(f"{id_col} as id_a", "sh as sh_a"), "id_a")
                .join(sh.selectExpr(f"{id_col} as id_b", "sh as sh_b"), "id_b")
                .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jacc", F.col("inter") / (
                    F.size("sh_a") + F.size("sh_b") - F.col("inter")))
                .filter(F.col("jacc") >= threshold))
    return verified.select("id_a", "id_b", F.round("jacc", 6).alias("jacc"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """60-bit SimHash over word tokens (weight 1): bit k is the sign of
    the sum over tokens of (hash bit k ? +1 : -1). Token hash is the
    first 15 hex digits of md5 — engine-independent, so a DuckDB oracle
    reproduces every signature bit-for-bit (same rationale as
    minhash_signatures)."""
    t = (df.select(id_col, F.array_distinct(
        F.split(F.col(text_col), TOKEN_SPLIT)).alias("toks"))
        .select(id_col, F.explode("toks").alias("token"))
        .withColumn("h", F.conv(F.substring(F.md5("token"), 1, 15),
                                16, 10).cast("long")))
    agg = [
        F.sum(F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{k}")
        for k in range(bits)
    ]
    sums = t.groupBy(id_col).agg(*agg)
    sim = F.lit(0).cast("long")
    for k in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{k}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), k))
            .otherwise(F.lit(0).cast("long")))
    return sums.select(id_col, sim.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, verify_jaccard: float = 0.5,
                  n_bands: int | None = None) -> DataFrame:
    """SimHash near-dup candidates via banded blocking (n_bands equal
    bit-slices of the 64-bit hash; pigeonhole guarantees catching every
    pair with hamming < n_bands), verified by hamming distance and true
    token Jaccard.

    n_bands defaults to the smallest divisor of the hash width that is
    > max_hamming, so recall of the banded join is EXACT for the
    requested hamming radius (pigeonhole: any pair differing in at most
    max_hamming bits agrees on at least one band). An explicit
    n_bands <= max_hamming would silently drop qualifying pairs and is
    rejected.
    """
    bits = 60
    if n_bands is None:
        n_bands = next(b for b in range(max_hamming + 1, bits + 1)
                       if bits % b == 0)
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall for "
            f"max_hamming={max_hamming}; need n_bands > max_hamming")
    if bits % n_bands:
        raise ValueError(f"n_bands must divide {bits}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # no cache: the band self-join's two shuffle subtrees are identical,
    # so Spark's exchange reuse computes the signatures ONCE and reads
    # the shuffle twice (asserted in tests/test_plans.py). The old
    # .cache() was never unpersisted and leaked executor memory in
    # long-lived sessions.
    s = simhash(_spread(df), id_col, text_col)
    bands = s.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.concat(F.lit(f"{k}|"),
                     F.shiftrightunsigned(F.col("simhash"), band_bits * k)
                     .bitwiseAND(F.lit(mask)).cast("string"))
            for k in range(n_bands)
        ])).alias("band"))
    cand = (bands.alias("x").join(bands.alias("y"), "band")
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(F.col(f"x.{id_col}").alias("id_a"),
                    F.col(f"y.{id_col}").alias("id_b"),
                    F.col("x.simhash").alias("h_a"),
                    F.col("y.simhash").alias("h_b"))
            .distinct())
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    cand = cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming)
    # tokenize after the pair joins, so only documents in a surviving
    # candidate are tokenized and cand is computed once without being
    # persisted
    def side(ab: str) -> DataFrame:
        return df.select(F.col(id_col).alias(f"id_{ab}"),
                         F.col(text_col).alias(f"text_{ab}"))

    def tokens(ab: str):
        return (F.array_distinct(F.split(F.col(f"text_{ab}"), TOKEN_SPLIT))
                .alias(f"tk_{ab}"))

    return (cand.join(side("a"), "id_a").join(side("b"), "id_b")
            .select("id_a", "id_b", "hamming", tokens("a"), tokens("b"))
            .withColumn("jacc", F.size(F.array_intersect("tk_a", "tk_b")) / (
                F.size("tk_a") + F.size("tk_b")
                - F.size(F.array_intersect("tk_a", "tk_b"))))
            .filter(F.col("jacc") >= verify_jaccard)
            .select("id_a", "id_b", "hamming", F.round("jacc", 6).alias("jacc")))


def _lsh_band_plan(threshold: float, max_planes: int = 128,
                   target_miss: float = 1e-9) -> tuple[int, int]:
    """Size hyperplane-LSH bands for recall at a cosine threshold.

    p = P(two vectors at cosine exactly ``threshold`` agree on one
    random hyperplane sign) = 1 - acos(threshold)/pi. Pick the largest
    band width b (more pruning) such that the band count n needed for
    per-pair miss probability <= target_miss fits in max_planes total
    bits. Pairs above the threshold have higher p, so this is the
    worst-case miss. Returns (band_bits, n_bands).
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    best = None
    for b in range(1, 33):
        pb = p ** b
        if pb >= 1.0:
            return b, 1
        n = math.ceil(math.log(target_miss) / math.log(1.0 - pb))
        if b * n <= max_planes:
            best = (b, n)
    if best is None:
        # threshold too loose for the plane budget: one-bit bands, as
        # many as fit (recall still >= 1 - (1-p)^max_planes)
        best = (1, max_planes)
    return best


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic Rademacher (±1) hyperplanes derived from md5.

    Sign-projection LSH only needs symmetric random components, and
    md5-derived ±1 entries make every signature reproducible in an
    independent SQL engine (sign(j,i) = +1 iff the first hex digit of
    md5('lsh|seed|j|i') is odd — same rationale as the simhash oracle)."""
    import hashlib

    out = np.empty((bits, dim), dtype=np.float64)
    for j in range(bits):
        for i in range(dim):
            h = hashlib.md5(f"lsh|{seed}|{j}|{i}".encode()).hexdigest()
            out[j, i] = 1.0 if int(h[0], 16) & 1 else -1.0
    return out


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.98, dim: int | None = None,
                            seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicates via banded hyperplane LSH,
    exactly verified.

    The 100 TB shape (same as minhash_lsh_pairs): each vector gets a
    deterministic sign-bit signature over seeded Gaussian hyperplanes;
    signatures are sliced into bands sized by _lsh_band_plan so a
    qualifying pair collides in >= 1 band with probability
    >= 1 - 1e-9; the banded equi-join shuffles O(docs x bands) small
    rows; candidates are verified with the exact cosine, so the output
    has no false positives. Compare the reference's whole-engine
    pattern of exact verification after a probabilistic index
    (/root/reference has no ANN analog; this is a pipeline addition).

    For the all-pairs exact verifier (small tables / tests) use
    embedding_neardup_pairs_exact.
    """
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    band_bits, n_bands = _lsh_band_plan(threshold)
    planes = hyperplanes(dim, band_bits * n_bands, seed)
    planes_lit = F.array(*[
        F.array(*[F.lit(float(v)) for v in p]) for p in planes])
    vecd = F.col(vec_col).cast("array<double>")
    bits = F.transform(
        planes_lit,
        lambda c: F.when(
            F.aggregate(F.zip_with(vecd, c, lambda a, b: a * b),
                        F.lit(0.0), lambda acc, x: acc + x) > 0,
            F.lit("1")).otherwise(F.lit("0")))
    df = _spread(df)
    sig = df.select(F.col(id_col), bits.alias("_bits"))
    # lazy localCheckpoint: both self-join sides read one computation of
    # the 128-hyperplane signatures (exchange reuse does not fire on
    # this shape — measured on the minhash twin)
    banded = sig.select(
        id_col,
        F.explode(F.array(*[
            F.concat(F.lit(f"{j}|"),
                     F.concat_ws("", F.slice(F.col("_bits"),
                                             j * band_bits + 1, band_bits)))
            for j in range(n_bands)
        ])).alias("band")).localCheckpoint(eager=False)
    cand = (banded.alias("x").join(banded.alias("y"), "band")
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(F.col(f"x.{id_col}").alias("id_a"),
                    F.col(f"y.{id_col}").alias("id_b"))
            .distinct())
    vecs = df.select(F.col(id_col), vecd.alias("v"))
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x))
    return (cand
            .join(vecs.selectExpr(f"{id_col} as id_a", "v as v_a"), "id_a")
            .join(vecs.selectExpr(f"{id_col} as id_b", "v as v_b"), "id_b")
            .withColumn("cos", dot / (norm("v_a") * norm("v_b")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 5).alias("cos")))


def embedding_neardup_pairs_exact(df: DataFrame, id_col: str, vec_col: str,
                                  threshold: float = 0.98) -> DataFrame:
    """Embedding-cosine near-duplicates, brute-force all pairs.

    The small-table verifier for embedding_neardup_pairs (tests compare
    the LSH path against this for recall=1). O(n^2) — never the 100 TB
    path.
    """
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x))
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(vec_col).cast("array<double>").alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).cast("array<double>").alias("v_b"))
    return (a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot / (norm("v_a") * norm("v_b")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 5).alias("cos")))


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                   id_a: str = "id_a", id_b: str = "id_b",
                   max_iters: int = 25) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    pair graph any dedup family emits (jaccard / minhash / simhash /
    embedding), returning (id, cluster_id) with cluster_id = the
    smallest id in the component. The step a training pipeline runs
    after pair finding — "keep one document per cluster" needs the
    transitive closure (A~B, B~C puts A and C in one cluster even when
    the pair finder never compared them), not the raw pairs.

    Distributed min-label propagation: every iteration is one
    shuffle-join (edges x labels) + one aggregation, and labels
    monotonically decrease to the component minimum in O(component
    diameter) iterations — near-dup clusters are shallow (dups of a
    common source), so convergence is a handful of rounds. Lineage is
    truncated each round (localCheckpoint) so the plan stays flat; the
    convergence probe is the same action that materializes the round.
    Rows never touched by a pair keep their own id (singleton
    clusters).
    """
    sc = df.sparkSession.sparkContext

    def _ckpt_rdd_id(cdf: DataFrame) -> int | None:
        # a localCheckpointed Dataset's analyzed plan is a LogicalRDD
        # wrapping the persisted RDD — its OWN id, so concurrent driver
        # threads persisting their DataFrames are never touched (the
        # old global getPersistentRDDs diff classified those as stale)
        try:
            return cdf._jdf.queryExecution().analyzed().rdd().id()
        except Exception:
            return None

    def _unpersist(ids: set) -> None:
        m = sc._jsc.sc().getPersistentRDDs()
        it = m.iterator()
        while it.hasNext():
            t = it.next()
            if t._1() in ids:
                t._2().unpersist(False)

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.localCheckpoint(eager=False)
    edge_ids = {i for i in [_ckpt_rdd_id(edges)] if i is not None}
    labels = df.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
    stale: set = set()
    for _ in range(max_iters):
        nbr = (edges.join(labels, edges["src"] == labels["id"])
               .groupBy("dst").agg(F.min("lbl").alias("nlbl")))
        stepped = (labels.join(nbr, labels["id"] == nbr["dst"], "left")
                   .select(F.col("id"), F.col("lbl"),
                           F.least(F.col("lbl"),
                                   F.coalesce("nlbl", "lbl")).alias("nxt")))
        stepped = stepped.localCheckpoint(eager=True)
        # the new round is materialized: every earlier round's blocks
        # are dead weight — at corpus scale leaving k rounds persisted
        # IS the memory leak (edges stay until the loop exits)
        _unpersist(stale)
        stale = {i for i in [_ckpt_rdd_id(stepped)] if i is not None}
        changed = stepped.filter(F.col("nxt") < F.col("lbl")).limit(1)
        labels = stepped.select("id", F.col("nxt").alias("lbl"))
        if not changed.count():
            break
    _unpersist(edge_ids)
    # only the FINAL round's checkpoint stays persisted — the returned
    # DataFrame reads from it (lineage was truncated); callers that are
    # done with the result free it with result.unpersist() semantics of
    # the last localCheckpoint, or just let executor eviction drop it
    return labels.select(F.col("id").alias(id_col),
                         F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Incremental dedup: a persisted MinHash-LSH index for continuous ingest
# ---------------------------------------------------------------------------

def _index_meta_path(path: str) -> str:
    import os
    return os.path.join(path, "meta.json")


def _check_index_meta(path: str, num_perm: int, band_r: int,
                      shingle_n: int, threshold: float) -> None:
    """Create-or-verify the index config: matching a batch against an
    index built with different parameters silently changes recall and
    the verification threshold — refuse loudly instead."""
    import json
    import os
    meta = {"num_perm": num_perm, "band_r": band_r,
            "shingle_n": shingle_n, "threshold": threshold}
    p = _index_meta_path(path)
    if os.path.exists(p):
        with open(p) as f:
            have = json.load(f)
        if have != meta:
            raise ValueError(f"minhash index at {path!r} was built with "
                             f"{have}, got {meta}")
        return
    os.makedirs(path, exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, p)


def dedup_incremental(spark, new_df: DataFrame, id_col: str,
                      text_col: str, index_path: str, batch_id: str,
                      threshold: float = 0.8, num_perm: int = 64,
                      band_r: int = 4, shingle_n: int = 3,
                      commit: bool = True) -> DataFrame:
    """Near-dup pairs of a NEW batch against everything already
    indexed plus the batch itself — the continuous-ingest face of
    ``minhash_lsh_pairs``. Returns (id_a, id_b, jacc), id_a < id_b,
    every pair involving >= 1 new document; pairs internal to earlier
    batches were reported when those batches were processed, so
    processing batches b1..bk one by one yields EXACTLY
    ``minhash_lsh_pairs(b1 | ... | bk)`` as the union
    (pinned in tests/test_dedup_incremental.py).

    The index persists (id, band) rows and the exact shingle sets
    (verification uses true Jaccard, identical to the batch operator)
    as parquet under ``index_path``, partitioned by batch: commits are
    per-batch directory overwrites, so re-running a crashed batch is
    idempotent, and ``commit=False`` is a pure dry run. Batch ids must
    be unique per ingested batch (reusing one replaces that batch's
    index rows — the replay semantics).

    100 TB shape: the band join shuffles O(docs x bands) narrow rows on
    the band key, exactly the batch operator's shape; the index side
    scans only band/shingle columns (column pruning), and verification
    joins fetch shingles for candidate ids only. Growth is linear in
    corpus size; each new batch costs O(batch x bands + candidates).
    """
    batch_id = str(batch_id)
    if not batch_id or "/" in batch_id or (
            batch_id.isdigit() and str(int(batch_id)) != batch_id):
        # leading-zero numerics are rejected: Spark partition-value
        # inference parses 'batch=0006' as int 6, so the replay
        # self-exclusion filter could no longer match it
        raise ValueError(f"bad batch_id {batch_id!r}")   # before any
    bands = num_perm // band_r                           # side effect
    _check_index_meta(index_path, num_perm, band_r, shingle_n, threshold)
    # one row per id: a duplicated id inside the batch would multiply
    # every verified pair through the shingle joins below
    new_df = new_df.dropDuplicates([id_col])
    sig = minhash_signatures(new_df, id_col, text_col, num_perm,
                             shingle_n)
    new_bands = _banded_sig(sig, id_col, bands, band_r)
    new_sh = new_df.select(F.col(id_col),
                           _shingles(text_col, shingle_n).alias("sh"))

    import os
    bands_root = os.path.join(index_path, "bands")
    sh_root = os.path.join(index_path, "shingles")

    def _read_old(root, like):
        # missing path = fresh index; anything ELSE (corrupt part,
        # permissions) must propagate — silently treating it as empty
        # would drop every cross-batch pair with zero diagnostics.
        # Existence is probed via the read itself so remote stores
        # (s3://, hdfs://) work — os.path would call every remote
        # index fresh forever.
        from pyspark.errors import AnalysisException
        try:
            df = spark.read.parquet(root)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return spark.createDataFrame([], like.schema)
            raise
        # a replayed batch must not read its own stale partition (it
        # is about to be overwritten, and its rows would double-count)
        # (partition values may infer as int — compare as strings)
        df = df.filter(F.col("batch").cast("string") != str(batch_id))
        # an id re-ingested in THIS batch supersedes its older index
        # rows...
        df = df.join(new_df.select(id_col), id_col, "left_anti")
        # ...and an id recrawled in an EARLIER batch keeps only its
        # latest version: older partitions still hold superseded rows
        # on disk (commits never rewrite other batches), so pick the
        # max batch per id. (length, value) ordering is monotone for
        # unpadded numerics, fixed-width padded ids and date strings
        # alike — and batch ids are already required to be monotone.
        b = F.col("batch").cast("string")
        w = Window.partitionBy(id_col).orderBy(
            F.length(b).desc(), b.desc())
        df = df.withColumn("_br", F.dense_rank().over(w)) \
            .filter(F.col("_br") == 1)
        return df.select(*like.columns)

    old_bands = _read_old(bands_root, new_bands)
    old_sh = _read_old(sh_root, new_sh)
    all_bands = old_bands.unionByName(new_bands)
    cand = (new_bands.alias("x").join(all_bands.alias("y"), "band")
            .filter(F.col(f"x.{id_col}") != F.col(f"y.{id_col}"))
            .select(F.least(f"x.{id_col}", f"y.{id_col}").alias("id_a"),
                    F.greatest(f"x.{id_col}", f"y.{id_col}").alias("id_b"))
            .distinct())
    sh = old_sh.unionByName(new_sh)
    verified = (cand
                .join(sh.selectExpr(f"{id_col} as id_a", "sh as sh_a"),
                      "id_a")
                .join(sh.selectExpr(f"{id_col} as id_b", "sh as sh_b"),
                      "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn("jacc", F.col("inter") / (
                    F.size("sh_a") + F.size("sh_b") - F.col("inter")))
                .filter(F.col("jacc") >= threshold)
                .select("id_a", "id_b", F.round("jacc", 6).alias("jacc")))
    if commit:
        # materialize BEFORE the overwrite: a replayed batch_id replaces
        # index files the lazy result still reads (FILE_NOT_EXIST on a
        # later collect otherwise)
        verified = verified.localCheckpoint(eager=True)
        new_bands.write.mode("overwrite").parquet(
            os.path.join(bands_root, f"batch={batch_id}"))
        new_sh.write.mode("overwrite").parquet(
            os.path.join(sh_root, f"batch={batch_id}"))
    return verified
