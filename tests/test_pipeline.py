"""Training-data pipeline operators: recall on constructed near-dups,
plus text analysis and dedup clustering checks."""

from __future__ import annotations

import numpy as np
import pytest

from orc_haskell_spark.pipeline import dedup, text

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some food for the long winter")


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """10 docs: 0/1 near-identical, 2/3 near-identical, rest unrelated."""
    rows = [
        (0, BASE),
        (1, BASE.replace("winter", "summer")),  # 1-word edit
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
        (3, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4)
            .replace("kappa", "lambda", 1)),
        (4, "completely different content about databases and query engines"),
        (5, "yet another unrelated document discussing compression codecs"),
        (6, "spark catalyst tungsten whole stage codegen adaptive execution"),
        (7, "numbers 123 and 456 with UPPER case Letters, punctuation!"),
        (8, "word " * 50),
        (9, "unique terms zebra yak xylophone walrus vulture"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["doc_id", "text"])
    got = {(r.text, r.keeper, r.copies)
           for r in dedup.exact_dedup(df, ["text"], "doc_id").collect()}
    assert got == {("a", 1, 2), ("b", 3, 1)}


def test_jaccard_finds_near_dups(near_dup_docs):
    p = _pairs(dedup.ngram_jaccard_pairs(near_dup_docs, "doc_id", "text", 0.5))
    assert (0, 1) in p and (2, 3) in p
    assert (4, 5) not in p and (0, 9) not in p


def test_minhash_lsh_finds_near_dups(near_dup_docs):
    p = _pairs(dedup.minhash_lsh_pairs(near_dup_docs, "doc_id", "text",
                                       threshold=0.5))
    assert (0, 1) in p and (2, 3) in p
    assert (4, 5) not in p


def test_simhash_finds_near_dups(near_dup_docs):
    # 20 3-bit bands guarantee catching any pair with hamming < 20
    p = _pairs(dedup.simhash_pairs(near_dup_docs, "doc_id", "text",
                                   max_hamming=15, verify_jaccard=0.5,
                                   n_bands=20))
    assert (0, 1) in p and (2, 3) in p


def test_embedding_neardup_and_topk(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(16)
    vecs = [base, base + rng.standard_normal(16) * 0.01,  # near-dup pair
            rng.standard_normal(16), rng.standard_normal(16)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    p = _pairs(dedup.embedding_neardup_pairs(df, "vec_id", "embedding", 0.98))
    assert p == {(0, 1)}


def test_embedding_lsh_matches_exact_verifier(spark):
    """Driver config (threshold=0.3) on the real embeddings table: the
    banded-LSH path must return exactly the pairs the all-pairs
    verifier returns (recall sized to ~1e-9 per-pair miss)."""
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = _pairs(dedup.embedding_neardup_pairs(df, "vec_id", "embedding", 0.3))
    exact = _pairs(dedup.embedding_neardup_pairs_exact(
        df, "vec_id", "embedding", 0.3))
    assert lsh == exact


def test_embedding_lsh_plan_has_no_cartesian(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = dedup.embedding_neardup_pairs(df, "vec_id", "embedding", 0.3)
    plan = pairs._jdf.queryExecution().explainString(
        pairs.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_stats_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog."), (2, "x" * 600)], ["doc_id", "text"])
    ts = {r.doc_id: r for r in text.token_stats(df, "doc_id", "text").collect()}
    assert ts[1].n_tokens == 5
    qs = {r.doc_id: r for r in text.quality_scores(df, "doc_id", "text").collect()}
    assert qs[1].punct_ratio > 0 and qs[2].punct_ratio == 0
    assert qs[2].n_chars == 600


def test_language_id(spark):
    df = spark.createDataFrame([
        (1, "the cat and the dog of the house went to the store in town"),
        (2, "der hund und die katze und das haus nicht der garten"),
        (3, "le chat et la maison et les jardins des villes"),
        (4, "el perro y la casa de que los gatos"),
        (5, "zzz qqq www"),
    ], ["doc_id", "text"])
    got = {r.doc_id: r.pred_lang
           for r in text.language_id(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_fingerprints_detect_shared_content(spark):
    df = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, "something else entirely here")],
        ["doc_id", "text"])
    fp = {r.doc_id: r for r in text.fingerprints(df, "doc_id", "text").collect()}
    assert fp[1].md5 == fp[2].md5 != fp[3].md5
    assert fp[1].min_shingle == fp[2].min_shingle


def test_dedup_clusters_transitive(spark):
    """Connected components over dedup pairs: transitivity (A~B, B~C ->
    one cluster even though A,C were never paired), singletons keep
    their own id, deterministic min-id labels."""
    docs = spark.createDataFrame(
        [(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2), (6, 7)], ["id_a", "id_b"])
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, pairs, "doc_id").collect()}
    assert got == {0: 0, 3: 0, 5: 0, 1: 1, 2: 1, 6: 6, 7: 6, 4: 4}
    # a longer chain still converges (diameter > 2)
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], ["id_a", "id_b"])
    got2 = {r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(docs, chain, "doc_id").collect()}
    assert set(got2.values()) == {0}
    # intermediate rounds + edge checkpoint are RELEASED as iterations
    # supersede them: a diameter-7 run may leave only the final round's
    # checkpoint persisted, never one block set per iteration
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1, (before, after)
