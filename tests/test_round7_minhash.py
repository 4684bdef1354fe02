"""Round-7 pin: the collect_list + positional-explode candidate
generator in minhash_near_duplicates emits EXACTLY the pair set of the
round-6 band self-join formulation (which this test reconstructs
verbatim), including under bucket caps and with degenerate docs."""

import pytest
from pyspark.sql import functions as F

from batch_import_spark.operators.buckets import cap_hot_buckets
from batch_import_spark.operators.dedup import (
    _shingles_from_tokens,
    lsh_bands,
    minhash_near_duplicates,
)


def _join_formulation(df, num_hashes, num_bands, threshold, max_bucket_size):
    """The round-6 shape: band self-join candidate generation."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    arr = (
        df.select(F.col("doc_id").alias("id"), toks.alias("_tk"))
        .select("id", _shingles_from_tokens(F.col("_tk"), 3).alias("sh"))
        .localCheckpoint(eager=False)
    )
    exploded = arr.select("id", F.explode_outer("sh").alias("shingle"))
    sigs = exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(7 + i))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )
    base = sigs.select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig")
    )
    banded = base.select(
        "id", F.explode(lsh_bands(F.col("sig"), num_bands)).alias("band")
    )
    if max_bucket_size is not None:
        banded, _ = cap_hot_buckets(banded, ["band"], max_bucket_size, eager_stats=False)
    cand = (
        banded.join(banded.select(F.col("band"), F.col("id").alias("id_b")), "band")
        .where(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        cand.join(arr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(arr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@pytest.fixture()
def corpus(spark):
    base = "spark shuffles data between stages when a wide dependency appears"
    rows = []
    # near-dup cluster of 4 (identical but for trailing token)
    for i in range(4):
        rows.append((i, base + f" v{i % 2}"))
    # exact dups
    rows.append((10, base + " v0"))
    # short docs (shingle fallback path: < 3 tokens)
    rows.append((20, "tiny"))
    rows.append((21, "tiny"))
    rows.append((22, "two words"))
    # unrelated docs
    for i in range(30, 60):
        rows.append((i, f"totally different document number {i} about topic {i*7}"))
    # a hot cluster that exceeds a small bucket cap
    for i in range(100, 140):
        rows.append((i, "hot boilerplate sentence repeated across the corpus exactly"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_pair_set_matches_join_formulation(corpus):
    new = minhash_near_duplicates(corpus, num_hashes=16, num_bands=8, threshold=0.8)
    old = _join_formulation(corpus, 16, 8, 0.8, 10_000)
    assert _collect(new) == _collect(old)
    assert len(new.collect()) > 0  # non-vacuous: planted clusters found


def test_pair_set_matches_under_bucket_cap(corpus):
    # cap 10 drops the 40-member hot cluster's bands in BOTH shapes
    new = minhash_near_duplicates(
        corpus, num_hashes=16, num_bands=8, threshold=0.8, max_bucket_size=10
    )
    old = _join_formulation(corpus, 16, 8, 0.8, 10)
    new_rows = _collect(new)
    assert new_rows == _collect(old)
    # hot-cluster pairs (ids 100..139) are dropped by the cap
    assert not any(a >= 100 for a, b, j in new_rows)


def test_pair_set_matches_without_cap(corpus):
    new = minhash_near_duplicates(
        corpus, num_hashes=16, num_bands=8, threshold=0.8, max_bucket_size=None
    )
    old = _join_formulation(corpus, 16, 8, 0.8, None)
    new_rows = _collect(new)
    assert new_rows == _collect(old)
    # without the cap the hot cluster's pairs ARE present
    assert any(a >= 100 for a, b, j in new_rows)


def test_repeated_doc_id_is_rejected(spark):
    """doc_id must be unique: a repeated id raises instead of emitting
    (1, 2) once per row of doc 1 at two different Jaccards. Null ids
    stay tolerated (they never verify-join)."""
    base = "spark shuffles data between stages when a wide dependency appears"
    df = spark.createDataFrame(
        [(1, base + " v0"), (1, base + " v1"), (2, base + " v0")], ["doc_id", "text"]
    )
    pairs = minhash_near_duplicates(df, num_hashes=16, num_bands=8, threshold=0.8)
    with pytest.raises(Exception, match="id 1 is on more than one row"):
        pairs.collect()
    ok = spark.createDataFrame(
        [(None, base + " v0"), (None, base + " v1"), (1, base + " v0"), (2, base + " v0")],
        "doc_id bigint, text string",
    )
    assert _collect(minhash_near_duplicates(ok, num_hashes=16, num_bands=8)) == [(1, 2, 1.0)]
