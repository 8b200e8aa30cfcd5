"""Dedup operator tests — FIXTURES.md F11 (synthetic near-dups the
driver corpus lacks) + determinism of the md5 hash family."""

from pyspark.sql import functions as F

from nlp_data_pipeline_spark.functions.text import clean_text, tokenize
from nlp_data_pipeline_spark.operators.dedup import (
    BAND_SIZE,
    NUM_HASHES,
    _shingles,
)

BASE = (
    "large scale data processing engines shuffle partition broadcast join "
    "aggregate window stream batch vector column row schema parquet arrow "
    "catalyst tungsten executor driver task stage lineage checkpoint cache "
    "memory disk spill compress encode decode serialize network transfer"
)
NEAR = BASE.replace("broadcast", "multicast")  # 1-token edit
OTHER = (
    "completely different subject matter about cooking recipes pasta salt "
    "tomato basil garlic oven kitchen dinner lunch morning evening night"
)


def _docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_three(spark):
    d = _docs(spark)
    kept = (
        d.groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(kept) == 3  # 0/1 collapse
    dup = [r for r in kept if r["n"] == 2]
    assert len(dup) == 1 and dup[0]["keeper"] == 0  # first occurrence kept


def _signatures(df):
    toks = tokenize(clean_text("text"))
    ss = (
        df.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", F.explode(F.array_distinct(_shingles("t"))).alias("shingle"))
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"seed{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return ss.groupBy("doc_id").agg(*aggs)


def test_minhash_pairs_near_duplicates(spark):
    sig = {r["doc_id"]: [r[f"h{i}"] for i in range(NUM_HASHES)] for r in _signatures(_docs(spark)).collect()}
    # exact duplicates: identical signatures
    assert sig[0] == sig[1]
    # near-dup: shares at least one full band with the original
    n_bands = NUM_HASHES // BAND_SIZE
    shared_bands = sum(
        1
        for b in range(n_bands)
        if sig[0][b * BAND_SIZE : (b + 1) * BAND_SIZE] == sig[2][b * BAND_SIZE : (b + 1) * BAND_SIZE]
    )
    assert shared_bands >= 1
    # unrelated doc: no shared band
    shared_other = sum(
        1
        for b in range(n_bands)
        if sig[0][b * BAND_SIZE : (b + 1) * BAND_SIZE] == sig[3][b * BAND_SIZE : (b + 1) * BAND_SIZE]
    )
    assert shared_other == 0


def test_minhash_determinism_across_runs(spark):
    a = _signatures(_docs(spark)).collect()
    b = _signatures(_docs(spark)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_shingles_order_and_count(spark):
    df = spark.createDataFrame([(["one", "two", "three", "four"],)], ["t"])
    got = df.select(_shingles("t").alias("s")).first()["s"]
    assert got == ["one two three", "two three four"]


def test_shingles_short_arrays_are_empty_not_error(spark):
    # Spark's sequence(1, 0) is DESCENDING [1, 0] — ngrams() must guard
    # or short docs crash with an invalid element_at(…, 0) index
    df = spark.createDataFrame([(0, []), (1, ["solo"]), (2, ["two", "toks"])], ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", _shingles("t").alias("s")).collect()}
    assert got == {0: [], 1: [], 2: []}


def test_d05_hot_shingle_cap_bounds_pairs(spark, monkeypatch):
    """The d05 stop-shingle rule: with the per-source document-frequency
    cap forced to 1, no shingle survives in two docs of the same source,
    so the postings self-join yields ZERO pair rows — a planted
    boilerplate shingle can never contribute quadratic pairs. At the
    default cap the same corpus produces a non-empty top-k."""
    from nlp_data_pipeline_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    assert dedup.d05_shingle_jaccard_topk(spark, sf).count() > 0
    monkeypatch.setattr(dedup, "_D05_MAX_DF", 1)
    assert dedup.d05_shingle_jaccard_topk(spark, sf).count() == 0
