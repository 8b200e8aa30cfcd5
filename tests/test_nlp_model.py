"""Topic-model invariant tests — FIXTURES.md F10/F7 (rows-only ops are
pinned by invariants, not numeric equality: sklearn != MLlib)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fitted(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.nlp_model import _fit_corpus_model

    return _fit_corpus_model(spark, sf_dir)


def test_lda_k_topics_f10(fitted, spark, sf_dir):
    cv_model, lda_model, featured = fitted
    n_docs = featured.count()
    assert lda_model.describeTopics().count() == min(5, n_docs)  # :161


def test_vocab_capped_and_terms_from_vocab(fitted):
    cv_model, lda_model, _ = fitted
    assert len(cv_model.vocabulary) <= 100  # :149 max_features=100
    top = lda_model.describeTopics(10).collect()
    for row in top:
        assert all(0 <= i < len(cv_model.vocabulary) for i in row["termIndices"])


def test_tags_bounded_and_within_vocab(spark, sf_dir, fitted):
    from nlp_data_pipeline_spark.operators.nlp_model import n02_doc_tags

    cv_model, _, _ = fitted
    vocab = set(cv_model.vocabulary)
    rows = n02_doc_tags(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        tags = r["tags_csv"].split(", ") if r["tags_csv"] else []
        assert r["n_tags"] <= 5           # :212 cap
        assert len(tags) == r["n_tags"]
        assert len(set(tags)) == len(tags)        # dedup (:211)
        assert all(t in vocab for t in tags)      # tags ⊆ vocabulary


def test_ordered_dedup_semantics_f7(spark):
    # dict.fromkeys parity (:211): first occurrence order preserved
    df = spark.createDataFrame([(["x", "y", "z", "y", "w", "v"],)], ["tags"])
    got = df.select(F.slice(F.array_distinct("tags"), 1, 5).alias("t")).first()["t"]
    assert got == ["x", "y", "z", "w", "v"]


def test_fit_vocabulary_is_n04_vocabulary(spark, sf_dir, fitted):
    """The LDA is fitted over n04's vocabulary: the fitted vocabulary is
    n04's term list in vocab_rank order, ties included."""
    from nlp_data_pipeline_spark.operators.nlp_model import n04_count_vectorize

    cv_model, _, _ = fitted
    rows = n04_count_vectorize(spark, sf_dir).orderBy("vocab_rank").collect()
    assert len(rows) <= 100
    assert [r["vocab_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert cv_model.vocabulary == [r["term"] for r in rows]


def test_topic_metrics_ranges(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.nlp_model import n03_topic_metrics

    row = n03_topic_metrics(spark, sf_dir).first()
    assert row["n_topics"] >= 1
    assert 0.0 < row["topic_diversity"] <= 1.0    # unique/total (:277)
    assert row["avg_topic_size"] == pytest.approx(10.0)  # top-10 terms each


def test_tags_are_exactly_top2_topics_first3_terms(spark, sf_dir, fitted):
    """Tight n02 invariant (beyond subset-of-vocabulary): for every doc,
    tags == ordered-dedup(first-3-of-top-10 terms of the doc's top-2
    topics)[:n_tags], recomputed independently from the SAME fitted
    model via numpy. Deterministic given the fit, so it does not fight
    LDA seed nondeterminism."""
    import numpy as np

    from nlp_data_pipeline_spark.operators.nlp_model import n02_doc_tags

    cv_model, lda_model, featured = fitted
    vocab = cv_model.vocabulary
    topic_first3 = {
        row["topic"]: [vocab[i] for i in row["termIndices"][:3]]
        for row in lda_model.describeTopics(10).collect()
    }
    from pyspark.ml.functions import vector_to_array

    dists = {
        r["doc_id"]: np.array(r["dist"])
        for r in lda_model.transform(featured)
        .select("doc_id", vector_to_array("topicDistribution").alias("dist"))
        .collect()
    }
    got = {r["doc_id"]: r["tags_csv"] for r in n02_doc_tags(spark, sf_dir).collect()}
    assert set(got) == set(dists)
    for doc_id, dist in dists.items():
        # n02's tie-break: desc prob, then desc topic index (np.argsort
        # stable-ascending + [-2:][::-1] reference parity)
        order = sorted(range(len(dist)), key=lambda i: (-dist[i], -i))[:2]
        expect = list(dict.fromkeys(
            t for topic in order for t in topic_first3[topic]
        ))[:5]
        assert got[doc_id] == ", ".join(expect), doc_id


def test_refit_returns_identical_rows(spark, sf_dir):
    """Two fits of the same input in one session, with every memo
    dropped in between, return identical n01, n02 and n03 rows. Last in
    the module: it replaces the fit the `fitted` fixture returned."""
    from nlp_data_pipeline_spark.operators import nlp_model

    def fresh_fit_rows():
        nlp_model.reset_fit_cache()
        for key in [k for k in nlp_model._TAGS_CACHE if k[1] == sf_dir]:
            nlp_model._TAGS_CACHE.pop(key).unpersist()
        return [
            sorted(map(tuple, op(spark, sf_dir).collect()))
            for op in (
                nlp_model.n01_lda_topics,
                nlp_model.n02_doc_tags,
                nlp_model.n03_topic_metrics,
            )
        ]

    assert fresh_fit_rows() == fresh_fit_rows()
