"""Plans are built in few Python→JVM (py4j) round trips: get_spark turns
off PySpark's per-call origin capture, and each text helper or literal
list is one expression, not one Column call per literal or node."""

import os

import pytest
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.functions.text import (
    clean_text,
    ngrams,
    sentences,
    tokenize,
    tokenize_joined,
    truncate_at_word,
)
from nlp_data_pipeline_spark.operators import doc_pipeline, nlp_model, text_analytics
from nlp_data_pipeline_spark.operators.summarizer import summary_general_path
from nlp_data_pipeline_spark.plans.explain import has_python_eval, physical_plan
from nlp_data_pipeline_spark.session import py4j_calls


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_get_spark_turns_off_origin_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# Ceilings on a warm build (no action) at sf0.001, counting only the
# building thread's commands (the finalizer thread's proxy deletes land
# whenever garbage collection runs). Measured on 4 cores: p01 66, t05
# 432, n03 146 and tokenize(clean_text) 20; the Column-call builders
# with origin capture on made 987, 1,864, 700 and 664.
BUILD_CEILINGS = {
    "p01": (lambda spark, d: doc_pipeline.p01_document_records(spark, d), 150),
    "t05": (lambda spark, d: text_analytics.t05_document_summary(spark, d), 700),
    "n03": (lambda spark, d: nlp_model.n03_topic_metrics(spark, d), 300),
    "tokenize": (
        lambda spark, d: _docs(spark, d).select(tokenize(clean_text("text")).alias("t")),
        60,
    ),
}


@pytest.mark.parametrize("name", sorted(BUILD_CEILINGS))
def test_warm_build_round_trips_stay_under_ceiling(spark, sf_dir, name):
    build, ceiling = BUILD_CEILINGS[name]
    build(spark, sf_dir).collect()  # warm: memos, first-call caches
    with py4j_calls() as calls:
        build(spark, sf_dir)
    assert 0 < calls.own <= ceiling, (name, calls.own)


def test_tokenize_plan_is_an_inset_probe_without_python(spark, sf_dir):
    df = _docs(spark, sf_dir).select(tokenize(clean_text("text")).alias("t"))
    assert "INSET" in physical_plan(df)
    assert not has_python_eval(df)


def test_summarizer_terms_plan_is_an_inset_probe_without_python(spark):
    text = "The quick brown fox jumps. A lazy dog sleeps here. Foxes run far away. Dogs dream."
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    df = summary_general_path(spark, docs.select("doc_id", clean_text("text").alias("ctext")), 2)
    assert "INSET" in physical_plan(df)
    assert not has_python_eval(df)


def _helper_rows(session, texts):
    df = session.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    return (
        df.select(
            "i",
            clean_text("text").alias("c"),
            tokenize(clean_text("text")).alias("t"),
            tokenize_joined(clean_text("text")).alias("j"),
            sentences("text").alias("s"),
            truncate_at_word(clean_text("text"), 20).alias("u"),
        )
        .select("*", ngrams("t", 2).alias("b"), F.explode_outer(ngrams("t", 3)).alias("g"))
        .orderBy("i", "g")
        .collect()
    )


def test_helpers_give_identical_rows_in_a_new_session(spark, sf_dir):
    texts = [
        "The Quick brown fox, jumps over the lazy dog! It is here. Again and again.",
        "",
        None,
        "İstanbul naïve café — déjà vu; a b c",
    ]
    fresh = spark.newSession()
    assert _helper_rows(fresh, texts) == _helper_rows(spark, texts)
    # an operator run on a session that is not the active one
    assert sorted(text_analytics.t01_token_freq_top10(fresh, sf_dir).collect()) == sorted(
        text_analytics.t01_token_freq_top10(spark, sf_dir).collect()
    )
