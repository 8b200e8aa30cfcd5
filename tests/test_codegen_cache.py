"""The codegen class cache holds the upload flow's working set: a
repeated flow compiles nothing new (session.get_spark sizes
``spark.sql.codegen.cache.maxEntries``)."""

import os
import shutil

from nlp_data_pipeline_spark.operators import doc_pipeline, nlp_model, text_analytics
from nlp_data_pipeline_spark.session import codegen_compiles
from nlp_data_pipeline_spark.sources.writers import write_csv


def _upload_flow(spark, req_dir: str) -> None:
    """p01 → t05 → n01 → n02 → n03 → p03 CSV export, as one upload."""
    doc_pipeline.p01_document_records(spark, req_dir).collect()
    text_analytics.t05_document_summary(spark, req_dir).collect()
    nlp_model.n01_lda_topics(spark, req_dir).collect()
    nlp_model.n02_doc_tags(spark, req_dir).collect()
    nlp_model.n03_topic_metrics(spark, req_dir).collect()
    write_csv(
        doc_pipeline.p03_records_with_lda_tags(spark, req_dir),
        os.path.join(req_dir, "export_csv"),
    )


def test_repeated_upload_flow_compiles_nothing(spark, sf_dir, tmp_path):
    compiles = []
    for run in range(3):
        # a fresh copy per run, so no path-keyed memo answers it
        req_dir = str(tmp_path / f"req{run}")
        os.makedirs(req_dir)
        shutil.copy(os.path.join(sf_dir, "documents.parquet"), req_dir)
        before = codegen_compiles(spark)
        _upload_flow(spark, req_dir)
        compiles.append(codegen_compiles(spark) - before)
        nlp_model.reset_fit_cache()
        for key in [k for k in nlp_model._TAGS_CACHE if k[1] == req_dir]:
            nlp_model._TAGS_CACHE.pop(key).unpersist()
    assert compiles[0] > 0  # the counter is live
    assert compiles[2] == 0, compiles
