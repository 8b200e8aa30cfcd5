"""Extractive TF-IDF summarization as a distributed DataFrame pipeline.

Reference semantics (/root/reference/nlp_data_tagging.py:86-130):

1. split text into sentences (re.split('[.!?]+'), keep len>10)   (:89)
2. early exit: if n_sentences <= num_sentences → return text     (:91-92)
3. TF-IDF over the document's sentences (fit per document)       (:95-96)
4. sentence score = sum of its L2-normalized TF-IDF row          (:99)
5. take top-k scores, re-sort selected indices ascending to
   restore document order, join with '. ' and append '.'         (:102-106)
6. length control: truncate at last word boundary + '...'        (:118-130)

The reference fits a *separate* sklearn vectorizer per document inside
a Python loop. Distributed re-expression: explode all sentences of all
documents, compute tf / df / idf **per document** so every document's
model is fit independently — no per-document driver loop. Every
relation is keyed by doc_id, so the whole summary needs ONE exchange,
hashpartitioning(doc_id), right after the sentence split: each later
aggregate and window (sentence count, tf, term totals and df, the
vocabulary cap, sentence scores, top-k, the final collect) is keyed by
doc_id plus more columns and reuses that partitioning — no join, no
checkpoint. This is the shape that survives 100 TB: all per-document
state lives in one shuffle, never on the driver.

Deliberate deviation (documented): sklearn's TfidfVectorizer uses its
built-in 318-word english stop list and token_pattern \\w\\w+ with
max_features=100. We use token_pattern parity (\\w\\w+) and the app's
own 118-word STOP_WORDS (the set the rest of the reference pipeline
uses), with the same max_features cap (top-100 per-document terms by
frequency, alphabetical tie-break, matching sklearn's selection rule).
Numeric score parity with sklearn is therefore approximate; ordering
invariants are tested on fixtures instead (tests/test_summarizer.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nlp_data_pipeline_spark.functions.text import _STOP_SQL, sentences


def summary_general_path(
    spark: SparkSession, docs: DataFrame, num_sentences: int, vocab_size: int = 100
) -> DataFrame:
    """TF-IDF top-k sentence summary for docs with > num_sentences sentences.

    ``docs`` must have (doc_id, ctext). Returns (doc_id, general_summary)
    containing only documents that take the general (non-early-exit) path.
    """
    by_doc = Window.partitionBy("doc_id")
    by_term = Window.partitionBy("doc_id", "term")
    sent = (
        docs.select(
            "doc_id", F.posexplode(sentences("ctext")).alias("sent_pos", "sentence")
        )
        # the one exchange: hashpartitioning(doc_id)
        .withColumn("n_sentences", F.count(F.lit(1)).over(by_doc))
        .filter(F.col("n_sentences") > num_sentences)
    )

    # one expression: built from Columns, the 118 stopword literals were
    # one py4j round trip each. IN over >10 literals plans as an INSET
    # hash probe; array_contains was an O(118) scan per token
    terms = F.expr(
        "filter(regexp_extract_all(lower(sentence), '\\\\w\\\\w+', 0),"
        f" t -> NOT t IN ({_STOP_SQL}))"
    )
    # explode_outer keeps a sentence without terms as one row whose
    # term is null: it scores 0 (sklearn's row of zeros) with no
    # backfill join
    tf = (
        sent.select(
            "doc_id", "sent_pos", "n_sentences", "sentence",
            F.explode_outer(terms).alias("term"),
        )
        .groupBy("doc_id", "sent_pos", "n_sentences", "sentence", "term")
        .agg(F.count("term").alias("tf"))
        # per-document term totals and df (rows are distinct
        # (doc, sent, term), so df is a row count)
        .withColumn("total_tf", F.sum("tf").over(by_term))
        .withColumn("df", F.count("term").over(by_term))
        # per-document vocabulary cap (sklearn max_features rule:
        # frequency desc, term asc); null terms sort last
        .withColumn(
            "vrank",
            F.dense_rank().over(by_doc.orderBy(F.desc("total_tf"), F.asc("term"))),
        )
    )
    idf = (
        F.log(
            (F.lit(1.0) + F.col("n_sentences").cast("double"))
            / (F.lit(1.0) + F.col("df").cast("double"))
        )
        + F.lit(1.0)
    )
    # out-of-vocabulary and null terms get a null tfidf, which sum skips
    in_vocab = F.col("term").isNotNull() & (F.col("vrank") <= vocab_size)
    tf = tf.withColumn("tfidf", F.when(in_vocab, F.col("tf").cast("double") * idf))

    # sentence score = sum of L2-normalized row  (:99 — row sums of the
    # normalized matrix) = sum(tfidf) / sqrt(sum(tfidf^2)); 0 when the
    # sentence has no in-vocab term
    sent_scores = tf.groupBy("doc_id", "sent_pos", "sentence").agg(
        F.coalesce(
            F.sum("tfidf") / F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))), F.lit(0.0)
        ).alias("score")
    )

    # top-k by score; numpy argsort is stable ascending, so `[-k:]` keeps
    # the *last* occurrence among ties — i.e. ties prefer the LATER
    # sentence position (:102). Emulate: desc score, desc sent_pos. The
    # score is rounded to 9 places so that an exact tie stays a tie: the
    # sums' order, and with it the last bits (~1e-15), varies by plan.
    wk = by_doc.orderBy(F.desc(F.round("score", 9)), F.desc("sent_pos"))
    picked = sent_scores.withColumn("k_rank", F.row_number().over(wk)).filter(
        F.col("k_rank") <= num_sentences
    )
    # restore original order (:103) and join (:106)
    return (
        picked.groupBy("doc_id")
        .agg(
            F.concat(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("sent_pos", "sentence"))),
                        lambda s: s.sentence,
                    ),
                    ". ",
                ),
                F.lit("."),
            ).alias("general_summary")
        )
    )
