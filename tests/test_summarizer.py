"""Summarizer general-path tests (punctuated fixtures the driver corpus
lacks — FIXTURES.md F4/F5 and the TF-IDF ranking path R8-R9)."""

import math
import os
import random
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from nlp_data_pipeline_spark.functions.text import STOP_WORDS, clean_text
from nlp_data_pipeline_spark.operators.summarizer import summary_general_path
from nlp_data_pipeline_spark.operators.text_analytics import t05_document_summary
from nlp_data_pipeline_spark.session import group_jobs, job_group


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "ctext"]
    )


def test_general_path_selects_k_sentences_in_order(spark):
    # 5 distinct sentences; target 2 → output must be 2 sentences joined
    # in ORIGINAL document order (:103 re-sort) ending with '.'
    text = (
        "alpha bravo charlie delta repeated. "
        "echo foxtrot golf hotel india. "
        "juliet kilo lima mike november. "
        "oscar papa quebec romeo sierra. "
        "alpha bravo charlie delta repeated again."
    )
    out = summary_general_path(None, _docs(spark, [text]), 2).collect()
    assert len(out) == 1
    summary = out[0]["general_summary"]
    assert summary.endswith(".")
    parts = [s for s in summary.split(". ") if s]
    assert len(parts) == 2
    # order preserved: each part appears in the source in the same order
    positions = [text.find(p.rstrip(".")) for p in parts]
    assert positions == sorted(positions) and all(p >= 0 for p in positions)


def test_early_exit_docs_excluded(spark):
    # 2 sentences <= target 3 → general path emits nothing for this doc
    out = summary_general_path(
        None, _docs(spark, ["one sentence long enough here. two sentence also long enough."]), 3
    ).collect()
    assert out == []


def test_l2_normalized_scoring_favors_term_rich_sentence(spark):
    # reference scores = row sums of the L2-NORMALIZED tf-idf matrix
    # (:99): for a sentence with n roughly-equal-weight distinct terms the
    # score ≈ sqrt(n), so the distinct-term-richest sentence wins top-1 —
    # NOT the one that repeats a few terms (repetition cancels in the norm)
    text = (
        "spark engine spark engine spark engine runs fast. "
        "unrelated words entirely different topic here. "
        "spark engine computes spark engine answers quickly."
    )
    out = summary_general_path(None, _docs(spark, [text]), 1).collect()
    assert out[0]["general_summary"] == "unrelated words entirely different topic here."


def _reference_summary(text, k, vocab_size=100):
    """Pure-Python general path (reference :86-106 with the app's
    STOP_WORDS); None for an early-exit document."""
    sents = [s.strip() for s in re.split(r"[.!?]+", text)]
    sents = [s for s in sents if len(s) > 10]
    n = len(sents)
    if n <= k:
        return None
    toks = [
        [t for t in re.findall(r"\w\w+", s.lower(), re.ASCII) if t not in STOP_WORDS]
        for s in sents
    ]
    total = Counter(t for ts in toks for t in ts)
    vocab = set(sorted(total, key=lambda t: (-total[t], t))[:vocab_size])
    df = Counter(t for ts in toks for t in set(ts))
    scores = []
    for ts in toks:
        w = [
            c * (math.log((1 + n) / (1 + df[t])) + 1)
            for t, c in Counter(ts).items()
            if t in vocab
        ]
        scores.append(sum(w) / math.sqrt(sum(x * x for x in w)) if w else 0.0)
    # stable ascending argsort, last k: the later sentence wins a tie
    top = sorted(range(n), key=lambda i: round(scores[i], 9))[-k:]
    return ". ".join(sents[i] for i in sorted(top)) + "."


def _random_doc(rng, words):
    sents = []
    for _ in range(rng.randint(2, 12)):
        sents.append(" ".join(rng.choice(words) for _ in range(rng.randint(1, 14))))
    return " ".join(s + rng.choice([".", "!", "?", "..."]) for s in sents)


def test_general_path_matches_pure_python_reference(spark):
    rng = random.Random(5)
    words = [f"w{i}" for i in range(40)] + ["the", "and", "of", "x", "9", "spark"]
    texts = [_random_doc(rng, words) for _ in range(27)]
    texts += [
        # a sentence with no terms (stop words and 1-char tokens only)
        "alpha beta gamma delta. the and of it was a b c. gamma delta again here. "
        "epsilon zeta alpha beta. more gamma than alpha here.",
        # more than 100 distinct terms: the vocabulary cap bites
        " ".join(
            " ".join(f"t{j}" for j in range(i * 13, i * 13 + 17)) + "." for i in range(10)
        ),
        # early exit: 3 sentences <= k
        "only three sentences here. the second one is here. and a third one here.",
    ]
    got = {
        r["doc_id"]: r["general_summary"]
        for r in summary_general_path(None, _docs(spark, texts), 3).collect()
    }
    want = {i: _reference_summary(t, 3) for i, t in enumerate(texts)}
    assert got == {i: s for i, s in want.items() if s is not None}
    assert want[len(texts) - 1] is None and len(got) >= 20


# Upload document 3 of e2ebench seed 1008 (``gen.texts(1008, 16,
# "upload")[3]``): sentences 4, 6 and 10 score exactly alike, and the
# order of the score sums used to decide the tie by its last bits.
_TIED_DOC = (
    "Grozi crarel dedre dreple tomou vetiloux soutrefol bratren suzou. Pakufun crurecir "
    "traifix raibudam stizis piplecal lerer vofebrum limous. Sufaiplas grozi plagrigraix "
    "raibudam dracril vofebrum souvair vaibrun dracril for. Trunouplal and in lerer "
    "moubroubain cagex to plagrigraix. Katrun grouvim trefoux tomou baivapom boutucom "
    "dedre. Dretaidol and zipitros nainous vetroum bibristim moubroubain bratren "
    "trounisti plucaim. Nezoun baivapom stougrus limous craitrougral griplus with "
    "sousaim. In tubigrur sufaiplas stougrus raibudam for grainoucos craitrougral "
    "goutal. Pufoudrais kagax grainoucos baivapom bodrutrair braidoum spark traifix "
    "vofebrum scan raibudam bibristim. Plagrigraix droutrepil sufaiplas traifix suzou "
    "zipitros brucri dreple sufaiplas of pakufun poupastil. Grouvim the lasoum limous "
    "drison cagex dreplai dedre."
)


def test_exact_score_tie_keeps_the_later_sentences(spark):
    # one copy per doc_id 0..7, so the copies land in different shuffle
    # partitions and sum their scores in different orders
    docs = spark.createDataFrame([(i, _TIED_DOC) for i in range(8)], ["doc_id", "text"])
    docs = docs.select("doc_id", clean_text("text").alias("ctext"))
    ctext = docs.first()["ctext"]
    sents = [s for s in (p.strip() for p in re.split(r"[.!?]+", ctext)) if len(s) > 10]
    want = ". ".join(s for i, s in enumerate(sents) if i not in (2, 3, 4, 7)) + "."
    assert want == _reference_summary(ctext, 7)
    out = summary_general_path(None, docs, 7).collect()
    assert {r["doc_id"]: r["general_summary"] for r in out} == {i: want for i in range(8)}


def test_t05_summary_runs_in_one_doc_id_exchange(spark, tmp_path):
    rng = random.Random(11)
    words = [f"w{i}" for i in range(60)]
    texts = [_random_doc(rng, words) + " " + _TIED_DOC for _ in range(8)]
    table = pa.table({"doc_id": pa.array(range(8), pa.int64()), "text": texts})
    pq.write_table(table, os.path.join(tmp_path, "documents.parquet"))
    with job_group(spark, "t05_plan_shape"):
        df = t05_document_summary(spark, str(tmp_path))
        df.collect()
    # the final adaptive plan (the root's string also holds the initial one)
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "localCheckpoint" not in plan
    assert group_jobs(spark, "t05_plan_shape") <= 4
