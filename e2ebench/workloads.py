"""The benchmark's workloads: what one request runs, and how its outputs
are checked.

A request reads a directory nobody has read before, so the library's
per-path memos (``nlp_model._MODEL_CACHE``, the on-disk
``nlp_lda_cache_*`` model, ``nlp_model._TAGS_CACHE``) cannot answer it.

Checks compare each request's own outputs either with the module's
DuckDB oracle over the tables the request read (through
``tools/check_oracle.compare``; the oracles run in a child process, see
oracle.py) or with invariants that hold for every input. They never compare with what the generator intended: a "near"
duplicate may collide into an exact one, and a recall floor tuned on
one seed can fail on another.
"""

from __future__ import annotations

import csv
import glob
import os
import re
import shutil

import gen
import oracle

# one span per library call a request makes: upload's, then curate_search's
ALL_SPANS = [
    "doc_pipeline.p01_document_records",
    "text_analytics.t05_document_summary",
    "nlp_model.n01_lda_topics",
    "nlp_model.n02_doc_tags",
    "nlp_model.n03_topic_metrics",
    "writers.write_csv",
    "dedup.d06_neardup_clusters",
    "dedup.d07_dedup_materialize",
    "similarity.s01_cosine_topk",
    "similarity.s07_ivf_probe_search",
    "similarity.s11_pq_adc_search",
    "similarity.s12_bm25_topk",
]

SUMMARY_MAX = 150  # t05's default max_length


class Collected:
    """A query result already brought to the driver, shaped like the
    DataFrame ``check_oracle.compare`` expects (``columns``, ``collect``)."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = [tuple(r) for r in df.collect()]

    def collect(self) -> list[tuple]:
        return self._rows

    def dicts(self) -> list[dict]:
        return [dict(zip(self.columns, r)) for r in self._rows]


def _oracle_issues(name: str, got: Collected, expected: tuple[list[str], list[tuple]]) -> list[str]:
    from tools.check_oracle import compare

    cols, rows = expected
    return [f"{name}: {i}" for i in compare(name, got, rows, cols)]


def _clean(text: str) -> str:
    """``functions.text.clean_text`` for the generator's ASCII text."""
    c = re.sub(r"\s+", " ", text).lower()
    c = re.sub(r"[^\w\s.]", " ", c)
    return re.sub(r" +", " ", c).strip()


def _sentences(ctext: str) -> list[str]:
    return [s.strip() for s in re.split(r"[.!?]+", ctext) if len(s.strip()) > 10]


def _summary_issue(summary: str, ctext: str) -> str | None:
    """None when ``summary`` is the document's own sentences, in
    document order, joined by '. ', possibly cut at a word boundary."""
    if len(summary) > SUMMARY_MAX + 3:
        return f"summary longer than {SUMMARY_MAX + 3}"
    sents = _sentences(ctext)
    cut = summary.endswith("...")
    body = summary[:-3] if cut else summary
    if not cut and not body.endswith("."):
        return "summary does not end a sentence"
    pieces = body.rstrip(".").split(". ")
    pos = -1
    for k, piece in enumerate(pieces):
        last = k == len(pieces) - 1
        nxt = next(
            (
                j
                for j in range(pos + 1, len(sents))
                if sents[j] == piece
                or (cut and last and (sents[j] + " ").startswith(piece + " "))
            ),
            None,
        )
        if nxt is None:
            return f"summary piece {piece[:40]!r} is not a later sentence of the document"
        pos = nxt
    return None


class Upload:
    """The reference app's own use at its own size: a batch of 16 uploaded
    documents goes through clean/tokenize → TF-IDF summary → LDA → tags →
    metrics → CSV export. PDF decode is left out: see README.md, "Known
    library defect"."""

    name = "upload"

    def __init__(self, seed: int, scale: str):
        self.seed = seed
        self.n_docs = {"full": 16, "tiny": 6}[scale]

    def generate(self, work: str) -> None:
        """Write the batch as ``documents.parquet``, and evaluate ``P01_SQL``
        on it before Spark starts: every request reads a byte copy."""
        from nlp_data_pipeline_spark.operators.doc_pipeline import P01_SQL

        self.template = os.path.join(work, "template_tables")
        self.texts = gen.texts(self.seed, self.n_docs, "upload")
        docs_path = os.path.join(self.template, "documents.parquet")
        gen.write_documents(docs_path, gen.upload_documents(self.texts), 1)
        self.expected_p01 = oracle.evaluate({"p01": P01_SQL}, {"documents": docs_path})["p01"]

    def place(self, req_dir: str) -> None:
        shutil.copytree(self.template, req_dir, dirs_exist_ok=True)

    def run(self, spark, tracer, req_dir: str, req: int) -> dict:
        from nlp_data_pipeline_spark.operators import doc_pipeline, nlp_model, text_analytics
        from nlp_data_pipeline_spark.sources import writers

        out = {}
        with tracer.span("doc_pipeline.p01_document_records", req):
            out["p01"] = Collected(doc_pipeline.p01_document_records(spark, req_dir))
        with tracer.span("text_analytics.t05_document_summary", req):
            out["t05"] = Collected(text_analytics.t05_document_summary(spark, req_dir))
        with tracer.span("nlp_model.n01_lda_topics", req):
            out["n01"] = Collected(nlp_model.n01_lda_topics(spark, req_dir))
        with tracer.span("nlp_model.n02_doc_tags", req):
            out["n02"] = Collected(nlp_model.n02_doc_tags(spark, req_dir))
        with tracer.span("nlp_model.n03_topic_metrics", req):
            out["n03"] = Collected(nlp_model.n03_topic_metrics(spark, req_dir))
        with tracer.span("writers.write_csv", req):
            writers.write_csv(
                doc_pipeline.p03_records_with_lda_tags(spark, req_dir),
                os.path.join(req_dir, "export_csv"),
            )
        return out

    def check(self, out: dict, req_dir: str) -> list[str]:
        from nlp_data_pipeline_spark.config import DEFAULT_CONFIG
        from nlp_data_pipeline_spark.functions.text import STOP_WORDS

        ids = set(range(self.n_docs))
        issues = _oracle_issues("p01", out["p01"], self.expected_p01)

        ctext = {i: _clean(t) for i, t in enumerate(self.texts)}
        t05 = out["t05"].dicts()
        if sorted(r["doc_id"] for r in t05) != sorted(ids):
            issues.append("t05: not one summary per document")
        for r in t05:
            bad = _summary_issue(r["summary"], ctext.get(r["doc_id"], ""))
            if bad:
                issues.append(f"t05: doc {r['doc_id']}: {bad}")

        terms: set[str] = set()
        for c in ctext.values():
            toks = [t for t in c.split(" ") if len(t) > 2 and t not in STOP_WORDS]
            terms.update(toks)
            terms.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        k = min(DEFAULT_CONFIG.n_topics, self.n_docs)
        n01 = out["n01"].dicts()
        if len(n01) != k * 10:
            issues.append(f"n01: {len(n01)} rows, expected k*10 = {k * 10}")
        if any(r["term"] not in terms for r in n01):
            issues.append("n01: a topic term is not in the documents' vocabulary")
        top3: dict[int, list[str]] = {}
        for r in sorted(n01, key=lambda r: (r["topic"], r["term_rank"])):
            if r["term_rank"] <= 3:
                top3.setdefault(r["topic"], []).append(r["term"])

        n02 = out["n02"].dicts()
        if sorted(r["doc_id"] for r in n02) != sorted(ids):
            issues.append("n02: not one row per document")
        allowed = _tag_lists(top3, DEFAULT_CONFIG.n_tags)
        for r in n02:
            tags = r["tags_csv"].split(", ") if r["tags_csv"] else []
            if r["n_tags"] != len(tags) or tuple(tags) not in allowed:
                issues.append(f"n02: doc {r['doc_id']} tags {tags} are not its topics' top-3 terms")

        n03 = out["n03"].dicts()
        if len(n03) != 1 or n03[0]["n_topics"] != k:
            issues.append(f"n03: n_topics is not k = {k}")

        rows = 0
        for part in glob.glob(os.path.join(req_dir, "export_csv", "*.csv")):
            with open(part, newline="") as fh:
                rows += max(0, sum(1 for _ in csv.reader(fh)) - 1)  # minus header
        if rows != self.n_docs:
            issues.append(f"csv: {rows} data rows, expected {self.n_docs}")
        return issues

    def mutate(self, out: dict, how: str) -> None:
        """Deliberately wrong output, for the self-test."""
        if how == "n01_drop_row":
            out["n01"]._rows = out["n01"]._rows[1:]


def _tag_lists(top3: dict[int, list[str]], n_tags: int) -> set[tuple[str, ...]]:
    """Every tag list n02 may emit: the ordered dedup of two distinct
    topics' top-3 terms (one topic when k = 1), capped at ``n_tags``."""
    topics = sorted(top3)
    pairs = [(a, b) for a in topics for b in topics if a != b] or [(a,) for a in topics]
    out = set()
    for pair in pairs:
        terms = [t for p in pair for t in top3[p]]
        out.add(tuple(dict.fromkeys(terms))[:n_tags])
    return out


class CurateSearch:
    """Curation and retrieval: MinHash-LSH near-dup clusters, exact dedup,
    and four vector/keyword searches. Never touches nlp_model or
    summarizer."""

    name = "curate_search"

    def __init__(self, seed: int, scale: str):
        self.seed = seed
        self.n_docs = {"full": 500, "tiny": 200}[scale]

    def generate(self, work: str) -> None:
        """Write the tables, and evaluate the oracles on them before Spark
        starts: every request gets a byte copy of these tables, so the
        oracles' rows are the same for all of them."""
        from nlp_data_pipeline_spark.operators import dedup, similarity

        self.template = os.path.join(work, "template_tables")
        tables = {
            "documents": os.path.join(self.template, "documents.parquet"),
            "embeddings": os.path.join(self.template, "embeddings.parquet"),
        }
        gen.write_documents(
            tables["documents"], gen.curation_documents(self.seed, self.n_docs), 4
        )
        gen.write_documents(tables["embeddings"], gen.embeddings_table(self.seed, self.n_docs), 1)
        self.expected = oracle.evaluate(
            {
                "d06": dedup.D06_SQL,
                "d07": dedup.D07_SQL,
                "s01": similarity.S01_SQL,
                "s07": similarity.S07_SQL,
                "s11": similarity.S11_SQL,
                "s12": similarity.S12_SQL,
            },
            tables,
        )

    def place(self, req_dir: str) -> None:
        shutil.copytree(self.template, req_dir, dirs_exist_ok=True)

    def run(self, spark, tracer, req_dir: str, req: int) -> dict:
        from nlp_data_pipeline_spark.operators import dedup, similarity

        out = {}
        for span, fn in (
            ("dedup.d06_neardup_clusters", dedup.d06_neardup_clusters),
            ("dedup.d07_dedup_materialize", dedup.d07_dedup_materialize),
            ("similarity.s01_cosine_topk", similarity.s01_cosine_topk),
            ("similarity.s07_ivf_probe_search", similarity.s07_ivf_probe_search),
            ("similarity.s11_pq_adc_search", similarity.s11_pq_adc_search),
            ("similarity.s12_bm25_topk", similarity.s12_bm25_topk),
        ):
            with tracer.span(span, req):
                out[span.split(".")[1][:3]] = Collected(fn(spark, req_dir))
        return out

    def check(self, out: dict, req_dir: str) -> list[str]:
        return [
            i for key, rows in self.expected.items() for i in _oracle_issues(key, out[key], rows)
        ]

    def mutate(self, out: dict, how: str) -> None:
        """Deliberately wrong output, for the self-test."""
        if how == "d07_drop_keeper":
            out["d07"]._rows = out["d07"]._rows[1:]


WORKLOADS = {w.name: w for w in (Upload, CurateSearch)}
