"""Non-parquet sources: csv / json / text / binaryFile (+ PDF extraction).

Reference parity: the app's only source is PDF upload
(/root/reference/nlp_data_tagging.py:37-47, :370-375). Here that
becomes ``spark.read.format("binaryFile")`` → Arrow-batched extraction
kernel; csv/json/text readers round out the envelope (SURVEY.md §2.B
"Scans/sources").

PDF decode path: pypdf/PyPDF2 when installed (the reference's own
dependency), else a pure-stdlib fallback that handles the common case
— Flate-or-plain content streams with literal-string Tj/TJ text
operators (the PDF 1.x text model). Files neither library path can
parse degrade to the reference's own error path (:45-47 — errors
become None).
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read.option("header", True)
    reader = reader.schema(schema) if schema else reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    return spark.read.text(path, wholetext=whole)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Opaque file ingestion: (path, modificationTime, length, content)."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


# --- minimal pure-stdlib PDF text extraction ------------------------------
# A PDF literal string: ( ... ) with \-escapes, no nested unescaped parens
_PDF_STR = rb"\((?:\\.|[^\\()])*\)"
_TJ_RE = re.compile(rb"(" + _PDF_STR + rb")\s*Tj")
_TJ_ARR_RE = re.compile(rb"\[[^\[\]]*?\]\s*TJ", re.S)
_STR_RE = re.compile(_PDF_STR)
_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> str:
    """Decode one literal string body (parens stripped): \\-escapes and
    \\ddd octal per PDF 32000-1 §7.3.4.2; bytes are Latin-1-ish."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            m = re.match(rb"[0-7]{1,3}", raw[i + 1 : i + 4])
            if m:
                out.append(int(m.group(), 8) & 0xFF)
                i += 1 + len(m.group())
                continue
            i += 1  # lone backslash: PDF says drop it
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _extract_pdf_fallback(content: bytes) -> str | None:
    """Stdlib-only text extraction for simple-text-model PDFs.

    Walks every ``<<dict>> stream…endstream`` object, inflates
    /FlateDecode streams with zlib, and collects the literal strings of
    Tj / TJ show-text operators in document order. Returns None when
    nothing parseable is found (reference error path :45-47). Custom
    font encodings/CID text are out of scope — that is pypdf's job when
    it is installed.
    """
    if not content.lstrip()[:5].startswith(b"%PDF-"):
        return None
    pieces: list[str] = []
    for m in _STREAM_RE.finditer(content):
        sdict, body = m.group(1), m.group(2)
        if b"FlateDecode" in sdict:
            # inflate up to the end of the deflate stream: the EOL before
            # `endstream` lands in unused_data. Trailing CR/LF cannot be
            # stripped, as compressed data may itself end in 0x0a/0x0d.
            inflater = zlib.decompressobj()
            try:
                body = inflater.decompress(body)
            except zlib.error:
                continue
            if not inflater.eof:
                continue  # truncated stream
        shown: list[str] = []
        for tj in _TJ_RE.finditer(body):
            shown.append(_unescape_pdf_string(tj.group(1)[1:-1]))
        for arr in _TJ_ARR_RE.finditer(body):
            for s in _STR_RE.finditer(arr.group(0)):
                shown.append(_unescape_pdf_string(s.group(0)[1:-1]))
        if shown:
            pieces.append("".join(shown))
    if not pieces:
        return None
    # content streams ≈ pages for the simple fixtures this targets;
    # reference joins page texts with '\n' (:44)
    return "".join(p + "\n" for p in pieces)


def _extract_pdf_bytes(content: bytes) -> str | None:
    """Per-file PDF → text. Reference parity (:37-47): page texts joined
    with '\\n'; any failure → None (the app shows an error banner and
    skips the file)."""
    try:
        import io

        try:
            from pypdf import PdfReader  # preferred when installed
        except ImportError:
            try:
                from PyPDF2 import PdfReader  # reference's own dependency (:11)
            except ImportError:
                return _extract_pdf_fallback(content)
        reader = PdfReader(io.BytesIO(content))
        return "".join((page.extract_text() or "") + "\n" for page in reader.pages)
    except Exception:
        return None


def extract_pdf_text(files_df: DataFrame) -> DataFrame:
    """binaryFile scan → (path, raw_text) via Arrow-batched extraction.

    Decode: pypdf/PyPDF2 when installed; else the stdlib fallback
    (plain/Flate streams + Tj/TJ literal strings — covers generator-
    produced text PDFs). Unparseable files degrade to raw_text = NULL,
    the reference's error path (:45-47).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "raw_text": pdf["content"].map(_extract_pdf_bytes),
                }
            )

    return files_df.select("path", "content").mapInPandas(
        extract, "path string, raw_text string"
    )
