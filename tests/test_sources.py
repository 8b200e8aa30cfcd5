"""Reader/writer round trips + binaryFile/PDF-stub plumbing."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.sources.readers import (
    extract_pdf_text,
    read_binary_files,
    read_csv,
    read_json,
)
from nlp_data_pipeline_spark.sources.writers import write_csv, write_json, write_parquet


@pytest.fixture()
def tiny(spark):
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", -0.5)],
        "id long, name string, score double",
    )


def test_csv_round_trip(spark, tiny):
    path = os.path.join(tempfile.mkdtemp(), "csv")
    write_csv(tiny, path)
    back = read_csv(spark, path, "id long, name string, score double")
    assert sorted(back.collect()) == sorted(tiny.collect())


def test_json_round_trip(spark, tiny):
    path = os.path.join(tempfile.mkdtemp(), "json")
    write_json(tiny, path)
    back = read_json(spark, path, "id long, name string, score double")
    assert sorted(back.collect()) == sorted(tiny.collect())


def test_partitioned_parquet_layout_and_pruning(spark, tiny):
    path = os.path.join(tempfile.mkdtemp(), "pq")
    write_parquet(tiny.withColumn("part", F.col("id") % 2), path, partition_by=["part"])
    # physical layout: one dir per partition value
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == ["part=0", "part=1"]
    back = spark.read.parquet(path).filter(F.col("part") == 1)
    assert back.count() == 2
    # partition pruning reached the scan
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    assert "PartitionFilters" in formatted_plan(back)


def test_binary_file_scan_and_pdf_error_path(spark):
    d = tempfile.mkdtemp()
    with open(os.path.join(d, "fake.pdf"), "wb") as f:
        f.write(b"%PDF-1.4 not really a pdf")
    files = read_binary_files(spark, d, "*.pdf")
    row = files.select("path", "length", "content").first()
    assert row["length"] == 25 and row["content"].startswith(b"%PDF")
    # no content streams → reference error path: raw_text NULL
    out = extract_pdf_text(files).first()
    assert out["raw_text"] is None


def _minimal_pdf(text: str, compress: bool) -> bytes:
    """A complete one-page PDF 1.4 file with `text` in a single Tj.

    Hand-assembled from the spec (ISO 32000-1): catalog → pages → page
    → content stream (+ xref/trailer so external tools accept it too).
    """
    import zlib

    stream = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode("latin-1")
    filt = b""
    if compress:
        stream = zlib.compress(stream)
        filt = b"/Filter /FlateDecode "
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(stream)).encode() + b" " + filt + b">>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"
        + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


def test_pdf_real_decode_plain_and_flate(spark):
    """The decode branch must actually extract text from valid PDFs —
    not only exercise the NULL degrade path."""
    d = tempfile.mkdtemp()
    with open(os.path.join(d, "plain.pdf"), "wb") as f:
        f.write(_minimal_pdf("Hello Spark PDF", compress=False))
    with open(os.path.join(d, "flate.pdf"), "wb") as f:
        f.write(_minimal_pdf("Compressed stream text", compress=True))
    out = {
        os.path.basename(r["path"]): r["raw_text"]
        for r in extract_pdf_text(read_binary_files(spark, d, "*.pdf")).collect()
    }
    assert "Hello Spark PDF" in out["plain.pdf"]
    assert "Compressed stream text" in out["flate.pdf"]


def test_pdf_flate_stream_ending_in_eol_byte():
    """A compressed stream whose last byte is 0x0a or 0x0d (2 in 256
    valid files) must still inflate: only the EOL before `endstream`
    is framing, not every trailing CR/LF byte. A truncated stream still
    degrades to NULL."""
    import zlib

    from nlp_data_pipeline_spark.sources.readers import _extract_pdf_fallback

    def stream(text):
        return zlib.compress(f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode("latin-1"))

    # 'a' is odd, so the adler32 low byte (the stream's last) walks all
    # 256 values as the padding grows
    text = next(
        t for t in (f"Ends in EOL {'a' * n}" for n in range(512)) if stream(t)[-1] in b"\r\n"
    )
    assert _extract_pdf_fallback(_minimal_pdf(text, compress=True)) == text + "\n"

    body = stream("Truncated")[:-6]
    truncated = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert _extract_pdf_fallback(truncated) is None


def test_pdf_escape_and_tj_array_decoding():
    """Unit-level: \\-escapes, octal bytes, and TJ array strings."""
    from nlp_data_pipeline_spark.sources.readers import _extract_pdf_fallback

    body = (
        b"BT (Line \\(one\\)\\n) Tj "
        b"[(kerned ) -120 (pa) 3 (ir\\164)] TJ ET"  # \164 = 't'
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n"
        + body
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    got = _extract_pdf_fallback(pdf)
    assert got == "Line (one)\nkerned pairt\n"


def test_r10_committed_pdf_fixtures_exact(spark):
    """The repo-committed fixtures (tools/make_pdf_fixtures.py) decode to
    the exact constants R10_SQL declares — the driver-checkable R1 row."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import r10_pdf_extract

    rows = r10_pdf_extract(spark, "unused").collect()
    got = {r["filename"]: (r["text"], r["n_chars"], r["n_words"]) for r in rows}
    assert got == {
        "fixture_alpha.pdf": ("Spark reads fixture alpha.", 26, 4),
        "fixture_bravo.pdf": ("Bravo (escaped) text: 100% parsed.", 34, 5),
        "fixture_charlie.pdf": ("Charlie delta fixture.", 22, 3),
    }
