"""DOCX/PPTX extraction (extraction/ooxml.py): writer<->decoder
roundtrips, OOXML structure edge cases (runs, tables, tracked deletions,
strict namespaces, slide ordering), the ValueError-only decoder
contract, and a HAND-ASSEMBLED zip fixture (APPNOTE.TXT byte layout)
that breaks the writer<->decoder closed loop."""

from __future__ import annotations

import struct
import zlib

import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.extraction.ooxml import (
    docx_to_paragraphs,
    docx_to_text,
    paragraphs_to_docx,
    parse_docx,
    parse_docx_udf,
    parse_pptx,
    parse_pptx_udf,
    pptx_to_slides,
    pptx_to_text,
    slides_to_pptx,
)

W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def test_docx_roundtrip_multiword_runs():
    """Writer splits every 3 words into separate runs — decoding must
    concatenate runs within a paragraph (the naive-extractor failure)."""
    paras = [
        "one two three four five six seven",
        "short",
        "a b c",
        "",  # empty paragraph survives as an empty line
        "characters that need escaping: < > & ' \"",
    ]
    out = docx_to_paragraphs(paragraphs_to_docx(paras))
    assert out == paras
    assert docx_to_text(paragraphs_to_docx(paras)) == "\n".join(paras)


def test_docx_cjk_text():
    paras = ["日本語のテキストです。", "二番目の段落（全角）"]
    assert docx_to_paragraphs(paragraphs_to_docx(paras)) == paras


def _docx_from_document_xml(document_xml: str) -> bytes:
    """Package arbitrary WordprocessingML for decoder edge cases."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", document_xml)
    return buf.getvalue()


def test_docx_tabs_breaks_and_tracked_deletions():
    """w:tab -> \\t, w:br/w:cr -> \\n; w:delText (tracked deletion) must
    NOT leak into the extracted text."""
    doc = (
        f'<w:document xmlns:w="{W_NS}"><w:body>'
        "<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/><w:t>c</w:t></w:r></w:p>"
        '<w:p><w:r><w:delText>GONE</w:delText><w:t>kept</w:t></w:r></w:p>'
        "</w:body></w:document>"
    )
    assert docx_to_paragraphs(_docx_from_document_xml(doc)) == ["a\tb\nc", "kept"]


def test_docx_table_cell_paragraphs_in_document_order():
    doc = (
        f'<w:document xmlns:w="{W_NS}"><w:body>'
        "<w:p><w:r><w:t>before</w:t></w:r></w:p>"
        "<w:tbl><w:tr>"
        "<w:tc><w:p><w:r><w:t>cell one</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>cell two</w:t></w:r></w:p></w:tc>"
        "</w:tr></w:tbl>"
        "<w:p><w:r><w:t>after</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    assert docx_to_paragraphs(_docx_from_document_xml(doc)) == [
        "before", "cell one", "cell two", "after",
    ]


def test_docx_strict_namespace_flavor():
    """ECMA-376 strict uses purl.oclc.org namespaces — local-name matching
    must parse it identically."""
    doc = (
        '<w:document xmlns:w="http://purl.oclc.org/ooxml/wordprocessingml/main">'
        "<w:body><w:p><w:r><w:t>strict flavor</w:t></w:r></w:p></w:body>"
        "</w:document>"
    )
    assert docx_to_paragraphs(_docx_from_document_xml(doc)) == ["strict flavor"]


def test_pptx_roundtrip_and_slide_order():
    slides = [[f"slide {i} line {j}" for j in range(2)] for i in range(12)]
    got = pptx_to_slides(slides_to_pptx(slides))
    # 12 slides: slide10.xml must sort numerically AFTER slide9.xml, not
    # lexicographically between slide1 and slide2
    assert got == slides
    text = pptx_to_text(slides_to_pptx(slides))
    assert text == "\n\n".join("\n".join(s) for s in slides)


def test_decoder_valueerror_contract():
    for bad in (
        b"not a zip at all",
        b"PK\x03\x04" + b"\x00" * 40,  # zip magic, garbage body
        _docx_from_document_xml("<w:document>unclosed"),
    ):
        with pytest.raises(ValueError):
            docx_to_paragraphs(bad)
        with pytest.raises(ValueError):
            pptx_to_slides(bad)
    # a valid zip MISSING the document part
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("unrelated.txt", "x")
    with pytest.raises(ValueError, match="missing OOXML part"):
        docx_to_paragraphs(buf.getvalue())
    with pytest.raises(ValueError, match="no slide parts"):
        pptx_to_slides(buf.getvalue())


def test_parse_wrappers_never_raise():
    assert parse_docx(None)["status"] == "empty"
    assert parse_docx(b"")["status"] == "empty"
    assert parse_docx(b"garbage")["status"] == "decode_error"
    assert parse_pptx(b"garbage")["status"] == "decode_error"
    e = parse_docx(paragraphs_to_docx(["", ""]))
    assert e["status"] == "no_content" and e["n_paragraphs"] == 2
    e = parse_pptx(slides_to_pptx([["a"], ["b", "c"]]))
    assert e["status"] == "ok" and e["n_blocks"] == 2 and e["n_paragraphs"] == 3


def _hand_zip_single_stored(name: bytes, data: bytes) -> bytes:
    """A zip assembled byte-by-byte from APPNOTE.TXT section 4.3 — local
    file header, central directory record, end-of-central-directory — with
    a STORED entry and a hand-fed CRC-32. Written without zipfile so the
    decoder is exercised against bytes our writer never produced."""
    crc = zlib.crc32(data) & 0xFFFFFFFF
    local = (
        b"PK\x03\x04"
        + struct.pack("<HHHHH", 20, 0, 0, 0, 0x21)  # ver, flags, STORED, time, date
        + struct.pack("<III", crc, len(data), len(data))
        + struct.pack("<HH", len(name), 0)
        + name
        + data
    )
    central = (
        b"PK\x01\x02"
        + struct.pack("<HHHHHH", 20, 20, 0, 0, 0, 0x21)
        + struct.pack("<III", crc, len(data), len(data))
        + struct.pack("<HHHHHII", len(name), 0, 0, 0, 0, 0, 0)  # offset 0
        + name
    )
    eocd = b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, 1, 1, len(central), len(local), 0
    )
    return local + central + eocd


def test_external_hand_assembled_zip_fixture():
    """The external-fixture discipline (same as PDF/PNG/JPEG): a DOCX
    package hand-assembled from the zip spec, carrying WordprocessingML
    typed by hand — neither container nor content came from our writer."""
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W_NS}"><w:body>'
        '<w:p><w:r><w:t xml:space="preserve">hand assembled </w:t></w:r>'
        "<w:r><w:t>fixture text</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>second paragraph</w:t></w:r></w:p>"
        "</w:body></w:document>"
    ).encode("utf-8")
    pkg = _hand_zip_single_stored(b"word/document.xml", document)
    assert docx_to_paragraphs(pkg) == [
        "hand assembled fixture text", "second paragraph",
    ]
    # corrupting a stored data byte must fail the CRC check -> ValueError
    bad = bytearray(pkg)
    bad[30 + len(b"word/document.xml") + 5] ^= 0xFF  # inside the entry data
    with pytest.raises(ValueError):
        docx_to_paragraphs(bytes(bad))


def test_ooxml_spark_udf_path(spark):
    """Arrow-batched extraction over a binary column with per-row error
    isolation: one corrupt package must not fail the healthy rows."""
    rows = [
        (0, paragraphs_to_docx(["alpha beta", "gamma"])),
        (1, b"corrupt bytes"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", parse_docx_udf(F.col("content")).alias("e")
        ).select("doc_id", "e.*").collect()
    }
    assert out[0].status == "ok" and out[0].text == "alpha beta\ngamma"
    assert out[0].n_paragraphs == 2
    assert out[1].status == "decode_error" and out[1].error
    assert out[2].status == "empty"

    prows = [(0, slides_to_pptx([["s1"], ["s2a", "s2b"]])), (1, b"nope")]
    pdf_ = spark.createDataFrame(prows, "doc_id long, content binary")
    pout = {
        r.doc_id: r
        for r in pdf_.select(
            "doc_id", parse_pptx_udf(F.col("content")).alias("e")
        ).select("doc_id", "e.*").collect()
    }
    assert pout[0].status == "ok" and pout[0].text == "s1\n\ns2a\ns2b"
    assert pout[0].n_blocks == 2 and pout[0].n_paragraphs == 3
    assert pout[1].status == "decode_error"


def test_parse_office_sniffs_format_not_extension():
    from docling_japanese_books_spark.extraction.ooxml import parse_office

    docx = paragraphs_to_docx(["dispatch by content"])
    pptx = slides_to_pptx([["slide text"]])
    assert parse_office(docx)["text"] == "dispatch by content"
    assert parse_office(pptx)["text"] == "slide text"
    assert parse_office(b"junk")["status"] == "decode_error"
    # a zip that is neither format
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.xml", "<x/>")
    assert parse_office(buf.getvalue())["status"] == "decode_error"


def test_extract_office_pages_pipeline_shape():
    """The resumable pipeline's office batch extractor: one Arrow batch of a
    mixed DOCX/PPTX corpus in, one extracted row per payload out, which the
    pipeline writes beside the page's url, warc_ts, lang and bucket as a
    manifest-schema row; failures isolated."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import Row

    from docling_japanese_books_spark.pipeline.driver import extract_office_pages

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a/x.docx", ts, "en", 0, paragraphs_to_docx(["p one", "p two"])),
        ("https://a/y.pptx", ts, "en", 1, slides_to_pptx([["s1"], ["s2"]])),
        ("https://a/z.docx", ts, "en", 0, b"corrupt"),
    ]
    extracted = extract_office_pages(pa.array([r[4] for r in rows], pa.binary()))
    out = {
        url: Row(url=url, warc_ts=ts, lang=lang, bucket=bucket, **e)
        for (url, ts, lang, bucket, _), e in zip(rows, extracted.to_pylist())
    }
    assert out["https://a/x.docx"].text == "p one\np two"
    assert out["https://a/x.docx"].blocks_kept == 2
    assert out["https://a/y.pptx"].text == "s1\n\ns2"
    assert out["https://a/z.docx"].status == "decode_error"
    assert set(out["https://a/x.docx"].asDict()) == {
        "url", "warc_ts", "lang", "bucket", "text", "status",
        "blocks_kept", "blocks_dropped",
    }


def test_xml_space_semantics():
    """Runs WITHOUT xml:space='preserve' lose their edge whitespace (the
    ECMA-376 consumer rule); preserve-marked runs keep every character —
    the hand-assembled fixture and our writer both rely on it."""
    doc = (
        f'<w:document xmlns:w="{W_NS}"><w:body>'
        '<w:p><w:r><w:t>  stripped  </w:t></w:r>'
        '<w:r><w:t xml:space="preserve">  kept  </w:t></w:r></w:p>'
        "</w:body></w:document>"
    )
    assert docx_to_paragraphs(_docx_from_document_xml(doc)) == [
        "stripped  kept  "
    ]
