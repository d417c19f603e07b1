"""DOCX / PPTX text extraction — pure Python (zipfile + ElementTree).

The reference accepts ``.docx`` and ``.pptx`` (config.py:52-66) and
converts them through Docling like every other format
(processor.py:285-319 feeds the whole discovered batch to
``converter.convert_all``). Docling isn't in this container, but OOXML
is just a zip of XML parts, so the same pure-Python discipline that
closed PDF/PNG/JPEG/WAV closes the last accepted-but-unparseable
formats: stdlib ``zipfile`` for the container, ``xml.etree`` for the
parts.

Part layout (ECMA-376):
- DOCX: ``word/document.xml`` — body paragraphs ``w:p``, runs ``w:r``,
  text ``w:t``, with ``w:tab``/``w:br``/``w:cr`` as layout characters.
  Table cell text lives in nested ``w:p`` elements, so a document-order
  walk picks it up for free. ``w:delText`` (tracked deletions) is a
  different element and is correctly NOT extracted.
- PPTX: ``ppt/slides/slideN.xml`` parts — DrawingML paragraphs ``a:p``
  with runs ``a:r``/``a:t`` and ``a:br`` line breaks; slide order is the
  numeric part order.

Matching is by element LOCAL NAME (namespace-insensitive) so both
transitional (``schemas.openxmlformats.org``) and strict
(``purl.oclc.org/ooxml``) namespace flavors parse identically.

Decoder error contract (same as every codec in this repo): malformed
input raises ``ValueError`` only — zip/XML/struct errors are wrapped at
the public entry points; the never-raises ``parse_docx``/``parse_pptx``
wrappers isolate per-row failures into a status column for the Spark
path.

The writers (``paragraphs_to_docx`` / ``slides_to_pptx``) synthesize
standards-shaped packages for fixtures and oracle queries — same
philosophy as the WARC/PDF/PNG writers: real byte formats, no external
data. ``tests/test_ooxml.py`` additionally parses a HAND-ASSEMBLED zip
(local headers / central directory / EOCD laid out byte-by-byte from
APPNOTE.TXT) so the writer<->decoder loop is broken by a fixture neither
side produced.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import List, Optional, Sequence
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_XML_DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
_CT_NS = "http://schemas.openxmlformats.org/package/2006/content-types"
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_REL_DOC = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/"
    "officeDocument"
)
_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"

DOCX_RUN_WORDS = 3  # writer splits paragraphs into runs of <= 3 words


def _local(tag: str) -> str:
    """Element local name — '{ns}p' -> 'p' (namespace-flavor agnostic)."""
    return tag.rsplit("}", 1)[-1]


def _zip_parts(parts: Sequence[tuple]) -> bytes:
    """Deterministic OOXML container: fixed timestamps, stable part order,
    deflate — byte-stable for a given input within an environment."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Writers (fixture/oracle synthesis)
# ---------------------------------------------------------------------------


def paragraphs_to_docx(paragraphs: Sequence[str]) -> bytes:
    """Minimal valid DOCX: one ``w:p`` per input paragraph, each split into
    runs of ``DOCX_RUN_WORDS`` words (so decoders must concatenate runs,
    the classic naive-extractor failure)."""
    body: List[str] = []
    for para in paragraphs:
        words = para.split(" ")
        runs = []
        for i in range(0, len(words), DOCX_RUN_WORDS):
            # leading space on continuation runs: xml:space="preserve" keeps
            # it, and concatenating runs reproduces the paragraph exactly
            chunk = (" " if i else "") + " ".join(words[i : i + DOCX_RUN_WORDS])
            runs.append(
                f'<w:r><w:t xml:space="preserve">{escape(chunk)}</w:t></w:r>'
            )
        body.append("<w:p>" + "".join(runs) + "</w:p>")
    document = (
        _XML_DECL
        + f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(body)
        + "<w:sectPr/></w:body></w:document>"
    )
    content_types = (
        _XML_DECL
        + f'<Types xmlns="{_CT_NS}">'
        + '<Default Extension="rels" ContentType="application/vnd.'
        + 'openxmlformats-package.relationships+xml"/>'
        + '<Default Extension="xml" ContentType="application/xml"/>'
        + '<Override PartName="/word/document.xml" ContentType="application/'
        + "vnd.openxmlformats-officedocument.wordprocessingml.document."
        + 'main+xml"/></Types>'
    )
    rels = (
        _XML_DECL
        + f'<Relationships xmlns="{_REL_NS}">'
        + f'<Relationship Id="rId1" Type="{_REL_DOC}" '
        + 'Target="word/document.xml"/></Relationships>'
    )
    return _zip_parts(
        [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", rels),
            ("word/document.xml", document),
        ]
    )


def slides_to_pptx(slides: Sequence[Sequence[str]]) -> bytes:
    """Minimal valid PPTX: one slide part per input, one ``a:p`` per line,
    each line a single DrawingML run inside one text body shape."""
    parts: List[tuple] = []
    overrides = [
        '<Override PartName="/ppt/presentation.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.presentationml.presentation.'
        'main+xml"/>'
    ]
    sld_ids = []
    sld_rels = []
    for i, lines in enumerate(slides, start=1):
        paras = "".join(
            f"<a:p><a:r><a:t>{escape(line)}</a:t></a:r></a:p>" for line in lines
        )
        slide_xml = (
            _XML_DECL
            + f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}">'
            + "<p:cSld><p:spTree><p:sp><p:txBody>"
            + paras
            + "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
        )
        parts.append((f"ppt/slides/slide{i}.xml", slide_xml))
        overrides.append(
            f'<Override PartName="/ppt/slides/slide{i}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.presentationml.'
            'slide+xml"/>'
        )
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        sld_rels.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/slide" '
            f'Target="slides/slide{i}.xml"/>'
        )
    presentation = (
        _XML_DECL
        + f'<p:presentation xmlns:p="{_P_NS}" xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships">'
        + "<p:sldIdLst>"
        + "".join(sld_ids)
        + "</p:sldIdLst></p:presentation>"
    )
    content_types = (
        _XML_DECL
        + f'<Types xmlns="{_CT_NS}">'
        + '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        + '<Default Extension="xml" ContentType="application/xml"/>'
        + "".join(overrides)
        + "</Types>"
    )
    root_rels = (
        _XML_DECL
        + f'<Relationships xmlns="{_REL_NS}">'
        + f'<Relationship Id="rId1" Type="{_REL_DOC}" '
        'Target="ppt/presentation.xml"/></Relationships>'
    )
    pres_rels = (
        _XML_DECL
        + f'<Relationships xmlns="{_REL_NS}">'
        + "".join(sld_rels)
        + "</Relationships>"
    )
    return _zip_parts(
        [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", root_rels),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", pres_rels),
            *parts,
        ]
    )


# ---------------------------------------------------------------------------
# Decoders (ValueError-only contract)
# ---------------------------------------------------------------------------


def _read_part(data: bytes, name: str) -> bytes:
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            return z.read(name)
    except zipfile.BadZipFile as ex:
        raise ValueError(f"not an OOXML package: {ex}") from ex
    except KeyError as ex:
        raise ValueError(f"missing OOXML part {name}") from ex
    except NotImplementedError as ex:  # exotic zip compression method
        raise ValueError(f"unsupported zip compression: {ex}") from ex


def _parse_xml(raw: bytes) -> "ET.Element":
    try:
        return ET.fromstring(raw)
    except ET.ParseError as ex:
        raise ValueError(f"malformed OOXML part: {ex}") from ex


_XML_SPACE = "{http://www.w3.org/XML/1998/namespace}space"


def _wml_paragraph_text(p: "ET.Element") -> str:
    """WordprocessingML paragraph -> text: runs concatenated in document
    order; tab -> \\t, br/cr -> \\n; tracked deletions (delText) skipped.
    Per ECMA-376 §22.9.2.1 semantics, a ``w:t`` WITHOUT
    ``xml:space="preserve"`` has its leading/trailing whitespace
    stripped (Word itself never round-trips it); preserve-marked runs
    keep every character."""
    parts: List[str] = []
    for el in p.iter():
        name = _local(el.tag)
        if name == "t":
            text = el.text or ""
            if el.get(_XML_SPACE) != "preserve":
                text = text.strip()
            parts.append(text)
        elif name == "tab":
            parts.append("\t")
        elif name in ("br", "cr"):
            parts.append("\n")
    return "".join(parts)


def docx_to_paragraphs(data: bytes) -> List[str]:
    """DOCX bytes -> body paragraphs in document order (table-cell
    paragraphs included — they are nested ``w:p`` elements)."""
    root = _parse_xml(_read_part(data, "word/document.xml"))
    out: List[str] = []
    for el in root.iter():
        if _local(el.tag) == "p":
            out.append(_wml_paragraph_text(el))
    return out


def pptx_to_slides(data: bytes) -> List[List[str]]:
    """PPTX bytes -> per-slide paragraph lists, slides in numeric part
    order (sldN.xml names), paragraphs in shape/document order."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            names = [
                n
                for n in z.namelist()
                if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)
            ]
            names.sort(key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)))
            if not names:
                raise ValueError("no slide parts in PPTX package")
            raws = [z.read(n) for n in names]
    except zipfile.BadZipFile as ex:
        raise ValueError(f"not an OOXML package: {ex}") from ex
    except NotImplementedError as ex:  # exotic zip compression method
        raise ValueError(f"unsupported zip compression: {ex}") from ex
    slides: List[List[str]] = []
    for raw in raws:
        root = _parse_xml(raw)
        paras: List[str] = []
        for el in root.iter():
            # DrawingML a:p only (both transitional and strict namespaces
            # contain 'drawingml') — PresentationML has no 'p' local name
            # in text position, but guard anyway
            if _local(el.tag) != "p" or "drawingml" not in el.tag:
                continue
            parts: List[str] = []
            for sub in el.iter():
                name = _local(sub.tag)
                if name == "t":
                    parts.append(sub.text or "")
                elif name == "br":
                    parts.append("\n")
            paras.append("".join(parts))
        slides.append(paras)
    return slides


def docx_to_text(data: bytes) -> str:
    """Paragraphs joined by newline (Word's visual convention)."""
    return "\n".join(docx_to_paragraphs(data))


def pptx_to_text(data: bytes) -> str:
    """Slides separated by blank line, paragraphs by newline."""
    return "\n\n".join("\n".join(s) for s in pptx_to_slides(data))


# ---------------------------------------------------------------------------
# Never-raises wrappers + Arrow-batched UDFs (Spark path)
# ---------------------------------------------------------------------------

OOXML_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_paragraphs", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def parse_docx(payload: Optional[bytes]) -> dict:
    """DOCX bytes -> extraction struct; never raises (per-document error
    isolation like the HTML/PDF paths). n_blocks == n_paragraphs for
    DOCX (the block unit is the paragraph)."""
    if payload is None or len(payload) == 0:
        return dict(text="", status="empty", n_blocks=0, n_paragraphs=0, error=None)
    try:
        paras = docx_to_paragraphs(payload)
    except ValueError as ex:
        return dict(
            text="", status="decode_error", n_blocks=0, n_paragraphs=0,
            error=str(ex)[:200],
        )
    text = "\n".join(paras)
    status = "ok" if text.strip() else "no_content"
    return dict(
        text=text, status=status, n_blocks=len(paras),
        n_paragraphs=len(paras), error=None,
    )


def parse_pptx(payload: Optional[bytes]) -> dict:
    """PPTX bytes -> extraction struct; n_blocks = slides, n_paragraphs =
    total paragraphs across slides."""
    if payload is None or len(payload) == 0:
        return dict(text="", status="empty", n_blocks=0, n_paragraphs=0, error=None)
    try:
        slides = pptx_to_slides(payload)
    except ValueError as ex:
        return dict(
            text="", status="decode_error", n_blocks=0, n_paragraphs=0,
            error=str(ex)[:200],
        )
    text = "\n\n".join("\n".join(s) for s in slides)
    status = "ok" if text.strip() else "no_content"
    return dict(
        text=text, status=status, n_blocks=len(slides),
        n_paragraphs=sum(len(s) for s in slides), error=None,
    )


def parse_office(payload: Optional[bytes]) -> dict:
    """Format-sniffing dispatch: DOCX vs PPTX decided by which part the
    package actually contains (not by filename — a mislabeled extension
    must not pick the wrong parser). Unknown zips -> decode_error."""
    if payload is None or len(payload) == 0:
        return dict(text="", status="empty", n_blocks=0, n_paragraphs=0, error=None)
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            names = set(z.namelist())
    except zipfile.BadZipFile as ex:
        return dict(
            text="", status="decode_error", n_blocks=0, n_paragraphs=0,
            error=f"not an OOXML package: {ex}"[:200],
        )
    if "word/document.xml" in names:
        return parse_docx(payload)
    if any(re.fullmatch(r"ppt/slides/slide\d+\.xml", n) for n in names):
        return parse_pptx(payload)
    return dict(
        text="", status="decode_error", n_blocks=0, n_paragraphs=0,
        error="zip without a known OOXML document part",
    )


@F.pandas_udf(OOXML_EXTRACT_SCHEMA)
def parse_docx_udf(payload: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([parse_docx(p) for p in payload])


@F.pandas_udf(OOXML_EXTRACT_SCHEMA)
def parse_pptx_udf(payload: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([parse_pptx(p) for p in payload])
