"""Document render + archive sinks (SURVEY §2.1 S7-S9, §4.3 #2).

The reference renders a DOCX per record via docxtpl then shells out to
LibreOffice for PDF (report_generator.py:47-105) and archives into a
``{client}/{address}/`` tree (app.py:107-119). Spark-first re-expression:

- letter TEXT is a pure column expression (functions/formatters.py
  ``letter_text``) — the formatter semantics live in codegen;
- the DOCX binary render is a self-contained minimal OOXML writer
  (zipfile + document.xml — WordprocessingML is a public ECMA-376
  format, no docxtpl needed) run per-partition inside ``mapInPandas``;
  PDF conversion stays gated on soffice (absent in this container);
- archive layout is ``DataFrameWriter.partitionBy`` — the reference
  hand-rolls exactly Hive-style partitioning;
- idempotent overwrite per client key (report_generator.py:63-68, 89)
  = last-write-wins dedup before the sink.
"""

from __future__ import annotations

import io
import os
import re
import zipfile
from collections.abc import Iterator
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from automated_property_data_ingestion_document_pipeline_spark.operators.rowmap import map_rows

try:  # executor-local optional dep; the built-in OOXML writer is default
    import docxtpl  # type: ignore  # noqa: F401

    HAS_DOCXTPL = True
except ImportError:
    HAS_DOCXTPL = False

DOCX_MEDIA_TYPE = (
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
)

# ---- minimal OOXML (ECMA-376) package parts ---------------------------------

_CONTENT_TYPES_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_ROOT_RELS_XML = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)

_W_NS = "http://www.w3.org/XML/1998/namespace"  # for xml:space

# Template paragraphs: placeholder-parity with the reference
# templates/template.docx — its docxtpl context is exactly the 8 keys
# (report_generator.py:75-88); the template also carries placeholders
# with NO context entry ({{customer_signature_name}}, {{initial_1..3}})
# which jinja renders as empty strings — we reproduce that contract.
DOCX_TEMPLATE_LINES = [
    "ENGAGEMENT LETTER",
    "Date: {{date}}",
    "Client: {{name}}",
    "Address: {{address}}",
    "Property under appraisal: {{property_under_appraisal}}",
    "Parcel ID: {{parcel_id}}",
    "Fee: {{fee}}",
    "Due at signing: {{due_signing}}",
    "Due at completion: {{due_completion}}",
    "Signature: {{customer_signature_name}}",
    "Initials: {{initial_1}} {{initial_2}} {{initial_3}}",
]

_PLACEHOLDER_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}")


def render_template_lines(context: dict) -> list[str]:
    """docxtpl-style substitution: every ``{{key}}`` of the letter
    template replaced from the context; unknown keys → '' (jinja's
    default-undefined contract)."""
    sub = lambda m: str(context.get(m.group(1), ""))  # noqa: E731
    return [_PLACEHOLDER_RE.sub(sub, ln) for ln in DOCX_TEMPLATE_LINES]


def docx_bytes_from_lines(lines: list[str]) -> bytes:
    """Serialize paragraphs into a valid minimal .docx (OOXML zip with
    [Content_Types].xml, _rels/.rels, word/document.xml). Deterministic:
    fixed zip timestamps → identical bytes for identical content (the
    property that makes the sink idempotent-by-content)."""
    paras = "".join(
        "<w:p><w:r><w:t xml:space=\"preserve\">" + escape(ln) + "</w:t></w:r></w:p>"
        for ln in lines
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body>" + paras + "<w:sectPr/></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in (
            ("[Content_Types].xml", _CONTENT_TYPES_XML),
            ("_rels/.rels", _ROOT_RELS_XML),
            ("word/document.xml", document),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, payload)
    return buf.getvalue()


def render_docx(context: dict) -> bytes:
    """The reference's ``DocxTemplate(...).render(context)`` + save
    (report_generator.py:70-89) as one pure function: context → .docx
    bytes."""
    return docx_bytes_from_lines(render_template_lines(context))


_MANIFEST_DDL = (
    "client_key string, filename string, n_bytes bigint, media_type string, status string"
)


def write_letters(
    letters: DataFrame, out_dir: str, ext: str, media_type: str, render
) -> DataFrame:
    """The letter sinks' shared body: one artifact per row of ``letters``
    (``client_key`` first, then the columns ``render`` takes), written
    executor-side to ``out_dir/Engagement_Letter_<client_key>.<ext>``,
    and one manifest row (client_key, filename, n_bytes, media_type,
    status) back. ``render`` returns the artifact bytes, or None when
    the row has nothing to render. A NULL key or a None render is a
    manifest-only ``skipped_null`` row, never a 'None'-named artifact
    ('Engagement_Letter_None.docx'; the formatter layer's
    NULL-propagation contract, r02 advice)."""

    def _render(client_key, *values):
        os.makedirs(out_dir, exist_ok=True)
        payload = None if client_key is None else render(*values)
        if payload is None:
            return [(client_key, None, 0, media_type, "skipped_null")]
        filename = f"Engagement_Letter_{client_key}.{ext}"
        with open(os.path.join(out_dir, filename), "wb") as f:
            f.write(payload)
        return [(client_key, filename, len(payload), media_type, "ok")]

    return map_rows(letters, _MANIFEST_DDL, _render)


def render_letters(letters: DataFrame, out_dir: str) -> DataFrame:
    """Render one real .docx artifact per row (letter_text lines → OOXML
    paragraphs via the built-in writer) and return a manifest DataFrame
    (client_key, filename, n_bytes, media_type, status).

    Runs entirely executor-side (:func:`write_letters`): bytes are
    produced and written inside the partition (no driver collect), the
    standard Spark document-sink shape — parallelizes embarrassingly
    like the reference's soffice convert (report_generator.py:92-103)
    never could. A NULL letter_text is skipped like a NULL key.
    """

    def _docx(text):
        return None if text is None else docx_bytes_from_lines(text.split("\n"))

    return write_letters(
        letters.select("client_key", "letter_text"), out_dir, "docx", DOCX_MEDIA_TYPE, _docx
    )


# context column → template placeholder (report_generator.py:75-88)
LETTER_CONTEXT_COLS = [
    "date",
    "name",
    "address",
    "property_under_appraisal",
    "parcel_id",
    "fee",
    "due_signing",
    "due_completion",
]


def render_letters_from_context(letters: DataFrame, out_dir: str) -> DataFrame:
    """Template-path render (the docxtpl-parity form): each row carries
    the 8 context columns (LETTER_CONTEXT_COLS, pre-formatted strings —
    presentation is owned upstream exactly like the reference's locked
    context) plus ``client_key``; every ``{{placeholder}}`` in the
    template is substituted, unknown placeholders render empty. Returns
    the same manifest shape as :func:`render_letters`; a NULL key skips
    the row, NULL context fields render as ''."""

    def _context(*values):
        return render_docx(_letter_context(values))

    return write_letters(
        letters.select("client_key", *LETTER_CONTEXT_COLS), out_dir, "docx", DOCX_MEDIA_TYPE,
        _context,
    )


def _letter_context(values: tuple) -> dict:
    """The LETTER_CONTEXT_COLS values of one row as a render context."""
    return {c: "" if v is None else v for c, v in zip(LETTER_CONTEXT_COLS, values)}


# Split-run-aware placeholder span: Word routinely fragments '{{key}}'
# across <w:r> runs (spell-check / revision-id boundaries), so the key
# text may be interleaved with run-closing/opening tags — e.g. the
# reference template's '{{p</w:t></w:r><w:r ...><w:t>arcel</w:t>…_id}}'
# (templates/template.docx, SURVEY §5.1). The span starts and ends
# inside a <w:t>, so replacing the WHOLE span (tags included) with the
# escaped value collapses the fragments into the first run — exactly
# docxtpl's run-merge preprocessing, without the dependency.
_SPLIT_RUN_PLACEHOLDER_RE = re.compile(rb"\{\{((?:[^<>{}]|<[^>]*>)*?)\}\}", re.S)
_XML_TAG_RE = re.compile(rb"<[^>]*>")


def substitute_placeholders_xml(xml: bytes, context: dict) -> bytes:
    """docxtpl-parity substitution over raw WordprocessingML bytes:
    '{{key}}' (possibly split across runs) → escaped context value;
    unknown keys → '' (jinja default-undefined contract)."""

    def _sub(m: re.Match) -> bytes:
        key = _XML_TAG_RE.sub(b"", m.group(1)).strip().decode("utf-8")
        return escape(str(context.get(key, ""))).encode("utf-8")

    return _SPLIT_RUN_PLACEHOLDER_RE.sub(_sub, xml)


def render_docx_from_template(template_bytes: bytes, context: dict) -> bytes:
    """Render an arbitrary .docx TEMPLATE's bytes (e.g. the reference's
    own templates/template.docx, report_generator.py:57-58, 70) against a
    context: placeholders substituted in the document body plus
    headers/footers, every other zip part (styles, media, numbering)
    byte-preserved. Deterministic timestamps → content-addressable
    output, like :func:`docx_bytes_from_lines`."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(template_bytes)) as zin, zipfile.ZipFile(
        out, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for item in zin.infolist():
            payload = zin.read(item.filename)
            if re.fullmatch(r"word/(document|header\d*|footer\d*)\.xml", item.filename):
                payload = substitute_placeholders_xml(payload, context)
            info = zipfile.ZipInfo(item.filename, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zout.writestr(info, payload)
    return out.getvalue()


def render_letters_from_template(
    letters: DataFrame, out_dir: str, template_bytes: bytes
) -> DataFrame:
    """:func:`render_letters_from_context` against a real .docx template's
    bytes instead of the built-in line template. ``template_bytes`` is
    closed over by the UDF — shipped once per task like the S4 template
    scan (the reference re-reads template.docx per record,
    report_generator.py:57-70; here it rides the task broadcast)."""

    def _template(*values):
        return render_docx_from_template(template_bytes, _letter_context(values))

    return write_letters(
        letters.select("client_key", *LETTER_CONTEXT_COLS), out_dir, "docx", DOCX_MEDIA_TYPE,
        _template,
    )


class DocxUnsupported(ValueError):
    """Payload is not a DOCX this extractor handles (not a zip, missing
    word/document.xml, malformed XML, oversized part, ...) — the codec
    modules' typed-error contract, so executor tasks quarantine rather
    than die on hostile bytes."""


_MAX_PART_BYTES = 1 << 28  # 256 MB per zip part, matching the archive/pdf caps


def extract_docx_text(payload: bytes, include_headers: bool = False) -> list[str]:
    """The READ half of S7 (r07): reparse the paragraph texts out of
    OOXML bytes — one string per ``<w:p>`` in document order, all
    ``<w:t>`` run texts concatenated (Word fragments a paragraph across
    runs at spell-check/revision boundaries; see
    ``_SPLIT_RUN_PLACEHOLDER_RE``), ``<w:tab>``/``<w:br>`` mapped to
    tab/newline. Inverse of :func:`docx_bytes_from_lines` and of
    docxtpl's render (report_generator.py:70-89): what the writer put
    in comes back out. ``include_headers=True`` (r08) additionally
    walks every ``word/header*.xml`` / ``word/footer*.xml`` part (in
    sorted part order, after the body — the reference template carries
    the firm's letterhead there, which a body-only read silently
    drops). Typed errors per the codec-module contract; the part-size
    pre-check bounds per-task memory from the zip's claimed size
    before decompression (the archive.py bomb-cap pattern)."""
    import zlib

    # NotImplementedError: _RealGetContents rejects extract_version >
    # MAX_EXTRACT_VERSION at open time (fuzz-found)
    try:
        z = zipfile.ZipFile(io.BytesIO(bytes(payload)))
    except (zipfile.BadZipFile, ValueError, OSError, NotImplementedError) as e:
        raise DocxUnsupported(f"not a zip container: {e}") from e
    with z:
        parts = ["word/document.xml"]
        if include_headers:
            parts += sorted(
                n
                for n in z.namelist()
                if re.fullmatch(r"word/(header|footer)\d*\.xml", n)
            )
        part_xml: list[bytes] = []
        for part in parts:
            try:
                info = z.getinfo(part)
            except KeyError:
                raise DocxUnsupported("no word/document.xml part") from None
            if info.file_size > _MAX_PART_BYTES:
                raise DocxUnsupported(
                    f"{part} claims {info.file_size} bytes, over the cap"
                )
            # ValueError: bogus central-directory offsets surface as
            # negative seeks inside ZipExtFile; RuntimeError: encrypted
            # members — both found by the 10k fuzz sweep, both typed
            try:
                part_xml.append(z.read(part))
            except (
                zipfile.BadZipFile, zlib.error, EOFError, NotImplementedError,
                OSError, ValueError, RuntimeError,
            ) as e:
                raise DocxUnsupported(f"broken {part} member: {e}") from e
    paras: list[str] = []
    for xml_bytes in part_xml:
        paras.extend(_paras_from_xml(xml_bytes))
    return paras


def _paras_from_xml(xml_bytes: bytes) -> list[str]:
    """Paragraph strings from one WordprocessingML part's bytes."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError as e:
        raise DocxUnsupported(f"malformed document.xml: {e}") from e
    # r07 advice: a <w:p> nested inside another <w:p> (w:txbxContent
    # text boxes, which Word emits) must not be counted twice — each
    # run belongs to its NEAREST enclosing paragraph only. One walk:
    # the outer paragraph collects its own runs, nested paragraphs are
    # queued and emitted as their own entries right after it.
    paras: list[str] = []

    def _local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    def _walk_p(p) -> None:
        parts: list[str] = []
        nested: list = []

        def _collect(node) -> None:
            for child in node:
                local = _local(child.tag)
                if local == "p":
                    nested.append(child)
                elif local == "t":
                    parts.append(child.text or "")
                elif local == "tab":
                    parts.append("\t")
                elif local in ("br", "cr"):
                    parts.append("\n")
                else:
                    _collect(child)

        _collect(p)
        paras.append("".join(parts))
        for q in nested:
            _walk_p(q)

    def _top_ps(node) -> None:
        for child in node:
            if _local(child.tag) == "p":
                _walk_p(child)
            else:
                _top_ps(child)

    try:
        _top_ps(root)
    except RecursionError:  # hostile deep nesting stays a typed refusal
        raise DocxUnsupported("pathologically nested document.xml") from None
    return paras


REFERENCE_TEMPLATE_PATH = (
    "/root/reference/real_estate_backend/templates/template.docx"
)


def load_reference_template_bytes() -> bytes:
    """The reference's own template.docx bytes when its checkout is
    present; otherwise a self-built equivalent whose ``{{parcel_id}}``
    is artificially split across runs — so the split-run substitution
    path executes in every environment, not only beside the reference."""
    if os.path.exists(REFERENCE_TEMPLATE_PATH):
        with open(REFERENCE_TEMPLATE_PATH, "rb") as f:
            return f.read()
    return build_split_run_template_bytes()


def build_split_run_template_bytes() -> bytes:
    """A .docx template carrying the 11 reference placeholder lines with
    ``{{parcel_id}}`` run-fragmented exactly like Word does it (SURVEY
    §5.1) — the environment-independent fixture for the split-run
    substitution path and the template-render→extract roundtrip."""
    lines = [
        ln.replace(
            "{{parcel_id}}",
            # run-fragmented exactly like Word does it (SURVEY §5.1)
            '{{p</w:t></w:r><w:r><w:t xml:space="preserve">arcel_id}}',
        )
        for ln in DOCX_TEMPLATE_LINES
    ]
    # escape() must not run over the injected run-boundary tags — build
    # the body by hand from pre-escaped text around the split point.
    paras = "".join(
        '<w:p><w:r><w:t xml:space="preserve">' + ln + "</w:t></w:r></w:p>"
        for ln in lines
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body>" + paras + "<w:sectPr/></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in (
            ("[Content_Types].xml", _CONTENT_TYPES_XML),
            ("_rels/.rels", _ROOT_RELS_XML),
            ("word/document.xml", document),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, payload)
    return buf.getvalue()


def archive_partitioned(df: DataFrame, out_dir: str, keys: list[str]) -> None:
    """Archive sink (app.py:107-119): the hand-rolled
    ``P:/.../{client}/{address}/`` layout as a partitioned parquet write
    — partition pruning for free on read-back."""
    df.write.mode("overwrite").partitionBy(*keys).parquet(out_dir)


def soffice_convert_partition(paths: Iterator[str]) -> Iterator[str]:
    """Per-partition PDF conversion: deterministic headless subprocess
    per file (report_generator.py:92-103), executor-local. Gated: raises
    if soffice is absent (not in this container)."""
    import shutil
    import subprocess

    if shutil.which("soffice") is None:
        raise FileNotFoundError("soffice not installed (container limitation)")
    for p in paths:
        subprocess.run(
            ["soffice", "--headless", "--convert-to", "pdf", "--outdir", os.path.dirname(p), p],
            check=True,
            timeout=120,  # the reference's generate budget (App.js:444)
        )
        yield p


