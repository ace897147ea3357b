"""Minimal PDF render sink (SURVEY §2.1 S8).

The reference converts each rendered DOCX to PDF by shelling out to
LibreOffice (report_generator.py:92-103) — a per-record subprocess the
driver babysits under a 120 s budget (App.js:444). Spark-first
re-expression: render the letter lines *directly* to PDF bytes
executor-side with a self-contained writer for the public PDF 1.4
format (ISO 32000-1) — no subprocess, no external binary, bytes
produced inside the partition. The soffice path remains available as
``doc_sink.soffice_convert_partition`` for environments that have it;
this module is the container-independent default, so S8 actually
executes instead of being dead code behind a missing binary.

The document model matches the DOCX sink: one line per paragraph,
Helvetica 11pt, new page every ``LINES_PER_PAGE`` lines. Deterministic:
identical lines → identical bytes (idempotent-by-content, same property
as doc_sink.docx_bytes_from_lines).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame

PDF_MEDIA_TYPE = "application/pdf"

FONT_SIZE = 11
LEADING = 14  # line spacing in points
PAGE_W, PAGE_H = 612, 792  # US Letter
MARGIN = 72
LINES_PER_PAGE = (PAGE_H - 2 * MARGIN) // LEADING  # 46


def _pdf_escape(text: str) -> bytes:
    """Escape a text line for a PDF literal string. PDF literal strings
    are byte strings; standard Type1 Helvetica addresses WinAnsi/Latin-1,
    so characters outside latin-1 degrade to '?' (the same lossy contract
    soffice applies for glyphs missing from the substituted font)."""
    raw = text.encode("latin-1", errors="replace")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _content_stream(lines: list[str], text_op: str = "Tj") -> bytes:
    """One page's content: a text object positioning each line with the
    TL/T* leading machinery (PDF 1.4 §5.3). ``text_op`` picks the show
    form (r07 — so every extractor path has a writer fixture): ``Tj``
    literal strings (default, the pre-r07 layout), ``TJ`` array form
    with a kern between two string halves (what Word emits), ``hex``
    hex strings of 1-byte codes (the LibreOffice subset-font shape;
    pairs with the writer's identity /ToUnicode CMap)."""
    out = [
        b"BT",
        b"/F1 %d Tf" % FONT_SIZE,
        b"%d TL" % LEADING,
        b"%d %d Td" % (MARGIN, PAGE_H - MARGIN),
    ]
    for ln in lines:
        if text_op == "TJ":
            half = len(ln) // 2
            out.append(
                b"[(" + _pdf_escape(ln[:half]) + b") -2 ("
                + _pdf_escape(ln[half:]) + b")] TJ T*"
            )
        elif text_op == "hex":
            raw = ln.encode("latin-1", errors="replace")
            out.append(b"<" + raw.hex().encode("ascii") + b"> Tj T*")
        else:
            out.append(b"(" + _pdf_escape(ln) + b") Tj T*")
    out.append(b"ET")
    return b"\n".join(out)


# minimal identity ToUnicode CMap: 1-byte codes 00–FF → U+0000–U+00FF
# (PDF §9.10.3; the shape real subset-font writers emit, with the
# identity mapping so the writer's latin-1 bytes survive the roundtrip)
_IDENTITY_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<00> <FF>
endcodespacerange
1 beginbfrange
<00> <FF> <0000>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


def _encode_stream_filter(stream: bytes, stream_filter: str) -> tuple[bytes, bytes]:
    """Encode one content stream for the writer's ``stream_filter``
    knob; returns (encoded bytes, the /Filter dict fragment). Each form
    is a first-party fixture for the matching decoder in
    :func:`_apply_filters` (finding 87)."""
    import base64
    import zlib

    if stream_filter == "lzw":
        from automated_property_data_ingestion_document_pipeline_spark.sources.tiff import (
            _tiff_lzw_encode,
        )

        return _tiff_lzw_encode(stream), b" /Filter /LZWDecode"
    if stream_filter == "a85flate":
        # encoded flate-first, so DECODE order is A85 then Flate
        return (
            base64.a85encode(zlib.compress(stream, 6)) + b"~>",
            b" /Filter [/ASCII85Decode /FlateDecode]",
        )
    if stream_filter == "ahx":
        return stream.hex().encode("ascii") + b">", b" /Filter /ASCIIHexDecode"
    if stream_filter == "rle":
        out = bytearray()
        for i in range(0, len(stream), 128):
            chunk = stream[i : i + 128]
            out += bytes([len(chunk) - 1]) + chunk
        out.append(128)  # EOD
        return bytes(out), b" /Filter /RunLengthDecode"
    raise ValueError(f"unknown stream_filter {stream_filter!r}")


def pdf_bytes_from_lines(
    lines: list[str],
    compress: bool = False,
    text_op: str = "Tj",
    stream_filter: "str | None" = None,
) -> bytes:
    """Serialize paragraphs into a valid single-font PDF 1.4 file:
    catalog → page tree → N pages, each with its own content stream, one
    shared Helvetica font object, correct xref offsets, trailer. Pure
    function of ``lines`` (fixed object numbering, no timestamps;
    zlib level is pinned so ``compress=True`` stays deterministic too).
    ``compress=True`` FlateDecode-encodes each content stream — the
    layout real-world writers emit, and the fixture path for
    :func:`extract_pdf_text`'s inflate branch. ``text_op`` (r07) picks
    the show-operator form per :func:`_content_stream` — ``"hex"``
    additionally attaches the identity /ToUnicode CMap to the font, so
    every extractor path (Tj, TJ arrays, hex+CMap) has a first-party
    deterministic fixture."""
    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    if not pages:
        pages = [[]]
    n_pages = len(pages)

    # object numbering: 1 catalog, 2 pages-tree, 3 font,
    # then per page i: 4+2i page, 5+2i content; hex mode appends the
    # CMap stream as the final object (4 + 2*n_pages)
    objects: list[bytes] = []
    page_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids.encode(), n_pages)
    )
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding"
    if text_op == "hex":
        font += b" /ToUnicode %d 0 R" % (4 + 2 * n_pages)
    objects.append(font + b" >>")
    for i, page_lines in enumerate(pages):
        stream = _content_stream(page_lines, text_op)
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (PAGE_W, PAGE_H, 5 + 2 * i)
        )
        if stream_filter is not None:
            enc, filt = _encode_stream_filter(stream, stream_filter)
            objects.append(
                b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(enc), filt, enc)
            )
        elif compress:
            import zlib

            flate = zlib.compress(stream, 6)
            objects.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(flate), flate)
            )
        else:
            objects.append(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
            )
    if text_op == "hex":
        objects.append(
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(_IDENTITY_CMAP), _IDENTITY_CMAP)
        )

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]  # object 0 is the free head
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref_at = len(buf)
    n_obj = len(objects) + 1
    buf += b"xref\n0 %d\n" % n_obj
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (n_obj, xref_at)
    )
    return bytes(buf)


def _standard_encryption(
    lines: list[str],
    method: str,
    user_pw: bytes,
    owner_pw: bytes,
    id_salt: bytes,
):
    """Writer-side standard-security-handler setup shared by
    :func:`pdf_bytes_encrypted` and :func:`pdf_bytes_modern` (r09
    self-review: the spec map, O/U/key derivation, IV closure, and
    /Encrypt dict literal previously appeared verbatim in both).
    Returns ``(enc, enc_dict, id0)`` — ``enc(num, data)`` encrypts one
    stream under the per-object key with an IV derived from
    /ID + object number (determinism contract: no RNG anywhere)."""
    import hashlib

    from automated_property_data_ingestion_document_pipeline_spark.sources import pdf_crypt

    spec = {
        "rc4-40": (1, 2, 5, "rc4"),
        "rc4-128": (2, 3, 16, "rc4"),
        "aes-128": (4, 4, 16, "aesv2"),
        "aes-256": (5, 6, 32, "aesv3"),
    }
    if method not in spec:
        raise ValueError(f"unknown encryption method {method!r}")
    v, r, key_bytes, obj_method = spec[method]
    id0 = hashlib.md5(
        id_salt + method.encode() + b"|"
        + "\x1f".join(lines).encode("utf-8", "replace")
    ).digest()
    p_perms = -44
    if v == 5:
        # ISO 32000-2 §7.6.4.4 (r10): the 32-byte file key and all four
        # salts derive from /ID — pure function of the inputs, no RNG
        fk = hashlib.sha256(id0 + b"|v5-file-key").digest()
        uvs = hashlib.md5(id0 + b"uvs").digest()[:8]
        uks = hashlib.md5(id0 + b"uks").digest()[:8]
        ovs = hashlib.md5(id0 + b"ovs").digest()[:8]
        oks = hashlib.md5(id0 + b"oks").digest()[:8]
        u_val, ue_val = pdf_crypt.compute_u_ue_v5(user_pw, fk, uvs, uks, r)
        o_val, oe_val = pdf_crypt.compute_o_oe_v5(owner_pw, fk, u_val, ovs, oks, r)
        perms = pdf_crypt.compute_perms_v5(p_perms, True, fk)
        enc_dict = (
            b"<< /Filter /Standard /V 5 /R %d /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> /P %d >>"
            % (
                r,
                o_val.hex().encode(),
                u_val.hex().encode(),
                oe_val.hex().encode(),
                ue_val.hex().encode(),
                perms.hex().encode(),
                p_perms,
            )
        )
    else:
        o_val = pdf_crypt.compute_o_value(owner_pw, user_pw, r, key_bytes)
        fk = pdf_crypt.compute_file_key(user_pw, o_val, p_perms, id0, r, key_bytes)
        u_val = pdf_crypt.compute_u_value(fk, id0, r)
        if method == "aes-128":
            enc_dict = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                b"/StmF /StdCF /StrF /StdCF /O <%s> /U <%s> /P %d >>"
                % (o_val.hex().encode(), u_val.hex().encode(), p_perms)
            )
        else:
            length = b" /Length 128" if method == "rc4-128" else b""
            enc_dict = (
                b"<< /Filter /Standard /V %d /R %d%s /O <%s> /U <%s> /P %d >>"
                % (v, r, length, o_val.hex().encode(), u_val.hex().encode(), p_perms)
            )

    def enc(num: int, data: bytes) -> bytes:
        iv = hashlib.md5(id0 + b"%d/0" % num).digest()[:16]
        return pdf_crypt.encrypt_bytes(fk, num, 0, data, obj_method, iv=iv)

    return enc, enc_dict, id0


def pdf_bytes_encrypted(
    lines: list[str],
    method: str = "rc4-128",
    compress: bool = True,
    user_pw: bytes = b"",
    owner_pw: bytes = b"spark-graft-owner",
) -> bytes:
    """The 'protected' report shape third parties hand back: the same
    classic PDF 1.4 layout as :func:`pdf_bytes_from_lines` but with
    every stream body encrypted under the STANDARD security handler
    (ISO 32000-1 §7.6.3-4) — ``method`` picks ``"rc4-40"`` (/V 1 /R 2),
    ``"rc4-128"`` (/V 2 /R 3 /Length 128) or ``"aes-128"`` (/V 4 /R 4,
    crypt filter /AESV2). Deterministic pure function of its inputs:
    the file /ID is an MD5 of the content+method and each AES IV
    derives from /ID + object number — no RNG, so fixtures hash
    identically on any machine. A non-empty ``user_pw`` produces the
    file the extractor must REFUSE typed (empty-password auth fails)."""
    import zlib

    _enc, enc_dict, id0 = _standard_encryption(
        lines, method, user_pw, owner_pw, b"spark-graft-pdf-encrypt|"
    )

    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    if not pages:
        pages = [[]]
    n_pages = len(pages)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids.encode(), n_pages),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ]
    for i, page_lines in enumerate(pages):
        stream = _content_stream(page_lines)
        if compress:
            stream = zlib.compress(stream, 6)
        enc = _enc(5 + 2 * i, stream)
        filt = b" /Filter /FlateDecode" if compress else b""
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (PAGE_W, PAGE_H, 5 + 2 * i)
        )
        objects.append(
            b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(enc), filt, enc)
        )
    enc_num = len(objects) + 1
    objects.append(enc_dict)

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref_at = len(buf)
    n_obj = len(objects) + 1
    buf += b"xref\n0 %d\n" % n_obj
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    idhex = id0.hex().encode()
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R /ID [<%s> <%s>] >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (n_obj, enc_num, idhex, idhex, xref_at)
    )
    return bytes(buf)


def pdf_bytes_modern(
    lines: list[str],
    predictor: bool = False,
    encrypt_method: "str | None" = None,
    user_pw: bytes = b"",
    owner_pw: bytes = b"spark-graft-owner",
) -> bytes:
    """The PDF 1.5 container layout every modern Word/LibreOffice export
    uses (first-party fixture for the extractor's xref-stream + ObjStm
    path, finding 86): catalog, page tree, font, and page dictionaries
    live COMPRESSED inside a /Type /ObjStm object stream (§7.5.7);
    content streams stay regular; the cross-reference is a /Type /XRef
    STREAM (§7.5.8) with /W [1 2 2] binary rows — optionally PNG
    /Predictor 12 up-filtered, the form real writers emit — and the
    trailer dictionary folded into the xref stream's own dict. Same
    document model and determinism as :func:`pdf_bytes_from_lines`.

    ``encrypt_method`` (r09: ``"rc4-40"``/``"rc4-128"``/``"aes-128"``)
    additionally encrypts the ObjStm container and content streams
    under the standard security handler — the RE-ENCRYPTED MODERN
    EXPORT, the single most common protected-PDF shape in the wild.
    Per §7.5.8.2 the xref STREAM itself is never encrypted, the
    /Encrypt dictionary is a regular object (§7.5.7 forbids it in an
    ObjStm), and /Encrypt + /ID live in the xref stream's dict."""
    import zlib

    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    if not pages:
        pages = [[]]
    n = len(pages)

    _enc = None
    enc_dict = None
    trailer_extra = b""
    if encrypt_method is not None:
        _enc, enc_dict, id0 = _standard_encryption(
            lines, encrypt_method, user_pw, owner_pw,
            b"spark-graft-pdf-encrypt-modern|",
        )
        trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            5 + 2 * n,
            id0.hex().encode(),
            id0.hex().encode(),
        )
    # numbering: 1 ObjStm container; members 2 catalog, 3 pages tree,
    # 4 font, 5..4+n page dicts; regular: 5+n..4+2n contents, 5+2n xref
    members: list[tuple[int, bytes]] = [
        (2, b"<< /Type /Catalog /Pages 3 0 R >>"),
        (
            3,
            b"<< /Type /Pages /Kids [%s] /Count %d >>"
            % (" ".join(f"{5 + i} 0 R" for i in range(n)).encode(), n),
        ),
        (
            4,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>",
        ),
    ]
    for i in range(n):
        members.append(
            (
                5 + i,
                b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 %d %d] "
                b"/Resources << /Font << /F1 4 0 R >> >> /Contents %d 0 R >>"
                % (PAGE_W, PAGE_H, 5 + n + i),
            )
        )
    header, bodies, off = [], [], 0
    for num, body in members:
        header.append(b"%d %d" % (num, off))
        bodies.append(body)
        off += len(body) + 1
    stm_head = b" ".join(header) + b"\n"
    stm = stm_head + b"\n".join(bodies) + b"\n"
    stm_flate = zlib.compress(stm, 6)
    if _enc is not None:
        stm_flate = _enc(1, stm_flate)

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    offsets[1] = len(buf)
    buf += (
        b"1 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n%s\nendstream\nendobj\n"
        % (len(members), len(stm_head), len(stm_flate), stm_flate)
    )
    for i, page_lines in enumerate(pages):
        content = zlib.compress(_content_stream(page_lines), 6)
        if _enc is not None:
            content = _enc(5 + n + i, content)
        offsets[5 + n + i] = len(buf)
        buf += (
            b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\n"
            b"stream\n%s\nendstream\nendobj\n"
            % (5 + n + i, len(content), content)
        )
    xref_num = 5 + 2 * n
    if enc_dict is not None:
        # the /Encrypt dictionary is a REGULAR object (never inside an
        # ObjStm, §7.5.7) and is itself unencrypted; xref shifts by one
        offsets[xref_num] = len(buf)
        buf += b"%d 0 obj\n%s\nendobj\n" % (xref_num, enc_dict)
        xref_num += 1
    xref_at = len(buf)
    offsets[xref_num] = xref_at
    size = xref_num + 1
    # field-2 width sized to the largest offset (r08 ADVICE: a fixed
    # 2-byte width overflows untyped past 65,535 bytes of output) —
    # mirroring real writers, which emit /W sized to the final offset
    w2 = max(2, (xref_at.bit_length() + 7) // 8)
    rows = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num == 1 or num in offsets:
            t, f2, f3 = 1, offsets.get(num, 0), 0
        else:  # ObjStm member: container 1, index within
            t, f2, f3 = 2, 1, num - 2
        rows += bytes([t]) + f2.to_bytes(w2, "big") + f3.to_bytes(2, "big")
    if predictor:
        rowlen = 3 + w2
        filtered = bytearray()
        prev = bytearray(rowlen)
        for r in range(0, len(rows), rowlen):
            row = rows[r : r + rowlen]
            filtered += b"\x02" + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(rowlen)
            )
            prev = row
        xdata = zlib.compress(bytes(filtered), 6)
        parms = b" /DecodeParms << /Predictor 12 /Columns %d >>" % rowlen
    else:
        xdata = zlib.compress(bytes(rows), 6)
        parms = b""
    buf += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 %d 2] /Root 2 0 R%s "
        b"/Length %d /Filter /FlateDecode%s >>\nstream\n%s\nendstream\nendobj\n"
        % (xref_num, size, w2, trailer_extra, len(xdata), parms, xdata)
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(buf)


def pdf_incremental_update(base: bytes, replacements: "dict[int, bytes]") -> bytes:
    """Append an incremental update (PDF §7.5.6) to ``base``: each
    object number in ``replacements`` gets a new generation-0 body
    appended after ``%%EOF``, plus a new xref section whose trailer
    ``/Prev`` links the previous one — the container shape
    signed/edited PDFs carry in the wild, and the first-party fixture
    for the extractor's latest-generation-wins object resolution
    (PERFORMANCE.md finding 82)."""
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", base):
        pass
    if m is None:
        raise ValueError("base has no startxref to chain from")
    prev_xref = int(m.group(1))
    sm = re.search(rb"/Size\s+(\d+)", base[base.rfind(b"trailer") :])
    size = int(sm.group(1)) if sm else max(replacements) + 2
    out = bytearray(base)
    offs: dict[int, int] = {}
    for num, body in sorted(replacements.items()):
        offs[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for num, off in sorted(offs.items()):
        out += b"%d 1\n%010d 00000 n \n" % (num, off)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, prev_xref, xref_at)
    )
    return bytes(out)


def pdf_bytes_with_incremental_update(lines: list[str]) -> bytes:
    """A PDF whose FIRST generation shows ``SUPERSEDED`` on every line and
    whose appended incremental update replaces every page content
    stream with the real ``lines``. An extractor that resolves objects
    by first byte-scan match extracts the stale decoy text — the
    failure mode the xref-chain index exists to prevent, made
    driver-visible via q_pdf_extract's form cycle."""
    n = max(len(lines), 1)
    base = pdf_bytes_from_lines(["SUPERSEDED"] * n)
    pages = [
        lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)
    ] or [[]]
    repl: dict[int, bytes] = {}
    for i, page_lines in enumerate(pages):
        stream = _content_stream(page_lines)
        repl[5 + 2 * i] = b"<< /Length %d >>\nstream\n%s\nendstream" % (
            len(stream),
            stream,
        )
    return pdf_incremental_update(base, repl)


def pdf_bytes_with_update_chain(lines: list[str], generations: int = 4) -> bytes:
    """A /Prev chain LONGER than two (r10 stretch): the base document
    shows decoy text, then ``generations - 1`` successive incremental
    updates each replace every content stream — the repeatedly-signed/
    edited file shape. Only the FINAL generation carries ``lines``;
    every earlier one is a distinct decoy, so an extractor that stops
    walking /Prev early, or resolves any stale generation, extracts a
    decoy and fails the value hash."""
    if generations < 2:
        raise ValueError("an update chain needs at least 2 generations")
    n = max(len(lines), 1)
    payload = pdf_bytes_from_lines(["DECOY-GEN-0"] * n)
    for g in range(1, generations):
        texts = lines if g == generations - 1 else [f"DECOY-GEN-{g}"] * n
        pages = [
            texts[i : i + LINES_PER_PAGE] for i in range(0, len(texts), LINES_PER_PAGE)
        ] or [[]]
        repl: dict[int, bytes] = {}
        for i, page_lines in enumerate(pages):
            stream = _content_stream(page_lines)
            repl[5 + 2 * i] = b"<< /Length %d >>\nstream\n%s\nendstream" % (
                len(stream),
                stream,
            )
        payload = pdf_incremental_update(payload, repl)
    return payload


def pdf_bytes_linearized(lines: list[str]) -> bytes:
    """The LINEARIZED ("fast web view") container layout (PDF §F, r10
    stretch): a linearization parameter dict is object 1 at the front,
    followed by the FIRST-PAGE xref section — which sits BEFORE the
    objects it indexes and whose trailer /Prev points FORWARD-in-chain
    to the main xref at the end of file; the final ``startxref`` points
    BACK to the front section. Resolvers that assume xref tables follow
    their objects, or that the startxref target is the newest section's
    physical position, mis-walk this shape. Deterministic pure function
    of ``lines`` (all variable numbers are fixed-width %010d, so every
    offset is computable in one pass).

    Object numbering: 1 linearization dict (indexed by the MAIN xref),
    2 catalog, 3 pages tree, 4 font, then per page i: 5+2i page dict,
    6+2i content stream (all indexed by the FRONT xref)."""
    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    if not pages:
        pages = [[]]
    n_pages = len(pages)
    bodies: list[tuple[int, bytes]] = [
        (2, b"<< /Type /Catalog /Pages 3 0 R >>"),
        (
            3,
            b"<< /Type /Pages /Kids [%s] /Count %d >>"
            % (" ".join(f"{5 + 2 * i} 0 R" for i in range(n_pages)).encode(), n_pages),
        ),
        (
            4,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>",
        ),
    ]
    for i, page_lines in enumerate(pages):
        bodies.append(
            (
                5 + 2 * i,
                b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 %d %d] "
                b"/Resources << /Font << /F1 4 0 R >> >> /Contents %d 0 R >>"
                % (PAGE_W, PAGE_H, 6 + 2 * i),
            )
        )
        stream = _content_stream(page_lines)
        bodies.append(
            (6 + 2 * i, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
        )
    n_obj = 5 + 2 * n_pages  # /Size: objects 0..4+2*n_pages

    header = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"
    lin_tpl = (
        b"1 0 obj\n<< /Linearized 1 /L %010d /H [0 0] /O 5 /E %010d /N %d "
        b"/T %010d >>\nendobj\n"
    )
    lin_at = len(header)
    front_at = lin_at + len(lin_tpl % (0, 0, n_pages, 0))
    k = len(bodies)  # front section covers objects 2..(n_obj-1)
    front_tpl_head = b"xref\n2 %d\n" % k
    front_trailer_tpl = b"trailer\n<< /Size %d /Root 2 0 R /Prev %010d >>\n"
    front_len = (
        len(front_tpl_head) + 20 * k + len(front_trailer_tpl % (n_obj, 0))
    )
    # body offsets, sequential after the front section
    at = front_at + front_len
    offs: dict[int, int] = {}
    chunks: list[bytes] = []
    for num, body in bodies:
        offs[num] = at
        chunk = b"%d 0 obj\n%s\nendobj\n" % (num, body)
        chunks.append(chunk)
        at += len(chunk)
    main_at = at
    main = (
        b"xref\n0 2\n0000000000 65535 f \n%010d 00000 n \n"
        b"trailer\n<< /Size %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (lin_at, n_obj, front_at)
    )
    total = main_at + len(main)
    first_page_end = offs.get(7, offs[6]) if n_pages else total
    out = bytearray(header)
    out += lin_tpl % (total, first_page_end, n_pages, main_at)
    out += front_tpl_head
    for num, _ in bodies:
        out += b"%010d 00000 n \n" % offs[num]
    out += front_trailer_tpl % (n_obj, main_at)
    out += b"".join(chunks)
    assert len(out) == main_at, (len(out), main_at)
    out += main
    assert len(out) == total
    return bytes(out)


class PdfUnsupported(ValueError):
    """Payload is not a PDF this extractor handles (bad header, broken
    FlateDecode stream, unsupported stream filter, ...)."""


_MAX_STREAM_BYTES = 1 << 28  # 256 MB per content stream, matching wav._MAX_DATA_BYTES


def _stream_length(dct: bytes, idx: "_ObjIndex") -> int:
    """Resolve a stream dictionary's /Length to an int. Direct integers
    are the common case (and what pdf_bytes_from_lines emits); an
    indirect ``N G R`` reference is resolved through the object index
    (object N's body is a bare integer). Anything else is a typed
    refusal."""
    lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?:\s+(\d+)\s+R)?", dct)
    if lm is None:
        raise PdfUnsupported("stream dictionary without direct /Length")
    if lm.group(2) is None:
        return int(lm.group(1))
    obj_num = int(lm.group(1))
    inline = idx.inline_body(obj_num)
    if inline is not None:
        om = re.match(rb"\s*(\d+)\s*$", inline[:48])
    else:
        body = idx.locate(obj_num)
        om = re.match(rb"\s*(\d+)\s*endobj", idx.payload[body : body + 48])
    if om is None:
        raise PdfUnsupported(f"unresolvable indirect /Length object {obj_num}")
    return int(om.group(1))


_MAX_DICT_BYTES = 1 << 20  # a single object dictionary longer than 1 MB is hostile
_DICT_TOKEN_RE = re.compile(rb"<<|>>|[(<]")
_DICT_STR_END_RE = re.compile(rb"[\\)]")


def _dict_span(payload: bytes, at: int) -> int:
    """Return the index just past the ``>>`` closing the dictionary whose
    ``<<`` starts at ``at``, skipping literal strings (escape-aware) and
    hex strings so a ``<<`` inside ``/Title (…)`` can't unbalance the
    scan. Typed refusal on truncation or a hostile 1 MB+ dictionary.
    Jumps by regex search to the next byte that can start a token, not
    byte by byte; a token may start on the cap's last byte, so a ``<<``
    straddling the cap still reads as ``<<``."""
    i, depth, end = at, 0, min(len(payload), at + _MAX_DICT_BYTES)
    while (m := _DICT_TOKEN_RE.search(payload, i, end + 1)) and m.start() < end:
        tok, i = m.group(), m.end()
        if tok == b"<<":
            depth += 1
        elif tok == b">>":
            depth -= 1
            if depth == 0:
                return i
        elif tok == b"(":  # literal string: a backslash escapes the next byte
            s = _DICT_STR_END_RE.search(payload, i, end)
            while s and s.group() == b"\\":
                s = _DICT_STR_END_RE.search(payload, s.start() + 2, end)
            if s is None:
                break
            i = s.end()
        else:  # hex string
            j = payload.find(b">", i)
            i = (j + 1) if j != -1 else end
    raise PdfUnsupported("unterminated or oversized object dictionary")


_MAX_OBJSTM_OBJECTS = 65536  # /N cap — a hostile object stream is refused typed


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row filters over fixed-width byte rows (PDF §7.4.4.4
    via RFC 2083; xref streams are written with /Predictor 12 by real
    writers): each row is one filter-type byte + ``columns`` data bytes,
    bpp = 1. Filters 0 none / 1 sub / 2 up / 3 average / 4 paeth."""
    rowlen = columns + 1
    if columns <= 0 or len(data) % rowlen:
        raise PdfUnsupported("predictor data not row-aligned")
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data), rowlen):
        ftype = data[r]
        row = bytearray(data[r + 1 : r + rowlen])
        if ftype == 0:
            pass
        elif ftype == 1:
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise PdfUnsupported(f"unsupported PNG predictor filter {ftype}")
        out += row
        prev = row
    return bytes(out)


_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_LINE_OBJ_HEADER_RE = re.compile(rb"[\r\n](\d+)\s+(\d+)\s+obj\b")


def _obj_headers(payload: bytes) -> "Iterator[re.Match[bytes]]":
    """The ``N G obj`` headers that start the payload or a line: the
    matches of ``re.finditer(rb"(?:^|[\\r\\n])(\\d+)\\s+(\\d+)\\s+obj\\b",
    payload)``. Two patterns, because the ``^`` alternative stops the
    regex engine from jumping between line breaks; as one pattern this
    scan was a fifth of :func:`extract_pdf_text`'s time."""
    m = _OBJ_HEADER_RE.match(payload)
    if m is not None:
        yield m
    yield from _LINE_OBJ_HEADER_RE.finditer(payload, m.end() if m else 0)


class _ObjIndex:
    """Offset index over a PDF's indirect objects (r07 advice: resolve
    by the xref chain, not the first byte-scan match).

    Primary source: the cross-reference chain, walked newest-first from
    the final ``startxref`` — CLASSIC trailer/xref tables (PDF
    §7.5.4/§7.5.5) and (r08) cross-reference STREAMS (§7.5.8: /W field
    widths, /Index subsections, optional PNG /Predictor) both handled,
    chained through ``/Prev`` and Word's hybrid ``/XRefStm`` pointers.
    The newest entry per object number wins, so an incremental update's
    stale generation can never shadow the live one, and objects the
    newest section marks free stop resolving at all. Type-2 entries
    (§7.5.8.3) resolve through OBJECT STREAMS (§7.5.7): each /ObjStm
    container is inflated once, its ``num offset`` header parsed, and
    member bodies are indexed as inline bytes — so PDF 1.5 files whose
    page/font dictionaries live compressed (every modern Word/LibO
    export) resolve first-class instead of falling to the
    walk-every-stream path. Every type-1 offset is validated to land on
    ``N G obj``; invalid entries drop to the backstop.

    Backstop (xref-less fixtures, damaged tables): a
    consumed-region-aware linear scan that skips declared stream bodies
    — so a ``\\nN 0 obj`` byte pattern inside a FlateDecode body can't
    shadow a real object — keeping the highest generation and, within a
    generation, the LAST occurrence (appended incremental updates
    win)."""

    __slots__ = (
        "payload", "_offsets", "_inline", "_inline_order", "encrypted",
        "encrypt_ref", "file_id", "decryptor", "_pending_stm_refs",
        "_trailer_parsed",
    )

    def __init__(self, payload: bytes):
        self.payload = payload
        self.encrypted = False  # set when a trailer/xref dict has /Encrypt
        self.encrypt_ref: "int | None" = None  # newest trailer's /Encrypt object
        self.file_id: "bytes | None" = None  # first /ID string (key salt)
        # (num, gen, bytes) -> bytes, installed by _setup_decryption once
        # the standard security handler authenticates the empty user pw
        self.decryptor = None
        self._trailer_parsed = False  # any chain trailer/xref dict parsed
        offsets = self._scan()
        chain, freed, stm_refs = self._xref_chain()
        offsets.update(chain)
        for num in freed:
            offsets.pop(num, None)
        self._offsets = offsets
        self._inline: dict[int, bytes] = {}
        self._inline_order: list[int] = []
        if self.encrypted:
            # ObjStm containers are ENCRYPTED streams — inflating them
            # now (before _setup_decryption installs the decryptor)
            # would fail on ciphertext and strand every member, so an
            # encrypted PDF 1.5 file (the modern Word-export shape,
            # re-encrypted) would refuse instead of extract. Defer;
            # _setup_decryption finishes the job once the empty user
            # password authenticates.
            self._pending_stm_refs = stm_refs
        else:
            self._pending_stm_refs = {}
            self._extract_objstm(stm_refs)
        if not self._trailer_parsed and not self.encrypted:
            # no chain trailer could be parsed (xref missing OR the
            # newest trailer dict itself is malformed — a chain with
            # entries but a corrupt trailer previously skipped this,
            # r09 self-review finding): an encrypted file would
            # otherwise sail ciphertext into the filters — garbage
            # rows for unfiltered streams. Parse any classic trailer
            # dicts directly (balanced-dict scan + /Size|/Root shape
            # check, so ciphertext or prose can't false-positive).
            self._scan_trailers_for_encrypt()

    def _finish_deferred_objstm(self) -> None:
        """Inflate ObjStm containers whose extraction was deferred by
        encryption (runs after the decryptor is installed, or once
        /Identity establishes streams are plaintext)."""
        refs, self._pending_stm_refs = self._pending_stm_refs, {}
        if refs:
            self._extract_objstm(refs)

    def _scan_trailers_for_encrypt(self) -> None:
        # _note_encrypt is first-sighting-wins (matching the newest-
        # first chain walk), and in file order the newest trailer — an
        # incremental update's — comes LAST: visit candidates by
        # descending file position.
        cands: list[tuple[int, bytes]] = []
        for m in re.finditer(rb"trailer\b", self.payload):
            t = self.payload.find(b"<<", m.end(), m.end() + 64)
            if t == -1:
                continue
            try:
                d = self.payload[t : _dict_span(self.payload, t)]
            except PdfUnsupported:
                continue
            # a REAL trailer always carries /Size (and in practice
            # /Root) — without this shape check, prose inside a
            # plaintext content stream spelling 'trailer << /Encrypt
            # 9 0 R >>' would false-positive REFUSE a readable file
            if not re.search(rb"/(?:Size|Root)(?![\w])", d):
                continue
            cands.append((m.start(), d))
        # r10 ADVICE: an encrypted PDF 1.5 file may have NO classic
        # trailer at all — its only trailer dict is the /Type /XRef
        # stream's own dictionary (§7.5.8.1). With the startxref chain
        # unusable, missing it classifies the file unencrypted and
        # ciphertext sails into the filter chain (a garbage-row leak
        # for uncompressed streams). Scan object headers for xref-
        # stream dicts with the same /Size|/Root shape check.
        for m in re.finditer(rb"\d+\s+\d+\s+obj\b", self.payload):
            t = self.payload.find(b"<<", m.end(), m.end() + 32)
            if t == -1:
                continue
            try:
                d = self.payload[t : _dict_span(self.payload, t)]
            except PdfUnsupported:
                continue
            if not re.search(rb"/Type\s*/XRef(?![\w])", d):
                continue
            if not re.search(rb"/(?:Size|Root)(?![\w])", d):
                continue
            cands.append((m.start(), d))
        for _, d in sorted(cands, key=lambda c: -c[0]):
            self._note_encrypt(d)

    def locate(self, num: int) -> int:
        """Offset just past object ``num``'s ``N G obj`` token (regular
        objects only; ObjStm members have no file offset — consumers
        branch on :meth:`inline_body` first)."""
        off = self._offsets.get(num)
        if off is None:
            raise PdfUnsupported(f"missing object {num}")
        return off

    def inline_body(self, num: int) -> "bytes | None":
        """Object ``num``'s body bytes when it lives inside an object
        stream; None for regular objects."""
        return self._inline.get(num)

    def _note_encrypt(self, trailer: bytes) -> None:
        """Record /Encrypt + first /ID from a trailer / xref-stream
        dict. The chain walks newest-first, so the FIRST sighting wins
        (an incremental update's security state supersedes the
        original's)."""
        em = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", trailer)
        if em is not None:
            self.encrypted = True
            if self.encrypt_ref is None:
                self.encrypt_ref = int(em.group(1))
        if self.file_id is None:
            im = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>", trailer)
            if im is not None:
                h = im.group(1)
                if len(h) % 2:
                    h += b"0"
                self.file_id = bytes.fromhex(h.decode("ascii"))
            else:
                lm = re.search(rb"/ID\s*\[\s*\(", trailer)
                if lm is not None:
                    raw, _ = _lit_span(trailer, lm.end() - 1)
                    self.file_id = _pdf_unescape(raw).encode("latin-1")

    def objects_in_order(self) -> "list[tuple[int, int | None]]":
        """(object number, body offset | None-for-inline) pairs in
        document order — regular objects by file-byte position, ObjStm
        members after them in container/index order."""
        regular = sorted(self._offsets.items(), key=lambda kv: kv[1])
        return [*regular, *((n, None) for n in self._inline_order)]

    def _extract_objstm(self, stm_refs: "dict[int, tuple[int, int]]") -> None:
        """Resolve type-2 xref entries: inflate each referenced /ObjStm
        container once (caps enforced), parse its ``num offset`` header
        pairs, slice member bodies. A broken container is a typed
        refusal only for its own members at use time (they simply stay
        missing), matching the per-object quarantine philosophy."""
        if not stm_refs:
            return
        by_container: dict[int, list[tuple[int, int]]] = {}
        for num, (container, idx_in) in stm_refs.items():
            by_container.setdefault(container, []).append((idx_in, num))
        for container, members in sorted(by_container.items()):
            if container not in self._offsets:
                continue
            try:
                body = _object_stream(self, container)
                dct = _object_dict(self, container)
            except PdfUnsupported:
                continue
            if not re.search(rb"/Type\s*/ObjStm\b", dct):
                continue
            nm = re.search(rb"/N\s+(\d+)", dct)
            fm = re.search(rb"/First\s+(\d+)", dct)
            if nm is None or fm is None:
                continue
            n, first = int(nm.group(1)), int(fm.group(1))
            if n > _MAX_OBJSTM_OBJECTS or first > len(body):
                raise PdfUnsupported("hostile object stream header")
            pairs = re.findall(rb"(\d+)\s+(\d+)", body[:first])[:n]
            bounds = [int(o) for _, o in pairs] + [len(body) - first]
            claimed = {idx: num for idx, num in members}
            for i, (num_b, _off) in enumerate(pairs):
                num = int(num_b)
                # only index members the xref chain actually points here
                # (newest-wins: a superseded copy inside an old ObjStm
                # must not resurrect), and never shadow a regular object
                if claimed.get(i) != num or num in self._offsets:
                    continue
                start, end = first + bounds[i], first + bounds[i + 1]
                if not 0 <= start <= end <= len(body):
                    continue
                self._inline[num] = body[start:end]
                self._inline_order.append(num)

    def _scan(self) -> dict[int, int]:
        payload = self.payload
        best: dict[int, tuple[int, int]] = {}  # num -> (gen, body offset)
        consumed_to = 0
        for m in _obj_headers(payload):
            if m.start() < consumed_to:
                continue
            num, gen, body = int(m.group(1)), int(m.group(2)), m.end()
            prev = best.get(num)
            if prev is None or gen >= prev[0]:
                best[num] = (gen, body)
            # mark this object's stream body consumed so byte patterns
            # inside it can't masquerade as object headers
            i = body
            while i < len(payload) and payload[i] in b" \t\r\n":
                i += 1
            if payload[i : i + 2] != b"<<":
                continue
            try:
                dend = _dict_span(payload, i)
            except PdfUnsupported:
                continue
            sm = re.match(rb"\s*stream\r?\n", payload[dend : dend + 16])
            if sm is None:
                continue
            lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", payload[i:dend])
            if lm is not None:
                consumed_to = dend + sm.end() + int(lm.group(1))
            else:  # indirect /Length: best-effort skip to the next endstream
                j = payload.find(b"endstream", dend + sm.end())
                consumed_to = j if j != -1 else len(payload)
        return {num: off for num, (gen, off) in best.items()}

    def _xref_chain(
        self,
    ) -> "tuple[dict[int, int], set[int], dict[int, tuple[int, int]]]":
        """Walk the cross-reference chain newest-first. Returns
        (validated num→body-offset for type-1 entries, freed numbers,
        type-2 num→(objstm container, index) refs). Classic sections
        queue their trailer's /XRefStm (hybrid files) then /Prev; xref
        streams queue their /Prev. A malformed section stops the walk
        (scan backstop takes over) without discarding sections already
        parsed."""
        payload = self.payload
        sx = payload.rfind(b"startxref")
        if sx == -1:
            return {}, set(), {}
        m = re.match(rb"startxref\s+(\d+)", payload[sx : sx + 64])
        if m is None:
            return {}, set(), {}
        queue, seen = [int(m.group(1))], set()
        # newest section wins per object number, across ALL entry kinds
        entries: dict[int, tuple[bytes, int, int]] = {}  # num -> (kind, f2, f3)
        while queue:
            pos = queue.pop(0)
            if pos in seen or not 0 <= pos < len(payload):
                continue
            seen.add(pos)
            if payload.startswith(b"xref", pos):
                nxt = self._parse_classic_section(pos, entries)
            else:
                nxt = self._parse_xref_stream(pos, entries)
            queue.extend(nxt)
        out: dict[int, int] = {}
        freed: set[int] = set()
        stm_refs: dict[int, tuple[int, int]] = {}
        for num, (kind, f2, f3) in entries.items():
            if kind == b"f":
                freed.add(num)
            elif kind == b"s":  # lives in object stream f2 at index f3
                stm_refs[num] = (f2, f3)
            else:
                vm = re.match(rb"(\d+)\s+\d+\s+obj\b", payload[f2 : f2 + 48])
                if vm is not None and int(vm.group(1)) == num:
                    out[num] = f2 + vm.end()
        return out, freed, stm_refs

    def _parse_classic_section(
        self, pos: int, entries: "dict[int, tuple[bytes, int, int]]"
    ) -> list[int]:
        """One classic ``xref`` table + trailer at ``pos``; fills
        ``entries`` (first writer per num wins — newest-first walk) and
        returns follow-up positions (/XRefStm first, then /Prev)."""
        payload = self.payload
        i = pos + 4
        while True:
            sm = re.match(
                rb"[ \t\r\n]*(\d+)[ \t]+(\d+)[ \t]*(?:\r\n|\r|\n)",
                payload[i : i + 48],
            )
            if sm is None:
                break
            first, count = int(sm.group(1)), int(sm.group(2))
            if count > 8_000_000:  # hostile table
                return []
            i += sm.end()
            for k in range(count):
                em = re.match(
                    rb"(\d{10})[ ](\d{5})[ ]([nf])[ \r\n]{0,3}",
                    payload[i : i + 21],
                )
                if em is None:
                    return []
                num = first + k
                if num not in entries:
                    entries[num] = (em.group(3), int(em.group(1)), 0)
                i += em.end()
        tm = re.search(rb"trailer", payload[i : i + 64])
        if tm is None:
            return []
        tstart = payload.find(b"<<", i + tm.end())
        if tstart == -1:
            return []
        try:
            trailer = payload[tstart : _dict_span(payload, tstart)]
        except PdfUnsupported:
            return []
        self._trailer_parsed = True
        self._note_encrypt(trailer)
        nxt = []
        hm = re.search(rb"/XRefStm\s+(\d+)", trailer)
        if hm is not None:
            nxt.append(int(hm.group(1)))
        pm = re.search(rb"/Prev\s+(\d+)", trailer)
        if pm is not None:
            nxt.append(int(pm.group(1)))
        return nxt

    def _parse_xref_stream(
        self, pos: int, entries: "dict[int, tuple[bytes, int, int]]"
    ) -> list[int]:
        """One cross-reference STREAM object (§7.5.8) at ``pos``:
        /W-packed binary rows over /Index subsections, FlateDecode with
        optional PNG /Predictor. /Length must be direct (resolving an
        indirect length needs the index being built — real writers emit
        direct). Returns the /Prev follow-up, if any."""
        import zlib

        payload = self.payload
        om = re.match(rb"(\d+)\s+\d+\s+obj\b", payload[pos : pos + 48])
        if om is None:
            return []
        i = pos + om.end()
        while i < len(payload) and payload[i] in b" \t\r\n":
            i += 1
        if payload[i : i + 2] != b"<<":
            return []
        try:
            dend = _dict_span(payload, i)
        except PdfUnsupported:
            return []
        dct = payload[i:dend]
        if not re.search(rb"/Type\s*/XRef\b", dct):
            return []
        self._trailer_parsed = True  # the xref stream dict IS the trailer
        self._note_encrypt(dct)
        wm = re.search(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", dct)
        szm = re.search(rb"/Size\s+(\d+)", dct)
        lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", dct)
        sm = re.match(rb"\s*stream\r?\n", payload[dend : dend + 16])
        if wm is None or szm is None or lm is None or sm is None:
            return []
        w1, w2, w3 = (int(wm.group(j)) for j in (1, 2, 3))
        size, length = int(szm.group(1)), int(lm.group(1))
        rowlen = w1 + w2 + w3
        if rowlen == 0 or rowlen > 32 or length > _MAX_STREAM_BYTES:
            return []
        start = dend + sm.end()
        data = payload[start : start + length]
        if len(data) != length:
            return []
        if b"/Filter" in dct:
            if b"/FlateDecode" not in dct:
                return []
            d = zlib.decompressobj()
            try:
                data = d.decompress(data, _MAX_STREAM_BYTES + 1)
            except zlib.error:
                return []
            if len(data) > _MAX_STREAM_BYTES or not d.eof:
                return []
        prm = re.search(rb"/Predictor\s+(\d+)", dct)
        if prm is not None and int(prm.group(1)) >= 10:
            cm = re.search(rb"/Columns\s+(\d+)", dct)
            try:
                data = _png_unpredict(
                    data, int(cm.group(1)) if cm else rowlen
                )
            except PdfUnsupported:
                return []
        index = [0, size]
        im = re.search(rb"/Index\s*\[((?:\s*\d+)+)\s*\]", dct)
        if im is not None:
            index = [int(x) for x in im.group(1).split()]
        r = 0
        for first, count in zip(index[0::2], index[1::2]):
            if count > 8_000_000:
                return []
            for k in range(count):
                row = data[r * rowlen : (r + 1) * rowlen]
                r += 1
                if len(row) < rowlen:
                    return []
                t = int.from_bytes(row[:w1], "big") if w1 else 1
                f2 = int.from_bytes(row[w1 : w1 + w2], "big")
                f3 = int.from_bytes(row[w1 + w2 :], "big")
                num = first + k
                if num in entries:
                    continue
                if t == 0:
                    entries[num] = (b"f", f2, f3)
                elif t == 1:
                    entries[num] = (b"n", f2, f3)
                elif t == 2:
                    entries[num] = (b"s", f2, f3)
                # unknown types: skip (spec: treat as null reference)
        pm = re.search(rb"/Prev\s+(\d+)", dct)
        return [int(pm.group(1))] if pm is not None else []


def _pages(idx: "_ObjIndex") -> list[tuple[list[int], bytes]]:
    """(content object numbers, page dictionary bytes) for every
    ``/Type /Page`` dictionary, in document order (single ``N G R``
    refs and array-of-refs ``/Contents`` both supported; /Contents is
    OPTIONAL per the spec — a blank page contributes no lines, r07
    advice). Empty when the payload has no page dictionaries — the
    walk-every-stream fallback's trigger."""
    payload = idx.payload
    pages: list[tuple[list[int], bytes]] = []
    for num, body in idx.objects_in_order():
        if body is None:  # ObjStm member: body bytes start at offset 0
            src, i = idx.inline_body(num), 0
            if src is None:
                continue
        else:
            src, i = payload, body
        while i < len(src) and src[i] in b" \t\r\n":
            i += 1
        if src[i : i + 2] != b"<<":
            continue
        try:
            dct = src[i : _dict_span(src, i)]
        except PdfUnsupported:
            continue  # a non-page object with a hostile dict is not ours to refuse
        if not re.search(rb"/Type\s*/Page(?![0-9A-Za-z])", dct):
            continue
        cm = re.search(
            rb"/Contents\s*(?:(\d+)\s+\d+\s+R|\[((?:\s*\d+\s+\d+\s+R)*)\s*\])", dct
        )
        if cm is None:
            nums: list[int] = []  # blank page — valid, contributes nothing
        elif cm.group(1):
            nums = [int(cm.group(1))]
        else:
            nums = [int(n) for n in re.findall(rb"(\d+)\s+\d+\s+R", cm.group(2))]
        pages.append((nums, dct))
    return pages


def _lzw_decode_pdf(data: bytes, early_change: int = 1) -> bytes:
    """PDF /LZWDecode (§7.4.4): MSB-first variable-width LZW, 9→12 bit
    codes, clear 256 / EOD 257. /EarlyChange 1 (the default, and what
    every real writer emits) bumps the code width one code EARLY —
    byte-identical to the TIFF 6.0 variant, so the bit reader rides
    sources/tiff.py's. Output capped at the stream bomb limit."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.tiff import (
        _CLEAR,
        _EOI,
        _MsbBitReader,
        TiffUnsupported,
    )

    r = _MsbBitReader(data)
    out = bytearray()
    prefix = [0] * 4096
    suffix = [0] * 4096
    next_code, width, prev = 258, 9, -1
    bump_at = (1 << 9) - (1 if early_change else 0)

    def expand(code: int) -> bytes:
        chain = bytearray()
        c = code
        while c >= 256:
            if len(chain) >= 4096:
                raise PdfUnsupported("LZW chain loop")
            chain.append(suffix[c])
            c = prefix[c]
        chain.append(c)
        chain.reverse()
        return bytes(chain)

    while True:
        try:
            code = r.read(width)
        except TiffUnsupported:  # bit reader exhausted without EOD
            break
        if code == _CLEAR:
            next_code, width, prev = 258, 9, -1
            bump_at = (1 << 9) - (1 if early_change else 0)
            continue
        if code == _EOI:
            break
        if prev < 0:
            if code >= 256:
                raise PdfUnsupported("first LZW code after clear not a literal")
            entry = bytes([code])
        elif code < next_code:
            entry = expand(code)
        elif code == next_code and next_code < 4096:
            e = expand(prev)
            entry = e + e[:1]  # KwKwK
        else:
            raise PdfUnsupported(f"LZW code {code} beyond table ({next_code})")
        out += entry
        if len(out) > _MAX_STREAM_BYTES:
            raise PdfUnsupported("LZWDecode expansion exceeds 256 MB cap")
        if prev >= 0 and next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = entry[0]
            next_code += 1
            if next_code == bump_at and width < 12:
                width += 1
                bump_at = (1 << width) - (1 if early_change else 0)
        prev = code
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    """PDF /ASCII85Decode (§7.4.3): base-85 groups ending at ``~>``,
    whitespace ignored, ``z`` shorthand for four zero bytes."""
    import base64
    end = data.find(b"~>")
    chunk = data[:end] if end != -1 else data
    chunk = re.sub(rb"\s+", b"", chunk)
    try:
        return base64.a85decode(chunk)
    except ValueError as e:
        raise PdfUnsupported(f"broken ASCII85 stream: {e}") from e


def _asciihex_decode(data: bytes) -> bytes:
    """PDF /ASCIIHexDecode (§7.4.2): hex digits to ``>``, whitespace
    ignored, odd final digit padded with 0."""
    end = data.find(b">")
    hx = bytes(data[:end] if end != -1 else data).translate(None, b" \t\r\n\x0c\x00")
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfUnsupported(f"broken ASCIIHex stream: {e}") from e


def _runlength_decode(data: bytes) -> bytes:
    """PDF /RunLengthDecode (§7.4.5): length byte L — 0..127 copies the
    next L+1 bytes literally, 129..255 repeats the next byte 257-L
    times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        L = data[i]
        i += 1
        if L == 128:
            return bytes(out)
        if L < 128:
            chunk = data[i : i + L + 1]
            if len(chunk) != L + 1:
                raise PdfUnsupported("truncated RunLength literal run")
            out += chunk
            i += L + 1
        else:
            if i >= n:
                raise PdfUnsupported("truncated RunLength repeat run")
            out += data[i : i + 1] * (257 - L)
            i += 1
        if len(out) > _MAX_STREAM_BYTES:
            raise PdfUnsupported("RunLengthDecode expansion exceeds 256 MB cap")
    raise PdfUnsupported("RunLength stream missing EOD")


def _flate_decode(data: bytes) -> bytes:
    import zlib

    d = zlib.decompressobj()
    try:
        inflated = d.decompress(data, _MAX_STREAM_BYTES + 1)
    except zlib.error as e:
        raise PdfUnsupported(f"broken FlateDecode stream: {e}") from e
    if len(inflated) > _MAX_STREAM_BYTES:
        raise PdfUnsupported("FlateDecode expansion exceeds 256 MB cap")
    if not d.eof:
        raise PdfUnsupported("broken FlateDecode stream: truncated deflate data")
    return inflated


def _decode_parms_list(
    dct: bytes, n: int, idx: "_ObjIndex | None" = None
) -> "list[bytes | None]":
    """The /DecodeParms entry aligned to ``n`` filters: a single dict
    for a single filter, an array of dict/null entries for a chain.
    Absent → all None. Present but unresolvable → typed refusal (r08
    ADVICE: silently dropping parms would decode a predictor-filtered
    stream to garbage text rows instead of costing a quarantined row).
    Indirect references (``N G R``, §7.3.10) resolve through the
    object index — as a dict object, the only shape predictor parms
    take in the wild."""
    km = re.search(rb"/(?:DecodeParms|DP)(?![A-Za-z])\s*", dct)
    if km is None:
        return [None] * n
    at = km.end()
    rm = re.match(rb"(\d+)\s+\d+\s+R(?![\w])", dct[at:])
    if rm is not None:  # indirect /DecodeParms
        if idx is None:
            raise PdfUnsupported("indirect /DecodeParms outside stream context")
        try:
            d = _object_dict(idx, int(rm.group(1)))
        except PdfUnsupported as e:
            raise PdfUnsupported(f"unresolvable indirect /DecodeParms: {e}")
        if n != 1:
            raise PdfUnsupported("single /DecodeParms dict paired with filter chain")
        return [d]
    if dct[at : at + 2] == b"<<":
        d = dct[at : _dict_span(dct, at)]
        if n != 1:
            raise PdfUnsupported("single /DecodeParms dict paired with filter chain")
        return [d]
    if dct[at : at + 4] == b"null":
        return [None] * n
    if dct[at : at + 1] != b"[":
        raise PdfUnsupported(f"unparseable /DecodeParms near {dct[at:at+24]!r}")
    out: "list[bytes | None]" = []
    i = at + 1
    while i < len(dct) and len(out) < n:
        c = dct[i : i + 1]
        if c in b" \t\r\n":
            i += 1
        elif dct[i : i + 2] == b"<<":
            j = _dict_span(dct, i)
            out.append(dct[i:j])
            i = j
        elif dct[i : i + 4] == b"null":
            out.append(None)
            i += 4
        else:
            m = re.match(rb"(\d+)\s+\d+\s+R(?![\w])", dct[i:])
            if m is not None:
                if idx is None:
                    raise PdfUnsupported(
                        "indirect /DecodeParms member outside stream context"
                    )
                out.append(_object_dict(idx, int(m.group(1))))
                i += m.end()
            elif c == b"]":
                break
            else:
                raise PdfUnsupported(
                    f"unparseable /DecodeParms member near {dct[i:i+24]!r}"
                )
    out += [None] * (n - len(out))
    return out


_DECODERS = {
    b"FlateDecode": _flate_decode,
    b"Fl": _flate_decode,
    b"LZWDecode": _lzw_decode_pdf,
    b"LZW": _lzw_decode_pdf,
    b"ASCII85Decode": _ascii85_decode,
    b"A85": _ascii85_decode,
    b"ASCIIHexDecode": _asciihex_decode,
    b"AHx": _asciihex_decode,
    b"RunLengthDecode": _runlength_decode,
    b"RL": _runlength_decode,
}


def _apply_filters(
    dct: bytes, stream: bytes, idx: "_ObjIndex | None" = None
) -> bytes:
    """Run a stream's /Filter chain in decode order (§7.4: first-named
    filter applies first), honoring per-filter /DecodeParms —
    /EarlyChange on LZW, PNG /Predictor + /Columns on Flate/LZW. Any
    filter outside the battery (DCTDecode, CCITT, JBIG2, Crypt, …) is
    a typed refusal — image codecs don't belong in a text extractor."""
    fm = re.search(rb"/Filter\s*(/\w+|\[(?:\s*/\w+)*\s*\])", dct)
    if fm is None:
        if b"/Filter" in dct:
            raise PdfUnsupported(f"unparseable /Filter in {dct[:80]!r}")
        return stream
    names = re.findall(rb"/(\w+)", fm.group(1))
    parms = _decode_parms_list(dct, len(names), idx)
    for name, parm in zip(names, parms):
        dec = _DECODERS.get(name)
        if dec is None:
            raise PdfUnsupported(f"unsupported stream filter /{name.decode()}")
        if dec is _lzw_decode_pdf:
            ec = 1
            if parm is not None:
                em = re.search(rb"/EarlyChange\s+(\d+)", parm)
                if em is not None:
                    ec = int(em.group(1))
            stream = _lzw_decode_pdf(stream, early_change=ec)
        else:
            stream = dec(stream)
        if parm is not None and dec in (_flate_decode, _lzw_decode_pdf):
            pm = re.search(rb"/Predictor\s+(\d+)", parm)
            if pm is not None and int(pm.group(1)) >= 10:
                cm = re.search(rb"/Columns\s+(\d+)", parm)
                stream = _png_unpredict(stream, int(cm.group(1)) if cm else 1)
            elif pm is not None and int(pm.group(1)) == 2:
                raise PdfUnsupported("TIFF predictor 2 unsupported on text streams")
    return stream


def _stream_body(
    idx: "_ObjIndex",
    dct: bytes,
    start: int,
    objref: "tuple[int, int] | None" = None,
) -> tuple[bytes, int]:
    """Slice a stream to its declared /Length from ``start`` (just past
    the ``stream`` EOL), validate the ``endstream`` landing, decrypt
    when the index carries an authenticated decryptor (r09 — §7.6.2:
    encryption wraps the OUTSIDE of the filter chain, so ciphertext is
    removed before filters run; ``objref`` is the owning object's
    (num, gen), required for the per-object key), then run the /Filter
    chain through the capped decoder battery (r06 advice — bomb
    guards; r08 — Flate/LZW/ASCII85/ASCIIHex/RunLength + chains +
    predictors), refuse any other filter. Returns (bytes, end)."""
    payload = idx.payload
    length = _stream_length(dct, idx)
    if length > _MAX_STREAM_BYTES:
        raise PdfUnsupported(f"stream /Length {length} exceeds cap")
    stream = payload[start : start + length]
    if len(stream) != length or not re.match(
        rb"(?:\r\n|\r|\n)?endstream", payload[start + length : start + length + 11]
    ):
        raise PdfUnsupported("stream /Length does not land on endstream")
    if idx.decryptor is not None:
        if objref is None:
            raise PdfUnsupported(
                "cannot decrypt a stream without its object identity"
            )
        try:
            stream = idx.decryptor(objref[0], objref[1], stream)
        except ValueError as e:  # AesError and kin → typed quarantine
            raise PdfUnsupported(f"stream decryption failed: {e}")
    return _apply_filters(dct, stream, idx), start + length


def _object_stream(idx: "_ObjIndex", num: int) -> bytes:
    """Locate object ``num``'s stream body via the object index (dict
    scanned with balanced ``<< >>``, body sliced/validated/inflated by
    :func:`_stream_body`). Spec §7.5.7 forbids streams inside object
    streams, so an inline member here is a typed refusal."""
    if idx.inline_body(num) is not None:
        raise PdfUnsupported(f"object {num} is an ObjStm member, cannot be a stream")
    payload = idx.payload
    i = idx.locate(num)
    while i < len(payload) and payload[i] in b" \t\r\n":
        i += 1
    if payload[i : i + 2] != b"<<":
        raise PdfUnsupported(f"content object {num} has no stream dictionary")
    dend = _dict_span(payload, i)
    sm = re.match(rb"\s*stream\r?\n", payload[dend : dend + 16])
    if sm is None:
        raise PdfUnsupported(f"content object {num} has no stream body")
    gen = 0
    if idx.decryptor is not None:
        # the per-object key needs the generation — reparse the header
        # just before the located body offset (offset points PAST it).
        # A miss is a typed REFUSAL, not a silent gen=0: RC4 with the
        # wrong per-object key has no integrity check, so guessing
        # would extract deterministic garbage as text rows
        gm = re.search(rb"(\d+)\s+(\d+)\s+obj\s*$", payload[max(0, i - 256) : i])
        if gm is None:
            raise PdfUnsupported(
                f"cannot establish generation of encrypted object {num}"
            )
        gen = int(gm.group(2))
    body, _ = _stream_body(idx, payload[i:dend], dend + sm.end(), (num, gen))
    return body


def _object_dict(idx: "_ObjIndex", num: int) -> bytes:
    """Object ``num``'s dictionary bytes (balanced ``<< >>`` scan) —
    regular or ObjStm-inline."""
    src = idx.inline_body(num)
    i = 0
    if src is None:
        src = idx.payload
        i = idx.locate(num)
    while i < len(src) and src[i] in b" \t\r\n":
        i += 1
    if src[i : i + 2] != b"<<":
        raise PdfUnsupported(f"object {num} is not a dictionary")
    return src[i : _dict_span(src, i)]


def _parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """Parse a /ToUnicode CMap stream (PDF §9.10.3) into (code byte
    width, {code → unicode}). Handles ``bfchar``, both ``bfrange``
    forms (incrementing scalar and explicit array), and takes the code
    width from ``codespacerange`` (default 2 — Identity-H CIDs).
    Destination hex is UTF-16BE."""
    def uni(hx: bytes) -> str:
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "replace")

    width = 2
    m = re.search(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", data)
    if m:
        width = max(1, len(m.group(1)) // 2)
    mapping: dict[int, str] = {}
    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", sec):
            mapping[int(src, 16)] = uni(dst)
    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", data, re.S):
        entries = re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(<[0-9A-Fa-f]+>|\[(?:\s*<[0-9A-Fa-f]+>)*\s*\])",
            sec,
        )
        for lo_h, hi_h, dst in entries:
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            if hi - lo > 0xFFFF:
                raise PdfUnsupported("hostile bfrange span")
            if dst.startswith(b"["):
                arr = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for i, d in enumerate(arr[: hi - lo + 1]):
                    mapping[lo + i] = uni(d)
            else:
                start = int(dst[1:-1], 16)
                base_w = len(dst) - 2
                for i in range(hi - lo + 1):
                    mapping[lo + i] = uni(b"%0*X" % (base_w, start + i))
    return width, mapping


def _page_fonts(
    idx: "_ObjIndex", page_dct: bytes
) -> "dict[bytes, tuple[int, dict[int, str]] | None]":
    """Resource-name → parsed ToUnicode CMap (or None) for one page:
    /Resources (inline or ref) → /Font (inline or ref) → each
    ``/Fn N 0 R`` font object's /ToUnicode stream. A font without a
    CMap maps to None — literal strings through it still extract
    (WinAnsi bytes); hex strings through it are a typed refusal."""
    def sub_dict(container: bytes, key: bytes) -> bytes | None:
        km = re.search(key + rb"\s*(?:(\d+)\s+\d+\s+R|<<)", container)
        if km is None:
            return None
        if km.group(1):
            return _object_dict(idx, int(km.group(1)))
        start = km.end() - 2
        return container[start:_dict_span(container, start)]

    res = sub_dict(page_dct, rb"/Resources")
    fdict = sub_dict(res, rb"/Font") if res is not None else None
    fonts: "dict[bytes, tuple[int, dict[int, str]] | None]" = {}
    if fdict is None:
        return fonts
    for name, num in re.findall(rb"/(\w+)\s+(\d+)\s+\d+\s+R", fdict):
        try:
            font = _object_dict(idx, int(num))
        except PdfUnsupported:
            continue
        if not re.search(rb"/Type\s*/Font", font):
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", font)
        fonts[name] = (
            _parse_tounicode(_object_stream(idx, int(tm.group(1))))
            if tm
            else None
        )
    return fonts


_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|\r\n|.)", re.S)
_ESCAPED_CONTROLS = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c"}


def _unescape_one(m: "re.Match[bytes]") -> bytes:
    g = m.group(1)
    if g[:1].isdigit():
        return bytes([int(g, 8) & 0xFF])
    if g in (b"\n", b"\r", b"\r\n"):
        return b""
    return _ESCAPED_CONTROLS.get(g, g)


def _pdf_unescape(raw: bytes) -> str:
    """PDF literal-string unescape (spec §7.3.4.2): ``\\n \\r \\t \\b
    \\f`` map to their controls, ``\\ooo`` octal (1–3 digits) to that
    byte, backslash-EOL is a line continuation (dropped), and any other
    escaped char is itself — which keeps the writer's own ``\\( \\) \\\\``
    behavior bit-identical to the pre-r07 single-pass unescape."""
    if b"\\" not in raw:
        return raw.decode("latin-1")
    return _ESCAPE_RE.sub(_unescape_one, raw).decode("latin-1")


_LIT_TOKEN_RE = re.compile(rb"[\\()]")


def _lit_span(stream: bytes, i: int) -> tuple[bytes, int]:
    """Raw bytes of the literal string opening at ``stream[i] == '('``
    plus the index just past its closing ``)``. Depth-counting AND
    escape-aware: PDF §7.3.4.2 permits balanced UNESCAPED parentheses
    inside literal strings — pdflatex emits ``(a (b) c) Tj`` — which a
    flat regex truncated at the first ``)`` (r07 advice). Inner parens
    stay verbatim in the span; :func:`_pdf_unescape` leaves them
    intact. Jumps by regex search from one backslash or paren to the
    next, not byte by byte."""
    depth, j = 1, i + 1
    while m := _LIT_TOKEN_RE.search(stream, j):
        c, j = m.group(), m.end()
        if c == b"\\":  # backslash consumes the next char atomically
            j += 1
        elif c == b"(":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return stream[i + 1 : j - 1], j
    raise PdfUnsupported("unterminated literal string")


# a content-stream token that is not a delimiter (PDF §7.2.2 regular
# characters); numbers are PDF reals — no exponent form in the spec
_TOKEN_RE = re.compile(rb"[^\s()<>\[\]{}/%]+")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)$")


def _decode_hex_codes(h: bytes, cmap: "tuple[int, dict[int, str]] | None") -> str:
    """Decode a hex show-string through the active font's ToUnicode
    CMap. Hex strings carry GLYPH/CID codes (LibreOffice subset fonts),
    not character bytes — without a CMap there is no defensible text,
    so that's a typed refusal, not a latin-1 guess."""
    if cmap is None:
        raise PdfUnsupported("hex show-string with no ToUnicode CMap for active font")
    width, mapping = cmap
    hx = bytes(h).translate(None, b" \t\r\n")
    if len(hx) % 2:  # spec: odd final digit behaves as if followed by 0
        hx += b"0"
    try:
        raw = bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfUnsupported(f"invalid hex show-string: {e}") from e
    step = max(width, 1)
    out = []
    for i in range(0, len(raw), step):
        code = int.from_bytes(raw[i : i + step], "big")
        out.append(mapping.get(code, "�"))
    return "".join(out)


def _text_ops(
    stream: bytes,
    fonts: "dict[bytes, tuple[int, dict[int, str]] | None] | None" = None,
) -> list[str]:
    """Extract show-text operators from one content stream with a small
    operand-stack interpreter (PDF §7.8.2: operands accumulate, each
    operator consumes them all). Show forms covered: literal/hex ``Tj``
    (the writer's own form), ``'`` and ``\"`` move-show variants, and
    array ``TJ`` (what Word/LibreOffice emit — strings concatenated,
    kern numbers dropped). Literal strings are WinAnsi ≈ latin-1 bytes,
    lexed depth-aware so §7.3.4.2's balanced unescaped parens survive
    (r07 advice) and unescaped via :func:`_pdf_unescape`; hex strings
    decode through the ACTIVE font's ToUnicode CMap (``fonts`` maps
    resource name → parsed CMap), tracked via ``Tf``. Dict operands
    (BDC property lists) and inline images (``BI…EI``) are skipped;
    a byte no token can start is a typed refusal."""
    out: list[str] = []
    active: "tuple[int, dict[int, str]] | None" = None
    fonts = fonts or {}
    pending: list[tuple[str, object]] = []  # operand stack: (kind, value)
    arr: "list[tuple[str, object]] | None" = None  # open array accumulator

    def push(item: tuple[str, object]) -> None:
        (pending if arr is None else arr).append(item)

    def shown(item: tuple[str, object]) -> str:
        kind, val = item
        if kind == "str":
            return _pdf_unescape(val)  # type: ignore[arg-type]
        return _decode_hex_codes(val, active)  # type: ignore[arg-type]

    i, n = 0, len(stream)
    while i < n:
        c = stream[i]
        if c in b" \t\r\n\x00\x0c":
            i += 1
        elif c == 0x28:  # ( literal string
            raw, i = _lit_span(stream, i)
            push(("str", raw))
        elif c == 0x3C:  # < hex string or << dict operand
            if stream[i : i + 2] == b"<<":
                i = _dict_span(stream, i)
                push(("dict", None))
            else:
                j = stream.find(b">", i + 1)
                if j == -1:
                    raise PdfUnsupported("unterminated hex string")
                push(("hex", stream[i + 1 : j]))
                i = j + 1
        elif c == 0x5B:  # [
            arr = []
            i += 1
        elif c == 0x5D:  # ]
            pending.append(("arr", arr if arr is not None else []))
            arr = None
            i += 1
        elif c == 0x2F:  # / name
            m = _TOKEN_RE.match(stream, i + 1)
            push(("name", m.group(0) if m else b""))
            i = m.end() if m else i + 1
        elif c == 0x25:  # % comment to EOL
            j = stream.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif c in b"{}":  # PostScript-function braces: not content ops
            i += 1
        else:
            m = _TOKEN_RE.match(stream, i)
            if m is None:  # a lone ')' or '>' — malformed stream
                raise PdfUnsupported(
                    f"unexpected byte {stream[i:i + 1]!r} in content stream"
                )
            tok = m.group(0)
            i = m.end()
            if _NUM_RE.match(tok):
                push(("num", tok))
                continue
            # operator: interpret, then the operand stack resets
            if tok in (b"Tj", b"'", b'"'):
                strs = [p for p in pending if p[0] in ("str", "hex")]
                if strs:
                    out.append(shown(strs[-1]))
            elif tok == b"TJ":
                if pending and pending[-1][0] == "arr":
                    items = pending[-1][1]
                    out.append(
                        "".join(
                            shown(p)
                            for p in items  # type: ignore[union-attr]
                            if p[0] in ("str", "hex")
                        )
                    )
            elif tok == b"Tf":
                names = [p[1] for p in pending if p[0] == "name"]
                if names:
                    active = fonts.get(names[-1])  # type: ignore[arg-type]
            elif tok == b"BI":  # inline image: skip to EI
                em = re.search(rb"\sEI(?=\s|$)", stream[i:])
                if em is None:
                    raise PdfUnsupported("unterminated inline image")
                i += em.end()
            pending.clear()
    return out


def _pdf_string_value(dct: bytes, key: bytes) -> "bytes | None":
    """The raw byte value of ``/key (literal)`` or ``/key <hex>`` in a
    dictionary — escapes resolved, hex decoded. None when absent."""
    # (?![A-Za-z]) so /O can never match the /OE (AES-256) field, /U
    # never /UE — the v>=5 refusal fires first today, but the parser
    # must not depend on caller ordering for correctness
    m = re.search(rb"/" + key + rb"(?![A-Za-z])\s*(\(|<(?!<))", dct)
    if m is None:
        return None
    if m.group(1) == b"(":
        raw, _ = _lit_span(dct, m.end() - 1)
        return _pdf_unescape(raw).encode("latin-1")
    hm = re.match(rb"([0-9A-Fa-f\s]*)>", dct[m.end() :])
    if hm is None:
        raise PdfUnsupported(f"unterminated hex string for /{key.decode()}")
    h = re.sub(rb"\s", b"", hm.group(1))
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _named_crypt_filter(enc: bytes, name: bytes) -> "bytes | None":
    """The /CF subdictionary named ``name`` inside an /Encrypt dict —
    the specific subtree /StmF points at (r10 ADVICE: a /V 4-5 file may
    carry MULTIPLE crypt filters; reading /CFM from 'anywhere in the
    dict' can select the wrong cipher, and RC4 has no integrity check,
    so a wrong-cipher decrypt of an uncompressed stream would emit
    garbage rows instead of a typed refusal). None when /CF or the
    named entry is absent."""
    cf = re.search(rb"/CF\s*<<", enc)
    if cf is None:
        return None
    cf_body = enc[cf.end() - 2 : _dict_span(enc, cf.end() - 2)]
    nm = re.search(rb"/" + re.escape(name) + rb"(?![\w])\s*<<", cf_body)
    if nm is None:
        return None
    return cf_body[nm.end() - 2 : _dict_span(cf_body, nm.end() - 2)]


def _setup_decryption(idx: "_ObjIndex", password: bytes = b"") -> None:
    """Authenticate the standard security handler and install
    ``idx.decryptor``: /V 1-2 RC4 (40..128-bit) and /V 4 crypt filters
    /V2 (RC4) or /AESV2 (AES-128-CBC) per ISO 32000-1 §7.6.3-7.6.4,
    plus (r10) /V 5 /R 5-6 /AESV3 (AES-256) per ISO 32000-2 §7.6.4.3
    Algorithms 2.A/2.B — the full set of standard-handler shapes in
    the wild. ``password`` (r11, default empty — the ubiquitous
    owner-restrictions-only case) is tried as the USER password first,
    then — when non-empty — as the OWNER password (Algorithm 7 /
    2.A owner branch), then falls back to the EMPTY user password, so
    authorized bulk ingest of credentialed archives works with either
    credential AND a batch credential never quarantines the
    owner-restrictions-only files mixed into the same batch (the order
    every real reader uses). Everything else is a typed
    refusal: wrong passwords, non-Standard handlers, unknown /CFM;
    /Identity leaves streams plaintext (no decryptor)."""
    from automated_property_data_ingestion_document_pipeline_spark.sources import pdf_crypt

    if idx.encrypt_ref is None:
        raise PdfUnsupported("encrypted PDF with unresolvable /Encrypt")
    enc = _object_dict(idx, idx.encrypt_ref)
    if not re.search(rb"/Filter\s*/Standard(?![\w])", enc):
        raise PdfUnsupported("non-Standard security handler")
    vm = re.search(rb"/V\s+(\d+)", enc)
    rm = re.search(rb"/R\s+(\d+)", enc)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else 2
    if v > 5 or r > 6:
        raise PdfUnsupported(f"unknown encryption revision /V {v} /R {r}")
    if (v == 5 and r not in (5, 6)) or (v < 5 and r not in (2, 3, 4)) or v not in (1, 2, 4, 5):
        raise PdfUnsupported(f"unsupported encryption revision /V {v} /R {r}")
    o_val = _pdf_string_value(enc, b"O")
    u_val = _pdf_string_value(enc, b"U")
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    if o_val is None or u_val is None or pm is None:
        raise PdfUnsupported("encryption dictionary missing /O, /U, or /P")
    p = int(pm.group(1)) & 0xFFFFFFFF  # some writers emit unsigned (or
    if p >= 1 << 31:  # hostile digits overflow int32) — fold to signed
        p -= 1 << 32

    # crypt-filter resolution shared by /V 4 and /V 5: /StmF names the
    # stream filter; absent /StmF means Identity — streams unencrypted
    # (§7.6.5). The /CFM (and fallback /Length) come from the /CF
    # subtree /StmF NAMES, never "any /CFM in the dict" (r10 ADVICE).
    cf_sub = None
    if v in (4, 5):
        stmf = re.search(rb"/StmF\s*/(\w+)", enc)
        if stmf is None or stmf.group(1) == b"Identity":
            idx._finish_deferred_objstm()
            return
        cf_sub = _named_crypt_filter(enc, stmf.group(1))
        if cf_sub is None:
            raise PdfUnsupported(
                f"/StmF /{stmf.group(1).decode()} names no /CF crypt filter"
            )

    if v == 5:
        # AES-256 (ISO 32000-2): SHA-2 password hash, the 32-byte file
        # key unwraps from /UE; per-object keys are gone — the file key
        # encrypts every stream directly (§7.6.4.2).
        cfm = re.search(rb"/CFM\s*/(\w+)", cf_sub)
        if cfm is None or cfm.group(1) != b"AESV3":
            got = cfm.group(1).decode() if cfm else "absent"
            raise PdfUnsupported(f"/V 5 crypt filter must be /AESV3, got /{got}")
        ue_val = _pdf_string_value(enc, b"UE")
        if ue_val is None or len(u_val) < 48 or len(ue_val) != 32:
            raise PdfUnsupported("/V 5 encryption dictionary missing 48-byte /U + 32-byte /UE")
        key = pdf_crypt.authenticate_user_password_v5(password, u_val, ue_val, r)
        if key is None and password:
            oe_val = _pdf_string_value(enc, b"OE")
            if oe_val is not None:
                key = pdf_crypt.authenticate_owner_password_v5(
                    password, o_val, oe_val, u_val, r
                )
        if key is None and password:
            # r11 review: a batch credential must not quarantine the
            # owner-restrictions-only files mixed into the same batch —
            # like every real reader, fall back to the empty user
            # password before refusing
            key = pdf_crypt.authenticate_user_password_v5(b"", u_val, ue_val, r)
        if key is None:
            raise PdfUnsupported(
                "password-protected PDF (supplied password rejected)"
                if password
                else "password-protected PDF (empty user password rejected)"
            )
        perms = _pdf_string_value(enc, b"Perms")
        if perms is not None and not pdf_crypt.verify_perms_v5(perms, key):
            # wrong key or tampered dict — fail closed, never decrypt
            # garbage (2.A step f)
            raise PdfUnsupported("/Perms sentinel check failed for /V 5 file key")
        idx.decryptor = lambda num, gen, data: pdf_crypt.decrypt_bytes(
            key, num, gen, data, "aesv3"
        )
        idx._finish_deferred_objstm()
        return

    # top-level /Length ONLY: Acrobat emits keys alphabetically, so the
    # /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> subtree precedes
    # the document /Length 128 — a whole-dict search would read the
    # crypt filter's BYTE length (16 -> key_bytes 2) and refuse the
    # single most common real-world shape (r09 self-review finding)
    enc_top = enc
    cfm_dict = re.search(rb"/CF\s*<<", enc)
    if cfm_dict is not None:
        cf_end = _dict_span(enc, cfm_dict.end() - 2)
        enc_top = enc[: cfm_dict.start()] + enc[cf_end:]
    lm = re.search(rb"/Length\s+(\d+)", enc_top)
    key_bytes = 5 if v == 1 else (int(lm.group(1)) // 8 if lm else 5)
    method = "rc4"
    if v == 4:
        cfm = re.search(rb"/CFM\s*/(\w+)", cf_sub)
        if cfm is None:
            raise PdfUnsupported("crypt-filter PDF (/V 4) without /CFM")
        if cfm.group(1) == b"AESV2":
            method, key_bytes = "aesv2", 16
        elif cfm.group(1) == b"V2":
            method = "rc4"
            if lm is None:
                # r10 ADVICE: some writers put /Length ONLY inside the
                # crypt-filter subdict. Acrobat writes it in BYTES
                # there (§7.6.5 note); spec-literal writers use bits —
                # accept both (>= 40 reads as bits) instead of deriving
                # a wrong 40-bit key and misclassifying a readable
                # empty-password file as refused.
                clm = re.search(rb"/Length\s+(\d+)", cf_sub)
                if clm is not None:
                    cl = int(clm.group(1))
                    key_bytes = cl // 8 if cl >= 40 else cl
        else:
            raise PdfUnsupported(
                f"unsupported crypt filter /CFM /{cfm.group(1).decode()}"
            )
    if not 5 <= key_bytes <= 16:  # spec: /Length 40..128, multiple of 8
        raise PdfUnsupported(f"encryption key length {key_bytes * 8} out of range")
    encrypt_metadata = not re.search(rb"/EncryptMetadata\s+false", enc)
    if idx.file_id is None:
        raise PdfUnsupported("encrypted PDF without a trailer /ID")
    key = pdf_crypt.authenticate_user_password(
        password, o_val, u_val, p, idx.file_id, r, key_bytes,
        encrypt_metadata=encrypt_metadata,
    )
    if key is None and password:
        key = pdf_crypt.authenticate_owner_password(
            password, o_val, u_val, p, idx.file_id, r, key_bytes,
            encrypt_metadata=encrypt_metadata,
        )
    if key is None and password:
        # empty-user-password fallback — see the /V 5 branch note
        key = pdf_crypt.authenticate_user_password(
            b"", o_val, u_val, p, idx.file_id, r, key_bytes,
            encrypt_metadata=encrypt_metadata,
        )
    if key is None:
        raise PdfUnsupported(
            "password-protected PDF (supplied password rejected)"
            if password
            else "password-protected PDF (empty user password rejected)"
        )
    idx.decryptor = lambda num, gen, data: pdf_crypt.decrypt_bytes(
        key, num, gen, data, method
    )
    idx._finish_deferred_objstm()


def extract_pdf_text(payload: bytes, password: "bytes | str | None" = None) -> list[str]:
    """Reparse the text lines out of a PDF's PAGE CONTENT streams —
    plain or FlateDecode-encoded, ``Tj`` or ``TJ`` show operators (r06:
    the extractor graduated from test helper to source operator; r07:
    it reads REAL Word/LibreOffice output — the reference's actual
    shipped artifacts in reports/, report_generator.py:92).

    Streams are TARGETED: every ``/Type /Page`` dictionary's
    ``/Contents`` object(s) are located (document order, single-ref and
    array forms), so font programs and image XObjects — present in any
    real-world PDF, usually DCTDecode — are never touched, neither
    inflated nor refused. A payload with no page dictionaries falls back
    to the pre-r07 walk of every stream (minimal/fixture PDFs). Each
    stream is sliced to exactly its declared ``/Length`` (r06 advice:
    'scan to endstream' truncated ~1/256 compressed streams), must land
    on the real ``endstream``, and inflates through a 256 MB-capped
    ``decompressobj`` (flate-bomb guard). A non-Flate filter on a
    CONTENT stream, corrupt deflate, or a broken xref/object graph all
    raise typed :class:`PdfUnsupported` — the codec modules' contract,
    so executor tasks quarantine rather than die."""
    payload = bytes(payload)
    if not payload.startswith(b"%PDF-"):
        raise PdfUnsupported("not a PDF header")
    idx = _ObjIndex(payload)
    # encrypted documents (a parsed trailer / xref-stream dict carries
    # /Encrypt): r09 — the standard security handler's EMPTY-user-
    # password case (RC4-40/128, AES-128 /AESV2; ISO 32000-1 §7.6.3-4)
    # authenticates and installs a per-object decryptor; a real user
    # password, AES-256 (R5/6), or a non-Standard handler stays a
    # typed refusal. Checked on the PARSED dicts, never the raw
    # payload, so ciphertext bytes that happen to spell '/Encrypt'
    # can't false-positive (r08). ``password`` (r11): the caller's
    # credential for authorized ingest of password-protected archives —
    # tried as user then owner password; str encodes as UTF-8 (the /R 6
    # SASLprep-input form; classic revisions treat the same bytes as
    # PDFDocEncoding, which agrees on ASCII credentials).
    if idx.encrypted:
        # str credentials encode as UTF-8 first (the /R 6 SASLprep-input
        # form). Classic R2-R4 handlers interpret password bytes as
        # PDFDocEncoding — which agrees with Latin-1 on the accented
        # range a str credential realistically carries — so a non-ASCII
        # str the UTF-8 attempt cannot open is RETRIED as Latin-1 before
        # refusing (r12 ADVICE: 'café' must open the RC4/AES-128 file it
        # was written with, not just the AES-256 one). The retry fires
        # only after a password REJECTION; every other typed refusal
        # (non-Standard handler, unknown revision) surfaces immediately,
        # and ASCII credentials encode identically so never retry.
        candidates: list = (
            [password or b""]
            if not isinstance(password, str)
            else [password.encode("utf-8")]
        )
        if isinstance(password, str):
            try:
                latin = password.encode("latin-1")
            except UnicodeEncodeError:
                latin = None
            if latin is not None and latin != candidates[0]:
                candidates.append(latin)
        for i, cand in enumerate(candidates):
            try:
                _setup_decryption(idx, cand)
                break
            except PdfUnsupported as e:
                if i + 1 == len(candidates) or "rejected" not in str(e):
                    raise
    pages = _pages(idx)
    if pages:
        lines: list[str] = []
        done: set[int] = set()
        for nums, page_dct in pages:
            fonts = _page_fonts(idx, page_dct)
            for num in nums:
                if num in done:
                    continue
                done.add(num)
                lines.extend(_text_ops(_object_stream(idx, num), fonts))
        return lines
    # no page dicts: legacy fallback — walk every stream object
    lines = []
    consumed_to = 0  # skip false 'stream' matches inside a prior stream's binary body
    for m in re.finditer(rb"<<((?:[^<>]|<<[^<>]*>>)*)>>\s*stream\r?\n", payload):
        if m.start() < consumed_to:
            continue
        # r10: recover the enclosing object identity so a DAMAGED-chain
        # encrypted file can still decrypt on this walk (the per-object
        # key needs num/gen; None stays a typed refusal inside
        # _stream_body — never a gen=0 guess)
        objref = None
        win_start = max(0, m.start() - 256)
        hm = re.search(
            rb"(\d+)\s+(\d+)\s+obj\s*$", payload[win_start : m.start()]
        )
        # a match whose object number touches the window's left edge may
        # be CLIPPED ('123 0 obj' read as '23 0 obj') — and RC4 has no
        # integrity check, so a wrong per-object key would emit garbage
        # rows instead of a typed refusal (r10 review finding). Only
        # trust the id when the digit run provably starts inside the
        # window (a non-digit precedes it, or the window is the file
        # start).
        if hm is not None and (win_start == 0 or hm.start(1) > 0):
            objref = (int(hm.group(1)), int(hm.group(2)))
        stream, consumed_to = _stream_body(idx, m.group(1), m.end(), objref)
        lines.extend(_text_ops(stream))
    return lines


def render_letters_pdf(letters: DataFrame, out_dir: str) -> DataFrame:
    """Render one real .pdf artifact per row (letter_text lines → PDF
    paragraphs) and return the same manifest shape as
    doc_sink.render_letters: (client_key, filename, n_bytes, media_type,
    status). Executor-side via doc_sink.write_letters — the reference's
    one-subprocess-per-record soffice loop (report_generator.py:92-103)
    becomes an embarrassingly parallel pure-Python map."""
    from automated_property_data_ingestion_document_pipeline_spark.sources.doc_sink import (
        write_letters,
    )

    def _pdf(text):
        return None if text is None else pdf_bytes_from_lines(text.split("\n"))

    return write_letters(
        letters.select("client_key", "letter_text"), out_dir, "pdf", PDF_MEDIA_TYPE, _pdf
    )
