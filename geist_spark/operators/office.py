"""Office/ebook-document text extraction (docx / pptx / xlsx / odt /
ods / epub / rtf).

OOXML and OpenDocument files are ZIP containers of machine-generated
XML — after HTML and PDF they are the next-largest text-bearing
document family in real crawls, and none of the archive/PDF
extractors cover them. Reader built on the repo's from-scratch ZIP
walk (prep._zip_entries / _zip_member_bytes — central directory,
stored/deflate, bounded inflate) + stdlib ElementTree for the XML
parts; fixtures come from stdlib `zipfile` writers (an independent
container implementation — the paired-writer doctrine of pdf.py /
jpeg.py). No reference-engine parity to cite: zpiroux/geist is a
JSON-event engine with no document surface; specs followed are
ECMA-376 (OOXML) and OASIS ODF 1.2.

Dialect (documented, oracle-replayable):
- docx: one row (part='document'); paragraphs (w:p) joined by
  newline; w:t runs concatenated; w:tab -> TAB, w:br / w:cr ->
  newline,
- pptx: one row per slide (part='slideN', numeric order); a:p
  paragraphs joined by newline within a slide,
- xlsx: one row per worksheet (part='sheetN', numeric order); cells
  joined by TAB in document order (gaps/r-references ignored), rows
  by newline; shared strings, inline strings, formula-string (t=
  'str') and raw numeric v values all surface as their literal text,
- odt/ods: one row (part='content'); text:p / text:h joined by
  newline; text:tab -> TAB, text:line-break -> newline, text:s ->
  that many spaces,
- epub: one row per XHTML spine item (part='spineN', spine order,
  resolved via META-INF/container.xml -> OPF manifest); block
  elements newline-join as edge-stripped paragraphs, <br/> is an
  in-paragraph newline, script/style subtrees drop (IDPF EPUB 3 OCF
  + OPF),
- rtf: one row (part='document'); \\par and \\line -> newline,
  \\tab -> TAB, \\'xx as cp1252, \\uN with \\ucN fallback skipping,
  data destinations (\\fonttbl, \\pict, \\info, \\* groups, ...)
  dropped (Microsoft RTF 1.9).

Two-tier errors (operators/records.py): non-ZIP, non-RTF payloads
(incl. OLE legacy .doc/.xls) and ZIPs that are not a recognized
Office/EPUB container are CAPABILITY limits; a recognized container with a
missing/TRUNCATED required part, undecodable XML, unbalanced RTF
braces, or a DTD (OOXML parts never carry one — the check forecloses
entity-expansion bombs in adversarial crawl data) is MALFORMED
(ValueError).

Scale: the decoder family's one Arrow stage (operators/records.py)
over (file_id, payload), part fan-out inside the batch, zero shuffle
— the pdf_extract_text shape.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from geist_spark.operators.records import payload_stage

OFFICE_TEXT_SCHEMA = (
    "file_id long, format string, part string, text string, "
    "n_chars int"
)

_NS_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_NS_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_NS_S = (
    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
)
_NS_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def _parse_xml(data: bytes, what: str):
    import xml.etree.ElementTree as ET

    if b"<!DOCTYPE" in data[:4096]:
        raise ValueError(
            f"malformed {what}: XML carries a DTD (never legal in "
            "Office parts; refusing entity expansion)"
        )
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"malformed {what}: {exc}") from None


def _docx_text(root) -> str:
    """Paragraph walk of word/document.xml (ECMA-376 WordprocessingML):
    w:t runs, w:tab, w:br/w:cr; paragraphs newline-joined."""
    paras = []
    for p in root.iter(_NS_W + "p"):
        buf = []
        for el in p.iter():
            tag = el.tag
            if tag == _NS_W + "t":
                buf.append(el.text or "")
            elif tag == _NS_W + "tab":
                buf.append("\t")
            elif tag in (_NS_W + "br", _NS_W + "cr"):
                buf.append("\n")
        paras.append("".join(buf))
    return "\n".join(paras)


def _pptx_slide_text(root) -> str:
    paras = []
    for p in root.iter(_NS_A + "p"):
        buf = [t.text or "" for t in p.iter(_NS_A + "t")]
        paras.append("".join(buf))
    return "\n".join(paras)


def _xlsx_shared_strings(root) -> list:
    out = []
    for si in root.findall(_NS_S + "si"):
        out.append("".join(
            t.text or "" for t in si.iter(_NS_S + "t")
        ))
    return out


def _xlsx_sheet_text(root, shared: list) -> str:
    rows = []
    for row in root.iter(_NS_S + "row"):
        cells = []
        for c in row.findall(_NS_S + "c"):
            t = c.get("t", "n")
            if t == "s":
                v = c.find(_NS_S + "v")
                idx_txt = (v.text or "").strip() if v is not None else ""
                if not idx_txt.isdigit() or int(idx_txt) >= len(shared):
                    raise ValueError(
                        "malformed XLSX: shared-string index "
                        f"{idx_txt!r} out of range"
                    )
                cells.append(shared[int(idx_txt)])
            elif t == "inlineStr":
                is_el = c.find(_NS_S + "is")
                cells.append("".join(
                    x.text or "" for x in is_el.iter(_NS_S + "t")
                ) if is_el is not None else "")
            else:  # n / str / b / e — the literal v text
                v = c.find(_NS_S + "v")
                cells.append(v.text or "" if v is not None else "")
        rows.append("\t".join(cells))
    return "\n".join(rows)


def _odf_text(root) -> str:
    paras = []
    for p in root.iter():
        if p.tag not in (_NS_TEXT + "p", _NS_TEXT + "h"):
            continue
        buf = []

        def walk(el):
            if el.tag == _NS_TEXT + "tab":
                buf.append("\t")
            elif el.tag == _NS_TEXT + "line-break":
                buf.append("\n")
            elif el.tag == _NS_TEXT + "s":
                buf.append(" " * int(el.get(_NS_TEXT + "c", "1")))
            if el.text:
                buf.append(el.text)
            for ch in el:
                walk(ch)
                if ch.tail:
                    buf.append(ch.tail)

        if p.text:
            buf.append(p.text)
        for ch in p:
            walk(ch)
            if ch.tail:
                buf.append(ch.tail)
        paras.append("".join(buf))
    return "\n".join(paras)


_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_SHEET_RE = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")

_NS_CNT = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_NS_OPF = "{http://www.idpf.org/2007/opf}"
_NS_XH = "{http://www.w3.org/1999/xhtml}"

_XHTML_BLOCK = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "div",
    "blockquote", "tr", "figcaption",
}


def _xhtml_text(root) -> str:
    """XHTML -> text, EPUB dialect: block elements (p/h1-h6/li/div/
    blockquote/tr/figcaption) become newline-separated paragraphs,
    each stripped at the edges; <br/> is an in-paragraph newline;
    script/style subtrees are dropped; empty paragraphs vanish."""
    body = root.find(_NS_XH + "body")
    if body is None:
        body = root.find("body")
    if body is None:
        raise ValueError("malformed EPUB: content document without <body>")
    paras: list = []
    buf: list = []

    def flush():
        s = "".join(buf).strip()
        buf.clear()
        if s:
            paras.append(s)

    def walk(el):
        tag = el.tag.rsplit("}", 1)[-1]
        if tag in ("script", "style"):
            return
        is_block = tag in _XHTML_BLOCK
        if is_block:
            flush()
        if tag == "br":
            buf.append("\n")
        if el.text:
            buf.append(el.text)
        for ch in el:
            walk(ch)
            if ch.tail:
                buf.append(ch.tail)
        if is_block:
            flush()

    if body.text:
        buf.append(body.text)
    for ch in body:
        walk(ch)
        if ch.tail:
            buf.append(ch.tail)
    flush()
    return "\n".join(paras)


def _epub_parts(part_bytes, members):
    """Yield ('EPUB', 'spineN', text) in spine order: container.xml
    -> OPF package -> manifest/spine -> XHTML content documents.
    Non-XHTML spine items (images in malformed-but-real spines) are
    skipped; missing structural parts are MALFORMED."""
    import posixpath

    croot = _parse_xml(
        part_bytes("META-INF/container.xml"), "EPUB container"
    )
    rf = croot.find(f".//{_NS_CNT}rootfile")
    if rf is None or not rf.get("full-path"):
        raise ValueError(
            "malformed EPUB: container.xml has no rootfile full-path"
        )
    opf_path = rf.get("full-path")
    oroot = _parse_xml(part_bytes(opf_path), "EPUB package")
    base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    manifest = {}
    for item in oroot.iter(_NS_OPF + "item"):
        manifest[item.get("id")] = (
            item.get("href"), item.get("media-type")
        )
    spine = [ref.get("idref") for ref in oroot.iter(_NS_OPF + "itemref")]
    if not spine:
        raise ValueError("malformed EPUB: package has an empty spine")
    n = 0
    for idref in spine:
        if idref not in manifest:
            raise ValueError(
                f"malformed EPUB: spine idref {idref!r} not in manifest"
            )
        href, mtype = manifest[idref]
        if mtype != "application/xhtml+xml" or not href:
            continue
        path = posixpath.normpath(base + href)
        n += 1
        root = _parse_xml(part_bytes(path), "EPUB content")
        yield "EPUB", f"spine{n}", _xhtml_text(root)
    if n == 0:
        raise ValueError("malformed EPUB: spine has no XHTML items")


# RTF destinations whose content is data, not document text (RTF 1.9
# spec destination list, the commonly-emitted subset); groups opened
# with \* (optional destinations) are skipped wholesale as the spec
# requires for unrecognized ones.
_RTF_SKIP_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "comment", "annotation", "docvar",
    "themedata", "colorschememapping", "latentstyles", "datastore",
    "listtable", "listoverridetable", "revtbl", "xmlnstbl",
))

_RTF_WORD_RE = re.compile(rb"([a-z]+)(-?\d+)? ?")

# control words that ARE document text (RTF 1.9 special characters)
_RTF_TEXT_WORDS = {
    "par": "\n", "line": "\n", "tab": "\t", "emdash": "—",
    "endash": "–", "lquote": "‘", "rquote": "’",
    "ldblquote": "“", "rdblquote": "”", "bullet": "•",
    "emspace": " ", "enspace": " ", "qmspace": " ",
}


def _rtf_text(b: bytes) -> str:
    """RTF -> plain text. Dialect: \\par and \\line are newlines,
    \\tab a tab, the named punctuation words their Unicode characters,
    \\'xx hex escapes decode as cp1252 (the \\ansi default), \\uN
    emits the BMP code point and skips the following \\ucN fallback
    characters (default 1), data destinations (font/color/style
    tables, \\info, \\pict, ...) and \\* optional groups are dropped,
    raw CR/LF bytes are ignored per spec. Unbalanced braces, dangling
    escapes or a truncated \\binN run are MALFORMED (ValueError)."""
    if b[:5] != b"{\\rtf":
        raise ValueError("malformed RTF: missing {\\rtf header")
    i, n = 0, len(b)
    out: list = []
    stack: list = []
    uc = 1
    skip_depth = 0
    pending_skip = 0
    group_open = False

    def emit(ch: str):
        nonlocal pending_skip
        if skip_depth > 0:
            return
        if pending_skip > 0:
            pending_skip -= 1
            return
        out.append(ch)

    while i < n:
        c = b[i]
        if c == 0x7B:  # {
            stack.append(uc)
            if skip_depth:
                skip_depth += 1
            group_open = True
            i += 1
            continue
        if c == 0x7D:  # }
            if not stack:
                raise ValueError("malformed RTF: unbalanced closing brace")
            uc = stack.pop()
            if skip_depth:
                skip_depth -= 1
            group_open = False
            i += 1
            continue
        if c == 0x5C:  # backslash
            if i + 1 >= n:
                raise ValueError("malformed RTF: dangling backslash")
            c2 = b[i + 1]
            if c2 == 0x27:  # \'xx
                hx = b[i + 2 : i + 4]
                if len(hx) != 2:
                    raise ValueError("malformed RTF: truncated \\'xx escape")
                try:
                    val = int(hx, 16)
                except ValueError:
                    raise ValueError(
                        "malformed RTF: non-hex \\'xx escape"
                    ) from None
                emit(bytes([val]).decode("cp1252", "replace"))
                i += 4
                group_open = False
                continue
            if c2 in (0x5C, 0x7B, 0x7D):  # \\ \{ \}
                emit(chr(c2))
                i += 2
                group_open = False
                continue
            if c2 == 0x2A:  # \* optional destination: skip the group
                if not skip_depth:
                    skip_depth = 1
                i += 2
                continue
            if c2 == 0x7E:  # \~ non-breaking space
                emit(" ")
                i += 2
                group_open = False
                continue
            if c2 in (0x2D, 0x5F):  # \- \_ optional/nb hyphens
                emit("" if c2 == 0x2D else "‑")
                i += 2
                group_open = False
                continue
            m = _RTF_WORD_RE.match(b, i + 1)
            if m is None or m.start(1) != i + 1:
                i += 2  # unknown control symbol: consumed, ignored
                group_open = False
                continue
            word = m.group(1).decode()
            num = int(m.group(2)) if m.group(2) else None
            i = m.end()
            if word in _RTF_TEXT_WORDS:
                emit(_RTF_TEXT_WORDS[word])
            elif word == "u" and num is not None:
                emit(chr(num + 65536 if num < 0 else num % 65536))
                if skip_depth == 0:
                    pending_skip = uc
            elif word == "uc" and num is not None:
                uc = max(num, 0)
            elif word == "bin" and num is not None:
                if num < 0 or i + num > n:
                    raise ValueError("malformed RTF: truncated \\bin run")
                i += num
            elif group_open and word in _RTF_SKIP_DESTS and not skip_depth:
                skip_depth = 1
            group_open = False
            continue
        if c not in (0x0D, 0x0A):  # raw CR/LF are ignored per spec
            emit(chr(c) if c < 128 else bytes([c]).decode("cp1252", "replace"))
        i += 1
        group_open = False
    if stack:
        raise ValueError("malformed RTF: unbalanced opening brace")
    return "".join(out)


def _office_parts(b: bytes, max_bytes: int):
    """Yield (format, part, text) rows for one Office payload."""
    from geist_spark.operators.prep import (
        _zip_entries,
        _zip_member_bytes,
    )

    if b[:5] == b"{\\rtf":
        yield "RTF", "document", _rtf_text(b)
        return
    if b[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise NotImplementedError(
            "legacy binary Office (OLE .doc/.xls/.ppt) unsupported — "
            "OOXML, OpenDocument, EPUB and RTF only"
        )
    if b[:4] not in (b"PK\x03\x04", b"PK\x05\x06"):
        raise NotImplementedError(
            "payload is not a ZIP container or RTF (docx/pptx/xlsx/"
            "odt/ods/epub are ZIP-of-XML)"
        )
    members = {e["name"]: e for e in _zip_entries(b)}

    def part_bytes(name: str) -> bytes:
        ent = members.get(name)
        if ent is None:
            raise ValueError(
                f"malformed Office container: missing part {name}"
            )
        return _zip_member_bytes(b, ent, max_bytes)

    if "word/document.xml" in members:
        root = _parse_xml(part_bytes("word/document.xml"), "DOCX")
        yield "DOCX", "document", _docx_text(root)
        return
    if "ppt/presentation.xml" in members:
        slides = sorted(
            (
                (int(m.group(1)), name)
                for name, m in (
                    (n, _SLIDE_RE.match(n)) for n in members
                )
                if m
            ),
        )
        if not slides:
            raise ValueError(
                "malformed PPTX: presentation with no slide parts"
            )
        for n, name in slides:
            root = _parse_xml(part_bytes(name), "PPTX")
            yield "PPTX", f"slide{n}", _pptx_slide_text(root)
        return
    if "xl/workbook.xml" in members:
        shared: list = []
        if "xl/sharedStrings.xml" in members:
            shared = _xlsx_shared_strings(
                _parse_xml(part_bytes("xl/sharedStrings.xml"), "XLSX")
            )
        sheets = sorted(
            (
                (int(m.group(1)), name)
                for name, m in (
                    (n, _SHEET_RE.match(n)) for n in members
                )
                if m
            ),
        )
        if not sheets:
            raise ValueError("malformed XLSX: workbook with no sheets")
        for n, name in sheets:
            root = _parse_xml(part_bytes(name), "XLSX")
            yield "XLSX", f"sheet{n}", _xlsx_sheet_text(root, shared)
        return
    if "mimetype" in members:
        mt = part_bytes("mimetype")
        if mt == b"application/epub+zip":
            yield from _epub_parts(part_bytes, members)
            return
        fmt = (
            "ODT" if mt == b"application/vnd.oasis.opendocument.text"
            else "ODS"
            if mt == b"application/vnd.oasis.opendocument.spreadsheet"
            else None
        )
        if fmt is not None:
            root = _parse_xml(part_bytes("content.xml"), fmt)
            yield fmt, "content", _odf_text(root)
            return
    raise NotImplementedError(
        "ZIP is not a recognized Office container (no "
        "word/document.xml, ppt/presentation.xml, xl/workbook.xml, "
        "or OpenDocument/EPUB mimetype)"
    )


def office_extract_text(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_bytes: int = 64 * 1024 * 1024,
    on_unsupported: str = "error",
) -> DataFrame:
    """Office document -> one row per text part: (file_id, format,
    part, text, n_chars). See the module docstring for the per-format
    dialect and its capability limits (the two-tier contract is
    operators/records.py's). One Arrow stage, part fan-out inside the
    batch, zero shuffle (the pdf_extract_text shape)."""
    if max_bytes <= 0:
        raise ValueError("max_bytes must be positive")
    return payload_stage(
        files,
        lambda b: [
            (fmt, part, text, len(text))
            for fmt, part, text in _office_parts(b, max_bytes)
        ],
        OFFICE_TEXT_SCHEMA, on_unsupported, in_col=payload_col,
        id_col=id_col, null_row=False,
    )


# ---------------------------------------------------------------------------
# fixture writers (stdlib zipfile — independent of the reader's walk)
# ---------------------------------------------------------------------------


def _xesc(s: str) -> str:
    from xml.sax.saxutils import escape

    return escape(s)


def _zip_bytes(parts: list, stored: bool = False) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    method = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(buf, "w", method) as z:
        for name, data in parts:
            z.writestr(name, data)
    return buf.getvalue()


def docx_build(paragraphs: list, stored: bool = False) -> bytes:
    """Minimal WordprocessingML container. Each paragraph may embed
    TAB / NEWLINE characters, emitted as w:tab / w:br so the reader's
    run-walk is exercised; runs are split mid-text to exercise
    concatenation."""
    body = []
    for p in paragraphs:
        runs = []
        for piece in re.split(r"(\t|\n)", p):
            if piece == "\t":
                runs.append("<w:r><w:tab/></w:r>")
            elif piece == "\n":
                runs.append("<w:r><w:br/></w:r>")
            elif piece:
                mid = len(piece) // 2
                for sub in (piece[:mid], piece[mid:]):
                    if sub:
                        runs.append(
                            '<w:r><w:t xml:space="preserve">'
                            f"{_xesc(sub)}</w:t></w:r>"
                        )
        body.append(f"<w:p>{''.join(runs)}</w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + "".join(body)
        + "</w:body></w:document>"
    )
    return _zip_bytes(
        [
            ("[Content_Types].xml", "<Types/>"),
            ("word/document.xml", doc),
        ],
        stored,
    )


def pptx_build(slides: list, stored: bool = False) -> bytes:
    """Minimal PresentationML container: one slideN.xml per entry
    (each a list of paragraph strings)."""
    parts = [
        ("[Content_Types].xml", "<Types/>"),
        (
            "ppt/presentation.xml",
            '<?xml version="1.0"?><p:presentation xmlns:p='
            '"http://schemas.openxmlformats.org/presentationml/2006/'
            'main"/>',
        ),
    ]
    for i, paras in enumerate(slides, 1):
        body = "".join(
            "<a:p><a:r><a:t>" + _xesc(p) + "</a:t></a:r></a:p>"
            for p in paras
        )
        parts.append((
            f"ppt/slides/slide{i}.xml",
            '<?xml version="1.0"?><p:sld xmlns:p="http://schemas.'
            'openxmlformats.org/presentationml/2006/main" xmlns:a='
            '"http://schemas.openxmlformats.org/drawingml/2006/main">'
            f"<p:cSld><p:spTree>{body}</p:spTree></p:cSld></p:sld>",
        ))
    return _zip_bytes(parts, stored)


def xlsx_build(
    sheets: list, shared: bool = True, stored: bool = False
) -> bytes:
    """Minimal SpreadsheetML container: each sheet a list of rows,
    each row a list of str (shared or inline strings) / int / float
    cells."""
    parts = [
        ("[Content_Types].xml", "<Types/>"),
        (
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main"/>',
        ),
    ]
    strings: list = []
    sindex: dict = {}
    sheet_xml = []
    for rows in sheets:
        out_rows = []
        for row in rows:
            cells = []
            for cell in row:
                if isinstance(cell, str):
                    if shared:
                        if cell not in sindex:
                            sindex[cell] = len(strings)
                            strings.append(cell)
                        cells.append(
                            f'<c t="s"><v>{sindex[cell]}</v></c>'
                        )
                    else:
                        cells.append(
                            '<c t="inlineStr"><is><t xml:space='
                            f'"preserve">{_xesc(cell)}</t></is></c>'
                        )
                else:
                    cells.append(f"<c><v>{cell}</v></c>")
            out_rows.append(f"<row>{''.join(cells)}</row>")
        sheet_xml.append(
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
            + "".join(out_rows)
            + "</sheetData></worksheet>"
        )
    if shared and strings:
        parts.append((
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main">'
            + "".join(
                '<si><t xml:space="preserve">' + _xesc(s)
                + "</t></si>"
                for s in strings
            )
            + "</sst>",
        ))
    for i, sx in enumerate(sheet_xml, 1):
        parts.append((f"xl/worksheets/sheet{i}.xml", sx))
    return _zip_bytes(parts, stored)


def odt_build(
    paragraphs: list, spreadsheet: bool = False, stored: bool = False
) -> bytes:
    """Minimal OpenDocument text (or spreadsheet-mimetype) container;
    TAB / NEWLINE / double-space in a paragraph exercise text:tab,
    text:line-break and text:s."""
    body = []
    for p in paragraphs:
        buf = []
        for piece in re.split(r"(\t|\n|  +)", p):
            if piece == "\t":
                buf.append("<text:tab/>")
            elif piece == "\n":
                buf.append("<text:line-break/>")
            elif piece and piece.strip() == "" and len(piece) >= 2:
                buf.append(f'<text:s text:c="{len(piece)}"/>')
            elif piece:
                buf.append(_xesc(piece))
        body.append(f"<text:p>{''.join(buf)}</text:p>")
    mimetype = (
        "application/vnd.oasis.opendocument.spreadsheet"
        if spreadsheet
        else "application/vnd.oasis.opendocument.text"
    )
    content = (
        '<?xml version="1.0"?><office:document-content xmlns:office='
        '"urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:text>"
        + "".join(body)
        + "</office:text></office:body></office:document-content>"
    )
    return _zip_bytes(
        [("mimetype", mimetype), ("content.xml", content)], stored
    )


def epub_build(chapters: list, stored: bool = False) -> bytes:
    """Minimal EPUB 2/3-shaped container: stored `mimetype`,
    META-INF/container.xml -> OEBPS/content.opf -> spine of XHTML
    chapters (one <p> per paragraph; a <br/> split and an <em> inline
    run exercise the block/inline dialect)."""
    container = (
        '<?xml version="1.0"?><container version="1.0" xmlns="urn:'
        'oasis:names:tc:opendocument:xmlns:container"><rootfiles>'
        '<rootfile full-path="OEBPS/content.opf" media-type='
        '"application/oebps-package+xml"/></rootfiles></container>'
    )
    items, refs, parts = [], [], []
    for i, paras in enumerate(chapters, 1):
        body = []
        for p in paras:
            if "\n" in p:
                body.append(
                    "<p>" + "<br/>".join(
                        _xesc(seg) for seg in p.split("\n")
                    ) + "</p>"
                )
            elif " " in p:
                # text-identical inline run: exercises tail/text
                # concatenation across inline elements
                head, _, tail = p.rpartition(" ")
                body.append(
                    f"<p>{_xesc(head)} <em>{_xesc(tail)}</em></p>"
                )
            else:
                body.append(f"<p>{_xesc(p)}</p>")
        xhtml = (
            '<?xml version="1.0" encoding="utf-8"?><html xmlns='
            '"http://www.w3.org/1999/xhtml"><head><title>c</title>'
            "<style>p{margin:0}</style></head><body>"
            + "".join(body)
            + "</body></html>"
        )
        items.append(
            f'<item id="ch{i}" href="ch{i}.xhtml" '
            'media-type="application/xhtml+xml"/>'
        )
        refs.append(f'<itemref idref="ch{i}"/>')
        parts.append((f"OEBPS/ch{i}.xhtml", xhtml))
    opf = (
        '<?xml version="1.0"?><package version="3.0" xmlns='
        '"http://www.idpf.org/2007/opf" unique-identifier="id">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<dc:identifier id=\"id\">fixture</dc:identifier></metadata>"
        f"<manifest>{''.join(items)}</manifest>"
        f"<spine>{''.join(refs)}</spine></package>"
    )
    return _zip_bytes(
        [
            ("mimetype", "application/epub+zip"),
            ("META-INF/container.xml", container),
            ("OEBPS/content.opf", opf),
        ]
        + parts,
        stored,
    )


def rtf_build(
    paragraphs: list, include_pict: bool = True
) -> bytes:
    """RTF fixture writer: \\ansi cp1252 header with font/color
    tables and a \\*\\generator group (all data destinations the
    reader must drop), optionally a \\pict group; paragraph text with
    \\'xx escapes for cp1252-range characters and \\uN? for the
    rest; TAB -> \\tab, newline -> \\par."""
    out = [
        "{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1",
        "{\\fonttbl{\\f0\\fswiss Helvetica;}{\\f1\\fmodern Courier;}}",
        "{\\colortbl;\\red0\\green0\\blue0;\\red255\\green0\\blue0;}",
        "{\\*\\generator fixture writer 1.0;}",
    ]
    if include_pict:
        out.append("{\\pict\\wmetafile8\\picw100\\pich100 0102abcd}")
    out.append("\\pard\\f0\\fs24 ")
    chunks = []
    for p in paragraphs:
        buf = []
        for ch in p:
            o = ord(ch)
            if ch in "\\{}":
                buf.append("\\" + ch)
            elif ch == "\t":
                buf.append("\\tab ")
            elif ch == "\n":
                buf.append("\\line ")
            elif 32 <= o < 128:
                buf.append(ch)
            elif o < 256 and len(ch.encode("cp1252", "ignore")) == 1:
                buf.append("\\'%02x" % ch.encode("cp1252")[0])
            else:
                u = o if o < 32768 else o - 65536
                buf.append(f"\\u{u}?")
        chunks.append("".join(buf))
    out.append("\\par ".join(chunks))
    out.append("}")
    return "".join(out).encode("ascii")
