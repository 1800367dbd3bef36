"""parse-tika OpenDocument/OpenOffice-path analog: ODT/SXW → text.

Reference: ``src/plugin/parse-tika`` routes
``application/vnd.oasis.opendocument.text`` (ODF 1.x, ``ootest.odt``)
and ``application/vnd.sun.xml.writer`` (OpenOffice 1.0, ``ootest.sxw``)
through Tika's OpenDocumentParser; the plugin's own test
(TestOOParser.java:61-85) asserts a non-empty extraction and compares
informally against ``parse-tika/sample/ootest.txt`` ("simply test for
the presence of a text - the ordering of the elements may differ").
Both container formats are a ZIP holding ``content.xml`` (the body)
and ``meta.xml`` (Dublin-Core metadata); only the XML namespace
differs (``urn:oasis:...`` vs ``http://openoffice.org/2000/...``), so
this codec matches on local names and handles both.

Extraction contract (golden-tested against BOTH reference samples in
``tests/test_ooparse.py``):
- every ``text:p`` / ``text:h`` paragraph in document order is one
  output line — table cells included (their paragraphs nest under
  ``table-cell``), paragraphs nested inside draw frames/shapes are
  lifted as their own lines AFTER the host paragraph's inline text;
- ``text:tab`` → TAB, ``text:s`` → ``text:c``-many spaces,
  ``text:line-break`` → newline (the whitespace elements ODF uses
  instead of literal runs);
- title / subject / language come from ``meta.xml``'s ``dc:`` keys.

Pure stdlib (zipfile + xml.etree); no Tika, no Java lineage.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from .ziparse import _EPOCH

__all__ = ["oo_extract", "build_odt"]


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[1] if tag.startswith("{") else tag


def _space_count(elem) -> int:
    for k, v in elem.attrib.items():
        if _local(k) == "c":
            try:
                return max(int(v), 0)
            except ValueError:
                return 1
    return 1


def _emit_paragraph(elem, lines: list[str]) -> None:
    """One p/h element → its inline line, then any paragraphs nested
    inside frames/shapes as their own following lines."""
    buf: list[str] = []
    nested: list = []

    def inline(e) -> None:
        nm = _local(e.tag)
        if nm in ("p", "h"):
            nested.append(e)
            return
        if nm in ("tab", "tab-stop"):  # ODF 1.x / OpenOffice 1.0 names
            buf.append("\t")
        elif nm == "s":
            buf.append(" " * _space_count(e))
        elif nm == "line-break":
            buf.append("\n")
        if e.text:
            buf.append(e.text)
        for ch in e:
            inline(ch)
            if ch.tail:
                buf.append(ch.tail)

    if elem.text:
        buf.append(elem.text)
    for ch in elem:
        inline(ch)
        if ch.tail:
            buf.append(ch.tail)
    lines.append("".join(buf))
    for sub in nested:
        _emit_paragraph(sub, lines)


def _walk_body(elem, lines: list[str]) -> None:
    for ch in elem:
        nm = _local(ch.tag)
        if nm in ("p", "h"):
            _emit_paragraph(ch, lines)
        else:
            _walk_body(ch, lines)


def oo_extract(blob: bytes) -> dict:
    """ODT/SXW bytes → ``{"title", "subject", "language", "text"}``.
    Raises on anything that is not a readable OO zip."""
    zf = zipfile.ZipFile(io.BytesIO(blob))
    names = set(zf.namelist())
    if "content.xml" not in names:
        raise ValueError("no content.xml: not an OpenDocument container")

    root = ET.fromstring(zf.read("content.xml"))
    body = None
    for e in root.iter():
        if _local(e.tag) == "body":
            body = e
            break
    lines: list[str] = []
    if body is not None:
        _walk_body(body, lines)
    text = "\n".join(lines)

    title = subject = language = ""
    if "meta.xml" in names:
        try:
            meta = ET.fromstring(zf.read("meta.xml"))
            for e in meta.iter():
                nm = _local(e.tag)
                if nm == "title" and e.text:
                    title = e.text
                elif nm == "subject" and e.text:
                    subject = e.text
                elif nm == "language" and e.text:
                    language = e.text
        except ET.ParseError:
            pass
    return {"title": title, "subject": subject,
            "language": language, "text": text}


# --- builder (for the closed-form oracle round-trip) ------------------

_ODF_NS = ("urn:oasis:names:tc:opendocument:xmlns:office:1.0",
           "urn:oasis:names:tc:opendocument:xmlns:text:1.0")
_SXW_NS = ("http://openoffice.org/2000/office",
           "http://openoffice.org/2000/text")
_META_NS = "urn:oasis:names:tc:opendocument:xmlns:meta:1.0"


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))


def build_odt(paragraphs: list[str], title: str = "",
              flavor: str = "odt") -> bytes:
    """Minimal-but-real OO container: ``mimetype`` + ``content.xml``
    + ``meta.xml``. ``flavor`` picks the ODF or OpenOffice-1.0
    namespace so both decode paths stay exercised. Literal TABs and
    newlines in a paragraph are encoded as the proper ODF whitespace
    elements, making ``oo_extract(build_odt(ps))["text"]`` the
    identity ``"\\n".join(ps)`` for printable input."""
    office, text_ns = _ODF_NS if flavor == "odt" else _SXW_NS
    mimetype = ("application/vnd.oasis.opendocument.text"
                if flavor == "odt" else "application/vnd.sun.xml.writer")

    def enc(p: str) -> str:
        out = _xml_escape(p)
        out = out.replace("\t", "<text:tab/>")
        out = out.replace("\n", "<text:line-break/>")
        out = re.sub(r"  +",
                     lambda m: ' <text:s text:c="%d"/>' % (len(m.group()) - 1),
                     out)
        return out

    paras = "".join("<text:p>%s</text:p>" % enc(p) for p in paragraphs)
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content xmlns:office="%s" xmlns:text="%s">'
        "<office:body><office:text>%s</office:text></office:body>"
        "</office:document-content>" % (office, text_ns, paras))
    meta = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-meta xmlns:office="%s" xmlns:meta="%s" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<office:meta><dc:title>%s</dc:title>"
        "<dc:language>en-US</dc:language></office:meta>"
        "</office:document-meta>" % (office, _META_NS, _xml_escape(title)))

    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (("mimetype", mimetype),
                           ("content.xml", content), ("meta.xml", meta)):
            # fixed entry timestamps: one document, one byte string
            zf.writestr(zipfile.ZipInfo(name, date_time=_EPOCH), data,
                        compress_type=zipfile.ZIP_STORED
                        if name == "mimetype" else zipfile.ZIP_DEFLATED)
    return out.getvalue()
