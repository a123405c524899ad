"""From-scratch PDF text extraction.

PDF is the dominant container for the "documents you actually want in
a pretraining corpus" — papers, reports, books — and large-scale text
pipelines spend real compute tearing text out of it.  This module
implements the durable core of ISO 32000 (the public PDF spec)
directly — no PDF library — with the repo's container discipline
(`sources/archive.py`): one PDF file = one Spark task via the built-in
``binaryFile`` source, a pure-Python object/stream parser that yields
one row per page, framed by :mod:`table_streaming_source_spark._rows`,
and only extracted text leaves the executor.

Implemented surface:

- classic cross-reference TABLES (``xref`` sections, multi-section via
  ``/Prev`` chains) resolved from ``startxref``, trailer ``/Root``;
- the object model: dictionaries, arrays, names, numbers, booleans,
  null, indirect references (``N G R``), literal strings (all eight
  escapes + octal + escaped-newline continuation + balanced nested
  parens), hex strings;
- streams with ``/Length`` as a direct value OR an indirect reference
  (both occur in the wild), ``/FlateDecode`` via zlib;
- the page tree (``/Pages`` → ``/Kids`` recursion, ``/Contents`` as a
  single stream or an array of streams);
- content-stream text extraction: ``Tj``, ``'``, ``"`` and ``TJ``
  (string elements concatenated, kerning numbers skipped), with
  ``BT``/``ET`` ignored as grouping — byte order of text-showing
  operators is the extraction order.

Honest simplification, stated for the record: extracted string BYTES
are decoded as UTF-8 — i.e. the identity font encoding that simple
generators (including ``write_pdf`` below) emit.  Full font ``/ToUnicode``
CMap remapping is out of scope; a page whose bytes do not decode
raises ``ValueError`` (quarantine) rather than producing mojibake.

Malformed input (bad header, broken xref, bad stream) raises
``ValueError`` — the quarantine path.
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import re
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# writer (fixture generator — deterministic, spec-complete layout)
# ---------------------------------------------------------------------------


def _esc_literal(data: bytes) -> bytes:
    out = bytearray()
    for b in data:
        if b in (0x5C, 0x28, 0x29):  # \ ( )
            out += b"\\" + bytes([b])
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        else:
            out.append(b)
    return bytes(out)


def write_pdf(path: str, pages: list[str]) -> None:
    """Write a real multi-page PDF: catalog → page tree → one
    Flate-compressed content stream per page.  Pages alternate between
    ``Tj`` with literal strings and ``TJ`` arrays mixing hex strings
    and kerning numbers, so both text-showing forms and both string
    syntaxes appear in every file.  ``/Length`` of every even content
    stream is written as an INDIRECT reference (a length object after
    the stream), as real generators do."""
    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    # 1 = catalog, 2 = pages root; page i → obj 3+2i, content → 4+2i
    kid_refs = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kid_refs}] /Count {n_pages} >>"
    ).encode()
    extra: dict[int, bytes] = {}
    next_extra = 3 + 2 * n_pages
    for i, text in enumerate(pages):
        raw = text.encode("utf-8")
        if i % 2 == 0:
            body = b"BT /F1 12 Tf 72 720 Td (" + _esc_literal(raw) + b") Tj ET"
        else:
            # TJ: split into chunks, hex-encode odd chunks
            chunks = [raw[j : j + 48] for j in range(0, len(raw), 48)] or [b""]
            parts = []
            for j, c in enumerate(chunks):
                if j % 2:
                    parts.append(b"<" + c.hex().encode() + b">")
                else:
                    parts.append(b"(" + _esc_literal(c) + b")")
                parts.append(b"-120")
            body = b"BT /F1 12 Tf 72 720 Td [" + b" ".join(parts[:-1]) + b"] TJ ET"
        comp = zlib.compress(body, 6)
        if i % 2 == 0:
            length_obj = next_extra
            next_extra += 1
            extra[length_obj] = str(len(comp)).encode()
            stream_dict = (
                f"<< /Length {length_obj} 0 R /Filter /FlateDecode >>"
            ).encode()
        else:
            stream_dict = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>"
            ).encode()
        objs[4 + 2 * i] = (
            stream_dict + b"\nstream\n" + comp + b"\nendstream"
        )
        objs[3 + 2 * i] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R >>"
        ).encode()
    objs.update(extra)
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    nobj = max(objs) + 1
    buf += f"xref\n0 {nobj}\n".encode()
    buf += b"0000000000 65535 f \n"
    for num in range(1, nobj):
        buf += f"{offsets[num]:010d} 00000 n \n".encode()
    buf += (
        b"trailer\n"
        + f"<< /Size {nobj} /Root 1 0 R >>\n".encode()
        + b"startxref\n"
        + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    with open(path, "wb") as fh:
        fh.write(bytes(buf))


# ---------------------------------------------------------------------------
# reader — tokenizer / object parser
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


class _Parser:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _skip_ws(self) -> None:
        buf, n = self.buf, len(self.buf)
        while self.pos < n:
            c = self.buf[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and buf[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def value(self):
        """Parse one object value at the cursor."""
        self._skip_ws()
        buf = self.buf
        c = buf[self.pos]
        if buf[self.pos : self.pos + 2] == b"<<":
            return self._dict()
        if c == 0x3C:  # <
            return self._hex_string()
        if c == 0x28:  # (
            return self._literal_string()
        if c == 0x2F:  # /
            return self._name()
        if c == 0x5B:  # [
            self.pos += 1
            out = []
            while True:
                self._skip_ws()
                if buf[self.pos] == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.value())
        if buf[self.pos : self.pos + 4] == b"true":
            self.pos += 4
            return True
        if buf[self.pos : self.pos + 5] == b"false":
            self.pos += 5
            return False
        if buf[self.pos : self.pos + 4] == b"null":
            self.pos += 4
            return None
        return self._number_or_ref()

    def _name(self) -> str:
        self.pos += 1
        start = self.pos
        buf, n = self.buf, len(self.buf)
        while self.pos < n and buf[self.pos] not in _WS and buf[self.pos] not in _DELIM:
            self.pos += 1
        raw = buf[start : self.pos].decode("latin-1")
        # #xx hex escapes in names
        return re.sub(
            r"#([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), raw
        )

    def _dict(self) -> dict:
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if self.buf[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self._name()
            out[key] = self.value()

    def _hex_string(self) -> bytes:
        self.pos += 1
        end = self.buf.index(b">", self.pos)
        hx = re.sub(rb"[\x00\t\n\x0c\r ]", b"", self.buf[self.pos : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))

    def _literal_string(self) -> bytes:
        buf = self.buf
        self.pos += 1
        depth = 1
        out = bytearray()
        while True:
            c = buf[self.pos]
            if c == 0x5C:  # backslash
                nxt = buf[self.pos + 1]
                self.pos += 2
                if nxt == 0x6E:
                    out.append(0x0A)
                elif nxt == 0x72:
                    out.append(0x0D)
                elif nxt == 0x74:
                    out.append(0x09)
                elif nxt == 0x62:
                    out.append(0x08)
                elif nxt == 0x66:
                    out.append(0x0C)
                elif nxt in (0x28, 0x29, 0x5C):
                    out.append(nxt)
                elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                    oct_digits = chr(nxt)
                    while (
                        len(oct_digits) < 3
                        and 0x30 <= buf[self.pos] <= 0x37
                    ):
                        oct_digits += chr(buf[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif nxt in (0x0A, 0x0D):  # line continuation
                    if nxt == 0x0D and buf[self.pos] == 0x0A:
                        self.pos += 1
                # unknown escape: drop the backslash (spec rule)
                else:
                    out.append(nxt)
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1

    def _number_or_ref(self):
        buf = self.buf
        m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)", buf[self.pos :])
        if not m:
            raise ValueError(
                f"PDF parse error at offset {self.pos}"
            )
        tok = m.group(0)
        end = self.pos + len(tok)
        # lookahead for "G R" → indirect reference
        m2 = re.match(rb"\s+(\d+)\s+R(?![\w])", buf[end:])
        if m2 and b"." not in tok:
            self.pos = end + len(m2.group(0))
            return _Ref(int(tok))
        self.pos = end
        return float(tok) if b"." in tok else int(tok)


class _Pdf:
    def __init__(self, payload: bytes):
        if not payload.startswith(b"%PDF-"):
            raise ValueError("not a PDF (bad header)")
        self.buf = payload
        self.xref, self.trailer = self._load_xref()

    def _load_xref(self) -> tuple[dict[int, int], dict]:
        buf = self.buf
        sx = buf.rfind(b"startxref")
        if sx < 0:
            raise ValueError("no startxref")
        m = re.search(rb"startxref\s+(\d+)", buf[sx:])
        if not m:
            raise ValueError("bad startxref")
        xref: dict[int, int] = {}
        trailer: dict = {}
        at: int | None = int(m.group(1))
        while at is not None:
            if buf[at : at + 4] != b"xref":
                raise ValueError("xref streams not supported (classic table expected)")
            p = _Parser(buf, at + 4)
            while True:
                p._skip_ws()
                if buf[p.pos : p.pos + 7] == b"trailer":
                    p.pos += 7
                    t = p.value()
                    for k, v in t.items():
                        trailer.setdefault(k, v)
                    at = int(t["Prev"]) if "Prev" in t else None
                    break
                m2 = re.match(rb"(\d+)\s+(\d+)", buf[p.pos :])
                if not m2:
                    raise ValueError("bad xref subsection header")
                first, count = int(m2.group(1)), int(m2.group(2))
                p.pos += len(m2.group(0))
                p._skip_ws()
                for i in range(count):
                    entry = buf[p.pos : p.pos + 20]
                    off, _gen, kind = (
                        int(entry[0:10]),
                        int(entry[11:16]),
                        entry[17:18],
                    )
                    num = first + i
                    if kind == b"n":
                        xref.setdefault(num, off)
                    p.pos += 20
        return xref, trailer

    def resolve(self, v):
        while isinstance(v, _Ref):
            v = self.object(v.num)
        return v

    def object(self, num: int):
        off = self.xref.get(num)
        if off is None:
            raise ValueError(f"object {num} not in xref")
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.buf[off:])
        if not m:
            raise ValueError(f"bad object header for {num}")
        p = _Parser(self.buf, off + len(m.group(0)))
        val = p.value()
        p._skip_ws()
        if self.buf[p.pos : p.pos + 6] == b"stream":
            p.pos += 6
            if self.buf[p.pos : p.pos + 2] == b"\r\n":
                p.pos += 2
            elif self.buf[p.pos : p.pos + 1] == b"\n":
                p.pos += 1
            length = self.resolve(val["Length"])
            data = self.buf[p.pos : p.pos + int(length)]
            filt = self.resolve(val.get("Filter"))
            if filt == "FlateDecode" or (
                isinstance(filt, list) and filt == ["FlateDecode"]
            ):
                try:
                    data = zlib.decompress(data)
                except zlib.error as exc:
                    raise ValueError(f"bad Flate stream in obj {num}: {exc}")
            elif filt is not None:
                raise ValueError(f"unsupported filter {filt!r}")
            return val, data
        return val

    # -- page tree ------------------------------------------------------
    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        out: list[dict] = []

        def walk(node_ref):
            node = self.resolve(node_ref)
            if node.get("Type") == "Page":
                out.append(node)
            else:
                for kid in self.resolve(node["Kids"]):
                    walk(kid)

        walk(root["Pages"])
        return out

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        parts = []
        for r in refs:
            obj = self.object(r.num) if isinstance(r, _Ref) else r
            if not (isinstance(obj, tuple) and len(obj) == 2):
                raise ValueError("page /Contents is not a stream")
            parts.append(obj[1])
        return b"\n".join(parts)


def _extract_text(content: bytes) -> bytes:
    """Concatenate the string operands of text-showing operators
    (``Tj``, ``'``, ``\"``, ``TJ``) in byte order."""
    p = _Parser(content)
    out = bytearray()
    stack: list = []
    n = len(content)
    while True:
        p._skip_ws()
        if p.pos >= n:
            break
        c = content[p.pos]
        if c == 0x28 or c == 0x3C or c == 0x5B or c == 0x2F or (
            0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E)
        ):
            stack.append(p.value())
            continue
        # operator token
        start = p.pos
        while p.pos < n and content[p.pos] not in _WS and content[p.pos] not in _DELIM:
            p.pos += 1
        op = content[start : p.pos]
        if op in (b"Tj", b"'") and stack and isinstance(stack[-1], bytes):
            out += stack[-1]
        elif op == b'"' and stack and isinstance(stack[-1], bytes):
            out += stack[-1]
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            for el in stack[-1]:
                if isinstance(el, bytes):
                    out += el
        stack.clear()
    return bytes(out)


@quarantinable("PDF")
def pdf_page_texts(payload: bytes) -> list[str]:
    """Extract per-page text from a PDF file image (UTF-8 byte
    decoding — see module docstring)."""
    pdf = _Pdf(payload)
    texts = []
    for page in pdf.pages():
        raw = _extract_text(pdf.page_content(page))
        try:
            texts.append(raw.decode("utf-8"))
        except UnicodeDecodeError as exc:
            raise ValueError(f"undecodable page text: {exc}")
    return texts


PDF_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("page_no", LongType(), False),
        StructField("text", StringType(), False),
    ]
)


def read_pdf_pages(spark: SparkSession, path: str) -> DataFrame:
    """Every page of every PDF under ``path`` → (file, page_no, text);
    one PDF = one task, extraction entirely in-executor."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("path", "content"),
        lambda fname, content: [
            (fname.rsplit("/", 1)[-1], i, text)
            for i, text in enumerate(pdf_page_texts(content))
        ],
        PDF_SCHEMA,
        cols=("path", "content"),
        many=True,
    )
