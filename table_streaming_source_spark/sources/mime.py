"""From-scratch mbox / RFC-5322 / MIME email ingestion.

Mail archives are a classic text-corpus source (support desks, mailing
lists, the Enron corpus), and they ship as mbox files: messages
concatenated, each introduced by a ``From `` separator line.  This
module implements the read path directly from the public specs —
RFC 4155 (mbox), RFC 5322 (headers), RFC 2045/2046 (MIME multipart +
transfer encodings), RFC 2047 (encoded-words) — with the repo's
container discipline: one mbox shard = one Spark task via
``binaryFile``, a pure-Python parser that yields the rows of one file,
framed by :mod:`table_streaming_source_spark._rows`, and only
extracted fields ever leave the executor.

Implemented surface:

- mboxrd framing: messages split on ``^From `` lines; body lines
  matching ``^>*From `` are un-escaped by dropping ONE ``>``;
- header block: CRLF or LF line endings, continuation-line unfolding
  (leading SP/HT), case-insensitive header names, first-wins lookup;
- RFC 2047 encoded-words in headers: ``=?charset?B?...?=`` (base64)
  and ``=?charset?Q?...?=`` (Q: ``_`` → space, ``=XX`` hex), adjacent
  encoded-words joined without the intervening whitespace (the spec's
  explicit rule);
- MIME: ``multipart/*`` boundary walk (``--boundary`` /
  ``--boundary--`` terminators), arbitrarily NESTED multiparts,
  non-multipart leaves classified by Content-Type;
- Content-Transfer-Encoding: ``base64`` (whitespace-tolerant),
  ``quoted-printable`` (``=XX``, soft line breaks, trailing-space
  stripping), ``7bit`` / ``8bit`` / ``binary`` passthrough;
- charset: UTF-8 (and its subset ASCII) decoded; others raise
  ``ValueError`` — the quarantine path, never mojibake.

The writer emits the same surface deterministically for fixtures and
round-trip tests (multipart/alternative, base64 text part, quoted-
printable HTML part, B-encoded Subject).
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import base64
import binascii
import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# encoding primitives
# ---------------------------------------------------------------------------


def qp_encode(data: bytes, *, line_len: int = 72) -> bytes:
    out = bytearray()
    col = 0
    for b in data:
        if (0x21 <= b <= 0x7E and b != 0x3D) or b in (0x20, 0x09):
            tok = bytes([b])
        else:
            tok = b"=%02X" % b
        if col + len(tok) > line_len:
            out += b"=\r\n"
            col = 0
        out += tok
        col += len(tok)
    return bytes(out)


@quarantinable("quoted-printable")
def qp_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b == 0x3D:  # '='
            if data[i + 1 : i + 3] == b"\r\n":
                i += 3  # soft break
            elif data[i + 1 : i + 2] == b"\n":
                i += 2
            else:
                hx = data[i + 1 : i + 3]
                try:
                    out.append(int(hx, 16))
                except ValueError:
                    raise ValueError(f"bad quoted-printable escape {hx!r}")
                i += 3
        else:
            out.append(b)
            i += 1
    return bytes(out)


_ENCODED_WORD = re.compile(
    r"=\?([^?]+)\?([BbQq])\?([^?]*)\?="
)


def decode_header_value(value: str) -> str:
    """RFC 2047: decode encoded-words; whitespace BETWEEN two adjacent
    encoded-words is dropped (spec rule), other text kept verbatim."""
    # join adjacent encoded-words first
    value = re.sub(
        r"(\?=)\s+(=\?)", r"\1\2", value
    )

    def _one(m: re.Match) -> str:
        charset, enc, payload = m.group(1), m.group(2), m.group(3)
        if charset.lower() not in ("utf-8", "us-ascii", "ascii"):
            raise ValueError(f"unsupported header charset {charset!r}")
        if enc in ("B", "b"):
            raw = base64.b64decode(payload)
        else:
            raw = qp_decode(
                payload.replace("_", " ").encode("ascii")
            )
        return raw.decode("utf-8")

    return _ENCODED_WORD.sub(_one, value)


# ---------------------------------------------------------------------------
# message parsing
# ---------------------------------------------------------------------------


def _split_head_body(raw: bytes) -> tuple[list[tuple[str, str]], bytes]:
    m = re.search(rb"\r?\n\r?\n", raw)
    if m:
        head, body = raw[: m.start()], raw[m.end() :]
    else:
        head, body = raw, b""
    lines = re.split(rb"\r?\n", head)
    headers: list[tuple[str, str]] = []
    for line in lines:
        if not line:
            continue
        if line[:1] in (b" ", b"\t"):
            if not headers:
                raise ValueError("continuation line before any header")
            name, val = headers[-1]
            headers[-1] = (name, val + " " + line.strip().decode("utf-8"))
        else:
            name, _, val = line.partition(b":")
            headers.append(
                (name.decode("ascii").strip().lower(),
                 val.strip().decode("utf-8"))
            )
    return headers, body


def _header(headers: list[tuple[str, str]], name: str) -> str | None:
    for k, v in headers:
        if k == name:
            return v
    return None


def _param(value: str, name: str) -> str | None:
    m = re.search(
        rf'{name}\s*=\s*(?:"([^"]*)"|([^;\s]+))', value, re.IGNORECASE
    )
    if not m:
        return None
    return m.group(1) if m.group(1) is not None else m.group(2)


def _decode_body(body: bytes, cte: str | None, charset: str) -> str:
    cte = (cte or "7bit").lower()
    if cte == "base64":
        try:
            raw = base64.b64decode(re.sub(rb"\s+", b"", body))
        except (binascii.Error, ValueError) as exc:
            raise ValueError(f"bad base64 body: {exc}")
    elif cte == "quoted-printable":
        # strip transport-added trailing whitespace per line, then decode
        raw = qp_decode(
            re.sub(rb"[ \t]+(\r?\n)", rb"\1", body)
        )
    elif cte in ("7bit", "8bit", "binary"):
        raw = body
    else:
        raise ValueError(f"unsupported transfer encoding {cte!r}")
    if charset.lower() not in ("utf-8", "us-ascii", "ascii"):
        raise ValueError(f"unsupported charset {charset!r}")
    return raw.decode("utf-8")


def _walk_parts(
    headers: list[tuple[str, str]], body: bytes
) -> list[tuple[str, str]]:
    """Flatten a message into ``[(content_type, decoded_text), ...]``
    leaves, recursing through nested multiparts in document order."""
    ctype = _header(headers, "content-type") or "text/plain"
    mime_type = ctype.split(";")[0].strip().lower()
    if mime_type.startswith("multipart/"):
        boundary = _param(ctype, "boundary")
        if not boundary:
            raise ValueError("multipart without boundary")
        delim = b"--" + boundary.encode("ascii")
        chunks = re.split(
            rb"(?:^|\r?\n)" + re.escape(delim) + rb"(--)?[ \t]*(?:\r?\n|$)",
            body,
        )
        # chunks: [preamble, None|'--', part1, None|'--', part2, ...]
        leaves: list[tuple[str, str]] = []
        i = 1
        while i < len(chunks) - 1:
            terminator, part = chunks[i], chunks[i + 1]
            if terminator == b"--":
                break
            ph, pb = _split_head_body(part)
            leaves.extend(_walk_parts(ph, pb))
            i += 2
        return leaves
    charset = _param(ctype, "charset") or "us-ascii"
    cte = _header(headers, "content-transfer-encoding")
    return [(mime_type, _decode_body(body, cte, charset))]


@quarantinable("MIME message")
def parse_message(raw: bytes) -> dict:
    """One RFC-5322/MIME message → ``{from_addr, subject, parts:
    [(content_type, text), ...]}``."""
    headers, body = _split_head_body(raw)
    subject = decode_header_value(_header(headers, "subject") or "")
    return {
        "from_addr": _header(headers, "from") or "",
        "subject": subject,
        "parts": _walk_parts(headers, body),
    }


# ---------------------------------------------------------------------------
# mbox framing
# ---------------------------------------------------------------------------


@quarantinable("mbox")
def mbox_messages(payload: bytes) -> list[bytes]:
    """Split an mboxrd file into raw messages (separator line dropped,
    ``>From `` un-escaping applied)."""
    if not payload.startswith(b"From "):
        raise ValueError("not an mbox file (missing 'From ' separator)")
    msgs = []
    for chunk in re.split(rb"(?:^|\r?\n)From [^\n]*\n", payload):
        if not chunk:
            continue
        msgs.append(re.sub(rb"(?m)^>(>*From )", rb"\1", chunk))
    return msgs


def mbox_bytes(messages: list[bytes]) -> bytes:
    """mboxrd framing as bytes: ``From `` separator per message, body
    lines matching ``^>*From `` get one more ``>``."""
    out = bytearray()
    for msg in messages:
        out += b"From corpus@localhost Thu Jan  1 00:00:00 1970\n"
        out += re.sub(rb"(?m)^(>*From )", rb">\1", msg)
        if not msg.endswith(b"\n"):
            out += b"\n"
    return bytes(out)


def write_mbox(path: str, messages: list[bytes]) -> None:
    """mboxrd writer (see :func:`mbox_bytes`)."""
    with open(path, "wb") as fh:
        fh.write(mbox_bytes(messages))


def build_message(
    *, from_addr: str, subject: str, text: str, html: str
) -> bytes:
    """Deterministic multipart/alternative fixture message: B-encoded
    Subject, base64 text/plain part, quoted-printable text/html part."""
    subj_b64 = base64.b64encode(subject.encode("utf-8")).decode("ascii")
    boundary = "=-fixture-boundary-="
    text_b64 = base64.b64encode(text.encode("utf-8"))
    b64_folded = b"\r\n".join(
        text_b64[i : i + 76] for i in range(0, len(text_b64), 76)
    ) or b""
    html_qp = qp_encode(html.encode("utf-8"))
    return (
        f"From: {from_addr}\r\n"
        f"Subject: =?UTF-8?B?{subj_b64}?=\r\n"
        f"MIME-Version: 1.0\r\n"
        f'Content-Type: multipart/alternative; boundary="{boundary}"\r\n'
        f"\r\n"
        f"--{boundary}\r\n"
        f'Content-Type: text/plain; charset="utf-8"\r\n'
        f"Content-Transfer-Encoding: base64\r\n"
        f"\r\n".encode("ascii")
        + b64_folded
        + f"\r\n--{boundary}\r\n"
        f'Content-Type: text/html; charset="utf-8"\r\n'
        f"Content-Transfer-Encoding: quoted-printable\r\n"
        f"\r\n".encode("ascii")
        + html_qp
        + f"\r\n--{boundary}--\r\n".encode("ascii")
    )


MBOX_SCHEMA = StructType(
    [
        StructField("from_addr", StringType(), False),
        StructField("subject", StringType(), False),
        StructField("n_parts", LongType(), False),
        StructField("text", StringType(), True),
    ]
)


def read_mbox(spark: SparkSession, path: str) -> DataFrame:
    """Every message of every mbox under ``path`` → (from_addr,
    subject, n_parts, text) where ``text`` is the concatenation of
    text/plain leaves; one mbox shard = one task."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("content"), _mbox_rows, MBOX_SCHEMA, cols=("content",),
        many=True,
    )


def _mbox_rows(content: bytes) -> Iterator[tuple]:
    for msg in mbox_messages(content):
        parsed = parse_message(msg)
        plains = [t for ct, t in parsed["parts"] if ct == "text/plain"]
        yield (
            parsed["from_addr"],
            parsed["subject"],
            len(parsed["parts"]),
            "".join(plains) if plains else None,
        )


# ---------------------------------------------------------------------------
# iCalendar (RFC 5545) — the scheduling-data text format: 75-octet line
# FOLDING, BEGIN/END component nesting, property parameters
# ---------------------------------------------------------------------------


def write_ics(path: str, calendars: list[tuple[int, list[dict]]]) -> None:
    """One .ics file per (key, events) calendar.  Lines longer than 75
    octets are FOLDED per RFC 5545 §3.1 (CRLF + single space), which is
    the part naive line-splitters get wrong — descriptions here are
    made long enough to force folding."""
    import os

    os.makedirs(path, exist_ok=True)
    for key, events in calendars:
        lines = ["BEGIN:VCALENDAR", "VERSION:2.0", f"PRODID:-//tsss//{key}//EN"]
        for ev in events:
            lines += [
                "BEGIN:VEVENT",
                f"UID:{ev['uid']}",
                f"DTSTART:{ev['dtstart']}",
                f"DURATION:PT{ev['minutes']}M",
                f"SUMMARY:{ev['summary']}",
                f"DESCRIPTION:{ev['description']}",
                "END:VEVENT",
            ]
        lines.append("END:VCALENDAR")
        folded = []
        for ln in lines:
            raw = ln.encode("utf-8")
            if len(raw) <= 75:
                folded.append(ln)
            else:
                folded.append(raw[:75].decode("utf-8"))
                rest = raw[75:]
                while rest:
                    folded.append(" " + rest[:74].decode("utf-8"))
                    rest = rest[74:]
        with open(os.path.join(path, f"cal-{key}.ics"), "wb") as fh:
            fh.write("\r\n".join(folded).encode("utf-8") + b"\r\n")


@quarantinable("iCalendar")
def parse_ics(payload: bytes) -> list[dict]:
    """RFC 5545 walk: UNFOLD first (CRLF + space/tab joins), then
    BEGIN/END component tracking and NAME[;PARAM...]:VALUE property
    parse.  Returns one dict per VEVENT.  Unbalanced components
    raise."""
    text = payload.decode("utf-8")
    raw_lines = text.split("\r\n")
    lines: list[str] = []
    for ln in raw_lines:
        if ln[:1] in (" ", "\t") and lines:
            lines[-1] += ln[1:]
        elif ln:
            lines.append(ln)
    events = []
    stack: list[str] = []
    cur: dict | None = None
    for ln in lines:
        name, _, value = ln.partition(":")
        name = name.split(";", 1)[0].upper()
        if name == "BEGIN":
            stack.append(value)
            if value == "VEVENT":
                cur = {}
        elif name == "END":
            if not stack or stack.pop() != value:
                raise ValueError("unbalanced BEGIN/END in iCalendar")
            if value == "VEVENT":
                events.append(cur)
                cur = None
        elif cur is not None:
            cur[name] = value
    if stack:
        raise ValueError("unterminated component in iCalendar")
    return events


def read_ics_events(spark: "SparkSession", path: str) -> "DataFrame":
    """All VEVENTs under ``path`` as (cal_key, uid, dtstart, minutes,
    summary_len, description_len) — one calendar file per task."""
    schema = StructType(
        [
            StructField("cal_key", LongType(), False),
            StructField("uid", StringType(), False),
            StructField("dtstart", StringType(), False),
            StructField("minutes", LongType(), False),
            StructField("summary_len", LongType(), False),
            StructField("description_len", LongType(), False),
        ]
    )

    def events(apath: str, blob: bytes) -> Iterator[tuple]:
        key = int(re.search(r"cal-(\d+)\.ics$", apath).group(1))
        for ev in parse_ics(blob):
            dur = re.fullmatch(r"PT(\d+)M", ev["DURATION"])
            yield (
                key,
                ev["UID"],
                ev["DTSTART"],
                int(dur.group(1)),
                len(ev["SUMMARY"]),
                len(ev["DESCRIPTION"]),
            )

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ics")
        .load(path)
        .select("path", "content")
    )
    return map_rows(raw, events, schema, cols=("path", "content"), many=True)
