"""Email / MIME mail-corpus ingest — mail archives (Enron, mailing-list
dumps, support-ticket exports) are a canonical LLM training-data source
and ship as mbox files of RFC 5322 messages with MIME bodies.

Implemented from the PUBLIC RFCs: RFC 5322 header syntax (CRLF-or-LF
tolerant unfolding — a fold is a line break followed by WSP and decodes
back to that WSP), RFC 2047 encoded-words (=?charset?B|Q?...?= with the
Q-encoding underscore-is-space rule, and the adjacency rule: whitespace
BETWEEN two encoded words vanishes while whitespace next to plain text
survives), RFC 2045 Content-Type parameter syntax (quoted-string
params; RFC 2231 parameter continuations are a NAMED boundary),
quoted-printable (=XX, soft breaks =CRLF, lenient on malformed escapes
exactly like CPython's quopri) and base64 transfer decoding (whitespace
tolerated, lenient tail like the stdlib's decoder), multipart framing
(RFC 2046 §5.1: delimiters are lines starting ``--boundary``, preamble
and epilogue dropped, close-delimiter ``--boundary--``, nested
multiparts recursive), and message/rfc822 parts parsed as nested
messages. mbox splitting follows the classic format: postmark lines
starting ``From `` begin a message; the default read matches CPython's
mailbox module, which never unstuffs (the documented mboxo asymmetry),
and ``unstuff=True`` applies mboxrd semantics (strip exactly one ``>``
from every ``>``*``From `` body line).

Text assembly for the pipeline: every text/* leaf decodes with its
declared charset (fallback latin-1 — byte-lossless — when the charset
is unknown), text/html leaves route through the existing
``operators.html.html_to_text`` chain, and ``text`` concatenates the
text/plain leaves (the body a human wrote), falling back to stripped
HTML when a message is HTML-only — the same preference order the
multipart/alternative semantics imply.

Ground truth: CPython's own ``email`` package (BytesParser,
EmailMessage generation, ``quopri``, ``mailbox.mbox``) — every fixture
is parsed by BOTH parsers and compared part-for-part, and generated
messages come from the stdlib generator (tests/test_mail.py).

Reference parity: the reference lake's schema-on-read ingest
(src/main/cdk/ingestion/lib/glue-stack/glue-stack.ts:32-44) extended
by the north-star text-pipeline mandate. Tear contract: ValueError —
and only ValueError — so the Spark exploder quarantines per-row.
"""

from __future__ import annotations

import base64
import binascii
import re

_ENC_WORD = re.compile(
    rb"=\?([^?]+)\?([bBqQ])\?([^? \t]*)\?="
)


def _decode_charset(raw: bytes, charset: str) -> str:
    charset = (charset or "us-ascii").split("*")[0].strip().lower()
    try:
        return raw.decode(charset, errors="replace")
    except LookupError:
        # unknown charset: latin-1 is byte-lossless
        return raw.decode("latin-1")


_QP_HEX = b"0123456789ABCDEFabcdef"


def decode_qp(data: bytes) -> bytes:
    """Quoted-printable decode (RFC 2045 §6.7) with the exact lenient
    semantics of CPython's binascii.a2b_qp (what quopri delegates to):
    strict two-hex-digit escapes, ``==`` emits one ``=`` consuming
    both, ``=\\r`` without a following ``\\n`` is a soft break that
    skips the REST of the physical line, a lone ``=`` at EOF is
    dropped, and any other malformed escape emits the ``=`` and
    reprocesses the next byte."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b != 0x3D:  # '='
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break  # lone '=' at EOF: soft break
        c = data[i]
        if c in (0x0A, 0x0D):  # soft line break
            if c != 0x0A:
                while i < n and data[i] != 0x0A:
                    i += 1
            if i < n:
                i += 1
        elif c == 0x3D:  # '==': broken-encoder compatibility
            out.append(0x3D)
            i += 1
        elif i + 1 < n and c in _QP_HEX and data[i + 1] in _QP_HEX:
            out.append(int(data[i : i + 2], 16))
            i += 2
        else:
            out.append(0x3D)  # ordinary '='; next byte reprocessed
    return bytes(out)


def _decode_b64_lenient(data: bytes) -> bytes:
    """Base64 with whitespace tolerated and the stdlib's lenient tail
    (truncate to a multiple of 4, ignore trailing junk)."""
    filtered = re.sub(rb"[^A-Za-z0-9+/=]", b"", data)
    filtered = filtered[: len(filtered) - (len(filtered) % 4)]
    try:
        return base64.b64decode(filtered)
    except (binascii.Error, ValueError):
        # second chance: drop everything after the first '=' padding run
        m = re.match(rb"([A-Za-z0-9+/]*=?=?)", filtered)
        core = m.group(1)
        core = core[: len(core) - (len(core) % 4)]
        try:
            return base64.b64decode(core)
        except (binascii.Error, ValueError) as e:
            raise ValueError("mail: undecodable base64 body") from e


def decode_rfc2047(value: str) -> str:
    """Decode RFC 2047 encoded-words in a header value.

    The adjacency rule: linear whitespace between two adjacent
    encoded words is deleted; whitespace between an encoded word and
    plain text is kept."""
    raw = value.encode("latin-1", errors="replace")
    parts: list[tuple[bool, str]] = []  # (was_encoded_word, text)
    pos = 0
    for m in _ENC_WORD.finditer(raw):
        if m.start() > pos:
            parts.append((False,
                          raw[pos:m.start()].decode("latin-1")))
        charset = m.group(1).decode("latin-1")
        enc = m.group(2).decode("latin-1").upper()
        payload = m.group(3)
        if enc == "B":
            try:
                decoded = _decode_b64_lenient(payload)
            except ValueError:
                decoded = payload
        else:  # Q: underscore is space, then QP
            decoded = decode_qp(payload.replace(b"_", b" "))
        parts.append((True, _decode_charset(decoded, charset)))
        pos = m.end()
    if pos < len(raw):
        parts.append((False, raw[pos:].decode("latin-1")))
    out = []
    for i, (is_ew, text) in enumerate(parts):
        if (
            not is_ew
            and text.strip() == ""
            and 0 < i < len(parts) - 1
            and parts[i - 1][0]
            and parts[i + 1][0]
        ):
            continue  # whitespace between adjacent encoded words
        out.append(text)
    return "".join(out)


def parse_headers(data: bytes) -> tuple[list[tuple[str, str]], bytes]:
    """Unfold and split the header block; returns (headers, body).

    Header names are ASCII per RFC 5322; values are RFC 2047 decoded.
    The blank line separating headers from body may be CRLF or LF."""
    try:
        # find the header/body split on either line convention
        m = re.search(rb"\r?\n\r?\n", data)
        if m:
            head, body = data[: m.start()], data[m.end():]
        else:
            head, body = data, b""
        headers: list[tuple[str, str]] = []
        cur_name: str | None = None
        cur_val: list[bytes] = []
        for line in head.splitlines():
            if line[:1] in (b" ", b"\t"):
                if cur_name is None:
                    continue  # leading fold with no header: tolerate
                # unfolding removes ONLY the CRLF (RFC 5322 §2.2.3):
                # the continuation line's own WSP survives verbatim —
                # CPython's policy parser does exactly this
                cur_val.append(line)
                continue
            if cur_name is not None:
                headers.append(
                    (cur_name,
                     decode_rfc2047(b"".join(cur_val).decode(
                         "latin-1").strip()))
                )
            if not line.strip():
                cur_name, cur_val = None, []
                continue
            if b":" not in line:
                cur_name, cur_val = None, []
                continue  # malformed header line: tolerate
            name, _, val = line.partition(b":")
            cur_name = name.decode("latin-1").strip()
            cur_val = [val.strip(b" \t")]
        if cur_name is not None:
            headers.append(
                (cur_name,
                 decode_rfc2047(b"".join(cur_val).decode(
                     "latin-1").strip()))
            )
        return headers, body
    except (IndexError, UnicodeDecodeError) as e:
        raise ValueError("mail: torn header block (%s)" % e) from e


def parse_content_type(value: str) -> tuple[str, dict]:
    """Content-Type value -> (type/subtype lowercase, params dict).

    Quoted-string parameter values unescape; RFC 2231 continuations
    (name*0=, name*=charset''...) are a NAMED boundary — the base
    parameter name is surfaced with the raw value."""
    if not value:
        return "text/plain", {}
    segs = _split_params(value)
    ctype = segs[0].strip().lower() if segs else "text/plain"
    if "/" not in ctype:
        ctype = "text/plain"
    params: dict = {}
    for seg in segs[1:]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        k = k.strip().lower().rstrip("*0123456789")
        v = v.strip()
        if v[:1] == '"':
            v = re.sub(r"\\(.)", r"\1", v[1:-1] if v[-1:] == '"'
                       else v[1:])
        if k and k not in params:
            params[k] = v
        elif k in params and "*" in seg.split("=")[0]:
            params[k] += v  # crude continuation join, named boundary
    return ctype, params


def _split_params(value: str) -> list[str]:
    out, depth, cur, in_q = [], 0, [], False
    i = 0
    while i < len(value):
        ch = value[i]
        if in_q:
            cur.append(ch)
            if ch == "\\" and i + 1 < len(value):
                cur.append(value[i + 1])
                i += 1
            elif ch == '"':
                in_q = False
        elif ch == '"':
            in_q = True
            cur.append(ch)
        elif ch == "(" :
            depth += 1  # comments in header values: dropped
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == ";" and depth == 0:
            out.append("".join(cur))
            cur = []
        elif depth == 0:
            cur.append(ch)
        i += 1
    out.append("".join(cur))
    return out


def _decode_body(body: bytes, cte: str) -> bytes:
    cte = (cte or "").strip().lower()
    if cte in ("", "7bit", "8bit", "binary"):
        return body
    if cte == "quoted-printable":
        return decode_qp(body)
    if cte == "base64":
        return _decode_b64_lenient(body)
    raise ValueError("mail: unknown transfer encoding %r" % cte)


def _header(headers: list[tuple[str, str]], name: str) -> str:
    for k, v in headers:
        if k.lower() == name.lower():
            return v
    return ""


def _split_multipart(body: bytes, boundary: str) -> list[bytes]:
    """RFC 2046 §5.1 framing: delimiter lines start --boundary; the
    preceding line break belongs to the delimiter."""
    if not boundary:
        raise ValueError("mail: multipart without boundary")
    bnd = boundary.encode("latin-1")
    delim = b"--" + bnd
    parts: list[bytes] = []
    cur: list[bytes] | None = None
    for line in body.splitlines(keepends=True):
        stripped = line.rstrip(b"\r\n")
        if stripped == delim or stripped == delim + b"--":
            if cur is not None:
                # the line break before the delimiter is the
                # delimiter's — drop exactly one trailing break
                chunk = b"".join(cur)
                chunk = re.sub(rb"\r?\n\Z", b"", chunk, count=1)
                parts.append(chunk)
            if stripped.endswith(b"--"):
                cur = None
                break
            cur = []
        elif cur is not None:
            cur.append(line)
    return parts


def parse_message(data: bytes, _depth: int = 0) -> dict:
    """Parse one RFC 5322 message into headers + a flat leaf-part list.

    Returns {headers, subject, from, to, date, message_id, parts,
    text}; each leaf part is {content_type, charset, filename,
    payload (decoded bytes), text (decoded str for text/*)}."""
    if _depth > 16:
        raise ValueError("mail: absurd message nesting")
    headers, body = parse_headers(data)
    ctype, params = parse_content_type(_header(headers, "Content-Type"))
    parts: list[dict] = []

    def walk(ctype, params, headers, body, depth):
        if depth > 16:
            raise ValueError("mail: absurd part nesting")
        if ctype.startswith("multipart/"):
            for chunk in _split_multipart(body,
                                          params.get("boundary", "")):
                h2, b2 = parse_headers(chunk)
                ct2, p2 = parse_content_type(
                    _header(h2, "Content-Type"))
                walk(ct2, p2, h2, b2, depth + 1)
            return
        if ctype == "message/rfc822":
            nested = parse_message(body, _depth + depth + 1)
            parts.extend(nested["parts"])
            return
        payload = _decode_body(
            body, _header(headers, "Content-Transfer-Encoding"))
        charset = params.get("charset", "us-ascii")
        disp = _header(headers, "Content-Disposition")
        _, dparams = parse_content_type("x/x; " + disp) if disp else (
            "x/x", {})
        part = {
            "content_type": ctype,
            "charset": charset,
            "filename": dparams.get("filename")
            or params.get("name"),
            "payload": payload,
            "text": _decode_charset(payload, charset)
            if ctype.startswith("text/") else None,
        }
        parts.append(part)

    walk(ctype, params, headers, body, 0)

    plain = [p["text"] for p in parts
             if p["content_type"] == "text/plain"]
    if plain:
        text = "\n".join(plain)
    else:
        html = [p["text"] for p in parts
                if p["content_type"] == "text/html"]
        if html:
            text = "\n".join(strip_html_text(h) for h in html)
        else:
            text = ""
    return {
        "headers": headers,
        "subject": _header(headers, "Subject"),
        "from": _header(headers, "From"),
        "to": _header(headers, "To"),
        "date": _header(headers, "Date"),
        "message_id": _header(headers, "Message-ID"),
        "parts": parts,
        "text": text,
    }


def strip_html_text(html: str) -> str:
    """Plain-Python HTML → text for worker-side mail bodies: script/
    style subtrees dropped, block tags become breaks, entities
    unescape, whitespace collapses per line. (The Spark-side column
    chain lives in operators/html.py — this is its executor-local
    sibling for already-materialized strings.)"""
    import html as _htmllib

    s = re.sub(r"(?is)<(script|style)\b.*?</\1\s*>", " ", html)
    s = re.sub(r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>", "\n", s)
    s = re.sub(r"(?s)<[^>]*>", " ", s)
    s = _htmllib.unescape(s)
    lines = [re.sub(r"[ \t\r\f\v]+", " ", ln).strip()
             for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def split_mbox(data: bytes, unstuff: bool = False) -> list[bytes]:
    """Split an mbox file into raw messages (postmark line dropped).

    ``unstuff=False`` (default) matches CPython's mailbox module,
    which never unstuffs on read (the mboxo asymmetry — a stuffed
    '>From ' line stays stuffed). ``unstuff=True`` applies mboxrd
    semantics: strip exactly one '>' from every '>'*'From ' line."""
    try:
        msgs: list[list[bytes]] = []
        cur: list[bytes] | None = None
        for line in data.splitlines(keepends=True):
            if line.startswith(b"From "):
                cur = []
                msgs.append(cur)
                continue
            if cur is None:
                if line.strip():
                    raise ValueError("mail: mbox without postmark")
                continue
            if unstuff and re.match(rb">+From ", line):
                line = line[1:]
            cur.append(line)
        out = []
        for m in msgs:
            raw = b"".join(m)
            # the blank separator line before the next postmark is the
            # mbox's, not the message's
            raw = re.sub(rb"\r?\n\Z", b"", raw, count=1)
            out.append(raw)
        return out
    except ValueError:
        raise
    except Exception as e:  # pragma: no cover - defensive normalize
        raise ValueError("mail: torn mbox (%s)" % e) from e
