"""A-21: minimal pure-Python PDF text extraction.

Scope (deliberately small — SURVEY.md §7 risk list): parse PDF object
streams, decode filter CHAINS of FlateDecode / ASCIIHexDecode /
ASCII85Decode (applied in declaration order; any unknown filter in the
chain, e.g. DCTDecode, skips the stream), walk ``BT..ET`` text blocks
and collect ``Tj`` / ``TJ`` / ``'`` show-text operators into LINES
positioned by the ``Td``/``TD``/``T*`` text-line moves and the
translation components of ``Tm``, emitted in layout order (columns
left-to-right, lines top-to-bottom; streams with no positioning ops
keep exact stream order — see _texts_from_content).
Handles literal ``( )`` strings with escapes and hex ``< >``
strings (latin-1 interpretation — no font/CMap decoding). Anything
non-decodable yields empty text; callers quarantine the row with
``status='pdf'`` so PDF behavior can never destabilize HTML bytes.
"""

from __future__ import annotations

import base64
import binascii
import re
import zlib

# size cap on a PDF blob and on each decoded stream (the HTML cap, 8 MiB)
_MAX_BYTES = 8 << 20
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)(?:\r?\n)?endstream", re.DOTALL)
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# one token stream: position ops (a b Td|TD, a b c d e f Tm, T*)
# interleaved with the show ops — ( literal ) Tj|'  or  [ array ] TJ
_NUM = rb"-?\d+(?:\.\d+)?"
_TOK_RE = re.compile(
    rb"(?:(" + _NUM + rb")\s+(" + _NUM + rb")\s+(Td|TD)\b"
    rb"|" + _NUM + rb"\s+" + _NUM + rb"\s+" + _NUM + rb"\s+" + _NUM
    + rb"\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+(Tm)\b"
    rb"|(T\*)"
    rb"|\(((?:\\.|[^\\()])*)\)\s*(Tj|')"
    rb"|\[((?:\s*(?:\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|-?\d+(?:\.\d+)?))*)\]\s*TJ)",
    re.DOTALL,
)
_LIT_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)")
_ESCAPES = {
    b"n": b"\n",
    b"r": b"\r",
    b"t": b"\t",
    b"b": b"\b",
    b"f": b"\f",
    b"(": b"(",
    b")": b")",
    b"\\": b"\\",
}


def _unescape_literal(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                digits = b""
                while j < n and len(digits) < 3 and raw[j : j + 1].isdigit():
                    digits += raw[j : j + 1]
                    j += 1
                try:
                    out.append(int(digits, 8) & 0xFF)
                except ValueError:
                    pass
                i = j
                continue
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _stream_filters(header_window: bytes) -> list[str]:
    """Filter names, in application order, from the stream dict."""
    m = _FILTER_RE.search(header_window)
    if not m:
        return []
    return [n.decode("ascii") for n in _NAME_RE.findall(m.group(1))]


def _inflate_capped(raw: bytes) -> bytes:
    # capped inflate: a bombed FlateDecode stream is skipped, not
    # materialized (unbounded zlib.decompress was an OOM vector).
    # _STREAM_RE's optional EOL strip can clip a trailing \r (or
    # \r\n) that is really compressed data whose last byte is 0x0D —
    # retry with the clipped candidates re-appended.
    for candidate in (raw, raw + b"\r", raw + b"\r\n", raw + b"\n"):
        try:
            d = zlib.decompressobj()
            out = d.decompress(candidate, _MAX_BYTES)
            if d.eof:
                return out
        except zlib.error:
            continue
    return b""


def _ascii_hex_decode(raw: bytes) -> bytes:
    body = raw.split(b">", 1)[0]
    body = re.sub(rb"\s+", b"", body)
    if len(body) % 2:
        body += b"0"  # PDF spec: odd final digit implies trailing 0
    try:
        return binascii.unhexlify(body)
    except (binascii.Error, ValueError):
        return b""


def _ascii85_decode(raw: bytes) -> bytes:
    body = re.sub(rb"\s+", b"", raw)
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    try:
        return base64.a85decode(b"<~" + body + b"~>", adobe=True)
    except (ValueError, binascii.Error):
        return b""


def _decode_stream(raw: bytes, header_window: bytes) -> bytes:
    """Apply the stream's declared filter chain in order. Unknown
    filters (image codecs etc.) abort the stream — never a crash."""
    filters = _stream_filters(header_window)
    out = raw
    for name in filters:
        if not out:
            return b""
        if name == "FlateDecode":
            out = _inflate_capped(out)
        elif name == "ASCIIHexDecode":
            out = _ascii_hex_decode(out)
        elif name == "ASCII85Decode":
            out = _ascii85_decode(out)
        else:
            return b""
        if len(out) > _MAX_BYTES:
            return b""
    return out


def _texts_from_content(content: bytes) -> list[str]:
    """Layout-ordered lines from the content stream's BT..ET blocks.

    Declared layout scope (D-7 increment): the text-POSITIONING ops
    ``a b Td`` / ``a b TD`` (relative line moves; TD also sets the
    leading), ``T*`` (next line by the current leading) and the
    next-line show ``'`` are honored — each run of shows at one text
    position is a LINE at (x, y), and lines emit sorted by
    (x ascending, y descending, stream order): columns left-to-right,
    each column top-to-bottom — so a two-column page whose stream
    interleaves columns still reads column-major. ``a b c d e f Tm``
    (VERDICT r07 #4) is honored for its TRANSLATION (e, f) — the
    position jumps there absolutely, covering generated reports that
    place every line via Tm — while the scale/rotation components stay
    out of scope (D-7), as does horizontal kerning: a stream with no
    positioning ops keeps every line at (0, 0) and the stable sort
    preserves exact stream order — the pre-layout behavior, so all
    stream-order fixtures are unchanged."""
    entries: list[tuple[float, float, int, str]] = []
    seq = 0
    for block in _BT_ET_RE.findall(content):
        # BT resets the text matrix to identity → position (0, 0)
        x = y = 0.0
        leading = 0.0
        parts: list[bytes] = []

        def flush() -> None:
            nonlocal seq, parts
            line = (
                b"".join(parts).decode("latin-1", errors="replace").strip()
            )
            if line:
                entries.append((x, y, seq, line))
                seq += 1
            parts = []

        for m in _TOK_RE.finditer(block):
            tx, ty, tdop, me, mf, tmop, tstar, lit, litop, arr = m.groups()
            if tdop is not None:
                flush()
                try:
                    dx, dy = float(tx), float(ty)
                except ValueError:  # pragma: no cover - regex-bounded
                    dx = dy = 0.0
                x += dx
                y += dy
                if tdop == b"TD":
                    leading = -dy
            elif tmop is not None:
                # Tm REPLACES the text matrix: position jumps to the
                # translation (e, f) absolutely; the scale/rotation
                # components a b c d are parsed past but ignored (D-7
                # scope — translation-only Tm covers generated reports
                # that position every line via Tm). Leading unchanged.
                flush()
                try:
                    x, y = float(me), float(mf)
                except ValueError:  # pragma: no cover - regex-bounded
                    x = y = 0.0
            elif tstar is not None:
                flush()
                y -= leading
            elif lit is not None:
                if litop == b"'":  # next-line-then-show
                    flush()
                    y -= leading
                parts.append(_unescape_literal(lit))
            elif arr is not None:
                for lm in _LIT_RE.finditer(arr):
                    parts.append(_unescape_literal(lm.group(1)))
        flush()
    entries.sort(key=lambda e: (e[0], -e[1], e[2]))
    return [e[3] for e in entries]


def extract_pdf_text(blob: bytes) -> str:
    """Best-effort layout-order text from a PDF blob; '' on failure."""
    if not blob.startswith(b"%PDF-") or len(blob) > _MAX_BYTES:
        return ""
    lines: list[str] = []
    try:
        pos = 0
        for m in _STREAM_RE.finditer(blob):
            header_window = blob[max(0, m.start() - 512) : m.start()]
            content = _decode_stream(m.group(1), header_window)
            if content:
                lines.extend(_texts_from_content(content))
            pos = m.end()
            if pos > _MAX_BYTES:
                break
        if not lines:
            # uncompressed page content outside stream extraction fallback
            lines = _texts_from_content(blob)
    except Exception:
        return ""
    return "\n".join(lines).strip()
