"""From-scratch PDF text extractor with geometric layout reassembly.

Pipeline per document (all pure Python, designed to run inside an Arrow
``mapInPandas`` batch on an executor — no file system, no temp files):

1. **Object scan.** A full-file scan for ``N G obj ... endobj`` spans
   (latest generation/offset wins, honoring incremental updates) instead
   of trusting the xref table.  Crawled PDFs are routinely truncated or
   carry corrupt xref offsets; production extractors reconstruct the
   object table exactly like this, and the scan is a single linear pass.
2. **Document tree.** ``trailer /Root`` when present, else any
   ``/Type /Catalog`` object, else (last resort) every ``/Type /Page``
   object in scan order.  The pages walk is cycle-guarded and depth-capped
   so a crafted ``/Kids`` loop cannot wedge an executor.
3. **Stream decode.** ``/Filter /FlateDecode`` inflated with
   ``zlib.decompressobj`` under an output cap (same hostile-bomb policy as
   the WARC and image decoders); unknown filters yield no text rather
   than an error (documented seam: DCT/JBIG2/CCITT are image filters and
   carry no text).
4. **Text interpreter.** A small operand-stack machine over the content
   stream tokens handling ``BT/ET, Tf, Td, TD, Tm, TL, T*, Tj, TJ, ', "``
   with the text matrix tracked as translation+scale (rotated text is
   emitted at its anchor point — layout for rotated glyphs is a documented
   divergence, as in every mainstream extractor).  Literal strings decode
   the full escape table (``\\n \\r \\t \\b \\f \\( \\) \\\\``, octal,
   line continuations); hex strings per spec.
5. **Layout reassembly.** Runs are grouped into lines by quantized
   baseline y, lines sorted top-to-bottom, runs left-to-right; horizontal
   gaps wider than ~half a space glyph become separating spaces (gap size
   in glyph units for the monospace standard fonts, else a fixed fraction
   of the font size).  This is the step the writer's shuffled-run emission
   order exercises: content-stream order is deliberately NOT reading
   order in the fixtures.

Byte-identity contract: for PDFs produced by ``writer.build_pdf`` the
extracted text equals the writer's input text exactly (modulo the
explicit ``\\n`` line wrap), which the oracle checks analytically from
the source table.
"""

from __future__ import annotations

import re
import zlib

#: hostile-input caps (same policy as sources/warc.py: a crafted payload
#: must cost bounded work)
MAX_INFLATED_BYTES = 1 << 26
MAX_OBJECTS = 1 << 16
MAX_PAGES = 4096
MAX_RUNS_PER_PAGE = 1 << 16
_PAGES_DEPTH_CAP = 64

#: per-mille glyph advances for the monospace standard-14 fonts; anything
#: else uses a flat 500/1000 estimate (documented seam — good enough for
#: gap-vs-space decisions, exact for the writer's Courier)
_MONO_WIDTHS = {"Courier": 600, "Courier-Bold": 600, "Courier-Oblique": 600,
                "Courier-BoldOblique": 600}
_DEFAULT_WIDTH = 500

_OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Name(str):
    """PDF name object (distinct from strings for dict keys)."""


class _Ref(tuple):
    """Indirect reference (objnum, gen)."""


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
            i += 1
        elif c == b"%":  # comment to EOL
            while i < n and data[i : i + 1] not in (b"\r", b"\n"):
                i += 1
        else:
            break
    return i


def _parse_object(data: bytes, i: int, depth: int = 0):
    """Recursive-descent parse of one PDF object at offset ``i``.

    Returns (value, next_offset).  Raises ValueError on malformed input;
    callers contain per-document.
    """
    if depth > 64:
        raise ValueError("pdf object nesting too deep")
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("eof in object")
    c = data[i : i + 1]
    if c == b"<":
        if data[i : i + 2] == b"<<":
            return _parse_dict(data, i, depth)
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_literal_string(data, i)
    if c == b"/":
        j = i + 1
        n = len(data)
        while j < n and data[j : j + 1] not in _WS_OR_DELIM:
            j += 1
        return _Name(_decode_name(data[i + 1 : j])), j
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if i >= len(data):
                raise ValueError("eof in array")
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_object(data, i, depth + 1)
            arr.append(v)
    if data[i : i + 4] == b"true":
        return True, i + 4
    if data[i : i + 5] == b"false":
        return False, i + 5
    if data[i : i + 4] == b"null":
        return None, i + 4
    # number or indirect reference "N G R"
    m = re.match(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", data[i : i + 32])
    if not m:
        raise ValueError(f"bad token at {i}: {data[i:i+16]!r}")
    tok = m.group(0)
    j = i + len(tok)
    if b"." not in tok:
        mref = re.match(rb"\s+(\d{1,5})\s+R\b", data[j : j + 16])
        if mref:
            return _Ref((int(tok), int(mref.group(1)))), j + mref.end()
        return int(tok), j
    return float(tok), j


_WS_OR_DELIM = frozenset(
    bytes([b]) for b in _WS + _DELIM
)


def _decode_name(raw: bytes) -> str:
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        if raw[i : i + 1] == b"#" and i + 2 < n:
            try:
                out.append(int(raw[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(raw[i])
        i += 1
    return out.decode("latin-1")


def _parse_dict(data: bytes, i: int, depth: int):
    d = {}
    i += 2
    while True:
        i = _skip_ws(data, i)
        if data[i : i + 2] == b">>":
            return d, i + 2
        if data[i : i + 1] != b"/":
            raise ValueError(f"dict key not a name at {i}")
        key, i = _parse_object(data, i, depth + 1)
        val, i = _parse_object(data, i, depth + 1)
        d[str(key)] = val


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_literal_string(data: bytes, i: int):
    out = bytearray()
    i += 1
    depth = 1
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and data[j : j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\r", b"\n"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 1  # lone backslash: drop, per spec
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out += c
            i += 1
        else:
            out += c
            i += 1
    raise ValueError("eof in literal string")


def _parse_hex_string(data: bytes, i: int):
    j = data.find(b">", i)
    if j < 0:
        raise ValueError("eof in hex string")
    hexbody = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(hexbody) % 2:
        hexbody += b"0"
    return bytes.fromhex(hexbody.decode()), j + 1


def scan_objects(data: bytes) -> dict[int, int]:
    """Linear scan: objnum -> byte offset just past 'obj'.  Later copies of
    the same objnum win (incremental-update semantics)."""
    offsets: dict[int, tuple[int, int]] = {}
    for m in _OBJ_RE.finditer(data):
        num, gen = int(m.group(1)), int(m.group(2))
        prev = offsets.get(num)
        if prev is None or gen >= prev[0]:
            offsets[num] = (gen, m.end())
        if len(offsets) > MAX_OBJECTS:
            break
    return {num: off for num, (_, off) in offsets.items()}


class PdfDocument:
    """Parsed object table + resolver; one instance per input document.

    Object precedence: top-level ``N G obj`` definitions win over objects
    packed in ``/Type /ObjStm`` streams (an uncompressed incremental
    update overriding a compressed original is the common real-world
    case; the reverse layout is rare enough to be a documented
    divergence)."""

    def __init__(self, data: bytes):
        self.data = data
        self.offsets = scan_objects(data)
        self._cache: dict[int, object] = {}
        self._embedded: dict[int, object] | None = None  # ObjStm payloads

    def _expand_objstms(self) -> dict[int, object]:
        """Decode every /Type /ObjStm top-level stream and parse the
        objects packed inside (PDF 1.5 compressed layout)."""
        if self._embedded is not None:
            return self._embedded
        self._embedded = {}
        for num in sorted(self.offsets):
            o = self.obj(num)
            if not (isinstance(o, dict) and "__stream__" in o):
                continue
            d = o["__dict__"]
            if str(d.get("Type")) != "ObjStm":
                continue
            payload = _decode_stream(self, o)
            n = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not (isinstance(n, int) and isinstance(first, int)):
                continue
            if not (0 < n <= MAX_OBJECTS and 0 <= first <= len(payload)):
                continue
            pairs: list[tuple[int, int]] = []
            i = 0
            try:
                for _ in range(n):
                    onum, i = _parse_object(payload, i)
                    ooff, i = _parse_object(payload, i)
                    if isinstance(onum, int) and isinstance(ooff, int):
                        pairs.append((onum, ooff))
            except ValueError:
                pass  # keep the pairs recovered before the corruption
            for onum, ooff in pairs:
                if onum in self.offsets or onum in self._embedded:
                    continue
                if len(self._embedded) >= MAX_OBJECTS:
                    break
                try:
                    val, _ = _parse_object(payload, first + ooff)
                except ValueError:
                    continue
                self._embedded[onum] = val
        return self._embedded

    def iter_objects(self):
        """Every known object: top-level in scan order, then ObjStm-packed."""
        for num in sorted(self.offsets):
            yield self.obj(num)
        for num in sorted(self._expand_objstms()):
            yield self._embedded[num]

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.offsets.get(num)
        if off is None:
            embedded = self._expand_objstms()
            return embedded.get(num)
        self._cache[num] = None  # cycle guard during parse
        try:
            val, end = _parse_object(self.data, off)
        except ValueError:
            self._cache[num] = None
            return None
        if isinstance(val, dict):
            i = _skip_ws(self.data, end)
            if self.data[i : i + 6] == b"stream":
                i += 6
                if self.data[i : i + 2] == b"\r\n":
                    i += 2
                elif self.data[i : i + 1] in (b"\n", b"\r"):
                    i += 1
                length = self.resolve(val.get("Length"))
                if not isinstance(length, int) or length < 0 or i + length > len(self.data):
                    # corrupt Length: recover via endstream search
                    j = self.data.find(b"endstream", i)
                    length = max(0, (j if j >= 0 else len(self.data)) - i)
                    # trim the newline the writer puts before endstream
                    raw = self.data[i : i + length]
                    if raw.endswith(b"\n"):
                        raw = raw[:-1]
                        if raw.endswith(b"\r"):
                            raw = raw[:-1]
                else:
                    raw = self.data[i : i + length]
                val = {"__dict__": val, "__stream__": raw}
        self._cache[num] = val
        return val

    def resolve(self, v, depth: int = 0):
        while isinstance(v, _Ref) and depth < 32:
            v = self.obj(v[0])
            depth += 1
        return v


def _decode_stream(doc: PdfDocument, stream_obj) -> bytes:
    if not isinstance(stream_obj, dict) or "__stream__" not in stream_obj:
        return b""
    d = stream_obj["__dict__"]
    raw = stream_obj["__stream__"]
    filt = doc.resolve(d.get("Filter"))
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    for f in filters:
        name = str(f) if f is not None else ""
        if name == "FlateDecode":
            try:
                dec = zlib.decompressobj()
                raw = dec.decompress(raw, MAX_INFLATED_BYTES)
                if dec.unconsumed_tail:
                    raise ValueError("inflate cap exceeded")
            except (zlib.error, ValueError):
                return b""
        elif name in ("ASCIIHexDecode",):
            raw = re.sub(rb"[^0-9A-Fa-f]", b"", raw.split(b">")[0])
            if len(raw) % 2:
                raw += b"0"
            raw = bytes.fromhex(raw.decode())
        else:
            # image / unsupported filters carry no extractable text
            return b""
    return raw


def _walk_pages(doc: PdfDocument) -> list[dict]:
    """Catalog -> Pages -> leaf Page dicts, cycle-guarded."""
    root = None
    # trailer /Root (last trailer wins, incremental updates)
    for m in re.finditer(rb"trailer", doc.data):
        i = _skip_ws(doc.data, m.end())
        try:
            tr, _ = _parse_object(doc.data, i)
        except ValueError:
            continue
        if isinstance(tr, dict) and "Root" in tr:
            root = doc.resolve(tr["Root"])
    if not isinstance(root, dict):
        # PDF 1.5 layout: /Root lives in the /Type /XRef stream dict
        for o in (doc.obj(n) for n in sorted(doc.offsets)):
            if isinstance(o, dict) and "__dict__" in o:
                d = o["__dict__"]
                if str(d.get("Type")) == "XRef" and "Root" in d:
                    cand = doc.resolve(d["Root"])
                    if isinstance(cand, dict):
                        root = cand
    if not isinstance(root, dict):
        root = next(
            (
                o
                for o in doc.iter_objects()
                if isinstance(o, dict) and str(o.get("Type")) == "Catalog"
            ),
            None,
        )
    pages: list[dict] = []
    seen: set[int] = set()

    def walk(node, depth):
        if not isinstance(node, dict) or depth > _PAGES_DEPTH_CAP:
            return
        if len(pages) >= MAX_PAGES:
            return
        t = str(node.get("Type", ""))
        if t == "Page":
            pages.append(node)
            return
        kids = doc.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for k in kids:
                if isinstance(k, _Ref):
                    if k[0] in seen:
                        continue
                    seen.add(k[0])
                walk(doc.resolve(k), depth + 1)

    if isinstance(root, dict):
        walk(doc.resolve(root.get("Pages")), 0)
    if not pages:  # no catalog survived: scan-order fallback
        pages = [
            o
            for o in doc.iter_objects()
            if isinstance(o, dict) and str(o.get("Type")) == "Page"
        ][:MAX_PAGES]
    return pages


def _font_char_width(doc: PdfDocument, page: dict, font_name: str) -> float:
    res = doc.resolve(page.get("Resources"))
    fonts = doc.resolve(res.get("Font")) if isinstance(res, dict) else None
    f = doc.resolve(fonts.get(font_name)) if isinstance(fonts, dict) else None
    base = str(f.get("BaseFont", "")) if isinstance(f, dict) else ""
    return _MONO_WIDTHS.get(base, _DEFAULT_WIDTH) / 1000.0


_NUM_RE = re.compile(rb"[+-]?(\d+\.\d*|\.\d+|\d+)")


def _content_tokens(content: bytes):
    """Token stream over a content stream: yields ('num', f), ('name', s),
    ('str', bytes), ('arr', list), ('op', bytes)."""
    i, n = 0, len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            return
        c = content[i : i + 1]
        if c == b"(":
            s, i = _parse_literal_string(content, i)
            yield ("str", s)
        elif c == b"<" and content[i : i + 2] != b"<<":
            s, i = _parse_hex_string(content, i)
            yield ("str", s)
        elif c == b"<":  # inline dict (e.g. BDC property lists): parse+drop
            try:
                _, i = _parse_dict(content, i, 0)
            except ValueError:
                return
            yield ("dict", None)
        elif c == b"/":
            v, i = _parse_object(content, i)
            yield ("name", str(v))
        elif c == b"[":
            arr = []
            i += 1
            while True:
                i = _skip_ws(content, i)
                if i >= n:
                    return
                if content[i : i + 1] == b"]":
                    i += 1
                    break
                cc = content[i : i + 1]
                if cc == b"(":
                    s, i = _parse_literal_string(content, i)
                    arr.append(s)
                elif cc == b"<":
                    s, i = _parse_hex_string(content, i)
                    arr.append(s)
                else:
                    m = _NUM_RE.match(content, i)
                    if not m:
                        i += 1
                        continue
                    arr.append(float(m.group(0)))
                    i = m.end()
            yield ("arr", arr)
        else:
            m = _NUM_RE.match(content, i)
            if m:
                yield ("num", float(m.group(0)))
                i = m.end()
                continue
            j = i
            while j < n and content[j : j + 1] not in _WS_OR_DELIM:
                j += 1
            if j == i:
                i += 1  # stray delimiter: skip
                continue
            yield ("op", content[i:j])
            i = j


def _runs_from_content(content: bytes, char_width_of) -> list[tuple[float, float, float, str]]:
    """Interpret text operators; return runs as (y, x, font_size, text)."""
    runs: list[tuple[float, float, float, str]] = []
    stack: list = []
    # text state
    fs = 12.0
    char_w = _DEFAULT_WIDTH / 1000.0
    leading = 0.0
    tm = tlm = (0.0, 0.0)  # translation component only (see module doc)
    scale = 1.0

    def show(raw: bytes):
        nonlocal tm
        if len(runs) >= MAX_RUNS_PER_PAGE:
            return
        text = raw.decode("latin-1")
        if text:
            runs.append((tm[1], tm[0], fs * scale, text))
            tm = (tm[0] + char_w * fs * scale * len(text), tm[1])

    def num(v, default=0.0):
        return float(v) if isinstance(v, (int, float)) else default

    for kind, val in _content_tokens(content):
        if kind in ("num", "str", "arr", "name", "dict"):
            stack.append(val)
            if len(stack) > 64:
                del stack[:-8]
            continue
        op = val
        try:
            if op == b"BT":
                tm = tlm = (0.0, 0.0)
            elif op == b"Tf" and len(stack) >= 2:
                fs = num(stack[-1], 12.0)
                name = stack[-2]
                char_w = char_width_of(str(name)) if isinstance(name, str) else char_w
            elif op == b"Td" and len(stack) >= 2:
                tlm = (tlm[0] + num(stack[-2]), tlm[1] + num(stack[-1]))
                tm = tlm
            elif op == b"TD" and len(stack) >= 2:
                leading = -num(stack[-1])
                tlm = (tlm[0] + num(stack[-2]), tlm[1] + num(stack[-1]))
                tm = tlm
            elif op == b"Tm" and len(stack) >= 6:
                a = num(stack[-6], 1.0)
                d = num(stack[-3], 1.0)
                scale = abs(a) if abs(a) == abs(d) and a else 1.0
                tlm = (num(stack[-2]), num(stack[-1]))
                tm = tlm
            elif op == b"TL" and stack:
                leading = num(stack[-1])
            elif op == b"T*":
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
            elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                show(stack[-1])
            elif op == b"'" and stack and isinstance(stack[-1], bytes):
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
                show(stack[-1])
            elif op == b'"' and len(stack) >= 3 and isinstance(stack[-1], bytes):
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
                show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)):
                        # kerning: thousandths of em, negative moves right
                        tm = (tm[0] - el / 1000.0 * fs * scale, tm[1])
        finally:
            if op not in (b"BT",):
                stack.clear()
    return runs


def _assemble_lines(runs: list[tuple[float, float, float, str]]) -> list[str]:
    """Geometric reading order: bucket runs by quantized baseline y,
    top-to-bottom; within a line left-to-right, wide gaps become spaces."""
    if not runs:
        return []
    lines: dict[int, list[tuple[float, float, str]]] = {}
    for y, x, fs, text in runs:
        key = round(y * 2)  # half-point quantization
        lines.setdefault(key, []).append((x, fs, text))
    out = []
    for key in sorted(lines, reverse=True):
        parts = sorted(lines[key], key=lambda r: r[0])
        buf = []
        cursor = None
        for x, fs, text in parts:
            if cursor is not None:
                gap = x - cursor
                # one Courier space is 0.6*fs wide; treat > half a space as
                # a separator, width/space_w spaces (>=1)
                space_w = 0.6 * fs if fs else 6.0
                if gap > 0.5 * space_w:
                    buf.append(" " * max(1, round(gap / space_w)))
            buf.append(text)
            # monospace advance estimate for the cursor; exact for Courier
            cursor = x + 0.6 * fs * len(text)
        out.append("".join(buf))
    return out


def parse_pdf_pages(data: bytes) -> list[list[str]]:
    """bytes -> list of pages, each a list of text lines in reading order.

    Never raises on malformed input: returns the pages it could recover
    (possibly empty).  Work is bounded by the module caps.
    """
    if not isinstance(data, (bytes, bytearray)) or b"obj" not in data[:1 << 24]:
        return []
    try:
        doc = PdfDocument(bytes(data))
        pages_out = []
        for page in _walk_pages(doc):
            contents = doc.resolve(page.get("Contents"))
            parts = contents if isinstance(contents, list) else [contents]
            blob = b"\n".join(
                _decode_stream(doc, doc.resolve(p)) for p in parts if p is not None
            )
            runs = _runs_from_content(
                blob, lambda name, p=page: _font_char_width(doc, p, name)
            )
            pages_out.append(_assemble_lines(runs))
        return pages_out
    except Exception:
        # absolute per-document containment (100 TB policy): a poisoned
        # payload yields no text, never a failed task
        return []


def extract_pdf_text(data: bytes) -> str:
    """Full-document extracted text: lines joined by \\n, pages by \\n."""
    return "\n".join("\n".join(p) for p in parse_pdf_pages(data) if p)
