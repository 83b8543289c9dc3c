"""Minimal PDF object model + parser.

The reference delegates PDF object parsing to the public ``lopdf`` crate;
this module is our from-scratch equivalent covering the subset the engine
needs: object scanning (xref-free, robust to linearized files), the page
tree, resources (fonts / XObjects), stream decompression (FlateDecode),
and content-stream operation decoding.

Design note: we scan for ``N G obj … endobj`` spans instead of trusting the
xref table — the same robustness trick the reference applies for CMaps
(src/tounicode.rs:413-466), generalized to every object. This makes the
parser tolerant of truncated xrefs, appended increments and linearization.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections import OrderedDict
from typing import Any


class Name(str):
    """A PDF name (/Foo). Subclass of str for ergonomic comparisons."""
    __slots__ = ()


class Ref:
    """An indirect object reference ``num gen R``."""
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int = 0) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and other.num == self.num and other.gen == self.gen

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Stream:
    """A PDF stream: dictionary + raw payload."""
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw

    def decompressed(self) -> bytes:
        filt = self.dict.get("Filter")
        names: list[str] = []
        if isinstance(filt, Name):
            names = [str(filt)]
        elif isinstance(filt, list):
            names = [str(f) for f in filt if isinstance(f, Name)]
        data = self.raw
        for f in names:
            if f == "FlateDecode":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    pass  # tolerate broken filters; return best effort
            # Other filters (DCTDecode etc.) are opaque payloads — pass through.
        return data


_WS = b"\x00\t\n\x0c\r "
_TOKEN_RE = re.compile(rb"[^\s()<>\[\]{}/%]+")
_REF_RE = re.compile(rb"(\d+)\s+R(?![A-Za-z0-9])")
_DELIM = b"()<>[]{}/%"
_WS_COMMENT_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*(?:\n|$))*")
_NAME_RE = re.compile(rb"[^\x00\t\n\x0b\x0c\r ()<>\[\]{}/%]*")
# Fast path: an array containing only numbers (Widths, W, matrices, rects).
# Cannot match if a reference ("N 0 R") or nested object is present.
_NUM_ARRAY_RE = re.compile(rb"\[([\s\d.+-]*)\]")
# Fast path: literal string with no escapes and no nested parens.
_SIMPLE_STR_RE = re.compile(rb"\(([^()\\]*)\)")


class _Lexer:
    """Tokenizer/parser for PDF object syntax."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.n = len(data)

    def _skip_ws(self) -> None:
        # single C-level regex step (whitespace runs + % comments) — this
        # is the hottest call in object parsing, so no per-byte Python loop
        self.pos = _WS_COMMENT_RE.match(self.data, self.pos).end()

    def parse_object(self) -> Any:
        """Parse one object at the current position."""
        self._skip_ws()
        if self.pos >= self.n:
            raise ValueError("EOF")
        data = self.data
        c = data[self.pos]

        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x3C:  # '<'
            if data[self.pos + 1:self.pos + 2] == b"<":
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if c == 0x5B:  # '['
            m = _NUM_ARRAY_RE.match(data, self.pos)
            if m is not None:
                self.pos = m.end()
                out: list[Any] = []
                for tok in m.group(1).split():
                    try:
                        out.append(float(tok.decode("ascii")) if b"." in tok
                                   else int(tok))
                    except (ValueError, UnicodeDecodeError):
                        pass
                return out
            self.pos += 1
            arr: list[Any] = []
            while True:
                self._skip_ws()
                if self.pos >= self.n:
                    break
                if data[self.pos] == 0x5D:  # ']'
                    self.pos += 1
                    break
                arr.append(self.parse_object())
            return arr
        # keywords / numbers / refs
        m = _TOKEN_RE.match(data, self.pos)
        if not m:
            raise ValueError(f"bad token at {self.pos}")
        tok = m.group(0)
        self.pos = m.end()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly the start of "num gen R"
        try:
            if b"." in tok:
                return float(tok.decode("ascii"))
            num = int(tok)
        except (ValueError, UnicodeDecodeError):
            return Name(tok.decode("latin-1"))
        # lookahead for reference
        save = self.pos
        self._skip_ws()
        m2 = _REF_RE.match(data, self.pos)
        if m2 is not None:
            self.pos = m2.end()
            return Ref(num, int(m2.group(1)))
        self.pos = save
        return num

    def _parse_name(self) -> Name:
        self.pos += 1  # '/'
        m = _NAME_RE.match(self.data, self.pos)
        raw = m.group(0)
        self.pos = m.end()
        if b"#" in raw:  # rare '#xx' escapes
            out = bytearray()
            i = 0
            while i < len(raw):
                if raw[i] == 0x23 and i + 2 < len(raw):
                    try:
                        out.append(int(raw[i + 1:i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(raw[i])
                i += 1
            raw = bytes(out)
        return Name(raw.decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        data = self.data
        m = _SIMPLE_STR_RE.match(data, self.pos)
        if m is not None:  # fast path: no escapes, no nested parens
            self.pos = m.end()
            return m.group(1)
        self.pos += 1  # '('
        out = bytearray()
        depth = 1
        while self.pos < self.n:
            c = data[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= self.n:
                    break
                e = data[self.pos]
                if e == ord("n"):
                    out.append(0x0A)
                elif e == ord("r"):
                    out.append(0x0D)
                elif e == ord("t"):
                    out.append(0x09)
                elif e == ord("b"):
                    out.append(0x08)
                elif e == ord("f"):
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray([e])
                    for _ in range(2):
                        nxt = data[self.pos + 1:self.pos + 2]
                        if nxt and 0x30 <= nxt[0] <= 0x37:
                            self.pos += 1
                            oct_digits.append(nxt[0])
                        else:
                            break
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and data[self.pos + 1:self.pos + 2] == b"\n":
                        self.pos += 1
                else:
                    out.append(e)
                self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    break
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _parse_hex_string(self) -> bytes:
        self.pos += 1  # '<'
        j = self.data.find(b">", self.pos)
        if j == -1:
            j = self.n
        hx = re.sub(rb"\s", b"", self.data[self.pos:j])
        self.pos = min(j + 1, self.n)
        if len(hx) % 2 == 1:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return b""

    def _parse_dict_or_stream(self) -> Any:
        data = self.data
        self.pos += 2  # '<<'
        d: dict[str, Any] = {}
        while True:
            self._skip_ws()
            if self.pos >= self.n:
                break
            if data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                break
            if data[self.pos] != 0x2F:
                # tolerate garbage: skip a byte
                self.pos += 1
                continue
            key = self._parse_name()
            d[str(key)] = self.parse_object()
        # stream?
        save = self.pos
        self._skip_ws()
        if data[self.pos:self.pos + 6] == b"stream":
            self.pos += 6
            if data[self.pos:self.pos + 1] == b"\r":
                self.pos += 1
            if data[self.pos:self.pos + 1] == b"\n":
                self.pos += 1
            start = self.pos
            # Prefer a resolvable integer /Length: FlateDecode payloads are
            # arbitrary binary and may contain the literal bytes
            # 'endstream', which would silently truncate a raw scan. Trust
            # the declared length only when 'endstream' (after optional
            # EOL) actually follows the slice; otherwise fall back to the
            # scan (indirect-Ref lengths can't be resolved at lex time).
            length = d.get("Length")
            if isinstance(length, int) and 0 <= length <= self.n - start:
                m = _ENDSTREAM_AT_RE.match(data, start + length)
                if m:
                    self.pos = m.end()
                    return Stream(d, data[start:start + length])
            end = data.find(b"endstream", start)
            if end == -1:
                end = self.n
            raw_end = end
            if raw_end > start and data[raw_end - 1:raw_end] == b"\n":
                raw_end -= 1
            if raw_end > start and data[raw_end - 1:raw_end] == b"\r":
                raw_end -= 1
            self.pos = min(end + len(b"endstream"), self.n)
            return Stream(d, data[start:raw_end])
        self.pos = save
        return d


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = frozenset(b" \t\n\r\x0c\x0b")    # regex bytes \s class
_DIGITS = frozenset(b"0123456789")


def _iter_obj_headers(buf: bytes):
    """Yield (obj_num, header_end) for every ``N G obj`` header —
    equivalent to ``_OBJ_RE.finditer`` (same matches, same order,
    header_end == m.end()) but anchored on C-speed ``find(b"obj")``
    with a backward validation scan. The regex form restarts a match
    attempt at EVERY digit byte, and compressed stream payloads are full
    of digit bytes — the scan was ~55% of Document.load_mem wall time
    (r5 profile; this form is ~8x faster on the corpus mix).
    Equivalence is pinned by a fuzz test (tests/test_pdfobj_robustness)."""
    is_ws, is_digit = _WS.__contains__, _DIGITS.__contains__
    n = len(buf)
    pos = 0
    while True:
        i = buf.find(b"obj", pos)
        if i == -1:
            return
        pos = i + 3
        # \b after 'obj': next byte must not be a word char
        if pos < n:
            c = buf[pos]
            if (48 <= c <= 57 or 65 <= c <= 90 or 97 <= c <= 122
                    or c == 95):
                continue
        # \s+ before 'obj' (rules out 'endobj')
        k = i - 1
        while k >= 0 and is_ws(buf[k]):
            k -= 1
        if k == i - 1:
            continue
        # generation digits
        g = k
        while g >= 0 and is_digit(buf[g]):
            g -= 1
        if g == k:
            continue
        # \s+ between num and gen
        w = g
        while w >= 0 and is_ws(buf[w]):
            w -= 1
        if w == g:
            continue
        # object-number digits (maximal run, as the greedy regex takes)
        s = w
        while s >= 0 and is_digit(buf[s]):
            s -= 1
        if s == w:
            continue
        yield int(buf[s + 1:w + 1]), pos


_TRAILER_RE = re.compile(rb"trailer")
# Cross-document parsed-object intern pool (see Document.load_mem).
# Worst-case memory is bounded by entries x span cap (a Stream keeps its
# raw bytes): 2048 x 64KB = 128MB per executor process, far under the
# ~4GB/worker budget at local[32]; typical entries are a few hundred B.
_INTERN_MAX = 2048
_INTERN_SPAN_MAX = 1 << 16
_obj_intern: "OrderedDict[tuple, Any]" = OrderedDict()
# 'endstream' keyword expected right after a /Length-sized slice,
# tolerating the spec's optional EOL (and a little stray whitespace).
_ENDSTREAM_AT_RE = re.compile(rb"[\x00\t\n\x0c\r ]{0,4}endstream")


class Document:
    """A parsed PDF document (objects + trailer + page tree)."""

    def __init__(self) -> None:
        self.objects: dict[int, Any] = {}
        self.trailer: dict[str, Any] = {}

    # -- loading ---------------------------------------------------------

    @classmethod
    def load_mem(cls, buf: bytes) -> "Document":
        if not buf.lstrip()[:5].startswith(b"%PDF-"):
            raise ValueError("not a PDF: missing %PDF header")
        doc = cls()
        intern = _obj_intern
        for num, start in _iter_obj_headers(buf):
            # Cross-document object interning: font programs, width
            # tables, and page templates repeat byte-identically across a
            # corpus. Key = sha256+length of the span up to 'endobj'
            # (sha256, not md5: the pool is process-global and outlives a
            # single document, so a practical md5 chosen-prefix collision
            # in a crawled corpus could graft one document's objects into
            # another for the executor's lifetime); an entry is stored
            # ONLY when the parse consumed no bytes past that span (so
            # identical spans guarantee identical parses even if a stream
            # payload contains a bogus 'endobj'). Parsed objects are
            # never mutated after load — interning shares them.
            e = buf.find(b"endobj", start)
            key = None
            if e != -1 and e - start <= _INTERN_SPAN_MAX:
                key = (hashlib.sha256(buf[start:e]).digest(), e - start)
                hit = intern.get(key)
                if hit is not None:
                    intern.move_to_end(key)
                    doc.objects[num] = hit
                    continue
            lex = _Lexer(buf, start)
            try:
                obj = lex.parse_object()
            except (ValueError, IndexError, RecursionError):
                continue
            # Later definitions win (incremental updates append).
            doc.objects[num] = obj
            if key is not None and lex.pos <= e:
                intern[key] = obj
                if len(intern) > _INTERN_MAX:
                    intern.popitem(last=False)
        # Expand object streams (ObjStm): modern PDFs store most objects
        # compressed inside container streams. Direct definitions win.
        for container in list(doc.objects.values()):
            if (isinstance(container, Stream)
                    and container.dict.get("Type") == "ObjStm"):
                doc._expand_objstm(container)
        # trailer dict(s) — last wins; XRef streams carry trailer keys too
        for m in _TRAILER_RE.finditer(buf):
            lex = _Lexer(buf, m.end())
            try:
                t = lex.parse_object()
            except (ValueError, IndexError, RecursionError):
                continue
            if isinstance(t, dict):
                doc.trailer.update(t)
        if "Root" not in doc.trailer:
            for obj in doc.objects.values():
                if (isinstance(obj, Stream)
                        and obj.dict.get("Type") == "XRef"
                        and "Root" in obj.dict):
                    doc.trailer.update({k: v for k, v in obj.dict.items()
                                        if k in ("Root", "Info", "Encrypt")})
                    break
        if "Root" not in doc.trailer:
            # last resort: find a catalog object
            for num, obj in doc.objects.items():
                d = obj.dict if isinstance(obj, Stream) else obj
                if isinstance(d, dict) and d.get("Type") == "Catalog":
                    doc.trailer["Root"] = Ref(num)
                    break
        if not doc.objects:
            raise ValueError("no PDF objects found")
        if doc.trailer.get("Encrypt") is not None:
            raise ValueError("PDF is encrypted")
        return doc

    def _expand_objstm(self, container: Stream) -> None:
        """Extract objects packed in an ObjStm (PDF 1.5+): header of N
        (objnum, offset) integer pairs, objects start at /First."""
        n = container.dict.get("N")
        first = container.dict.get("First")
        if not isinstance(n, int) or not isinstance(first, int):
            return
        try:
            data = container.decompressed()
        except Exception:  # noqa: BLE001
            return
        header = data[:first].split()
        pairs: list[tuple[int, int]] = []
        for i in range(0, min(len(header) - 1, 2 * n - 1), 2):
            try:
                pairs.append((int(header[i]), int(header[i + 1])))
            except ValueError:
                return
        for num, off in pairs:
            if num in self.objects:
                continue  # direct definitions take precedence
            lex = _Lexer(data, first + off)
            try:
                self.objects[num] = lex.parse_object()
            except (ValueError, IndexError, RecursionError):
                continue

    # -- resolution ------------------------------------------------------

    def resolve(self, obj: Any, depth: int = 0) -> Any:
        while isinstance(obj, Ref) and depth < 32:
            obj = self.objects.get(obj.num)
            depth += 1
        return obj

    def get_dict(self, obj: Any) -> dict | None:
        r = self.resolve(obj)
        if isinstance(r, Stream):
            return r.dict
        return r if isinstance(r, dict) else None

    def get_array(self, obj: Any) -> list | None:
        r = self.resolve(obj)
        return r if isinstance(r, list) else None

    # -- page tree -------------------------------------------------------

    def get_pages(self) -> dict[int, int]:
        """1-indexed page number → object number, in tree order."""
        pages: dict[int, int] = {}
        root = self.get_dict(self.trailer.get("Root"))
        if not root:
            return pages
        pages_ref = root.get("Pages")
        order: list[int] = []
        seen: set[int] = set()

        def walk(ref: Any) -> None:
            if isinstance(ref, Ref):
                if ref.num in seen:
                    return
                seen.add(ref.num)
                num = ref.num
            else:
                num = -1
            node = self.get_dict(ref)
            if not node:
                return
            t = node.get("Type")
            if t == "Page":
                order.append(num)
            elif t == "Pages" or "Kids" in node:
                kids = self.get_array(node.get("Kids")) or []
                for kid in kids:
                    walk(kid)

        walk(pages_ref)
        for i, num in enumerate(order, start=1):
            pages[i] = num
        return pages

    def page_count(self) -> int:
        root = self.get_dict(self.trailer.get("Root"))
        if root:
            pages_node = self.get_dict(root.get("Pages"))
            if pages_node and isinstance(pages_node.get("Count"), int):
                return pages_node["Count"]
        return len(self.get_pages())

    # -- page content ----------------------------------------------------

    def get_page_content_streams(self, page_obj_num: int) -> list[Stream]:
        page = self.get_dict(Ref(page_obj_num))
        if not page:
            return []
        contents = page.get("Contents")
        out: list[Stream] = []
        resolved = self.resolve(contents)
        if isinstance(resolved, Stream):
            out.append(resolved)
        elif isinstance(resolved, list):
            for c in resolved:
                s = self.resolve(c)
                if isinstance(s, Stream):
                    out.append(s)
        return out

    def get_page_content(self, page_obj_num: int) -> bytes:
        return b"\n".join(s.decompressed() for s in self.get_page_content_streams(page_obj_num))

    def get_page_resources(self, page_obj_num: int) -> dict | None:
        page = self.get_dict(Ref(page_obj_num))
        if not page:
            return None
        res = page.get("Resources")
        if res is None:
            # inheritable attribute: walk Parent chain
            node = page
            depth = 0
            while node is not None and depth < 32:
                parent = node.get("Parent")
                if parent is None:
                    break
                node = self.get_dict(parent)
                if node and node.get("Resources") is not None:
                    res = node["Resources"]
                    break
                depth += 1
        return self.get_dict(res)

    def get_page_fonts(self, page_obj_num: int) -> dict[str, dict]:
        """Font resource name → font dictionary."""
        res = self.get_page_resources(page_obj_num)
        if not res:
            return {}
        fdict = self.get_dict(res.get("Font"))
        if not fdict:
            return {}
        fonts: dict[str, dict] = {}
        for name, ref in fdict.items():
            d = self.get_dict(ref)
            if d is not None:
                fonts[str(name)] = d
        return fonts

    def font_ref_num(self, page_obj_num: int, resource_name: str) -> int | None:
        """Object number of a font resource (for ToUnicode ref tracking)."""
        res = self.get_page_resources(page_obj_num)
        if not res:
            return None
        fdict = self.get_dict(res.get("Font"))
        if not fdict:
            return None
        ref = fdict.get(resource_name)
        return ref.num if isinstance(ref, Ref) else None


# -- content-stream operation decoding ------------------------------------

class Operation:
    __slots__ = ("operator", "operands")

    def __init__(self, operator: str, operands: list[Any]) -> None:
        self.operator = operator
        self.operands = operands

    def __repr__(self) -> str:
        return f"Op({self.operator} {self.operands})"


# Master tokenizer for content streams: one C-level scan classifies
# integers, reals, names and operators; structured tokens ('(', '<', '[',
# ']') drop to the object lexer. Group order = test order.
# Leading whitespace is folded into the token pattern: one C-level match
# per token instead of a ws-match + token-match pair.
_CONTENT_TOKEN_RE = re.compile(
    rb"[\x00\t\n\x0b\x0c\r ]*"
    rb"(?:"
    rb"(?P<int>[+-]?\d+(?![\d.]))"
    rb"|(?P<real>[+-]?\d*\.\d*)"
    rb"|(?P<name>/[^\x00\t\n\x0b\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<op>[^\s()<>\[\]{}/%]+)"
    rb"|(?P<struct>[(<\[\]])"
    rb"|(?P<other>.)"
    rb")", re.DOTALL)


# Decoded content-stream cache: content streams repeat byte-identically
# across template documents. The returned Operation list is shared and
# read-only by contract (the interpreter only iterates it). Keyed by
# sha256+length — same collision rationale as the intern pool above.
_DECODE_MAX = 512
_DECODE_DATA_MAX = 1 << 16  # don't cache decodes of very large streams
_decode_cache: "OrderedDict[tuple, list[Operation]]" = OrderedDict()


def decode_content(data: bytes) -> list[Operation]:
    """Decode a content stream into a list of operations (memoized on
    sha256+length of the stream bytes; see _decode_cache)."""
    if len(data) > _DECODE_DATA_MAX:
        return _decode_content_uncached(data)
    key = (hashlib.sha256(data).digest(), len(data))
    hit = _decode_cache.get(key)
    if hit is not None:
        _decode_cache.move_to_end(key)
        return hit
    ops = _decode_content_uncached(data)
    _decode_cache[key] = ops
    if len(_decode_cache) > _DECODE_MAX:
        _decode_cache.popitem(last=False)
    return ops


def _decode_content_uncached(data: bytes) -> list[Operation]:
    ops: list[Operation] = []
    operands: list[Any] = []
    lex = _Lexer(data)
    n = lex.n
    pos = 0
    scan = _CONTENT_TOKEN_RE.match
    while pos < n:
        m = scan(data, pos)
        if m is None:  # whitespace-only tail
            break
        kind = m.lastgroup
        pos = m.end()
        if kind == "int":
            operands.append(int(m.group("int")))
            continue
        if kind == "op":
            op = m.group("op").decode("latin-1")
            if op == "BI":
                # Inline image: skip to the closing EI. The unencoded
                # binary between ID and EI can contain the raw bytes 'EI',
                # so only a candidate preceded by whitespace AND followed
                # by whitespace/delimiter/EOF counts; otherwise resume
                # from the next one.
                j = pos
                while True:
                    j = data.find(b"EI", j)
                    if j == -1:
                        pos = n
                        break
                    before_ok = j > 0 and data[j - 1] in _WS
                    nxt = data[j + 2:j + 3]
                    after_ok = nxt == b"" or nxt[0] in _WS or nxt[0] in _DELIM
                    if before_ok and after_ok:
                        pos = j + 2
                        break
                    j += 2
                operands = []
                continue
            ops.append(Operation(op, operands))
            operands = []
            continue
        if kind == "name":
            raw = m.group("name")
            if b"#" not in raw:  # fast path (escapes are rare in content)
                operands.append(Name(raw[1:].decode("latin-1")))
            else:
                lex.pos = m.start("name")
                operands.append(lex._parse_name())
                pos = lex.pos
            continue
        if kind == "real":
            try:
                operands.append(float(m.group("real")))
            except ValueError:
                pass
            continue
        if kind == "struct":
            start = m.start("struct")
            lex.pos = start
            try:
                operands.append(lex.parse_object())
            except (ValueError, IndexError):
                lex.pos = start + 1
            pos = lex.pos
            continue
        # single unclassified char
        if m.group("other") == b"%":  # comment: skip to end of line
            j = data.find(b"\n", pos)
            pos = n if j == -1 else j + 1
    return ops
