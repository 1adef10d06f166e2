"""HTML -> text extraction: the html->text leg of the pages schema.

The north rule's per-row invariant is "byte-identical extracted text
per url": the ``text`` column of a Common-Crawl-style pages table is
the main content of ``html`` with boilerplate (nav/header/footer link
chrome) removed. Two extractors:

- ``visible_text``: everything a browser would render (script/style/
  head dropped, entities decoded, whitespace normalized per line) —
  the profiling/quality-scoring surface.
- ``main_content``: boilerplate removal by link-density scoring in the
  spirit of Arc90 readability / boilerpipe: every container element is
  scored ``text_chars - 2 * link_text_chars`` (link-dense nav blocks
  go negative) and the best-scoring container's text is returned RAW —
  entity-decoded but whitespace-preserved — so a page whose main block
  wraps the source text reproduces it byte-identically. That makes the
  invariant executable: ``main_content(page.html) == page.text``.

Parsing is stdlib ``html.parser`` (no external deps), tolerant of
unclosed/mis-nested tags. The Spark wrapper ``extract_df`` is a
mapInArrow batch map — per-document Python is the honest cost of HTML
parsing; the job shape is a narrow CPU-bound map with no shuffle,
which scales linearly with executors.

No counterpart exists in the reference repo — this is pipeline surface
the reference lacks (cited: reference has no HTML handling at all).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

import pyarrow as pa

_SKIP = {"script", "style", "noscript", "template", "head", "title"}
# elements whose aggregated text competes for "main content"
_CANDIDATES = {"body", "main", "article", "section", "div", "td"}
_BLOCK = _CANDIDATES | {
    "p", "li", "ul", "ol", "table", "tr", "blockquote", "pre", "h1",
    "h2", "h3", "h4", "h5", "h6", "header", "footer", "nav", "aside",
    "form", "figure", "br", "hr",
}
_VOID = {"br", "hr", "img", "input", "meta", "link", "area", "base",
         "col", "embed", "source", "track", "wbr"}


class _Sink:
    """Event sink shared by both tokenizers: collects per-container
    aggregated text + link text (for main-content scoring) and the
    flat visible-text chunk list."""

    def __init__(self):
        self._skip = 0          # depth of open skip elements
        self._links = 0         # depth of open <a>
        self._stack: list[dict] = []   # open container elements
        self.containers: list[dict] = []  # all, in document order
        self.chunks: list[str] = []    # visible text + "\n" markers

    # -- tag events -----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _VOID:
            if tag in ("br", "hr") and not self._skip:
                self.chunks.append("\n")
            return
        if tag in _SKIP:
            self._skip += 1
            return
        if tag == "a":
            self._links += 1
        if tag in _CANDIDATES:
            node = {"tag": tag, "parts": [], "links": 0,
                    "order": len(self.containers)}
            self._stack.append(node)
            self.containers.append(node)
        if tag in _BLOCK and not self._skip:
            self.chunks.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip = max(0, self._skip - 1)
            return
        if tag == "a":
            self._links = max(0, self._links - 1)
        if tag in _CANDIDATES:
            # tolerate mis-nesting: pop to the nearest matching open tag
            for i in range(len(self._stack) - 1, -1, -1):
                if self._stack[i]["tag"] == tag:
                    del self._stack[i:]
                    break
        if tag in _BLOCK and not self._skip:
            self.chunks.append("\n")

    # -- text -----------------------------------------------------------
    def handle_data(self, data):
        if self._skip or not data:
            return
        self.chunks.append(data)
        n_link = len(data) if self._links else 0
        for node in self._stack:
            node["parts"].append(data)
            node["links"] += n_link


class _Extractor(HTMLParser):
    """Strict tokenizer: stdlib html.parser driving a _Sink. The
    reference engine — the fast scanner below must agree with it on
    every corpus/fixture page (asserted in tests)."""

    def __init__(self, sink: _Sink):
        super().__init__(convert_charrefs=True)
        self._sink = sink

    def handle_starttag(self, tag, attrs):
        self._sink.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        self._sink.handle_endtag(tag)

    def handle_data(self, data):
        self._sink.handle_data(data)


# fast scanner: find('<')-driven construct dispatch mirroring each of
# html.parser's sub-parsers (start/end/comment/marked-section/decl/PI)
# with their exact close rules. ~2x the throughput of html.parser (its
# profile is 94% tokenizer); per-page Python is the encode pipeline's
# extraction cost, so this is the 100 TB hot path.
# html.parser's tag-name charsets differ by direction, and the FULL
# name must be captured — truncating 'div<script' to 'div' or 'a:link'
# to 'a' would open a container/anchor the strict engine does not:
# - start tags: tagfind_tolerant — anything but ws / '/' '>' (incl '<')
# - end tags: endtagfind first (ws-tolerant, narrow charset, must span
#   the whole tag), else the tagfind fallback, else bogus comment
_START_NAME = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)")
_END_STRICT = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>\Z")
_END_LOOSE = re.compile(r"</([a-zA-Z][^\t\n\r\f />\x00]*)")
# starttagopen: a start tag needs an ASCII letter right after '<'
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# parse_comment closes on '--' + optional ws + '>' (NOT literal '-->')
_COMMENT_CLOSE = re.compile(r"--\s*>")
# html.parser's CDATA_CONTENT_ELEMENTS, with its exact close pattern
# (set_cdata_mode): case-insensitive, whitespace-tolerant, on the
# ORIGINAL string — str.lower() could change LENGTHS (U+0130 'İ'
# lowercases to two chars) and desynchronize every offset after it
# re.ASCII: html.parser's end-tag charset is ASCII — without it,
# Unicode case folding lets U+017F 'ſ' match 's' and close a script
# where the strict engine would not (differential-fuzz finding)
_RAW_CLOSE = {t: re.compile(r"</\s*%s\s*>" % t, re.I | re.A)
              for t in ("script", "style")}
# html.parser's tag-name + attribute walk (tagfind/attrfind_tolerant
# semantics): needed to classify a trailing '/>' — in '<a href=x/>'
# the '/' belongs to the unquoted attribute VALUE (not self-closing),
# while '<br/>' and '<script src="x"/>' are handle_startendtag
_TAGNAME_SKIP = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*(?:\s|/(?!>))*")
# markupbase.parse_marked_section twins: '<![KEYWORD[...' closes with
# ']]>' for the CDATA family and ']>' for downlevel-revealed
# conditionals; anything else makes html.parser RAISE (we skip instead
# — robustness beats equivalence when the oracle crashes)
_MS_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_MS_CLOSE_CD = re.compile(r"]\s*]\s*>")
_MS_CLOSE_IF = re.compile(r"]\s*>")
_MS_CDATA = {"temp", "cdata", "ignore", "include", "rcdata"}
_MS_COND = {"if", "else", "endif"}
_ATTR_SKIP = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)"
    r"(\s*=+\s*('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*")


def _is_startend(tag: str) -> bool:
    """True when the '<...>' text is a self-closing start tag under
    html.parser's parse, i.e. the attribute walk leaves exactly '/>'."""
    k = _TAGNAME_SKIP.match(tag, 1).end()
    while k < len(tag) - 1:
        m = _ATTR_SKIP.match(tag, k)
        if m is None or m.end() == k:
            break
        k = m.end()
    return tag[k:].strip() == "/>"


def _scan_starttag_end(html: str, j: int, n: int) -> int:
    """Index just past a start tag's closing '>' starting from the
    char after '<', honoring quotes ONLY when they open an attribute
    VALUE (directly after '='+ws — html.parser's locatestarttagend
    rule: a bare quote elsewhere is an ordinary char and the tag ends
    at the first raw '>'). -1 when no close exists before EOF."""
    while j < n:
        ch = html[j]
        if ch == ">":
            return j + 1
        if ch == "=":
            k = j + 1
            while k < n and html[k] in " \t\n\r\f=":
                k += 1
            if k < n and html[k] in "'\"":
                q = html.find(html[k], k + 1)
                if q < 0:
                    return -1  # unterminated quoted value
                j = q + 1
            else:
                j = k
            continue
        j += 1
    return -1


def _fast_feed(sink: _Sink, html: str) -> None:
    """Tokenize ``html`` into the same event stream html.parser emits
    for the constructs we consume — each branch mirrors the stdlib
    construct parser it names (probe-verified, fuzz-pinned by
    test_fast_engine_differential_fuzz). Deliberate divergences, both
    in robustness's favor: an unknown '<![KEYWORD[' makes html.parser
    RAISE (we skip it), and quoted '>' inside a '<!DOCTYPE ...>' is
    honored by html.parser's declaration tokenizer but not here."""
    from html import unescape

    pos = 0
    n = len(html)

    def emit(a: int, b: int) -> None:
        if b > a:
            chunk = html[a:b]
            sink.handle_data(unescape(chunk) if "&" in chunk else chunk)

    def fallback(lt: int) -> int:
        # goahead's incomplete-construct path (at EOF): data through
        # the next RAW '>', else up to the next '<', else one char —
        # parsing continues after, it does NOT swallow the tail
        k = html.find(">", lt + 1)
        if k < 0:
            k = html.find("<", lt + 1)
            k = lt + 1 if k < 0 else k
        else:
            k += 1
        emit(lt, k)
        return k

    while pos < n:
        lt = html.find("<", pos)
        if lt < 0:
            emit(pos, n)
            break
        emit(pos, lt)
        c = html[lt + 1] if lt + 1 < n else ""
        if c in _ASCII_LETTERS:  # start tag (starttagopen)
            end = _scan_starttag_end(html, lt + 1, n)
            if end < 0:
                pos = fallback(lt)
                continue
            tag = html[lt:end]
            pos = end
            name = _START_NAME.match(tag).group(1).lower()
            sink.handle_starttag(name, ())
            if tag.endswith("/>") and _is_startend(tag):
                # handle_startendtag = start + end; a self-closing
                # script never enters CDATA mode
                sink.handle_endtag(name)
                continue
            if name in _RAW_CLOSE:
                mm = _RAW_CLOSE[name].search(html, pos)
                # raw body is never emitted (skip elements); resume AT
                # the close tag so the endtag event fires normally
                pos = mm.start() if mm else n
            continue
        if c == "/":
            # parse_endtag scans for the first RAW '>' (quotes are NOT
            # honored in end tags, unlike start-tag attribute values)
            gt = html.find(">", lt + 1)
            if gt < 0:
                pos = fallback(lt)
                continue
            tag = html[lt:gt + 1]
            pos = gt + 1
            em = _END_STRICT.match(tag) or _END_LOOSE.match(tag)
            if em is not None:  # else bogus comment: skipped, no event
                sink.handle_endtag(em.group(1).lower())
            continue
        if c == "!":
            if html.startswith("<!--", lt):
                mm = _COMMENT_CLOSE.search(html, lt + 4)
                pos = mm.end() if mm else fallback(lt)
                continue
            if html.startswith("<![", lt):
                nm2 = _MS_NAME.match(html, lt + 3)
                sect = nm2.group(0).lower() if nm2 else None
                closer = (_MS_CLOSE_CD if sect in _MS_CDATA else
                          _MS_CLOSE_IF if sect in _MS_COND else None)
                if closer is None:
                    gt = html.find(">", lt + 1)
                    if gt < 0:
                        # no '>' ever arrives: html.parser keeps the
                        # construct incomplete and close() flushes it
                        # as data — mirror that, don't swallow it
                        pos = fallback(lt)
                        continue
                    # strict RAISES on unknown keywords; skip robustly
                    pos = gt + 1
                    continue
                mm = closer.search(html, lt + 3)
                pos = mm.end() if mm else fallback(lt)
                continue
            # declaration / bogus comment: through the first raw '>'
            gt = html.find(">", lt + 1)
            pos = gt + 1 if gt >= 0 else fallback(lt)
            continue
        if c == "?":
            # parse_pi: first raw '>' closes, quotes not honored
            gt = html.find(">", lt + 1)
            pos = gt + 1 if gt >= 0 else fallback(lt)
            continue
        # literal '<' (digit, space, quote, EOF, unicode letter, ...)
        sink.handle_data("<")
        pos = lt + 1


def _parse(html, engine: str = "fast") -> _Sink:
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", "replace")
    sink = _Sink()
    if engine == "fast":
        _fast_feed(sink, html)
    else:
        p = _Extractor(sink)
        p.feed(html)
        p.close()
    return sink


def main_content(html, engine: str = "fast") -> str:
    """Best-scoring container's raw text (entities decoded, whitespace
    preserved). Empty string when the page has no scoring container or
    no text at all. ``engine``: 'fast' (regex scanner) or 'strict'
    (stdlib html.parser) — equal output on every test corpus page."""
    p = _parse(html, engine)
    best, best_score = None, None
    for node in p.containers:
        total = sum(len(s) for s in node["parts"])
        score = total - 2 * node["links"]
        # only positive scores qualify: a page that is ALL link chrome
        # has no main content. strict > keeps the EARLIEST max
        # (outermost wrapper of a tie).
        if score > 0 and (best_score is None or score > best_score):
            best, best_score = node, score
    return "".join(best["parts"]) if best else ""


def visible_text(html, engine: str = "fast") -> str:
    """Rendered-text approximation: block boundaries become newlines,
    runs of whitespace collapse within a line, blank lines drop."""
    p = _parse(html, engine)
    lines, cur = [], []
    for c in p.chunks:
        if c == "\n":
            line = " ".join("".join(cur).split())
            if line:
                lines.append(line)
            cur = []
        else:
            cur.append(c)
    line = " ".join("".join(cur).split())
    if line:
        lines.append(line)
    return "\n".join(lines)


_MODES = {"main": main_content, "visible": visible_text}


# ---- C batch kernel (codecs/extract_kernel.c) -----------------------------
# The tokenizer + sink + container scoring run in C over a whole batch
# of documents; Python assembles only each winner's text (slice spans,
# html.unescape on the few chunks containing '&'). Documents the kernel
# flags (non-ASCII in Unicode-sensitive constructs — see the kernel
# header) are re-run through the Python fast engine, so results are
# ALWAYS the fast engine's, just ~10-30x cheaper on the common case.

def _native_parse_batch(srcs: list[str]):
    """C-tokenize a list of str documents. Returns None when the kernel
    is unavailable, else (buf, off, chunk arrays, cont arrays, per-doc
    ends/best/fallback)."""
    import ctypes

    import numpy as np

    from ..codecs import native

    lib = native.load()
    if lib is None or not hasattr(lib, "html_extract_batch"):
        return None
    # a lone surrogate has no UTF-8 form: such a document goes to the
    # kernel empty and is flagged for the per-document Python fallback
    bts, unencodable = [], []
    for d, s in enumerate(srcs):
        try:
            bts.append(s.encode("utf-8"))
        except UnicodeEncodeError:
            bts.append(b"")
            unencodable.append(d)
    off = np.zeros(len(bts) + 1, np.int64)
    off[1:] = np.cumsum([len(b) for b in bts])
    nb = int(off[-1])
    buf = np.frombuffer(b"".join(bts) + b"\x00", np.uint8)
    i64 = ctypes.c_int64
    u8 = ctypes.c_uint8
    # size for the EXPECTED chunk density and retry on the kernel's
    # overflow signal, doubling toward the hard worst case (one chunk
    # per input byte) — worst-case-up-front was ~30 bytes of output
    # arrays per html byte, an OOM cliff on a 64 MB scan batch
    max_chunks = min(nb // 8, 1 << 20) + 2 * len(bts) + 64
    max_conts = min(nb // 32, 1 << 18) + len(bts) + 16
    cap_chunks = nb + 2 * len(bts) + 64
    cap_conts = nb // 4 + len(bts) + 16
    while True:
        chunk_a = np.empty(max_chunks, np.int64)
        chunk_b = np.empty(max_chunks, np.int64)
        chunk_cp = np.empty(max_chunks, np.int64)
        chunk_flags = np.empty(max_chunks, np.uint8)
        cont_c0 = np.empty(max_conts, np.int64)
        cont_c1 = np.empty(max_conts, np.int64)
        doc_chunk_end = np.empty(len(bts), np.int64)
        doc_cont_end = np.empty(len(bts), np.int64)
        doc_best = np.empty(len(bts), np.int64)
        doc_fallback = np.empty(len(bts), np.uint8)
        rc = lib.html_extract_batch(
            native.ptr(buf, u8), native.ptr(off, i64), len(bts),
            native.ptr(chunk_a, i64), native.ptr(chunk_b, i64),
            native.ptr(chunk_cp, i64), native.ptr(chunk_flags, u8),
            native.ptr(cont_c0, i64), native.ptr(cont_c1, i64),
            native.ptr(doc_chunk_end, i64), native.ptr(doc_cont_end, i64),
            native.ptr(doc_best, i64), native.ptr(doc_fallback, u8),
            max_chunks, max_conts)
        if rc == 0:
            doc_fallback[unencodable] = 1
            return (buf, chunk_a, chunk_b, chunk_flags, cont_c0,
                    cont_c1, doc_chunk_end, doc_best, doc_fallback)
        if max_chunks >= cap_chunks and max_conts >= cap_conts:
            return None
        max_chunks = min(max_chunks * 4, cap_chunks)
        max_conts = min(max_conts * 4, cap_conts)


def _norm_docs(docs):
    """(srcs, pos): decoded str per non-null doc + original index."""
    srcs, pos = [], []
    for i, h in enumerate(docs):
        if h is None:
            continue
        if isinstance(h, (bytes, bytearray, memoryview)):
            h = bytes(h).decode("utf-8", "replace")
        srcs.append(h)
        pos.append(i)
    return srcs, pos


from html import unescape as _unescape  # module-level: _chunk_text is hot


def _chunk_text(buf, a: int, b: int, flags: int) -> str:
    s = bytes(buf[a:b]).decode("utf-8")
    return _unescape(s) if flags & 2 else s


def main_content_batch(docs, engine: str = "fast") -> list:
    """main_content over a batch (None stays None). engine='fast' uses
    the C kernel when available, falling back per document to the
    Python fast engine on the kernel's bail conditions."""
    out = [None] * len(docs)
    srcs, pos = _norm_docs(docs)
    if not srcs:
        return out
    parsed = _native_parse_batch(srcs) if engine == "fast" else None
    if parsed is None:
        for s, i in zip(srcs, pos):
            out[i] = main_content(s, engine)
        return out
    (buf, chunk_a, chunk_b, chunk_flags, cont_c0, cont_c1,
     doc_chunk_end, doc_best, doc_fallback) = parsed
    for d, i in enumerate(pos):
        if doc_fallback[d]:
            out[i] = main_content(srcs[d], "fast")
            continue
        bi = int(doc_best[d])
        if bi < 0:
            out[i] = ""
            continue
        parts = []
        for j in range(int(cont_c0[bi]), int(cont_c1[bi])):
            fl = int(chunk_flags[j])
            if fl & 1:
                continue
            parts.append(_chunk_text(buf, int(chunk_a[j]),
                                     int(chunk_b[j]), fl))
        out[i] = "".join(parts)
    return out


def visible_text_batch(docs, engine: str = "fast") -> list:
    """visible_text over a batch (None stays None), C-tokenized."""
    out = [None] * len(docs)
    srcs, pos = _norm_docs(docs)
    if not srcs:
        return out
    parsed = _native_parse_batch(srcs) if engine == "fast" else None
    if parsed is None:
        for s, i in zip(srcs, pos):
            out[i] = visible_text(s, engine)
        return out
    (buf, chunk_a, chunk_b, chunk_flags, cont_c0, cont_c1,
     doc_chunk_end, doc_best, doc_fallback) = parsed
    c0 = 0
    for d, i in enumerate(pos):
        c1 = int(doc_chunk_end[d])
        if doc_fallback[d]:
            out[i] = visible_text(srcs[d], "fast")
            c0 = c1
            continue
        lines, cur = [], []
        for j in range(c0, c1):
            fl = int(chunk_flags[j])
            if not fl & 1:
                txt = _chunk_text(buf, int(chunk_a[j]),
                                  int(chunk_b[j]), fl)
                # the Python sink stores block markers and data chunks
                # in ONE string list, so a DATA chunk equal to "\n"
                # (a literal newline between tags, or '&#10;') acts as
                # a line break there — reproduce that conflation
                if txt != "\n":
                    cur.append(txt)
                    continue
            line = " ".join("".join(cur).split())
            if line:
                lines.append(line)
            cur = []
        line = " ".join("".join(cur).split())
        if line:
            lines.append(line)
        out[i] = "\n".join(lines)
        c0 = c1
    return out


_BATCH_MODES = {"main": main_content_batch, "visible": visible_text_batch}


def extract_df(df, html_col: str = "html", mode: str = "main",
               out_col: str = "text", engine: str = "fast"):
    """Append/replace ``out_col`` = extracted text of ``html_col``.
    Narrow mapInArrow (no shuffle); NULL html -> NULL text.
    ``engine='strict'`` runs the html.parser twin at scale — the
    cross-check to run if a fast-engine divergence is ever suspected
    on real crawl data."""
    mode_fn = _MODES[mode]  # raises KeyError on bad mode at plan time
    fields = [f for f in df.schema.fields if f.name != out_col]
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in fields) + f", {out_col} string"
    names = [f.name for f in fields] + [out_col]
    if engine not in ("fast", "strict"):
        raise ValueError(f"engine={engine!r}: use 'fast' or 'strict'")

    batch_fn = _BATCH_MODES[mode]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from orc_haskell_spark.engine import worker_setup

        worker_setup()
        for b in batches:
            html = b.column(html_col).to_pylist()
            texts = batch_fn(html, engine)
            arrays = [b.column(f.name) for f in fields] + \
                [pa.array(texts, pa.string())]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(fn, ddl)


def escape_html_text(s: str) -> str:
    """The wrap-side escape whose decode ``main_content`` inverts:
    &, <, > to entities. Escaping every '&' neutralizes anything in the
    source that LOOKS like an entity, so decode is an exact inverse."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
