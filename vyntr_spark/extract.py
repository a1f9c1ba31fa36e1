"""HTML → (links, language, title, meta_tags, canonical_url, content_text)
extraction, re-specified from the reference's single-pass streaming
extractor (genesis/src/html_parser.rs:17-162).

This is the byte-identical contract of the rebuild: the synthetic
``pages.text`` column is generated by THIS spec and the engine's Arrow UDF
must reproduce it exactly (BASELINE.json ``input_hint``).

Pinned semantics (SURVEY.md §2.1.1 + §8):

* **links** — every ``a[href]``: resolve against the base URL (RFC 3986),
  strip the fragment, keep only http/https, drop ignored file types /
  blocked patterns (html_parser.rs:104-162), de-dup per page. The
  reference's final order is HashSet-iteration (nondeterministic,
  html_parser.rs:97); pinned here as **sorted lexicographically** (N2).
* **language** — ``<html lang>``; every occurrence overwrites (last wins)
  (html_parser.rs:52-57).
* **title** — all text chunks inside ``<title>`` concatenated UNTRIMMED
  (html_parser.rs:58-62).
* **meta_tags** — ``meta[name]`` / ``meta[property]`` with a ``content``
  attribute; key = name, else property; document order, duplicates kept
  (html_parser.rs:63-72).
* **canonical_url** — ``link[rel='canonical']`` href RAW (not resolved),
  last wins (html_parser.rs:73-78).
* **content_text** — for each text chunk inside h1..h6/p/li (any depth):
  if the accumulator is non-empty push one ``' '``, then push
  ``chunk.trim()`` (html_parser.rs:79-87). Whitespace-only chunks still
  contribute the separator space once the accumulator is non-empty; a
  chunk is one contiguous text run (one DOM text node — the documented
  chunking deviation from lol_html buffer segmentation, consistent
  between the fixture generator and this extractor).
* Entities are NOT decoded in text chunks (the reference's rewriter
  passes source text through verbatim; the downstream cleaner D1 removes
  ``&...;`` sequences, confirming entities survive extraction). Attribute
  values ARE decoded (both lol_html's ``get_attribute`` and stdlib
  HTMLParser decode them).

Parser leniency: stdlib ``html.parser.HTMLParser`` with a small HTML5
implied-end-tag model (``<p>``/``<li>`` auto-close, void elements never
nest). Malformed close tags are ignored.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from .canonicalize import UrlError, join_url, strip_fragment

CONTENT_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6", "p", "li"})

VOID_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Tags whose opening implies the end of an open <p> (HTML5 subset).
_P_CLOSERS = CONTENT_TAGS | {
    "ul", "ol", "div", "table", "blockquote", "pre", "section",
    "article", "aside", "header", "footer", "nav", "form", "hr",
}

# Ignored link targets — constants mirrored from
# genesis/src/html_parser.rs:105-136 (data, not code).
IGNORED_EXTENSIONS = (
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg", ".ico",
    ".tiff", ".pdf", ".epub", ".mobi",
    ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx", ".txt", ".rtf",
    ".csv",
    ".zip", ".rar", ".tar", ".gz", ".7z", ".bz2", ".iso",
    ".mp3", ".mp4", ".wav", ".avi", ".mov", ".wmv", ".flv", ".ogg",
    ".ogv", ".webm", ".m4a", ".m4v", ".3gp",
    ".mpg", ".exe", ".dmg", ".pkg", ".deb", ".rpm", ".apk", ".ipa",
)

BLOCKED_PATTERNS = (
    "/download/", "/compress/", "/stream/", "/pdf/", "/static/",
    "/content/uploads/", "arxiv.org/pdf/", "arxiv.org/ps/",
    "arxiv.org/src/", ".pdf?", "/lectures/", "/video/", "/audio/",
    "/rss", ".rss", "/feed", "/atom",
)


import re as _re0  # noqa: E402 (needed before the parser-section import)

_BLOCKED_RE = _re0.compile("|".join(_re0.escape(p) for p in BLOCKED_PATTERNS))


def is_ignored_file_type(path: str) -> bool:
    """genesis/src/html_parser.rs:104-162 parity (operates on URL *path*)."""
    p = path.lower()
    if p.endswith(IGNORED_EXTENSIONS):
        return True
    if _BLOCKED_RE.search(p):  # one C scan over the 18-pattern OR
        return True
    if "/pdf/" in p:
        last = p.rsplit("/", 1)[-1]
        # Rust: all chars numeric-or-'.'; vacuously true for "".
        if all(c.isdigit() or c == "." for c in last):
            return True
    return False


@dataclass
class ParsedHtml:
    links: list[str] = field(default_factory=list)
    language: str = ""
    title: str = ""
    meta_tags: list[tuple[str, str]] = field(default_factory=list)
    canonical_url: str | None = None
    content_text: str = ""


# Per-worker memo of link DISPOSITIONS. The whole accept pipeline
# (resolve against base, strip fragment, http(s)-scheme check, ignored
# file-type/blocked-pattern check) is a pure function of (base_url,
# href) — key is the bare href for absolute http(s) targets
# (base-independent), else the (base_url, href) pair. Pages repeat
# hrefs heavily (nav/footer links), so a long-lived UDF worker gets high
# hit rates. Value is the ACCEPTED URL, or None (unparseable, non-http,
# or filtered) — caching the final verdict kills the per-occurrence
# scheme/path/pattern scans, not just the resolve.
_RESOLVE_CACHE: dict[str | tuple[str, str], str | None] = {}
_RESOLVE_CACHE_MAX = 1 << 18


def _link_disposition(base_url: str, href: str) -> str | None:
    """The full link accept pipeline: resolved+fragment-stripped URL if
    the link survives the scheme and ignored-file-type gates, else None.
    (The .pdf? blocked pattern can never match a pure path — reference
    parity: url.path() excludes the query, html_parser.rs:104-162.)"""
    try:
        resolved = strip_fragment(join_url(base_url, href))
    except (UrlError, ValueError):
        return None
    scheme = resolved.split(":", 1)[0]
    if scheme not in ("http", "https"):
        return None
    rest = resolved.split("://", 1)[1] if "://" in resolved else resolved
    slash = rest.find("/")
    path = rest[slash:] if slash >= 0 else "/"
    path = path.split("?", 1)[0]
    if is_ignored_file_type(path):
        return None
    return resolved


class _Extractor(HTMLParser):
    def __init__(self, base_url: str):
        # convert_charrefs=False so text chunks keep entities RAW; we
        # reassemble contiguous runs into one chunk per DOM text node.
        super().__init__(convert_charrefs=False)
        self.base_url = base_url
        self.stack: list[str] = []
        self.textbuf: list[str] = []
        self.links: set[str] = set()
        self.language = ""
        self.title_parts: list[str] = []
        self.meta_tags: list[tuple[str, str]] = []
        self.canonical_url: str | None = None
        self.content: list[str] = []  # accumulated content_text pieces
        self._content_len = 0  # emptiness check is on the accumulated STRING
        # incremental counters mirroring stack membership (the per-text-node
        # `any(tag in stack)` scans were the parse hot spot)
        self._content_depth = 0  # stack entries in CONTENT_TAGS
        self._title_depth = 0  # stack entries == "title"

    def updatepos(self, i: int, j: int) -> int:  # type: ignore[override]
        # line/column bookkeeping is only used for error positions, which
        # this lenient extractor never reports — skip the per-token scans
        return j

    # -- stack ops keeping the membership counters exact -------------------
    def _push(self, tag: str) -> None:
        self.stack.append(tag)
        if tag in CONTENT_TAGS:
            self._content_depth += 1
        elif tag == "title":
            self._title_depth += 1

    def _pop(self) -> str:
        tag = self.stack.pop()
        if tag in CONTENT_TAGS:
            self._content_depth -= 1
        elif tag == "title":
            self._title_depth -= 1
        return tag

    # -- text-node assembly ------------------------------------------------
    def _flush_text(self) -> None:
        if not self.textbuf:
            return
        chunk = "".join(self.textbuf)
        self.textbuf.clear()
        if self._title_depth > 0:
            self.title_parts.append(chunk)
        if self._content_depth > 0:
            if self._content_len > 0:
                self.content.append(" ")
                self._content_len += 1
            trimmed = chunk.strip()
            self.content.append(trimmed)
            self._content_len += len(trimmed)

    def handle_data(self, data: str) -> None:
        self.textbuf.append(data)

    def handle_entityref(self, name: str) -> None:
        self.textbuf.append(f"&{name};")

    def handle_charref(self, name: str) -> None:
        self.textbuf.append(f"&#{name};")

    def handle_comment(self, data: str) -> None:
        self._flush_text()  # a comment splits text nodes

    # -- elements ------------------------------------------------------------
    _ATTR_TAGS = frozenset({"a", "html", "meta", "link"})

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self._flush_text()
        if tag in self._ATTR_TAGS:
            # first occurrence wins for duplicated attributes (lol_html
            # parity); built only for the four attribute-bearing tags
            a: dict[str, str | None] = {}
            for k, v in attrs:
                if k not in a:
                    a[k] = v

            # valueless attributes (e.g. <meta name content=...>) count as
            # present with "" — lol_html get_attribute() parity.
            if tag == "a":
                if "href" in a:
                    self._add_link(a["href"] or "")
            elif tag == "html":
                if "lang" in a:
                    self.language = a["lang"] or ""
            elif tag == "meta":
                if "name" in a:
                    name: str | None = a["name"] or ""
                elif "property" in a:
                    name = a["property"] or ""
                else:
                    name = None
                if name is not None and "content" in a:
                    self.meta_tags.append((name, a["content"] or ""))
            elif a.get("rel") == "canonical":  # tag == "link"
                if "href" in a:
                    self.canonical_url = a["href"] or ""

        if tag in VOID_TAGS:
            return
        # implied end tags (HTML5 subset)
        if self.stack and self.stack[-1] == "p" and tag in _P_CLOSERS:
            self._pop()
        if self.stack and self.stack[-1] == "li" and tag == "li":
            self._pop()
        self._push(tag)

    def handle_endtag(self, tag: str) -> None:
        self._flush_text()
        if tag in VOID_TAGS:
            return
        if tag in self.stack:
            while self.stack:
                if self._pop() == tag:
                    break
        # unmatched close tag: ignored (leniency)

    def _add_link(self, href: str) -> None:
        # absolute http(s) hrefs resolve independently of the base URL —
        # cache them globally (cross-page nav/footer links repeat heavily)
        key = (
            href
            if href.startswith(("http://", "https://"))
            else (self.base_url, href)
        )
        accepted = _RESOLVE_CACHE.get(key, False)
        if accepted is False:
            if len(_RESOLVE_CACHE) >= _RESOLVE_CACHE_MAX:
                _RESOLVE_CACHE.clear()
            accepted = _link_disposition(self.base_url, href)
            _RESOLVE_CACHE[key] = accepted
        if accepted is not None:
            self.links.add(accepted)

    def close(self) -> None:  # type: ignore[override]
        super().close()
        self._flush_text()


# ---------------------------------------------------------------------------
# Fast single-pass tokenizer (round-4 perf work).
#
# The stdlib HTMLParser machinery (goahead loop, per-tag attribute regex
# loop, per-entity callbacks) was ~70% of the measured extraction kernel
# cost AND the kernel is the whole pipeline's scale ceiling
# (BENCH/kernel_probe.py). This tokenizer replicates the OBSERVABLE
# callback sequence of Python 3.11's html.parser for exactly the
# callbacks _Extractor consumes — including every lenient/bogus-input
# edge (EOF recovery, charref ';'-normalization, bogus comments,
# marked sections, script/style CDATA mode, the '</>' skip) — with the
# extractor state inlined as locals. The attribute regex loop runs ONLY
# for the four attribute-bearing tags (a/html/meta/link); everything
# else is two regex matches per tag. Parity with the stdlib path is
# enforced by the byte-identical golden fixtures plus the differential
# battery in tests/test_extract.py (stdlib vs fast over synth pages,
# adversarial strings and random HTML-ish fuzz); the stdlib path stays
# callable as extract_html(..., _stdlib=True), the reference oracle.
# ---------------------------------------------------------------------------

import re as _re

# mirrors of the html.parser/_markupbase token regexes (3.11)
_LOCATESTART = _re.compile(r"""
  <([a-zA-Z][^\t\n\r\f />\x00]*)     # tag name (group 1 — local addition)
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", _re.VERBOSE)
_TAGFIND = _re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
_ATTRFIND = _re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_ENDTAGFIND = _re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')
_INTERESTING = _re.compile('[&<]')
_CHARREF = _re.compile('&#(?:[0-9]+|[xX][0-9a-fA-F]+)[^0-9a-fA-F]')
_ENTITYREF = _re.compile('&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]')
_INCOMPLETE = _re.compile('&[a-zA-Z#]')
_COMMENTCLOSE = _re.compile(r'--\s*>')
_DECLNAME = _re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*\s*')
_MARKEDCLOSE = _re.compile(r']\s*]\s*>')
_MSMARKEDCLOSE = _re.compile(r']\s*>')
_CDATA_CLOSE = {
    "script": _re.compile(r'</\s*script\s*>', _re.I),
    "style": _re.compile(r'</\s*style\s*>', _re.I),
}
_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})
_ATTR_TAGS = frozenset({"a", "html", "meta", "link"})
_TAGCHARS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_INCOMPLETE_NEXT = frozenset(
    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")

from html import unescape as _unescape  # noqa: E402  (stdlib attr decode)


def _fast_extract(rawdata: str, base_url: str) -> ParsedHtml:
    """Single-pass extraction; callback-sequence-identical to feeding
    the whole document to _Extractor then close() (goahead end=1)."""
    n = len(rawdata)
    i = 0
    stack: list[str] = []
    textbuf: list[str] = []
    links: set[str] = set()
    language = ""
    title_parts: list[str] = []
    meta_tags: list[tuple[str, str]] = []
    canonical_url: str | None = None
    content: list[str] = []
    content_len = 0
    content_depth = 0
    title_depth = 0

    tb_append = textbuf.append
    find = rawdata.find
    startswith = rawdata.startswith
    # False while replaying the feed() pass; True once any construct
    # required close()'s goahead(end=1) to resolve (see recover())
    end_pass = False

    def flush() -> None:
        # allocation-aware: the single-piece case (no entities in the
        # run — the common one) skips the join copy, and strip() is
        # returned as-is by CPython when nothing is stripped
        nonlocal content_len
        if not textbuf:
            return
        if title_depth == 0 and content_depth == 0:
            # text outside every captured scope (inter-tag whitespace,
            # nav/script debris): nothing consumes the chunk
            textbuf.clear()
            return
        if len(textbuf) == 1:
            chunk = textbuf[0]
        else:
            chunk = "".join(textbuf)
        textbuf.clear()
        if title_depth > 0:
            title_parts.append(chunk)
        if content_depth > 0:
            if content_len > 0:
                content.append(" ")
                content_len += 1
            trimmed = chunk.strip()
            content.append(trimmed)
            content_len += len(trimmed)

    def pop_tag() -> str:
        nonlocal content_depth, title_depth
        tag = stack.pop()
        if tag in CONTENT_TAGS:
            content_depth -= 1
        elif tag == "title":
            title_depth -= 1
        return tag

    def push_tag(tag: str) -> None:
        nonlocal content_depth, title_depth
        stack.append(tag)
        if tag in CONTENT_TAGS:
            content_depth += 1
        elif tag == "title":
            title_depth += 1

    def end_tag(tag: str) -> None:
        if textbuf:
            flush()
        if tag in VOID_TAGS:
            return
        if tag in stack:
            while stack:
                if pop_tag() == tag:
                    break

    def add_link(href: str) -> None:
        key = (
            href
            if href.startswith(("http://", "https://"))
            else (base_url, href)
        )
        accepted = _RESOLVE_CACHE.get(key, False)
        if accepted is False:
            if len(_RESOLVE_CACHE) >= _RESOLVE_CACHE_MAX:
                _RESOLVE_CACHE.clear()
            accepted = _link_disposition(base_url, href)
            _RESOLVE_CACHE[key] = accepted
        if accepted is not None:
            links.add(accepted)

    def recover(pos: int) -> int:
        # goahead's end=1 recovery for a construct parse returning -1:
        # swallow through the next '>' (else next '<', else one char)
        # as data and resume. Any recovery means the single feed() pass
        # broke here and close()'s goahead(end=1) took over — from then
        # on the parse is in the END pass (see the charref bail below).
        nonlocal end_pass
        end_pass = True
        k = find('>', pos + 1)
        if k < 0:
            k = find('<', pos + 1)
            if k < 0:
                k = pos + 1
        else:
            k += 1
        tb_append(rawdata[pos:k])
        return k

    next_amp = -2  # memoized find('&'): -2 unknown, -1 absent
    while i < n:
        # next structural char: str.find is memchr (SIMD) vs re's
        # bytecode scan; '&' position is memoized across iterations
        # since tags cluster while entities are sparse
        lt = find('<', i)
        if next_amp < i and next_amp != -1:
            next_amp = find('&', i)
        amp = next_amp
        if lt < 0:
            j = amp if amp >= 0 else n
        elif amp < 0:
            j = lt
        else:
            j = lt if lt < amp else amp
        if j < 0 or j > n:
            j = n
        if i < j:
            tb_append(rawdata[i:j])
        i = j
        if i == n:
            break
        ch = rawdata[i]
        if ch == '<':
            nxt = rawdata[i + 1:i + 2]
            if nxt in _TAGCHARS:
                # -- start tag (parse_starttag + check_for_whole_start_tag)
                lm = _LOCATESTART.match(rawdata, i)
                lj = lm.end()
                after = rawdata[lj:lj + 1]
                if after == '>':
                    endpos = lj + 1
                elif after == '/':
                    if startswith('/>', lj):
                        endpos = lj + 2
                    else:
                        i = recover(i)  # buffer boundary at EOF
                        continue
                elif after == '':
                    i = recover(i)
                    continue
                elif after in _INCOMPLETE_NEXT:
                    i = recover(i)
                    continue
                else:
                    endpos = lj  # check_for_whole_start_tag's `return j`
                tag = lm.group(1).lower()
                # attr scan resumes where tagfind would have ended: the
                # name plus its trailing (?:\s|/(?!>))* run, computed
                # with a direct scan instead of a second regex match
                k = lm.end(1)
                while k < n:
                    c2 = rawdata[k]
                    if c2 in ' \t\n\r\f':
                        k += 1
                    elif c2 == '/' and rawdata[k + 1:k + 2] != '>':
                        k += 1
                    else:
                        break
                if tag in _ATTR_TAGS:
                    a: dict[str, str | None] = {}
                    while k < endpos:
                        am = _ATTRFIND.match(rawdata, k)
                        if not am:
                            break
                        attrname, rest_g, attrvalue = am.group(1, 2, 3)
                        if not rest_g:
                            attrvalue = None
                        elif attrvalue[:1] == '\'' == attrvalue[-1:] or \
                                attrvalue[:1] == '"' == attrvalue[-1:]:
                            attrvalue = attrvalue[1:-1]
                        if attrvalue:
                            attrvalue = _unescape(attrvalue)
                        name_l = attrname.lower()
                        if name_l not in a:
                            a[name_l] = attrvalue
                        k = am.end()
                else:
                    # advance past the attributes without building them —
                    # only the end-of-tag remainder is needed below
                    while k < endpos:
                        am = _ATTRFIND.match(rawdata, k)
                        if not am:
                            break
                        k = am.end()
                end_txt = rawdata[k:endpos].strip()
                if end_txt == '>':
                    selfclose = False
                elif end_txt == '/>':
                    selfclose = True
                else:
                    # parse_starttag's `end not in ('>', '/>')`: the
                    # whole tag-ish slice becomes data, no callbacks
                    tb_append(rawdata[i:endpos])
                    i = endpos
                    continue
                if tag in _ATTR_TAGS:
                    if textbuf:
                        flush()
                    if tag == "a":
                        if "href" in a:
                            add_link(a["href"] or "")
                    elif tag == "html":
                        if "lang" in a:
                            language = a["lang"] or ""
                    elif tag == "meta":
                        if "name" in a:
                            mname: str | None = a["name"] or ""
                        elif "property" in a:
                            mname = a["property"] or ""
                        else:
                            mname = None
                        if mname is not None and "content" in a:
                            meta_tags.append((mname, a["content"] or ""))
                    elif a.get("rel") == "canonical":  # tag == "link"
                        if "href" in a:
                            canonical_url = a["href"] or ""
                elif textbuf:
                    flush()
                if tag not in VOID_TAGS:
                    if stack and stack[-1] == "p" and tag in _P_CLOSERS:
                        pop_tag()
                    if stack and stack[-1] == "li" and tag == "li":
                        pop_tag()
                    push_tag(tag)
                    if selfclose:
                        end_tag(tag)
                    elif tag == "script" or tag == "style":
                        # CDATA content mode: one data chunk up to the
                        # matching close tag; unterminated content is
                        # dropped (goahead's cdata break)
                        cm = _CDATA_CLOSE[tag].search(rawdata, endpos)
                        if cm:
                            if endpos < cm.start():
                                tb_append(rawdata[endpos:cm.start()])
                            end_tag(tag)
                            i = cm.end()
                            continue
                        i = n
                        break  # unterminated cdata: body dropped
                elif selfclose:
                    end_tag(tag)
                i = endpos
            elif nxt == '/':
                # -- end tag --------------------------------------------
                gt = find('>', i + 1)
                if gt < 0:
                    i = recover(i)
                    continue
                gtpos = gt + 1
                em = _ENDTAGFIND.match(rawdata, i)
                if em:
                    end_tag(em.group(1).lower())
                    i = gtpos
                elif startswith('</>', i):
                    i += 3
                else:
                    nm = _TAGFIND.match(rawdata, i + 2)
                    if nm:
                        end_tag(nm.group(1).lower())
                        i = find('>', nm.end()) + 1
                    else:
                        # bogus comment: '</' + non-letter
                        flush()
                        i = gtpos
            elif startswith('<!--', i):
                cm = _COMMENTCLOSE.search(rawdata, i + 4)
                if cm is None:
                    i = recover(i)
                else:
                    flush()  # handle_comment splits text nodes
                    i = cm.end()
            elif startswith('<?', i):
                gt = find('>', i + 2)
                if gt < 0:
                    i = recover(i)
                else:
                    i = gt + 1  # handle_pi is a no-op, no flush
            elif nxt == '!':
                if startswith('<![', i):
                    # marked section (_markupbase.parse_marked_section)
                    if i + 3 == n:
                        i = recover(i)
                        continue
                    dm = _DECLNAME.match(rawdata, i + 3)
                    if not dm:
                        raise AssertionError(
                            "expected name token at %r"
                            % rawdata[i:i + 20])
                    s = dm.group()
                    if i + 3 + len(s) == n:
                        i = recover(i)
                        continue
                    sect = s.strip().lower()
                    if sect in _MARKED_STD:
                        mm = _MARKEDCLOSE.search(rawdata, i + 3)
                    elif sect in _MARKED_MS:
                        mm = _MSMARKEDCLOSE.search(rawdata, i + 3)
                    else:
                        raise AssertionError(
                            'unknown status keyword %r in marked section'
                            % rawdata[i + 3:dm.end()])
                    if mm is None:
                        i = recover(i)
                    else:
                        i = mm.end()  # unknown_decl is a no-op
                elif rawdata[i:i + 9].lower() == '<!doctype':
                    gt = find('>', i + 9)
                    if gt < 0:
                        i = recover(i)
                    else:
                        i = gt + 1  # handle_decl is a no-op, no flush
                else:
                    # bogus comment
                    pos = find('>', i + 2)
                    if pos < 0:
                        i = recover(i)
                    else:
                        flush()  # handle_comment
                        i = pos + 1
            elif i + 1 < n:
                tb_append('<')
                i += 1
            else:
                tb_append('<')  # end=1 tail: handle_data(rawdata[i:n])
                i = n
                break
        else:  # '&'
            if startswith('&#', i):
                cm = _CHARREF.match(rawdata, i)
                if cm:
                    tb_append("&#" + cm.group()[2:-1] + ";")
                    k = cm.end()
                    if rawdata[k - 1] != ';':
                        k -= 1
                    i = k
                elif ';' in rawdata[i:]:
                    # goahead's '&#' bail consumes two chars and BREAKS
                    # unconditionally: on the feed() pass close() resumes
                    # parsing right after it, but on the end pass the
                    # break is terminal and the remainder becomes one
                    # data chunk (observable with two bails in one page)
                    tb_append('&#')
                    i += 2
                    if end_pass:
                        tb_append(rawdata[i:n])
                        i = n
                        break
                    end_pass = True
                else:
                    tb_append(rawdata[i:n])  # end=1 tail
                    i = n
                    break
            else:
                em = _ENTITYREF.match(rawdata, i)
                if em:
                    tb_append("&" + em.group(1) + ";")
                    k = em.end()
                    if rawdata[k - 1] != ';':
                        k -= 1
                    i = k
                else:
                    im = _INCOMPLETE.match(rawdata, i)
                    if im:
                        if im.group() == rawdata[i:]:
                            # end=1: advance one, tail-handle the rest
                            i += 1
                        tb_append(rawdata[i:n])
                        i = n
                        break
                    elif i + 1 < n:
                        tb_append('&')
                        i += 1
                    else:
                        tb_append('&')  # end=1 tail
                        i = n
                        break
    # close(): final text flush. Inside unterminated cdata the body
    # never reached textbuf (goahead's cdata break), so this flush is
    # a no-op there, matching the stdlib sequence.
    flush()
    return ParsedHtml(
        links=sorted(links),
        language=language,
        title="".join(title_parts),
        meta_tags=meta_tags,
        canonical_url=canonical_url,
        content_text="".join(content),
    )


def extract_html(html: str | bytes, base_url: str,
                 _stdlib: bool = False) -> ParsedHtml:
    """Parse one page. ``base_url`` must be an absolute URL.

    Default engine is the fast single-pass tokenizer above;
    ``_stdlib=True`` runs the original html.parser-based extractor —
    kept as the differential oracle the parity tests compare against."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    if _stdlib:
        p = _Extractor(base_url)
        p.feed(html)
        p.close()
        return ParsedHtml(
            links=sorted(p.links),
            language=p.language,
            title="".join(p.title_parts),
            meta_tags=p.meta_tags,
            canonical_url=p.canonical_url,
            content_text="".join(p.content),
        )
    return _fast_extract(html, base_url)


def sanitize_text(text: str) -> str:
    """genesis/src/db.rs:63-67 parity: drop Unicode control chars (Cc)."""
    return "".join(c for c in text if not _is_control(c))


def _is_control(c: str) -> bool:
    # Rust char::is_control == Unicode Cc category: U+0000..U+001F, U+007F..U+009F
    o = ord(c)
    return o < 0x20 or 0x7F <= o <= 0x9F
