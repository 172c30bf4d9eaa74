"""Streaming HTML tokenizer.

A from-scratch, HTML5-flavoured tokenizer producing the same observable
token stream as the streaming rewriter the reference wraps (single pass,
no DOM, raw source slices preserved for untouched passthrough). Behaviors
pinned by the reference test corpus:

* a ``<`` not followed by ``/``, ``!``, ``?`` or an ASCII letter is literal
  text (test/selma_sanitizer_parser_test.rb:32-36);
* an incomplete tag at EOF is dropped entirely
  (test/selma_sanitizer_malicious_html_test.rb:142-147 half-open img -> "");
* an unterminated comment swallows to EOF but IS a comment token
  (test/selma_sanitizer_comments_test.rb:18 "foo <!-- " -> kept raw when
  comments are allowed);
* rawtext/rcdata/script elements swallow everything until their literal
  close tag, or EOF (test/selma_sanitizer_parser_test.rb:26-30);
* orphan end tags are their own tokens (they pass through the sanitizer,
  see rewriter-level tests around test/test_helper.rb:47-53 goldens).

Two start-tag parsers split tags: the hot ``_HOT`` match, whose tokens
carry lazy batch attributes, and the general scanner ``_parse_start_tag``
for every other shape. The general scanner records character offsets of
each attribute's name and value in the original input, which
``attribute_source_location`` reads
(reference: ext/selma/src/html/element.rs:117-156).
"""

from __future__ import annotations

import re

from .tags import (
    RAWTEXT_TAGS,
    RCDATA_TAGS,
    TEXT_TYPE_DATA,
    TEXT_TYPE_PLAIN,
    text_type_for,
)

# batch attr extraction (one C-level findall) over a blob the hot
# pattern already matched; that shape excludes quote-led unquoted
# values, so findall tiling agrees with the general scanner's attrs
_BLOB_ATTRS = re.compile(
    r"[\t\n\r\f ]+([^\t\n\r\f /=>]+)"
    r"(?:(=)(?![\t\n\r\f ])((?>\"[^\"]*\"|'[^']*'|[^\t\n\r\f >]*)))?"
)

# C-speed scanners for the general start-tag scanner (HTML5 charsets)
_RE_TAG_NAME = re.compile(r"[^\t\n\r\f />]*")
_RE_WS = re.compile(r"[\t\n\r\f ]*")
_RE_ATTR_NAME = re.compile(r"[^\t\n\r\f /=>]*")
_RE_UNQUOTED = re.compile(r"[^\t\n\r\f >]*")

# token kinds
TEXT = 0
START_TAG = 1
END_TAG = 2
COMMENT = 3
DOCTYPE = 4

_TAG_NAME_END = frozenset(" \t\n\r\f/>")

_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)


class Attr:
    """One parsed attribute. ``value`` is the raw source value (entities
    NOT decoded); ``has_value`` distinguishes ``disabled`` from
    ``disabled=""``. Source spans are (start, end) character offsets or
    None."""

    __slots__ = ("name", "raw_name", "value", "has_value", "name_span", "value_span")

    def __init__(self, name, raw_name, value, has_value, name_span, value_span):
        self.name = name
        self.raw_name = raw_name
        self.value = value
        self.has_value = has_value
        self.name_span = name_span
        self.value_span = value_span


class Token:
    """One token. Carries (start, end) offsets into the source string;
    ``raw`` slices lazily — passthrough paths emit contiguous source
    ranges instead of materializing per-token strings.

    Start tags lexed by ``_HOT`` carry LAZY attributes: the match itself
    validates the attribute blob (tag BOUNDARIES never depend on whether
    attrs were read), its (start, end) span goes in ``_ablob``, and the
    ``attrs`` property extracts on first access, with spans None.
    Handler-only passes touch attrs for the few tags a selector
    prefilter matches, so ~all extraction work is skipped (42% of
    tokenize time on the md fixture); sanitize passes read every kept
    element's attrs. Start tags from ``_parse_start_tag`` carry eager
    attrs with source spans."""

    __slots__ = ("kind", "src", "start", "end", "name", "_attrs",
                 "self_closing", "text_type", "_ablob")

    def __init__(self, kind, src, start, end, name=None, attrs=None,
                 self_closing=False, text_type=TEXT_TYPE_DATA):
        self.kind = kind
        self.src = src
        self.start = start
        self.end = end
        self.name = name          # lowercase tag name for START/END
        self._attrs = attrs       # list[Attr] for START (None = lazy/absent)
        self._ablob = None        # (blob_start, blob_end) when lazy
        self.self_closing = self_closing  # explicit "/>" only
        self.text_type = text_type

    @property
    def attrs(self):
        a = self._attrs
        if a is None and self._ablob is not None:
            a = self._attrs = _extract_attrs(self.src, *self._ablob)
        return a

    @property
    def raw(self) -> str:
        return self.src[self.start:self.end]

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Token({self.kind}, {self.raw!r}, name={self.name!r})"


def _extract_attrs(src: str, blob_start: int, blob_end: int):
    """Batch attr extraction over a blob ``_HOT`` matched: one C-level
    findall, first-wins dedup, quote stripping; spans stay None
    (attribute_source_location re-parses the tag with
    ``_parse_start_tag`` on the rare access)."""
    attrs: list[Attr] = []
    seen: set[str] = set()
    for raw_attr, eq, rawval in _BLOB_ATTRS.findall(
        src, blob_start, blob_end
    ):
        aname = raw_attr.lower()
        if aname in seen:
            continue
        seen.add(aname)
        if eq:
            if rawval[:1] in ('"', "'"):
                rawval = rawval[1:-1]
            attrs.append(Attr(aname, raw_attr, rawval, True, None, None))
        else:
            attrs.append(Attr(aname, raw_attr, "", False, None, None))
    return attrs


# HOT-path lexer: one C-level match consumes a text run AND the
# following simple tag — halving Python-loop iterations vs
# find+branch+match per token (the r5 single-core tokenizer win). The
# cold dispatch in tokenize handles everything the alternation doesn't:
# comments, doctype, bogus constructs, literal '<', EOF-truncated tags,
# and start tags outside the simple shape (stray '/', '='-leading names,
# ws around '=', quote-led unquoted values), which go to
# _parse_start_tag. Groups: 1 text run, 2 end-tag name, 3 start-tag
# name, 4 attr blob, 5 self-closing slash. Backtracking-safe: [^<]*
# contains no '<', so a failed tag alternative cannot retry at an
# earlier position; atomic groups keep a quoted value from being
# re-read as unquoted, which the sequential scanner never does.
_HOT = re.compile(
    r"([^<]*)<"
    r"(?:"
    r"/([a-zA-Z][^\t\n\r\f />]*)[^>]*>"
    r"|"
    r"([a-zA-Z][a-zA-Z0-9-]*)"
    # '=' followed by whitespace and quote-led unquoted values fail the
    # whole alternation: the general scanner implements the HTML5
    # before-attribute-value rule and the unterminated-quote cases
    r"((?:[\t\n\r\f ]+[^\t\n\r\f /=>]+"
    r"(?:=(?![\t\n\r\f ])"
    r"(?>\"[^\"]*\"|'[^']*'|[^\"'\t\n\r\f >][^\t\n\r\f >]*|))?)*)"
    r"[\t\n\r\f ]*(/?)>"
    r")"
)


def tokenize(html: str, start: int = 0, limit: int | None = None):
    """Lex ``html`` into tokens. ``start`` lexes from a byte offset with
    ABSOLUTE token spans (used by the rewriter's foreign-content CDATA
    repair to re-lex the document after a merged ``]]>`` terminator).

    ``limit`` (r6) makes the lex RESUMABLE: once at least ``limit``
    tokens exist the call returns ``(tokens, resume_pos)`` at the next
    iteration boundary (a chunk may exceed the limit by the few tokens
    one iteration appends); ``resume_pos == len(html)`` means the
    document is fully lexed, and ``tokenize(html, start=resume_pos)``
    continues with byte-identical tokens (the lexer is stateless between
    iterations). Used by the rewriter's CDATA repair to re-lex lazily —
    a full re-lex per repaired construct is O(n^2) on adversarial
    '<![CDATA[>]]>'-runs (ADVICE r5). Without ``limit`` the return value
    is the plain token list, as before."""
    tokens: list[Token] = []
    append = tokens.append
    n = len(html)
    i = start
    find = html.find
    # lowercase copy for case-insensitive close-tag scans in rawtext modes
    hlow = None
    hot = _HOT.match

    while i < n:
        if limit is not None and len(tokens) >= limit:
            return tokens, i
        m = hot(html, i)
        if m is not None:
            t_end = m.end(1)
            if t_end > i:
                append(Token(TEXT, html, i, t_end))
            ename, raw_name, blob, slash = m.group(2, 3, 4, 5)
            i = m.end()
            if ename is not None:
                # positional args throughout the lexer: keyword-arg
                # Token construction measured ~200ns/call slower (r6)
                append(Token(END_TAG, html, t_end, i, ename.lower()))
                continue
            if blob:
                # the match validated the blob: extraction is deferred
                tok = Token(
                    START_TAG, html, t_end, i, raw_name.lower(), None,
                    slash == "/",
                )
                tok._ablob = (m.end(3), m.end(4))
            else:
                tok = Token(
                    START_TAG, html, t_end, i, raw_name.lower(), [],
                    slash == "/",
                )
        else:
            lt = find("<", i)
            if lt < 0:
                append(Token(TEXT, html, i, n))
                break
            if lt > i:
                append(Token(TEXT, html, i, lt))
            j = lt + 1
            if j >= n:
                # lone "<" at EOF: incomplete token, dropped (lol-html
                # stream end discards it — pinned by the "" expectation
                # for '<<script>…' in
                # selma_sanitizer_malicious_html_test.rb:156)
                break
            c = html[j]
            if c in _ASCII_ALPHA:
                tok, i = _parse_start_tag(html, lt)
                if tok is None:
                    break  # incomplete tag at EOF -> dropped
            elif c == "/":
                k = j + 1
                if k >= n:
                    break  # "</" at EOF dropped
                c2 = html[k]
                if c2 in _ASCII_ALPHA:
                    tok, i = _parse_end_tag(html, lt)
                    if tok is None:
                        break
                    append(tok)
                elif c2 == ">":
                    i = k + 1  # "</>" dropped entirely (HTML5)
                else:
                    # bogus comment "</ ..."
                    gt = find(">", k)
                    if gt < 0:
                        append(Token(COMMENT, html, lt, n))
                        break
                    append(Token(COMMENT, html, lt, gt + 1))
                    i = gt + 1
                continue
            elif c == "!":
                if html.startswith("--", j + 1):
                    # comment; HTML5 allows the abrupt "<!-->" / "<!--->"
                    body_start = j + 3
                    if html.startswith(">", body_start):
                        append(Token(COMMENT, html, lt, body_start + 1))
                        i = body_start + 1
                        continue
                    if html.startswith("->", body_start):
                        append(Token(COMMENT, html, lt, body_start + 2))
                        i = body_start + 2
                        continue
                    close = find("-->", body_start)
                    if close < 0:
                        append(Token(COMMENT, html, lt, n))
                        break
                    append(Token(COMMENT, html, lt, close + 3))
                    i = close + 3
                elif html[j + 1 : j + 8].lower() == "doctype":
                    gt = find(">", j)
                    if gt < 0:
                        append(Token(DOCTYPE, html, lt, n))
                        break
                    append(Token(DOCTYPE, html, lt, gt + 1))
                    i = gt + 1
                else:
                    gt = find(">", j)
                    if gt < 0:
                        append(Token(COMMENT, html, lt, n))
                        break
                    append(Token(COMMENT, html, lt, gt + 1))
                    i = gt + 1
                continue
            elif c == "?":
                gt = find(">", j)
                if gt < 0:
                    append(Token(COMMENT, html, lt, n))
                    break
                append(Token(COMMENT, html, lt, gt + 1))
                i = gt + 1
                continue
            else:
                # literal "<" text; continue scanning after it
                append(Token(TEXT, html, lt, j))
                i = j
                continue
        # a start tag from either parser: switch the lexer mode
        append(tok)
        mode_tag = tok.name
        if mode_tag == "plaintext":
            if i < n:
                append(Token(TEXT, html, i, n, None, None, False, TEXT_TYPE_PLAIN))
            break
        if not tok.self_closing and (
            mode_tag == "script"
            or mode_tag in RAWTEXT_TAGS
            or mode_tag in RCDATA_TAGS
        ):
            if hlow is None:
                hlow = html.lower()
            i = _consume_rawtext(html, hlow, i, mode_tag, append)
    if limit is not None:
        return tokens, n
    return tokens


def _parse_start_tag(html: str, lt: int):
    """General HTML5-flavoured start-tag scanner, beginning at ``lt``
    (html[lt] == '<', next is alpha): stray '/', '='-leading attr names,
    whitespace around '=', unterminated quotes. Returns
    (Token, next_index), or (None, n) if EOF hit before '>' (incomplete
    tag -> dropped). Attrs are eager and carry source spans."""
    n = len(html)
    i = lt + 1
    start_name = i
    i = _RE_TAG_NAME.match(html, i).end()
    raw_name = html[start_name:i]
    name = raw_name.lower()
    attrs: list[Attr] = []
    seen: set[str] = set()
    self_closing = False
    while True:
        # before attribute name
        i = _RE_WS.match(html, i).end()
        if i >= n:
            return None, n
        ch = html[i]
        if ch == ">":
            i += 1
            break
        if ch == "/":
            if i + 1 < n and html[i + 1] == ">":
                self_closing = True
                i += 2
                break
            i += 1  # stray "/": parse error, reconsume as before-attr-name
            continue
        # attribute name ("=" allowed as first char per HTML5 parse-error path)
        name_start = i
        if ch == "=":
            i += 1
        i = _RE_ATTR_NAME.match(html, i).end()
        raw_attr_name = html[name_start:i]
        attr_name = raw_attr_name.lower()
        name_span = (name_start, i)
        # after attribute name
        i = _RE_WS.match(html, i).end()
        if i >= n:
            return None, n
        if html[i] == "=":
            i += 1
            i = _RE_WS.match(html, i).end()
            if i >= n:
                return None, n
            q = html[i]
            if q == '"' or q == "'":
                vstart = i + 1
                vend = html.find(q, vstart)
                if vend < 0:
                    return None, n  # unterminated quoted value at EOF
                value = html[vstart:vend]
                value_span = (vstart, vend)
                i = vend + 1
            else:
                vstart = i
                i = _RE_UNQUOTED.match(html, i).end()
                value = html[vstart:i]
                value_span = (vstart, i)
            if attr_name not in seen:
                seen.add(attr_name)
                attrs.append(
                    Attr(attr_name, raw_attr_name, value, True, name_span, value_span)
                )
        else:
            if attr_name not in seen:
                seen.add(attr_name)
                attrs.append(
                    Attr(attr_name, raw_attr_name, "", False, name_span, None)
                )
    return (
        Token(START_TAG, html, lt, i, name, attrs, self_closing),
        i,
    )


# one-shot end-tag matcher: name + anything-but-'>' + '>' (HTML5 end
# tags allow junk before '>' which is discarded); equivalent to the
# general path below but a single C-level match
_FAST_END = re.compile(r"([^\t\n\r\f />]*)[^>]*>")


def _parse_end_tag(html: str, lt: int):
    m = _FAST_END.match(html, lt + 2)
    if m is None:
        return None, len(html)
    return (
        Token(END_TAG, html, lt, m.end(), m.group(1).lower()),
        m.end(),
    )


def _consume_rawtext(html: str, hlow: str, i: int, tag: str, append) -> int:
    """Consume rawtext/rcdata/script content for ``tag`` starting at ``i``.
    Emits a TEXT token for the content (if non-empty) and returns the index
    of the matching ``</tag`` sequence (so the main loop parses the end
    tag), or len(html) when it swallows to EOF."""
    n = len(html)
    needle = "</" + tag
    ttype = text_type_for(tag)
    pos = i
    while True:
        p = hlow.find(needle, pos)
        if p < 0:
            if i < n:
                append(Token(TEXT, html, i, n, None, None, False, ttype))
            return n
        after = p + len(needle)
        if after >= n or html[after] in _TAG_NAME_END:
            if p > i:
                append(Token(TEXT, html, i, p, None, None, False, ttype))
            return p
        pos = after
