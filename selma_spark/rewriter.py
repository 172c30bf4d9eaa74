"""Streaming HTML rewriter VM: sanitizer pass + user handlers + serializer.

This is the Python re-expression of the reference's rewrite orchestration
(reference: ext/selma/src/rewriter.rs) — one linear pass over the token
stream with the sanitizer applied first per element (rewriter.rs:284-294,
"have sanitization happen first" rewriter.rs:366-367), user handlers in
list order per token (pinned by
test/selma_rewriter_match_element_test.rb:63-76), and a second full parse
removing disallowed escapeworthy tags (rewriter.rs:323-354).

Stack discipline (observable in the reference's own goldens):

* the *matching* stack pops implicitly when an outer end tag closes inner
  elements; implicitly-closed elements never fire end-tag handlers, and
  end tags with no matching open element pass through verbatim (pinned by
  the STRINGS[:malformed] goldens in test/test_helper.rb:47-53, where
  ``</b>`` and ``</strong>`` survive sanitization);
* the *ancestors* stack mirrors Selma's Ruby-side stack
  (rewriter.rs:411-431): push every non-void element, pop the TOP entry
  whenever some element's own end tag fires — deliberately bug-compatible
  on misnested input.

Untouched tokens are emitted as their original source slices; only
mutated start tags are re-serialized (double-quoted attribute values,
``"`` escaped as ``&quot;``), matching the reference's observable
serializer (e.g. test/selma_sanitizer_test.rb:23-41 normalizes quotes
only on sanitized attributes and test/selma_rewriter_match_attribute_test.rb:19-23
keeps untouched elements byte-identical).
"""

from __future__ import annotations

import gc
import re

import threading

from . import tokenizer as tk
from .sanitizer import (
    DEFAULT,
    Sanitizer,
    escape_href,
    escape_html,
    unescape_html,
)
from .selector import Selector
from .tags import ESCAPEWORTHY_TAGS, TEXT_TYPE_CDATA, VOID_TAGS

# Cross-thread GC-pause bookkeeping for Rewriter.rewrite (see its body):
# depth counts in-flight rewrite() calls across ALL threads; GC re-enables
# only when the last one exits.
_GC_PAUSE_LOCK = threading.Lock()
_GC_PAUSE_DEPTH = 0
_GC_PAUSE_REENABLE = False

_MISSING = object()


class RewriteError(RuntimeError):
    pass


class MemoryLimitError(RewriteError):
    pass


def _escape_text(content: str) -> str:
    # lol-html ContentType::Text escaping: & < > only
    return (
        content.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _content(content, content_type):
    if content_type == "text":
        return _escape_text(content)
    if content_type == "html":
        return content
    raise RewriteError(f"unknown content type {content_type!r}")


class _Node(list):
    """Open-element state shared by the VM and the Element facade.

    The node is also its own open-stack entry: the list
    ``[orig_name, suppressing, None, None]`` in the stack-entry layout of
    _run_pass, where the ``None`` end action sends its end tag down the
    full node path."""

    __slots__ = (
        "tag_name", "renamed", "_attrs",
        "_tokattrs_c", "explicit_self_closing", "void", "_tok",
        "modified", "removed_mode",
        "before_parts", "prepend_parts", "append_parts", "after_parts",
        "inner_content", "text_active", "end_tag_handlers", "end_removed",
        "_byte_info", "_byte_cursor",
    )

    def __init__(self, tok: tk.Token, byte_cursor=None):
        list.__init__(self, (tok.name, False, None, None))
        self.tag_name = tok.name
        self.renamed = False
        self._attrs = None  # materialized on first access (most elements
        # are never inspected now that dispatch is tag-prefiltered)
        self._tokattrs_c = None  # tok.attrs fetched lazily (the token
        # itself defers extraction — see Token._ablob)
        self.explicit_self_closing = tok.self_closing
        self.void = tok.name in VOID_TAGS
        self._tok = tok  # raw sliced lazily (passthrough is range-emitted)
        self.modified = False
        self.removed_mode = None  # None | "content" | "unwrap"
        self.before_parts = None
        self.prepend_parts = None
        self.append_parts = None
        self.after_parts = None
        self.inner_content = None
        self.text_active = None  # set[int] of handler indices
        self.end_tag_handlers = None
        self.end_removed = False
        self._byte_info = None  # per-node memo: (src_is_ascii, tag_byte_base)
        # shared per-PASS cursor [is_ascii|None, char_pos, byte_pos]:
        # prefix UTF-8 byte offsets are computed incrementally from the
        # last queried position, so a handler calling
        # attribute_source_location on every element of a non-ASCII
        # document stays O(n) overall instead of O(n^2) (ADVICE r2)
        self._byte_cursor = byte_cursor

    @property
    def _tok_attrs(self):
        # token Attr list, fetched (and extracted) on first access; the
        # attribute_source_location path ASSIGNS a span-tracking re-parse
        # over this (see Element.attribute_source_location)
        v = self._tokattrs_c
        if v is None:
            v = self._tokattrs_c = self._tok.attrs
        return v

    @_tok_attrs.setter
    def _tok_attrs(self, v):
        self._tokattrs_c = v

    @property
    def raw_name(self) -> str:
        # original-case tag name, sliced lazily (only serialize_start
        # reads it; most nodes are raw-passthrough and never do)
        t = self._tok
        return t.src[t.start + 1 : t.start + 1 + len(t.name)]

    @property
    def attrs(self):
        # attrs: list of [name_lower, value, has_value] (mutable in place)
        a = self._attrs
        if a is None:
            a = self._attrs = [
                [t.name, t.value, t.has_value] for t in self._tok_attrs
            ]
        return a

    # node protocol for the selector matcher
    def get_attr(self, name):
        for a in self.attrs:
            if a[0] == name:
                return a[1]
        return None

    @property
    def removed(self):
        return self.removed_mode is not None

    def add_part(self, slot, content):
        cur = getattr(self, slot)
        if cur is None:
            cur = []
            setattr(self, slot, cur)
        cur.append(content)

    @property
    def raw(self) -> str:
        return self._tok.raw

    def serialize_start(self) -> str:
        if not self.modified and not self.renamed:
            return self._tok.raw
        parts = ["<", self.tag_name if self.renamed else self.raw_name]
        for name, value, has_value in self.attrs:
            if has_value:
                parts.append(f' {name}="{value.replace(chr(34), "&quot;")}"')
            else:
                parts.append(f" {name}")
        parts.append(" />" if self.explicit_self_closing else ">")
        return "".join(parts)


class _InertNode(list):
    """Light open-stack entry ``[name, False, True, None, tok]`` for a
    start tag that NO handler selector can possibly match (fast-skip
    dispatch; sanitizer-free passes only). Its end tag takes the light
    pop path like any light entry; it also answers the ancestor-matcher
    protocol, since descendant combinators inspect ancestors. Inert
    entries are never handed to handlers, so they are never written."""

    __slots__ = ()

    @property
    def tag_name(self):
        return self[0]

    def get_attr(self, name):
        # extraction already dedups first-wins, so the first hit is it
        for a in self[4].attrs or ():
            if a.name == name:
                return a.value
        return None


class Element:
    """Element facade handed to ``handle_element``
    (reference API: ext/selma/src/html/element.rs)."""

    __slots__ = ("_node", "_ancestors")

    def __init__(self, node: _Node, ancestors: list[str]):
        self._node = node
        self._ancestors = ancestors

    @property
    def tag_name(self):
        return self._node.tag_name

    @tag_name.setter
    def tag_name(self, name: str):
        node = self._node
        node.tag_name = name.lower()
        node.renamed = True

    def set_tag_name(self, name: str):
        self.tag_name = name

    @property
    def self_closing(self) -> bool:
        return self._node.explicit_self_closing

    def __getitem__(self, attr):
        return self._node.get_attr(attr)

    def __setitem__(self, attr, value):
        node = self._node
        for a in node.attrs:
            if a[0] == attr:
                a[1] = value
                a[2] = True
                node.modified = True
                return
        node.attrs.append([attr, value, True])
        node.modified = True

    def set_attribute(self, attr, value):
        self[attr] = value
        return value

    def remove_attribute(self, attr):
        node = self._node
        for i, a in enumerate(node.attrs):
            if a[0] == attr:
                del node.attrs[i]
                node.modified = True
                return

    def has_attribute(self, attr) -> bool:
        return self._node.get_attr(attr) is not None

    @property
    def attributes(self) -> dict:
        return {a[0]: a[1] for a in self._node.attrs}

    def attribute_source_location(self, attr):
        """BYTE ranges (UTF-8) of an attribute in the ORIGINAL input;
        None for missing/added/pure-boolean attrs (reference:
        element.rs:117-156 returns name_loc.bytes()/loc.bytes(); nil
        cases pinned by
        test/selma_rewriter_attribute_source_location_test.rb:43-115).
        The tokenizer tracks character offsets; on non-ASCII documents
        they are converted to UTF-8 byte offsets here (ASCII documents
        need no conversion — offsets coincide)."""
        want = str(attr).lower()
        tok_attrs = self._node._tok_attrs
        if tok_attrs and tok_attrs[0].name_span is None:
            # hot-lexer token (lazy batch attrs, no spans): re-parse just
            # this tag with the general scanner, which records spans —
            # the token keeps its offsets into src
            tok = self._node._tok
            retok, _ = tk._parse_start_tag(tok.src, tok.start)
            tok_attrs = self._node._tok_attrs = retok.attrs
        for a in tok_attrs:
            if a.name == want:
                if not a.has_value:
                    return None
                node = self._node
                tok = node._tok
                src = tok.src
                # memoized per node AND advanced incrementally via the
                # per-pass cursor: elements are visited in document
                # order, so each prefix encode covers only the bytes
                # since the previously queried element — O(document)
                # total even when a handler queries EVERY element of a
                # non-ASCII page (the naive per-node full-prefix encode
                # is O(n^2) on that access pattern)
                info = node._byte_info
                if info is None:
                    cur = node._byte_cursor
                    if cur is None:
                        cur = node._byte_cursor = [None, 0, 0]
                    if cur[0] is None:
                        cur[0] = src.isascii()
                    is_ascii = cur[0]
                    if is_ascii:
                        base = None
                    elif tok.start >= cur[1]:
                        base = cur[2] + len(
                            src[cur[1] : tok.start].encode("utf-8")
                        )
                        cur[1] = tok.start
                        cur[2] = base
                    else:  # out-of-order query (held reference): full prefix
                        base = len(src[: tok.start].encode("utf-8"))
                    info = node._byte_info = (is_ascii, base)
                is_ascii, base = info
                if is_ascii:
                    return {"name": a.name_span, "value": a.value_span}

                def to_bytes(span):
                    s, e = span
                    pre = base + len(src[tok.start:s].encode("utf-8"))
                    return (pre, pre + len(src[s:e].encode("utf-8")))

                return {
                    "name": to_bytes(a.name_span),
                    "value": to_bytes(a.value_span),
                }
        return None

    @property
    def ancestors(self) -> list[str]:
        return list(self._ancestors)

    def before(self, content, as_="html"):
        self._node.add_part("before_parts", _content(content, as_))

    def after(self, content, as_="html"):
        self._node.add_part("after_parts", _content(content, as_))

    def prepend(self, content, as_="html"):
        self._node.add_part("prepend_parts", _content(content, as_))

    def append(self, content, as_="html"):
        self._node.add_part("append_parts", _content(content, as_))

    def set_inner_content(self, content, as_="html"):
        self._node.inner_content = _content(content, as_)

    def remove(self):
        self._node.removed_mode = "content"

    def remove_and_keep_content(self):
        self._node.removed_mode = "unwrap"

    @property
    def removed(self) -> bool:
        return self._node.removed

    @property
    def available(self) -> bool:
        """Ruby sugar `available?` (reference: lib/selma/html/element.rb:5-9)."""
        return not self._node.removed


class TextChunk:
    """Text-chunk facade (reference API:
    ext/selma/src/html/text_chunk.rs). ``replace`` updates the live
    content so stacked handlers chain
    (pinned by test/selma_rewriter_text_test.rb:190-226)."""

    __slots__ = ("content", "text_type", "removed", "before_parts", "after_parts")

    def __init__(self, content: str, text_type: str):
        self.content = content
        self.text_type = text_type
        self.removed = False
        self.before_parts = []
        self.after_parts = []

    def to_s(self) -> str:
        return self.content

    def __str__(self) -> str:
        return self.content

    def before(self, content, as_="html"):
        self.before_parts.append(_content(content, as_))

    def after(self, content, as_="html"):
        self.after_parts.append(_content(content, as_))

    def replace(self, content, as_="html"):
        if not isinstance(content, str):
            raise RewriteError("text chunk replacement must be a string")
        self.content = _content(content, as_)
        return self.content

    def remove(self):
        self.removed = True
        self.content = ""


class EndTag:
    __slots__ = ("tag_name", "_node")

    def __init__(self, tag_name: str, node: _Node):
        self.tag_name = tag_name
        self._node = node

    def remove(self):
        self._node.end_removed = True


class _CompiledHandler:
    __slots__ = ("obj", "selector", "has_element", "has_text", "has_end_tag")

    def __init__(self, obj):
        sel = getattr(obj, "selector", None)
        if sel is None:
            raise AttributeError(
                f"Could not call #selector on {type(obj).__name__!r}; "
                "is this an object that defines it?"
            )
        selector = sel() if callable(sel) else sel
        if not isinstance(selector, Selector):
            raise TypeError(
                f"Error instantiating selector: expected Selector, got "
                f"{type(selector).__name__}"
            )
        self.obj = obj
        self.selector = selector
        self.has_element = hasattr(obj, "handle_element")
        self.has_text = hasattr(obj, "handle_text_chunk")
        self.has_end_tag = hasattr(obj, "on_end_tag")


class Rewriter:
    """Pipeline entry point (reference: Selma::Rewriter,
    ext/selma/src/rewriter.rs:90-235 for construction semantics)."""

    def __init__(self, sanitizer=_MISSING, handlers=None, options=None):
        if sanitizer is _MISSING:
            sanitizer = Sanitizer(DEFAULT)
        elif isinstance(sanitizer, (dict, type(DEFAULT))):
            sanitizer = Sanitizer(sanitizer)
        if handlers is None:
            handlers = []
        if not isinstance(handlers, (list, tuple)):
            raise TypeError("handlers must be an array")
        self.handlers = [_CompiledHandler(h) for h in handlers]
        self.sanitizer = sanitizer
        if sanitizer is None and not self.handlers:
            raise ValueError("Must provide a sanitizer or a handler")

        # Config-aware gate for the second parse: only escapeworthy tags
        # the sanitizer DISALLOWS can make the final pass non-identity
        # (reference rewriter.rs:325-354 re-parses unconditionally; an
        # allowed <title>/<style> in the output cannot be removed there).
        self._final_gate_re = None
        if sanitizer is not None and sanitizer.escape_tagfilter:
            disallowed = sorted(
                t for t in ESCAPEWORTHY_TAGS if not sanitizer.allow_element(t)
            )
            if disallowed:
                self._final_gate_re = re.compile(
                    "<(?:%s)" % "|".join(disallowed), re.IGNORECASE
                )

        # r6: the _sanitize_element outcome memo (r5, formerly per pass)
        # lives on the Rewriter: outcomes are a pure function of (raw tag
        # bytes, frozen config), and a task-long Rewriter sees the same
        # boilerplate start tags across MILLIONS of documents — cross-doc
        # hits skip attr extraction + unescape/allowlist/protocol checks
        # + re-serialization. Bounded by _SAN_MEMO_CAP (cleared, not
        # LRU'd: adversarial all-distinct tags just degrade to r5's
        # per-pass behavior). Concurrent rewrites share it safely: dict
        # get/set are atomic under the GIL and both sides compute the
        # identical value for a key, so a race is a benign double-compute.
        self._san_memo = {} if sanitizer is not None else None

        self.max_allowed_memory_usage = None
        self.preallocated_parsing_buffer_size = None
        if options:
            memory = options.get("memory", {})
            unknown = set(options) - {"memory"}
            if unknown:
                raise ValueError(f"Unknown option: {unknown.pop()!r}")
            self.max_allowed_memory_usage = memory.get("max_allowed_memory_usage")
            self.preallocated_parsing_buffer_size = memory.get(
                "preallocated_parsing_buffer_size"
            )
            if self.max_allowed_memory_usage is not None:
                if self.preallocated_parsing_buffer_size is None:
                    raise ValueError(
                        "max_allowed_memory_usage must be greater than "
                        "preallocated_parsing_buffer_size"
                    )
                if (self.preallocated_parsing_buffer_size
                        > self.max_allowed_memory_usage):
                    raise ValueError(
                        "max_allowed_memory_usage must be greater than "
                        "preallocated_parsing_buffer_size"
                    )

    def rewrite(self, html: str) -> str:
        if self.max_allowed_memory_usage is not None:
            # streaming-core memory budget approximation (reference:
            # rewriter.rs:156-227 + test/selma_rewriter_test.rb:60-76)
            if len(html.encode("utf-8", "ignore")) > self.max_allowed_memory_usage:
                raise MemoryLimitError("The memory limit has been exceeded")
        # Pause cyclic GC for the duration of the call: a multi-MB doc
        # materializes 100k+ Token/_Node objects that are all garbage at
        # return, and young-gen scans of that live list while it grows
        # cost ~40% of tokenize time (measured 4.3 -> 7.0 MB/s on a
        # 7.2MB doc). All per-call allocations die at return, so cyclic
        # garbage (if handler code makes any) is reclaimed at the next
        # natural collection once re-enabled. A module-level depth
        # counter (under a lock) makes this safe for BOTH nested and
        # concurrent rewrite() calls: GC re-enables only when the
        # outermost call across all threads exits, so a fast caller on
        # one thread can't re-enable GC mid-tokenize on another
        # (ADVICE r4 #2). The counter is reentrancy-exact: finally
        # always decrements, so a handler exception can't wedge GC off.
        with _GC_PAUSE_LOCK:
            global _GC_PAUSE_DEPTH, _GC_PAUSE_REENABLE
            if _GC_PAUSE_DEPTH == 0:
                _GC_PAUSE_REENABLE = gc.isenabled()
                if _GC_PAUSE_REENABLE:
                    gc.disable()
            _GC_PAUSE_DEPTH += 1
        try:
            out = _run_pass(html, self.sanitizer, self.handlers, self._san_memo)
            if self.sanitizer is not None and _needs_final_pass(
                out, self._final_gate_re
            ):
                out = _final_pass(out, self.sanitizer)
        finally:
            with _GC_PAUSE_LOCK:
                _GC_PAUSE_DEPTH -= 1
                if _GC_PAUSE_DEPTH == 0 and _GC_PAUSE_REENABLE:
                    gc.enable()
        return out


def _needs_final_pass(out: str, gate_re) -> bool:
    """The second parse (reference rewriter.rs:323-354) only (a) removes
    escapeworthy elements the config disallows and (b) drops incomplete
    trailing tokens; when neither can apply the pass is an identity and
    is skipped (the reference always re-parses — pure overhead we avoid).
    ``gate_re`` matches only the escapeworthy tags this sanitizer
    disallows (None when tagfilter is off or all nine are allowed)."""
    if gate_re is not None and gate_re.search(out):
        return True
    lt = out.rfind("<")
    return lt >= 0 and out.find(">", lt) < 0


def rewrite(html, sanitizer=_MISSING, handlers=None, options=None) -> str:
    return Rewriter(sanitizer=sanitizer, handlers=handlers, options=options).rewrite(html)


def _final_pass(html, sanitizer) -> str:
    """Final sanitization (reference rewriter.rs:323-354): re-parse and
    force-remove disallowed escapeworthy tags. All nine escapeworthy tags
    are rawtext/rcdata containers (tags.rs:193-209), so their subtrees
    hold no nested elements and no stack is needed — one lean scan. It
    lexes with the same tokenize as the first pass, so both passes split
    tags the same way; the tokens' lazy attrs are never read."""
    tokens = tk.tokenize(html)
    out: list[str] = []
    emit = out.append
    skip_until = None
    tagfilter = sanitizer.escape_tagfilter
    run_start = -1
    run_end = -1
    for tok in tokens:
        kind = tok.kind
        if kind == tk.START_TAG:
            if skip_until is not None:
                continue
            name = tok.name
            if (
                tagfilter
                and name in ESCAPEWORTHY_TAGS
                and not sanitizer.allow_element(name)
            ):
                if not (tok.self_closing or name in VOID_TAGS):
                    skip_until = name
                continue
        elif kind == tk.END_TAG:
            if skip_until is not None:
                if tok.name == skip_until:
                    skip_until = None
                continue
        else:  # TEXT / COMMENT / DOCTYPE pass through raw
            if skip_until is not None:
                continue
        if tok.start == run_end:
            run_end = tok.end
        else:
            if run_start >= 0:
                emit(html[run_start:run_end])
            run_start = tok.start
            run_end = tok.end
    if run_start >= 0:
        emit(html[run_start:run_end])
    return "".join(out)


# chunk size (tokens) for the LAZY re-lex after a merged CDATA repair
# (ADVICE r5 medium): a full tokenize(html, start=cd_end) per repaired
# construct is O(n^2) on adversarial '<![CDATA[>]]>'-runs (measured
# 12.9s at 52KB pre-fix). Chunked, each repair discards at most one
# partial chunk of lookahead, so total lexing work stays O(n * chunk /
# construct_len) — linear with a small constant.
_RELEX_CHUNK = 64


def _cdata_extent(html: str, tok) -> tuple:
    """[start, end) extent of the CDATA construct whose bogus-comment
    token is ``tok`` (caller has verified the '<![CDATA[' prefix and an
    open svg/math subtree). Data containing '>' is repaired by scanning
    to the literal ']]>' terminator (lol-html's stateful lexing; the
    context-free pass ended the bogus comment at the first '>').
    Returns (end, merged) — end is None when the construct is
    unterminated at EOF (bogus-comment lexing stands)."""
    if tok.end - tok.start >= 12 and html.startswith(
        "]]>", tok.end - 3, tok.end
    ):
        return tok.end, False
    e = html.find("]]>", tok.start + 9)
    if e < 0:
        return None, False
    return e + 3, True


# cross-document _sanitize_element memo cap (r6): ~50k distinct raw tag
# slices is far beyond any real page's tag vocabulary; clearing (not
# evicting) keeps the overflow path one branch
_SAN_MEMO_CAP = 50_000


def _run_pass(html, sanitizer, handlers, san_memo) -> str:
    """The one streaming pass: the sanitizer and every handler act on
    each token as it is lexed (reference rewriter.rs:284-294).

    Open-stack entries are lists ``[name, suppressing, end, after]``. A
    start tag that no handler can see takes a LIGHT branch and pushes a
    plain entry whose ``end`` is True (emit the end tag raw) or False
    (drop it) and whose ``after`` is a string to emit after the end tag
    (or None). Every other start tag builds a _Node, which is its own
    entry with ``end`` None: its end tag takes the full node path. Two
    cases are light:

    * sanitize-only passes (no handlers): every start tag, with the
      _sanitize_element outcome memoized in ``san_memo`` (the Rewriter's
      cross-document dict) on the raw tag slice;
    * sanitizer-free passes whose selectors are all tag-prefiltered: tags
      outside the union of required tags (fast-skip; the entry is an
      _InertNode so the ancestor matcher can read it).

    Sanitizer+handler passes build a _Node for every tag, because
    ancestor selectors read post-sanitize attributes."""
    # hot-lexer tokens carry lazy attrs without spans;
    # attribute_source_location re-parses its own tag with the general
    # scanner on the rare access (Element facade)
    tokens = tk.tokenize(html)
    out: list[str] = []
    emit = out.append
    stack: list[list] = []        # matching stack (implicit pops)
    # open-element name counts: O(1) orphan-end-tag rejection (a flood
    # of unmatched end tags over a deep stack would otherwise scan the
    # whole stack per tag — an adversarial quadratic)
    open_counts: dict = {}
    ruby_stack: list[str] = []    # Selma-style ancestors (handler passes)
    suppress = 0
    # handler_idx -> count of OPEN elements whose text selector matched:
    # maintained on push/pop so text tokens read the active set O(1)
    # instead of re-scanning the open stack per chunk
    tactive_counts: dict = {}
    drop_comments = sanitizer is not None and not sanitizer.allow_comments
    drop_doctype = sanitizer is not None and not sanitizer.allow_doctype

    # contiguous untouched tokens are emitted as ONE source slice
    run_start = -1
    run_end = -1

    def keep(start, end):
        nonlocal run_start, run_end
        if start == run_end:
            run_end = end
        else:
            if run_start >= 0:
                emit(html[run_start:run_end])
            run_start = start
            run_end = end

    def flush():
        nonlocal run_start, run_end
        if run_start >= 0:
            emit(html[run_start:run_end])
            run_start = -1
            run_end = -1

    sanitize_only = not handlers
    if sanitize_only:
        # inlined action_for: one dict .get per start tag instead of a
        # method call + try/except frame (r6; None is a stored value
        # meaning "allowed", so the unknown-tag default only fires on
        # missing keys)
        action_get = sanitizer._actions.get
        unknown_action = sanitizer._actions["unknown"]
        if len(san_memo) > _SAN_MEMO_CAP:
            san_memo.clear()
    else:
        # shared per-pass byte-offset cursor for
        # attribute_source_location (incremental prefix encodes — see
        # _Node._byte_cursor)
        byte_cursor = [None, 0, 0]
        # flattened per-handler dispatch specs: selector/flag attribute
        # chains resolved ONCE per pass instead of per element per
        # handler (~9 attribute loads saved per start tag)
        hspecs = [
            (
                h_idx,
                h.obj.handle_element if h.has_element else None,
                h.obj.on_end_tag if h.has_end_tag else None,
                sel.required_tags if (sel := h.selector.element_selector) is not None else None,
                sel.prefilter_complete if sel is not None else False,
                sel.matches if sel is not None else None,
                tsel.required_tags if (tsel := h.selector.text_selector) is not None else None,
                tsel.prefilter_complete if tsel is not None else False,
                tsel.matches if tsel is not None else None,
            )
            for h_idx, h in enumerate(handlers)
        ]
        # fast-skip dispatch: when the pass has NO sanitizer and EVERY
        # handler selector (element and text) is tag-prefiltered, a
        # start tag whose name is outside the union of required tags can
        # match nothing — push an inert light entry and skip the _Node +
        # handler loop entirely. A handler CAN rename an element into the
        # union, but only an element some selector matched can be
        # renamed, and those always take the full path, so the skip is
        # sound.
        fast_skip = None
        if sanitizer is None:
            req_union: set | None = set()
            for h in handlers:
                for sel in (h.selector.element_selector,
                            h.selector.text_selector):
                    if sel is None:
                        continue
                    if sel.required_tags is None:
                        req_union = None
                        break
                    req_union |= sel.required_tags
                if req_union is None:
                    break
            fast_skip = req_union

    ntok = len(tokens)
    ti = 0
    # lazy re-lex state after a merged CDATA repair (see _RELEX_CHUNK)
    lex_pos = None
    n_html = len(html)
    # hoist kind constants: 2-3 module-attr lookups per token otherwise
    TEXT, START_TAG, END_TAG = tk.TEXT, tk.START_TAG, tk.END_TAG
    COMMENT = tk.COMMENT
    while True:
        if ti >= ntok:
            if lex_pos is None or lex_pos >= n_html:
                break
            tokens, lex_pos = tk.tokenize(
                html, start=lex_pos, limit=_RELEX_CHUNK
            )
            # keep contiguous TEXT runs whole across chunk boundaries:
            # the TEXT branch coalesces lookahead TEXT tokens into ONE
            # TextChunk, and a boundary inside a run would split what
            # handlers observe (each extension step lexes >= 1 token,
            # so this terminates)
            while (
                lex_pos < n_html
                and tokens
                and tokens[-1].kind == TEXT
                and tokens[-1].end == lex_pos
            ):
                more, lex_pos = tk.tokenize(html, start=lex_pos, limit=1)
                tokens.extend(more)
            ntok = len(tokens)
            ti = 0
            continue
        tok = tokens[ti]
        ti += 1
        kind = tok.kind

        if kind == TEXT:
            if tactive_counts:
                # coalesce CONTIGUOUS text tokens (stray "<" fragments)
                # into one chunk. Contiguity must be checked: a dropped
                # construct ("</>") between two text tokens leaves a
                # source gap, and a blind start..end slice would
                # resurrect the dropped bytes (caught by differential
                # fuzz). With no text handler active the run merge
                # below joins contiguous tokens anyway.
                t_end = tok.end
                while (
                    ti < ntok
                    and tokens[ti].kind == TEXT
                    and tokens[ti].start == t_end
                ):
                    t_end = tokens[ti].end
                    ti += 1
                chunk = TextChunk(html[tok.start:t_end], tok.text_type)
                dispatched = False
                for h_idx in sorted(tactive_counts):
                    h = handlers[h_idx]
                    ignore = h.selector.ignore_text_within
                    if ignore and any(
                        name in ignore for name in ruby_stack
                    ):
                        continue
                    if chunk.content == "":
                        continue  # empty-chunk suppression (rewriter.rs:531-537)
                    if not h.has_text:
                        raise RewriteError(
                            "handler with match_text_within must define "
                            "handle_text_chunk"
                        )
                    h.obj.handle_text_chunk(chunk)
                    dispatched = True
                if suppress == 0:
                    if dispatched or chunk.before_parts or chunk.after_parts:
                        flush()
                        for p in chunk.before_parts:
                            emit(p)
                        if not chunk.removed:
                            emit(chunk.content)
                        for p in chunk.after_parts:
                            emit(p)
                    else:
                        keep(tok.start, t_end)
                continue
            if suppress == 0:
                # keep() inlined on the three hottest branches (TEXT and
                # the attr-less/inert light start tags, r6): the closure
                # call alone is ~70ns against a ~1.2us/token budget
                if tok.start == run_end:
                    run_end = tok.end
                else:
                    if run_start >= 0:
                        emit(html[run_start:run_end])
                    run_start = tok.start
                    run_end = tok.end
            continue

        if kind == START_TAG:
            name = tok.name
            if sanitize_only:
                action = action_get(name, unknown_action)
                no_end = name in VOID_TAGS or tok.self_closing

                # attr-less test WITHOUT forcing lazy extraction (r6): a
                # non-None _ablob means the hot lexer validated a
                # non-empty attribute blob, so the tag HAS attrs — reading
                # tok.attrs here would extract them even when the
                # san_memo lookup below hits (where they are unused)
                if action is None and tok._ablob is None and not tok._attrs \
                        and name != "iframe":
                    # kept, untouched: raw passthrough (the common case)
                    if suppress == 0:
                        if tok.start == run_end:
                            run_end = tok.end
                        else:
                            if run_start >= 0:
                                emit(html[run_start:run_end])
                            run_start = tok.start
                            run_end = tok.end
                    if not no_end:
                        open_counts[name] = open_counts.get(name, 0) + 1
                        stack.append([name, False, True, None])
                    continue

                if action is not None:
                    remove_contents, wrap_ws = action
                    if remove_contents:
                        if no_end:
                            continue  # tag dropped, nothing to suppress
                        open_counts[name] = open_counts.get(name, 0) + 1
                        stack.append([name, True, False, None])
                        suppress += 1
                    else:
                        if wrap_ws and suppress == 0:
                            flush()
                            emit(" ")  # before (void: the single space)
                        if not no_end:
                            open_counts[name] = open_counts.get(name, 0) + 1
                            stack.append(
                                [name, False, False, " " if wrap_ws else None]
                            )
                    continue

                # kept element with attributes (or iframe).
                # _sanitize_element is a pure function of (raw tag bytes,
                # frozen config) — no positional or stack state — so its
                # OUTCOME is memoized on the raw slice (r5): web corpora
                # repeat start tags massively, and a hit skips attr
                # extraction + unescape/allowlist/protocol checks +
                # re-serialization entirely. Three outcomes: "content"
                # (force-removed, suppress subtree), "keep" (raw
                # passthrough — includes canonical-rebuild == source),
                # ("emit", s, inner) (re-serialized, optional inner
                # replacement).
                raw = html[tok.start:tok.end]
                hit = san_memo.get(raw)
                if hit is None:
                    node = _Node(tok)
                    _sanitize_element(sanitizer, node)
                    if node.removed_mode == "content":
                        hit = ("content", None, None)
                    elif node.modified or node.inner_content is not None:
                        s = node.serialize_start()
                        if node.inner_content is None and s == raw:
                            # canonical rebuild == source bytes (already
                            # double-quoted, lowercase, single-spaced):
                            # keep the raw run contiguous, no flush
                            hit = ("keep", None, None)
                        else:
                            hit = ("emit", s, node.inner_content)
                    else:
                        hit = ("keep", None, None)
                    san_memo[raw] = hit
                mode, s, inner = hit
                if mode == "content":  # force-removed via <!-- attr
                    if not no_end:
                        open_counts[name] = open_counts.get(name, 0) + 1
                        stack.append([name, True, False, None])
                        suppress += 1
                    continue
                if suppress == 0:
                    if mode == "keep":
                        keep(tok.start, tok.end)
                    else:
                        flush()
                        emit(s)
                        if inner is not None and not no_end:
                            emit(inner)
                if not no_end:
                    open_counts[name] = open_counts.get(name, 0) + 1
                    if inner is not None:  # replaced content: suppress
                        stack.append([name, True, True, None])
                        suppress += 1
                    else:
                        stack.append([name, False, True, None])
                continue

            void = name in VOID_TAGS
            if fast_skip is not None and name not in fast_skip:
                # inert: emit verbatim, maintain the open stacks only
                if suppress == 0:
                    if tok.start == run_end:
                        run_end = tok.end
                    else:
                        if run_start >= 0:
                            emit(html[run_start:run_end])
                        run_start = tok.start
                        run_end = tok.end
                if not (void or tok.self_closing):
                    open_counts[name] = open_counts.get(name, 0) + 1
                    stack.append(_InertNode((name, False, True, None, tok)))
                if not void:
                    ruby_stack.append(name)
                continue

            node = _Node(tok, byte_cursor)
            if sanitizer is not None:
                _sanitize_element(sanitizer, node)

            for (h_idx, helem, hend, ereq, ecomp, ematch,
                 treq, tcomp, tmatch) in hspecs:
                if ematch is not None and (
                    ereq is None
                    # node.tag_name read per handler: an earlier
                    # handler's rename is visible to later matches
                    or node.tag_name in ereq
                ) and (ecomp or ematch(node, stack)):
                    if hend is not None and not void:
                        if node.end_tag_handlers is None:
                            node.end_tag_handlers = []
                        node.end_tag_handlers.append(hend)
                    if helem is not None:
                        try:
                            # ruby_stack is passed LIVE (it holds exactly
                            # this element's ancestors during dispatch);
                            # Element.ancestors copies on access, so no
                            # per-element snapshot — like the reference,
                            # an Element is only valid inside its callback
                            helem(Element(node, ruby_stack))
                        except RewriteError:
                            raise
                        except Exception as exc:
                            raise RewriteError(str(exc)) from exc
                if tmatch is not None and (
                    treq is None or node.tag_name in treq
                ) and (tcomp or tmatch(node, stack)):
                    if node.text_active is None:
                        node.text_active = set()
                    node.text_active.add(h_idx)

            no_end_tag = void or node.explicit_self_closing
            emit_ok = suppress == 0

            if emit_ok and node.before_parts:
                flush()
                for p in node.before_parts:
                    emit(p)
            mode = node.removed_mode
            if mode is None:
                if emit_ok:
                    if node.modified or node.renamed:
                        flush()
                        emit(node.serialize_start())
                    else:
                        keep(tok.start, tok.end)
                    if node.prepend_parts:
                        flush()
                        for p in node.prepend_parts:
                            emit(p)
                    if node.inner_content is not None and not no_end_tag:
                        flush()
                        emit(node.inner_content)
                if node.inner_content is not None and not no_end_tag:
                    node[1] = True  # suppressing
                    suppress += 1
            elif mode == "content":
                if not no_end_tag:
                    node[1] = True
                    suppress += 1
            # mode == "unwrap": tag dropped, content flows

            if no_end_tag:
                if emit_ok and node.after_parts:
                    flush()
                    for p in node.after_parts:
                        emit(p)
            else:
                open_counts[name] = open_counts.get(name, 0) + 1
                stack.append(node)
                if node.text_active:
                    for i in node.text_active:
                        tactive_counts[i] = tactive_counts.get(i, 0) + 1

            if not void:
                ruby_stack.append(name)
            continue

        if kind == END_TAG:
            name = tok.name
            if not open_counts.get(name):
                if suppress == 0:
                    keep(tok.start, tok.end)  # orphan end tag verbatim
                continue
            # find innermost open entry with this (original) name
            top = len(stack) - 1
            for k in range(top, -1, -1):
                if stack[k][0] == name:
                    idx = k
                    break
            if idx != top:
                # implicit closes above the match: no end-tag events fire
                for entry in stack[idx + 1 :]:
                    if entry[1]:
                        suppress -= 1
                    open_counts[entry[0]] -= 1
                    if (tactive_counts and entry[2] is None
                            and entry.text_active):
                        for i in entry.text_active:
                            c = tactive_counts[i] - 1
                            if c:
                                tactive_counts[i] = c
                            else:
                                del tactive_counts[i]
            closing = stack[idx]
            open_counts[name] -= 1
            del stack[idx:]
            if closing[1]:
                suppress -= 1
            end = closing[2]
            if end is not None:
                # light entry: no handler saw the element
                if ruby_stack:
                    ruby_stack.pop()
                if suppress == 0:
                    if end:
                        keep(tok.start, tok.end)
                    if closing[3] is not None:
                        flush()
                        emit(closing[3])
                continue

            if closing.text_active:
                for i in closing.text_active:
                    c = tactive_counts[i] - 1
                    if c:
                        tactive_counts[i] = c
                    else:
                        del tactive_counts[i]
            if closing.end_tag_handlers:
                facade = EndTag(closing.tag_name, closing)
                for cb in closing.end_tag_handlers:
                    try:
                        cb(facade)
                    except RewriteError:
                        raise
                    except Exception as exc:
                        raise RewriteError(str(exc)) from exc
            if ruby_stack:
                # Selma's per-handler stack pops its TOP entry whenever an
                # element's own end tag fires (rewriter.rs:423-428)
                ruby_stack.pop()

            if suppress == 0:
                mode = closing.removed_mode
                if mode is None and not closing.end_removed:
                    if closing.append_parts:
                        flush()
                        for p in closing.append_parts:
                            emit(p)
                    if closing.renamed:
                        flush()
                        emit(f"</{closing.tag_name}>")
                    else:
                        keep(tok.start, tok.end)
                elif mode == "unwrap":
                    if closing.append_parts:
                        flush()
                        for p in closing.append_parts:
                            emit(p)
                if closing.after_parts:
                    flush()
                    for p in closing.after_parts:
                        emit(p)
            continue

        if kind == COMMENT:
            # CDATA sections in foreign content (reference
            # text_chunk.rs:63-70): the context-free tokenizer lexes
            # <![CDATA[..]]> as a bogus comment, but inside an OPEN
            # svg/math subtree it is CHARACTER DATA — never subject to
            # comment semantics, dispatched to active text handlers as a
            # ``cdata_section`` chunk with delimiters preserved. Since
            # r5 the construct's EXTENT is repaired when its data
            # contains '>' (merge to the literal ']]>' + re-lex the rest
            # of the document — lol-html's stateful scan), and the
            # semantics hold whether or not any handler listens: lexing
            # must not depend on handler presence (a 160k-case identity
            # fuzz caught exactly that coupling). Only EOF-unterminated
            # CDATA keeps bogus-comment lexing (DIVERGENCES.md #1).
            if (
                (open_counts.get("svg") or open_counts.get("math"))
                and tok.end - tok.start >= 10
                and html.startswith("<![CDATA[", tok.start, tok.end)
            ):
                cd_end, merged = _cdata_extent(html, tok)
                if cd_end is not None:
                    if merged:
                        # drop the stale lookahead; the refill at the
                        # loop top re-lexes lazily from cd_end
                        tokens = ()
                        ntok = 0
                        ti = 0
                        lex_pos = cd_end
                    content = html[tok.start + 9 : cd_end - 3]
                    chunk = None
                    if content and tactive_counts:
                        chunk = TextChunk(content, TEXT_TYPE_CDATA)
                        dispatched = False
                        for h_idx in sorted(tactive_counts):
                            h = handlers[h_idx]
                            ignore = h.selector.ignore_text_within
                            if ignore and any(
                                name in ignore for name in ruby_stack
                            ):
                                continue
                            if not h.has_text:
                                raise RewriteError(
                                    "handler with match_text_within must "
                                    "define handle_text_chunk"
                                )
                            h.obj.handle_text_chunk(chunk)
                            dispatched = True
                        if not (
                            dispatched
                            or chunk.before_parts
                            or chunk.after_parts
                        ):
                            chunk = None  # untouched: verbatim below
                    if suppress == 0:
                        if chunk is None:
                            # character data with no interested handler
                            # (or empty shell): verbatim passthrough
                            keep(tok.start, cd_end)
                        else:
                            flush()
                            emit("<![CDATA[")
                            for p in chunk.before_parts:
                                emit(p)
                            if not chunk.removed:
                                emit(chunk.content)
                            for p in chunk.after_parts:
                                emit(p)
                            emit("]]>")
                    continue
            if not drop_comments and suppress == 0:
                keep(tok.start, tok.end)
            continue

        # DOCTYPE
        if not drop_doctype and suppress == 0:
            keep(tok.start, tok.end)

    flush()
    return "".join(out)


def _sanitize_element(sanitizer: Sanitizer, node: _Node) -> None:
    """Per-element sanitizer step (reference: the element!("*") handler at
    rewriter.rs:284-294 -> try_remove_element + sanitize_attributes)."""
    name = node.tag_name
    action = sanitizer.action_for(name)
    if not node.removed and action is not None:
        remove_contents, wrap_ws = action
        if remove_contents:
            node.removed_mode = "content"
        else:
            if wrap_ws:
                if node.void or node.explicit_self_closing:
                    node.add_part("after_parts", " ")
                else:
                    node.add_part("before_parts", " ")
                    node.add_part("after_parts", " ")
            node.removed_mode = "unwrap"
        return

    # kept element: iframe contents are always emptied (sanitizer.rs:647-654)
    if name == "iframe":
        node.inner_content = " " if sanitizer.element_flags(name) != 0 else ""

    # attr-less fast path: skip the node.attrs materialization entirely
    # (sanitize runs before handlers, so _attrs cannot exist yet)
    if not node._tok_attrs:
        return
    attrs = node.attrs
    if not attrs:
        return

    is_meta = name == "meta"
    for entry in list(attrs):
        attr_name, attr_val, has_value = entry
        if attr_name.startswith("<!--"):
            # <!-- smuggled inside a tag: drop the whole element
            # (sanitizer.rs:418-425)
            node.removed_mode = "content"
            return
        trimmed = attr_val.lstrip()
        unescaped = unescape_html(trimmed)
        if not sanitizer.should_keep_attribute(name, attr_name, unescaped):
            attrs.remove(entry)
            node.modified = True
        else:
            if is_meta:
                if attr_name == "charset" and unescaped != "utf-8":
                    entry[1] = "utf-8"
                    node.modified = True
            elif unescaped:
                if attr_name == "href":
                    new_val = escape_href(unescaped)
                else:
                    new_val = escape_html(unescaped)
                # set_attribute parity: the reference sets every kept
                # non-empty attr, which re-serializes the whole tag in
                # canonical form (lowercase names, double quotes) even
                # when the value bytes are unchanged — pinned by the
                # single-quote normalization test
                entry[1] = new_val
                entry[2] = True
                node.modified = True
