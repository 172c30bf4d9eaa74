"""Property-based tests (hypothesis): robustness and security invariants
the golden corpus can't enumerate."""

from hypothesis import given, settings
from hypothesis import strategies as st

from selma_spark import sanitizer as S
from selma_spark.rewriter import Rewriter
from selma_spark.tags import ESCAPEWORTHY_TAGS
from selma_spark.tokenizer import START_TAG, tokenize

# text without surrogates (not valid in interchange)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)

_fragments = st.lists(
    st.sampled_from([
        "<div>", "</div>", "<b class='x'>", "</b>", "text ",
        '<img src="http://a/b">', "<script>alert(1)</script>", "<",
        ">", "<iframe>", "</iframe>", "<!-- c -->", "<!DOCTYPE html>",
        "<br/>", "<style>.a{}</style>", "&amp;", "<title>t</title>",
        "<foo bar>", "</foo>", "1 < 2", "<p id=a>", "</p>",
        '<a href=" javascript:x">', "<plaintext>", "<xmp>y</xmp>",
        "<span>", "</span>", "<b ", 'attr="v">', "<meta charset='x'>",
        "</>", "</ x>", "<?pi?>", "<![CDATA[q]]>", "é中文",
    ]),
    max_size=20,
).map("".join)


@given(_text)
@settings(max_examples=300, deadline=None)
def test_never_crashes_on_arbitrary_text(s):
    for cfg in (S.DEFAULT, S.RELAXED):
        out = Rewriter(sanitizer=cfg).rewrite(s)
        assert isinstance(out, str)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_escapeworthy_elements_never_survive_default(html):
    """The GHSA-class invariant: under DEFAULT no escapeworthy element
    token exists in the output, no matter how malformed the input
    (including tags materialized by stray-'<' text merging)."""
    out = Rewriter(sanitizer=S.DEFAULT).rewrite(html)
    for tok in tokenize(out):
        if tok.kind == START_TAG:
            assert tok.name not in ESCAPEWORTHY_TAGS, (html, out)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_disallowed_script_never_survives_relaxed(html):
    out = Rewriter(sanitizer=S.RELAXED).rewrite(html)
    for tok in tokenize(out):
        if tok.kind == START_TAG:
            # RELAXED allows style/title; script and iframe-of-doom do
            # not get through
            assert tok.name not in ("script", "plaintext", "xmp",
                                    "noembed", "noframes"), (html, out)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_tokenizer_is_lossless_modulo_dropped_constructs(html):
    """Raw slices must reassemble the input exactly, except for tokenizer-
    dropped constructs: incomplete tags at EOF, '</>', and lone '<' at
    EOF. We verify the reassembly is a prefix + the dropped tail."""
    toks = tokenize(html)
    # token ranges are in order and non-overlapping; every GAP between
    # consecutive tokens (and any dropped tail) is a dropped construct,
    # which always begins with '<' ("</>" or an incomplete tag at EOF)
    pos = 0
    for t in toks:
        assert t.start >= pos, (html, t)
        gap = html[pos:t.start]
        assert gap == "" or gap.startswith("<"), (html, gap)
        assert t.raw == html[t.start:t.end]
        pos = t.end
    tail = html[pos:]
    assert tail == "" or tail.startswith("<"), (html, tail)


_attr_soup = st.lists(
    st.sampled_from([
        "<a", " x", " x=", " x= ", ' x="v"', " x='v'", " x=v", ' x="v',
        " x=\t", " y=2", " /", "  ", ">", "/>", " >", " />", "text",
        "<b x=1 y=2>", "</b>", "='q'", '"', "'",
    ]),
    max_size=12,
).map("".join)


@given(_attr_soup)
@settings(max_examples=500, deadline=None)
def test_batch_attr_path_agrees_with_span_path(html):
    """Every start tag tokenize yields, whether the hot match (lazy
    batch attrs) or the general scanner lexed it, must re-parse with
    the general scanner (_parse_start_tag, eager attrs with spans) to
    the same end, name, self_closing and attrs on ANY input — this
    differential caught the ws-after-equals fast-path divergence."""
    from selma_spark import tokenizer as tk

    def sig(t):
        return (t.end, t.name, t.self_closing,
                [(a.name, a.raw_name, a.value, a.has_value)
                 for a in t.attrs])

    for tok in tokenize(html):
        if tok.kind == START_TAG:
            retok, end = tk._parse_start_tag(html, tok.start)
            assert end == retok.end
            assert sig(tok) == sig(retok), (html, tok)


class _NeverMatches:
    """Sends every start tag down the _Node branch without mutating."""

    def selector(self):
        from selma_spark.selector import Selector

        return Selector(match_element="q.__nope__")

    def handle_element(self, element):  # pragma: no cover
        raise AssertionError("selector must never match")


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_sanitize_light_branch_equals_node_branch(html):
    """A sanitize-only rewrite sends every start tag down the light
    branch (memoized _sanitize_element outcome, plain stack entries); a
    never-matching handler sends every tag down the _Node branch. The
    two are the same sanitize semantics — outputs must be byte-identical
    on any input, under every built-in config that differs in shape."""
    for cfg in (S.DEFAULT, S.BASIC, S.RELAXED):
        light = Rewriter(sanitizer=cfg).rewrite(html)
        node = Rewriter(sanitizer=cfg, handlers=[_NeverMatches()]).rewrite(html)
        assert light == node, (html, light, node)


class _Universal:
    """A no-op universal element handler: its required_tags is None, so
    its PRESENCE disables the inert fast-skip dispatch without changing
    any output — the perfect differential switch for that path."""

    def selector(self):
        from selma_spark.selector import Selector

        return Selector(match_element="*")

    def handle_element(self, element):
        pass


def _mutating_handlers(log):
    from selma_spark.selector import Selector

    class BAttr:
        def selector(self):
            return Selector(match_element="b")

        def handle_element(self, el):
            el.set_attribute("data-x", "1")

    class DivText:
        def selector(self):
            return Selector(match_text_within="div",
                            ignore_text_within=["xmp"])

        def handle_text_chunk(self, chunk):
            log.append(chunk.content)

    class PEnd:
        def selector(self):
            return Selector(match_element="p")

        def handle_element(self, el):
            pass

        def on_end_tag(self, end):
            log.append(f"</{end.tag_name}>")

    return [BAttr(), DivText(), PEnd()]


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_fast_skip_dispatch_is_invisible(html):
    """Handlers-only passes take the inert fast-skip path for start tags
    outside the required-tag union (r4). Adding a no-op universal
    handler disables that path entirely; output AND handler side
    effects must be byte-identical either way on ANY input."""
    log_fast, log_slow = [], []
    fast = Rewriter(
        sanitizer=None, handlers=_mutating_handlers(log_fast)
    ).rewrite(html)
    slow = Rewriter(
        sanitizer=None,
        handlers=_mutating_handlers(log_slow) + [_Universal()],
    ).rewrite(html)
    assert fast == slow, (html, fast, slow)
    assert log_fast == log_slow, (html, log_fast, log_slow)


def test_orphan_end_tag_flood_is_linear():
    """Adversarial input: a deep open stack followed by a flood of
    UNMATCHED end tags. Each orphan must be rejected O(1) via the
    open-name counts (a per-orphan stack scan is quadratic). Guarded
    RELATIVELY against a matched-tags baseline of the same token count —
    an absolute wall-clock bound flakes under this VM's ±2x scheduling
    noise (ADVICE r2) — with a generous 8x band: the quadratic failure
    mode is ~1000x, not single-digit."""
    import time

    from selma_spark import sanitizer as S
    from selma_spark.rewriter import Rewriter

    orphan = "<b>" * 20000 + "</i>" * 20000
    matched = "<b>" * 20000 + "</b>" * 20000
    for cfg, handlers in ((S.RELAXED, []), (None, [_NeverMatches()])):
        r = Rewriter(sanitizer=cfg, handlers=handlers)
        t0 = time.perf_counter()
        r.rewrite(matched)
        baseline = time.perf_counter() - t0
        t0 = time.perf_counter()
        out = r.rewrite(orphan)
        orphan_t = time.perf_counter() - t0
        assert orphan_t < max(8 * baseline, 0.5), (orphan_t, baseline)
        # orphan end tags still pass through verbatim where allowed
        if cfg is None:
            assert out.count("</i>") == 20000


def test_dropped_empty_end_tag_never_resurrects():
    """'</>' is dropped by the tokenizer; neither the light branch's run
    merge nor the node branch's text coalescing may slice across the gap
    and re-emit it (caught by the 50k-case differential fuzz)."""
    for html in ('a</>b', 'x</></>y', '1 < 2</>tail', "<b>t</>u</b>"):
        for cfg in (S.DEFAULT, S.RELAXED):
            light = Rewriter(sanitizer=cfg).rewrite(html)
            node = Rewriter(sanitizer=cfg, handlers=[_NeverMatches()]).rewrite(html)
            assert light == node, (html, light, node)
            assert "</>" not in light


def test_rewriter_sanitize_memo(monkeypatch):
    """The _sanitize_element outcome memo lives on the Rewriter and is
    keyed on raw tag slices: a repeat document adds no entries and
    rewrites identically; the memo clears once it passes its cap; a
    pass with handlers never writes to it."""
    import selma_spark.rewriter as R

    html = (
        '<p class="a">x</p><a href="http://e.example/x" title=t>y</a>'
        "<img src=/i.png alt=z><b>plain</b>"
    )
    r = Rewriter(sanitizer=S.RELAXED)
    first = r.rewrite(html)
    n = len(r._san_memo)
    assert n == 3  # the three tags with attributes
    assert r.rewrite(html) == first
    assert len(r._san_memo) == n

    monkeypatch.setattr(R, "_SAN_MEMO_CAP", n - 1)
    other = "<b id=q>z</b>"
    assert r.rewrite(other) == Rewriter(sanitizer=S.RELAXED).rewrite(other)
    assert list(r._san_memo) == ["<b id=q>"]

    h = Rewriter(sanitizer=S.RELAXED, handlers=[_NeverMatches()])
    assert h.rewrite(html) == first
    assert h._san_memo == {}


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_text_within_scoping_matches_independent_model(data):
    """Differential guard for the incremental text-active bookkeeping
    (tactive counts maintained on push/pop): on WELL-FORMED nesting the
    set of dispatched text chunks must equal a trivially-correct
    independent model (text is dispatched iff some open ancestor is a
    <div> and no open ancestor is a <b>). Exercises deep nesting,
    interleaved scopes, and repeated open/close of the matching tag."""
    from selma_spark.selector import Selector

    tags = ("div", "b", "i", "span", "p", "section")
    parts = []
    model_stack = []
    expected = []
    counter = [0]
    # adjacent text emissions coalesce into ONE chunk in the rewriter
    # (same open stack, so same scope decision) — mirror that here
    last = [None]  # None | True (last part was in-scope text) | False

    def emit_text():
        counter[0] += 1
        s = f"t{counter[0]} "
        in_scope = any(t == "div" for t in model_stack) and not any(
            t == "b" for t in model_stack
        )
        if last[0] is None:
            parts.append(s)
            if in_scope:
                expected.append(s)
        else:
            parts[-1] += s
            if in_scope:  # same stack as the previous text => same scope
                expected[-1] += s
        last[0] = in_scope

    def open_tag(tag):
        parts.append(f"<{tag}>")
        model_stack.append(tag)
        last[0] = None

    def close_tag(tag):
        model_stack.pop()
        parts.append(f"</{tag}>")
        last[0] = None

    def gen(depth):
        for _ in range(data.draw(st.integers(0, 3))):
            if data.draw(st.booleans()):
                emit_text()
            if depth < 5 and data.draw(st.booleans()):
                tag = data.draw(st.sampled_from(tags))
                open_tag(tag)
                gen(depth + 1)
                close_tag(tag)
                if data.draw(st.booleans()):
                    emit_text()

    gen(0)
    html = "".join(parts)

    class Collector:
        SELECTOR = Selector(
            match_element=None,
            match_text_within="div",
            ignore_text_within=("b",),
        )

        def __init__(self):
            self.chunks = []

        def selector(self):
            return self.SELECTOR

        def handle_text_chunk(self, chunk):
            self.chunks.append(chunk.to_s())

    col = Collector()
    Rewriter(sanitizer=None, handlers=[col]).rewrite(html)
    assert col.chunks == expected, (html, col.chunks, expected)


@given(_fragments)
@settings(max_examples=400, deadline=None)
def test_hot_lexer_agrees_with_cold_dispatch(html):
    """r5 hot-path lexer differential: the combined text+tag regex
    (tokenizer._HOT) must produce token streams identical to the cold
    find/branch/match dispatch — kinds, boundaries, names, self_closing,
    text types, AND extracted attrs (120k-case bulk fuzz ran clean at
    introduction; this pins it in CI)."""
    from selma_spark import tokenizer as tk

    class _NoHot:
        @staticmethod
        def match(s, i):
            return None

    real = tk._HOT
    try:
        hot = tk.tokenize(html)
        tk._HOT = _NoHot
        cold = tk.tokenize(html)
    finally:
        tk._HOT = real
    assert len(hot) == len(cold), (html, len(hot), len(cold))
    for t1, t2 in zip(hot, cold):
        assert (
            t1.kind, t1.start, t1.end, t1.name,
            t1.self_closing, t1.text_type,
        ) == (
            t2.kind, t2.start, t2.end, t2.name,
            t2.self_closing, t2.text_type,
        ), (html, t1, t2)
        a1 = [(a.name, a.raw_name, a.value, a.has_value)
              for a in (t1.attrs or [])]
        a2 = [(a.name, a.raw_name, a.value, a.has_value)
              for a in (t2.attrs or [])]
        assert a1 == a2, (html, a1, a2)


@given(_fragments)
@settings(max_examples=200, deadline=None)
def test_chunked_tokenize_matches_one_shot(s):
    """r6: tokenize(limit=...) resumability — driving the lexer in
    small chunks from the returned resume positions must reproduce the
    one-shot token stream byte-for-byte (kinds, spans, names). This is
    what the lazy CDATA-repair re-lex relies on."""
    full = tokenize(s)
    chunked = []
    pos = 0
    n = len(s)
    while pos < n:
        toks, pos = tokenize(s, start=pos, limit=2)
        chunked.extend(toks)
        if not toks and pos < n:
            raise AssertionError("no progress")
    assert len(chunked) == len(full)
    for a, b in zip(chunked, full):
        assert (a.kind, a.start, a.end, a.name, a.self_closing,
                a.text_type) == (b.kind, b.start, b.end, b.name,
                                 b.self_closing, b.text_type)
