"""Main-content extraction handlers.

The boilerplate-stripping / metadata-capture pattern the pipeline's
north rule calls for, modeled on the reference's own ContentExtractor
(reference: test/selma_maliciousness_test.rb:167-221) and TagRemover /
ContentBreaker (test/selma_maliciousness_test.rb:223-261).
"""

from __future__ import annotations

from .sanitizer import DEFAULT
from .selector import Selector
from .tags import VOID_TAGS

BOILERPLATE_TAGS = frozenset(
    ("pre", "code", "form", "style", "noscript", "script", "svg")
)

_BLOCK_TAGS = frozenset(DEFAULT["whitespace_elements"])
# br/hr are in whitespace_elements but are void: they never produce an
# end tag, so pushing a stack frame for them would leak it and desync
# text attribution. They act as separators, not block openers.
_BLOCK_OPEN_TAGS = _BLOCK_TAGS - VOID_TAGS


class ContentExtractor:
    """Strips boilerplate elements, captures <title> text and <meta>
    name/content pairs, and unwraps everything else — leaving the
    document's readable text (plus sanitizer-allowed markup if a
    sanitizer is configured upstream)."""

    SELECTOR = Selector(match_element="*", match_text_within="title")

    def __init__(self):
        self.title = ""
        self.meta: dict[str, str] = {}
        self._within_title = False

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        tag = element.tag_name
        if tag in BOILERPLATE_TAGS:
            element.remove()
        elif tag == "title":
            self._within_title = True
            element.remove()
        elif tag == "meta":
            name = element.attributes.get("name")
            if name is None:
                return
            self.meta[name] = element.attributes.get("content")
        else:
            element.remove_and_keep_content()

    def handle_text_chunk(self, text):
        if self._within_title:
            self._within_title = False
            self.title = text.to_s()


class DensityTextExtractor:
    """Boilerpipe/readability-style main-content heuristic in ONE
    streaming pass (the DOM-heuristics leg of the north rule): text is
    attributed to its innermost open block element; when a block closes,
    it is kept as main content iff it has enough text and a low enough
    link density (nav/footer/menu blocks are link-dense and short).

    No DOM is built — the open-block stack mirrors the rewriter's
    streaming model (reference rewriter.rs:411-431), so cost stays
    O(tokens) and the handler composes with sanitize in one parse."""

    SELECTOR = Selector(match_element="*", match_text_within="*")

    def __init__(self, min_text_len: int = 60, max_link_density: float = 0.4):
        self.min_text_len = min_text_len
        self.max_link_density = max_link_density
        self.reset()

    def reset(self):
        """Fresh per-document state; the compiled Rewriter dispatch that
        wraps this handler is built once per TASK and reused across
        documents (hoisting Rewriter.__init__ out of the per-doc loop)."""
        self.blocks: list[str] = []  # accepted main-content blocks
        # stack entries: [text_parts, link_chars, total_chars]
        self._stack: list[list] = [[[], 0, 0]]  # sentinel = document level
        self._anchor_depth = 0

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        tag = element.tag_name
        if tag == "a":
            self._anchor_depth += 1
        if tag in _BLOCK_OPEN_TAGS:
            self._stack.append([[], 0, 0])

    def on_end_tag(self, end_tag):
        tag = end_tag.tag_name
        if tag == "a" and self._anchor_depth > 0:
            self._anchor_depth -= 1
        if tag in _BLOCK_OPEN_TAGS and len(self._stack) > 1:
            parts, link_chars, total = self._stack.pop()
            text = "".join(parts).strip()
            if (
                len(text) >= self.min_text_len
                and total > 0
                and link_chars / total <= self.max_link_density
            ):
                self.blocks.append(text)

    def handle_text_chunk(self, chunk):
        s = chunk.to_s()
        if not s:
            return
        top = self._stack[-1]
        top[0].append(s)
        top[2] += len(s)
        if self._anchor_depth > 0:
            top[1] += len(s)

    @property
    def main_text(self) -> str:
        return "\n".join(self.blocks)


class TextBreaker:
    """Unwraps every element, appending a newline after block-level ones —
    turns HTML into newline-separated plain text (reference ContentBreaker,
    test/selma_maliciousness_test.rb:248-261)."""

    SELECTOR = Selector(match_element="*")

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        if element.tag_name in _BLOCK_TAGS and not element.removed:
            element.append("\n", as_="text")
        element.remove_and_keep_content()


class LinkCollector:
    """Collects every a[href] value — the link-graph extraction pass of
    a web pipeline, driven by the attribute-selector matcher."""

    SELECTOR = Selector(match_element="a[href]")

    def __init__(self):
        self.hrefs: list[str] = []

    def reset(self):
        self.hrefs = []

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        href = element["href"]
        if href is not None:
            self.hrefs.append(href)


class ScopedTextCollector:
    """Collects text chunks within <div> scopes while IGNORING text
    inside <b> subtrees — the match_text_within + ignore_text_within
    dispatch surface (reference lib/selma selector options;
    test/selma_rewriter_text_test.rb indirect-ancestor cases), driven
    distributed and value-oracled."""

    SELECTOR = Selector(
        match_element=None,
        match_text_within="div",
        ignore_text_within=("b",),
    )

    def __init__(self):
        self.chunks: list[str] = []

    def reset(self):
        self.chunks = []

    def selector(self):
        return self.SELECTOR

    def handle_text_chunk(self, chunk):
        self.chunks.append(chunk.to_s())


class HrefToGopher:
    """Reference benchmark handler 1 (test/benchmark/selma_config.rb:4-14):
    rewrite http(s): hrefs to gopher:. (The reference selector is the tag
    "href" — a quirk preserved there; ours targets a[href] so the handler
    actually exercises attribute rewriting.)"""

    SELECTOR = Selector(match_element="a[href]")

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        href = element["href"]
        if href and (href.startswith("http:") or href.startswith("https:")):
            element["href"] = "gopher:" + href.split(":", 1)[1]


class SpanTextDup:
    """Reference benchmark handler 2 (selma_config.rb:16-26): duplicate
    non-empty span text after the chunk as a <div>."""

    SELECTOR = Selector(match_text_within="span")

    def selector(self):
        return self.SELECTOR

    def handle_text_chunk(self, text_chunk):
        content = text_chunk.to_s()
        if content.strip():
            text_chunk.after(f"<div>{content}</div>", as_="html")


class ImgRemove:
    """Reference benchmark handler 3 (selma_config.rb:28-38): remove imgs."""

    SELECTOR = Selector(match_element="img")

    def selector(self):
        return self.SELECTOR

    def handle_element(self, element):
        element.remove()


def reference_bench_handlers():
    """The reference's rewrite-benchmark handler set
    (test/benchmark.rb:87-93 runs them with sanitizer: nil)."""
    return [HrefToGopher(), SpanTextDup(), ImgRemove()]
