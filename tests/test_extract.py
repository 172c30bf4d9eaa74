"""Content extraction + large-fixture robustness (reference:
test/selma_maliciousness_test.rb:167-276)."""

from docpages import MARKER, doc_page

from selma_spark import sanitizer as S
from selma_spark.extract import ContentExtractor, TextBreaker
from selma_spark.rewriter import Rewriter
from selma_spark.sanitizer import deep_merge


def test_content_extractor_basic():
    html = (
        "<html><head><title>My Page</title>"
        '<meta name="description" content="neat">'
        '<meta content="no-name"></head>'
        "<body><h1>Hello</h1><script>boo()</script><p>World</p></body></html>"
    )
    ex = ContentExtractor()
    out = Rewriter(sanitizer=None, handlers=[ex]).rewrite(html)
    assert ex.title == "My Page"
    assert ex.meta == {"description": "neat"}
    assert "boo()" not in out
    assert "Hello" in out and "World" in out
    assert "<h1>" not in out


def test_extractor_does_not_halt_on_real_docs_fixture():
    html = doc_page(seed=1, n_sections=40)
    cfg = deep_merge(dict(S.RELAXED), {"allow_doctype": False})
    ex = ContentExtractor()
    out = Rewriter(sanitizer=cfg, handlers=[ex]).rewrite(html)
    assert isinstance(out, str)
    assert ex.title != ""


def test_deleting_content_fixture_is_stable():
    html = doc_page(seed=2)
    cfg = deep_merge(
        dict(S.RELAXED), {"allow_comments": False, "allow_doctype": False}
    )

    class TagRemover:
        SELECTOR = None

        def selector(self):
            from selma_spark.selector import Selector

            return Selector(match_element="*")

        def handle_element(self, element):
            if element.tag_name == "pre":
                element.remove()
            elif element.tag_name in ("html", "body"):
                element.remove_and_keep_content()

    rewriter = Rewriter(sanitizer=cfg, handlers=[TagRemover(), TextBreaker()])
    first = rewriter.rewrite(html)
    for _ in range(3):
        assert rewriter.rewrite(html) == first


def test_density_extractor_rejects_link_dense_blocks():
    from selma_spark.extract import DensityTextExtractor
    from selma_spark.rewriter import Rewriter

    html = (
        "<div><a href=/1>Home</a> <a href=/2>About</a> "
        "<a href=/3>Contact us today</a> <a href=/4>More links</a></div>"
        "<div><p>This is the real article body with a considerable amount "
        "of prose that definitely exceeds the minimum text threshold.</p>"
        "<p>Second paragraph also long enough to count as main content, "
        "with one <a href=/x>inline link</a> in a sea of words.</p></div>"
    )
    ex = DensityTextExtractor()
    Rewriter(sanitizer=None, handlers=[ex]).rewrite(html)
    assert len(ex.blocks) == 2
    assert all("Home" not in b for b in ex.blocks)
    assert "real article body" in ex.main_text


def test_density_extractor_handles_void_separators():
    """br/hr are whitespace_elements but void: they must NOT open a block
    frame (no end tag ever fires), or the enclosing block's text leaks."""
    from selma_spark.extract import DensityTextExtractor
    from selma_spark.rewriter import Rewriter

    prose = (
        "This paragraph has sixty-plus characters of genuine prose text "
        "split by a line break"
    )
    html = f"<p>{prose}<br>and it continues after the break just fine.</p>"
    ex = DensityTextExtractor()
    Rewriter(sanitizer=None, handlers=[ex]).rewrite(html)
    assert len(ex.blocks) == 1
    assert "genuine prose" in ex.blocks[0]
    assert "continues after the break" in ex.blocks[0]

    # hr between two paragraphs must not shift attribution either
    html2 = (
        "<p>First block of prose long enough to pass the minimum text "
        "length threshold easily.</p><hr>"
        "<p>Second block of prose, also long enough to pass the minimum "
        "text length threshold.</p>"
    )
    ex2 = DensityTextExtractor()
    Rewriter(sanitizer=None, handlers=[ex2]).rewrite(html2)
    assert len(ex2.blocks) == 2


def test_density_extractor_on_reference_fixture():
    from selma_spark.extract import DensityTextExtractor
    from selma_spark.rewriter import Rewriter

    sm = doc_page(seed=3)
    ex = DensityTextExtractor()
    Rewriter(sanitizer=None, handlers=[ex]).rewrite(sm)
    # real prose survives; the nav sidebar (pure links) does not
    assert len(ex.blocks) > 5
    assert MARKER in ex.main_text
    assert "installation" not in [b.lower() for b in ex.blocks]
