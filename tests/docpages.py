"""Seeded documentation-page builder for the extraction tests.

Builds a hermetic stand-in for a real documentation page: a doctype, a
``<head>`` with title/meta/style/script, a link-only nav sidebar, prose
sections (some carrying ``MARKER``), ``pre`` code blocks and comments.
The same seed always gives the same page."""

import random

MARKER = "Quillwort"

# sidebar entries, link text only (the density extractor must drop them)
NAV = ("Installation", "Getting started", "Configuration", "Sanitizing",
       "Rewriting", "Selectors", "Text chunks", "Memory limits", "FAQ")

_WORDS = (
    "parser", "element", "attribute", "stream", "handler", "document",
    "output", "input", "token", "buffer", "config", "allowlist", "value",
    "chunk", "rewrite", "sanitize", "protocol", "escape", "markup", "node",
    "the", "a", "of", "and", "to", "in", "is", "with", "each", "every",
)


def _sentence(rng: random.Random, n: int, marker: bool = False) -> str:
    words = [rng.choice(_WORDS) for _ in range(n)]
    if marker:
        words[rng.randrange(n)] = MARKER
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def doc_page(seed: int = 0, n_sections: int = 12) -> str:
    rng = random.Random(seed)
    nav = "".join(
        f'<li><a href="/docs/{item.lower().replace(" ", "-")}">{item}</a></li>'
        for item in NAV
    )
    parts = [
        "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">",
        f"<title>{MARKER} guide {seed}</title>",
        '<meta name="description" content="How the streaming rewriter works">',
        "<style>pre{background:#eee}</style>",
        "<script>window.page = 'docs';</script></head><body>",
        "<!-- sidebar -->",
        f'<nav class="sidebar"><h3>Contents</h3><ul>{nav}</ul></nav>',
        '<div class="content">',
    ]
    for k in range(n_sections):
        parts.append(f"<!-- section {k} --><h2 id=\"s{k}\">Section {k}</h2>")
        parts.append(
            f"<p>{_sentence(rng, 14, marker=k % 3 == 0)} "
            f"{_sentence(rng, 10)} See <a href=\"#s{(k + 1) % n_sections}\">"
            f"the next section</a> for more.</p>"
        )
        parts.append(f"<p>{_sentence(rng, 16)} <code>rewrite(html)</code> "
                     f"{_sentence(rng, 9)}</p>")
        if k % 2 == 0:
            parts.append(
                "<pre><code>rewriter = Rewriter(sanitizer=RELAXED)\n"
                f"out = rewriter.rewrite(\"&lt;p&gt;{k}&lt;/p&gt;\")\n"
                "</code></pre>"
            )
    parts.append("</div><footer><p>Generated documentation page.</p></footer>"
                 "</body></html>\n")
    return "".join(parts)
