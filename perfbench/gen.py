"""Seeded, hermetic input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical rows (``fingerprint`` hashes them), and the *shape* of the
input (row counts, size classes, span layout) does not depend on the
seed at all -- only the content does -- so the work per run stays the
same from seed to seed.

* ``span_docs``  -- interleaved text+media span documents (the pipeline's
  input table): a distinct main text span (plain text on a quarter of
  the documents), a media span on half the documents, a boilerplate
  tail span drawn from a small repeated set, and 1% of documents about
  50x larger.
* ``pages``      -- full HTML pages in a small/medium/large mix (about
  25 KB, 100 KB and 2-7 MB) with a nav sidebar, link-dense blocks, prose
  with span/b, img, tables, svg/math with CDATA, comments and scripts.
* ``near_dup_docs`` -- a plain text corpus with planted near-duplicate
  families and decoy pairs; returns the planted pairs (within-family
  pairs whose exact 3-shingle Jaccard is at least 0.5) as ground truth
  for recall.
"""

from __future__ import annotations

import hashlib
import random

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "do", "fe",
    "gu", "hi", "ja", "be", "co", "da", "ex", "ol", "an", "is", "um", "or",
)


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 syllables."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _zipf_sampler(rng: random.Random, vocab: list[str]):
    """Zipf-like word draws: a few words are frequent, most are rare."""
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def words(k: int) -> list[str]:
        return rng.choices(vocab, cum_weights=cum, k=k)

    return words


# --- span documents ----------------------------------------------------------

_BOILERPLATE = (
    '<div class="footer"><a href="/about">About</a> | '
    '<a href="/privacy" onclick="track()">Privacy</a></div>',
    '<p class="legal">&copy; 2024 Example <b>Corp</b>. All rights reserved.</p>',
    '<ul class="share"><li><a href="https://x.example/share">Share</a></li>'
    '<li><a href="javascript:void(0)">Print</a></li></ul>',
    '<div id="cookie" style="display:none">We use cookies. '
    '<button onclick="ok()">OK</button></div>',
    '<nav><a href="/">Home</a> &raquo; <a href="/news">News</a></nav>',
    '<p><small>Tags: <span class="tag">web</span>, '
    '<span class="tag">html</span></small></p>',
    '<script>window.dataLayer=window.dataLayer||[];</script><p>Subscribe</p>',
    '<table class="meta"><tr><td>Views</td><td>1024</td></tr></table>',
)


def _span_main(w: list[str], i: int) -> str:
    """One main span: paragraphs of 14 words each from ``w``, cycling six
    shapes that mix allowed markup with what RELAXED strips (scripts,
    event handlers, style attributes, javascript: links). Every fourth
    document's main span is plain text, which the candidate mask keeps
    out of the rewriter."""
    if i % 4 == 3:
        return " ".join(" ".join(w[p:p + 14]) + "." for p in range(0, len(w), 14))
    parts = []
    for p in range(len(w) // 14):
        x = w[14 * p:14 * p + 14]
        shape = (i + p) % 6
        if shape == 0:
            parts.append(
                f'<p>{" ".join(x[:6])} <b>{x[6]} {x[7]}</b> {" ".join(x[8:])}.</p>'
            )
        elif shape == 1:
            parts.append(
                f'<p class="lead" onclick="go({i})">{" ".join(x[:9])} '
                f'<a href="https://example.com/{x[9]}/{i}" target="_blank">'
                f'{x[10]}</a> {" ".join(x[11:])}</p>'
            )
        elif shape == 2:
            parts.append(
                f'<div style="color:red"><span>{" ".join(x[:7])}</span>'
                f'<script>var x={i};</script><i>{" ".join(x[7:])}</i></div>'
            )
        elif shape == 3:
            parts.append(
                f'<ul><li>{" ".join(x[:5])}</li><li>{" ".join(x[5:10])}</li>'
                f'<li><a href="javascript:alert({i})">{" ".join(x[10:])}</a>'
                "</li></ul>"
            )
        elif shape == 4:
            parts.append(
                f'<h2 id="s{p}">{" ".join(x[:4])}</h2><p>{" ".join(x[4:])} '
                f'<img src="/img/{x[0]}.png" alt="{x[1]}" onerror="x()"></p>'
            )
        else:
            parts.append(
                f'<blockquote cite="http://{x[0]}.example">{" ".join(x[1:8])}'
                f'</blockquote><p>{" ".join(x[8:])} &amp; more</p>'
            )
    return "".join(parts)


SPAN_PARAS, SPAN_LARGE_PARAS = 2, 100


def span_docs(seed: int, n_docs: int):
    """Yield ``(doc_id, spans)`` rows; ``spans`` is a list of
    ``(kind, text, media_ref, offset)`` tuples in offset order.

    Layout is fixed by position, content by seed: doc ``i`` carries a
    media span iff ``i`` is even, every doc ends in a boilerplate tail
    span, every 100th doc's main span is 50x larger and doc ``i`` with
    ``i % 4 == 3`` has a plain-text main span."""
    rng = random.Random(f"spans:{seed}")
    words = _zipf_sampler(rng, vocabulary(rng, 4000))
    # the tail repeats across documents (the task memo's opportunity);
    # salting it per seed keeps the repeated set seed-specific
    tails = [f"{b}<!-- {seed}:{k} -->" for k, b in enumerate(_BOILERPLATE)]
    n_paras = [SPAN_LARGE_PARAS if i % 100 == 0 else SPAN_PARAS
               for i in range(n_docs)]
    # one draw for the whole corpus: per-call overhead dominates
    # small draws
    w = words(14 * sum(n_paras))
    tail_pick = [rng.randrange(len(tails)) for _ in range(n_docs)]
    pos = 0
    for i in range(n_docs):
        end = pos + 14 * n_paras[i]
        spans = [("text", _span_main(w[pos:end], i), None, 0)]
        pos = end
        if i % 2 == 0:
            spans.append(("media", None, f"media://{seed}/{i}/1", 1))
        spans.append(("text", tails[tail_pick[i]], None, len(spans)))
        yield f"d{i:08d}", spans


# --- full HTML pages -----------------------------------------------------------

PAGE_SIZES = (("sm", 25_000), ("md", 100_000), ("lg", 2_000_000),
              ("lg", 4_500_000), ("lg", 7_000_000))


def _page_blocks(rng: random.Random, words, n: int) -> list[str]:
    """A pool of ``n`` body blocks covering the shapes a real page has."""
    blocks = []
    for k in range(n):
        w = words(30)
        shape = k % 8
        if shape == 0:  # link-dense block
            links = "".join(
                f'<li><a href="https://{w[j]}.example.org/{w[j + 1]}">'
                f"{w[j + 2]}</a></li>"
                for j in range(0, 24, 3)
            )
            blocks.append(f'<div class="related"><ul>{links}</ul></div>')
        elif shape in (1, 2, 3):  # prose with span/b
            blocks.append(
                f"<p>{' '.join(w[:8])} <span>{' '.join(w[8:12])}</span> "
                f"{' '.join(w[12:20])} <b>{w[20]} {w[21]}</b> "
                f"<span class=\"hl\">{' '.join(w[22:])}</span>.</p>"
            )
        elif shape == 4:  # image figure
            blocks.append(
                f'<figure><img src="/media/{w[0]}.jpg" alt="{w[1]} {w[2]}" '
                f'width="640" height="480"><figcaption>{" ".join(w[3:12])}'
                "</figcaption></figure>"
            )
        elif shape == 5:  # table
            rows = "".join(
                f"<tr><td>{w[j]}</td><td>{j * 17}</td><td><a href=\"/t/{w[j]}\">"
                f"{w[j + 1]}</a></td></tr>"
                for j in range(0, 12, 2)
            )
            blocks.append(
                f'<table class="data"><thead><tr><th>{w[20]}</th><th>n</th>'
                f"<th>{w[21]}</th></tr></thead><tbody>{rows}</tbody></table>"
            )
        elif shape == 6:  # foreign content with CDATA
            blocks.append(
                f'<svg width="100" height="40"><title>{w[0]}</title>'
                f'<text x="2" y="20"><![CDATA[{w[1]} < {w[2]} && {w[3]}]]>'
                f'</text></svg><math><mi>{w[4]}</mi><mo>=</mo>'
                f"<mn>{k}</mn><annotation><![CDATA[{w[5]}]]></annotation>"
                "</math>"
            )
        else:  # comment + inline script
            blocks.append(
                f"<!-- block {k} {w[0]} --><script>var {w[1]}_{k} = "
                f'"{w[2]}";</script><p>{" ".join(w[3:18])}</p>'
            )
    return blocks


def _page(rng: random.Random, words, blocks: list[str], target: int, n: int) -> str:
    nav = "".join(
        f'<li><a href="/section/{w}">{w}</a></li>' for w in words(40)
    )
    head = (
        "<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{' '.join(words(6))}</title>"
        f'<meta name="description" content="{" ".join(words(12))}">'
        "<style>body{font:14px sans-serif}.hl{color:#c00}</style>"
        f"<script>var page={n};</script></head><body>"
        f'<nav class="sidebar"><ul>{nav}</ul></nav><main><article>'
    )
    tail = (
        '</article></main><footer><p>&copy; Example</p>'
        '<script src="/app.js"></script></footer></body></html>'
    )
    body, size = [], len(head) + len(tail)
    while size < target:
        b = blocks[rng.randrange(len(blocks))]
        body.append(b)
        size += len(b)
    return head + "".join(body) + tail


def pages(seed: int, n_small: int, n_medium: int):
    """Yield ``(doc_id, spans)`` page documents: ``n_small`` ~25 KB pages,
    ``n_medium`` ~100 KB pages and three large pages (2, 4.5 and 7 MB).
    Each page is one text span followed by one media span."""
    rng = random.Random(f"pages:{seed}")
    words = _zipf_sampler(rng, vocabulary(rng, 6000))
    blocks = _page_blocks(rng, words, 4000)
    plan = [25_000] * n_small + [100_000] * n_medium
    plan += [size for cls, size in PAGE_SIZES if cls == "lg"]
    for n, target in enumerate(plan):
        html = _page(rng, words, blocks, target, n)
        yield f"p{n:05d}", [
            ("text", html, None, 0),
            ("media", None, f"media://{seed}/page/{n}", 1),
        ]


# --- near-duplicate text corpus -------------------------------------------------


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word k-shingles, the same definition textops uses
    (whole text as one shingle when shorter than k words)."""
    toks = text.split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def near_dup_docs(seed: int, n_families: int, family_size: int,
                  n_decoys: int, n_singletons: int, n_tokens: int = 40,
                  n_edits: int = 1, threshold: float = 0.5):
    """Return ``(rows, planted)``: ``rows`` are ``(doc_id, text)`` for

    * ``n_families`` families of ``family_size`` near-duplicates, each
      member replacing ``n_edits`` of its family's base tokens;
    * ``n_decoys`` decoy pairs sharing only the first half of their
      tokens (Jaccard about 0.3: LSH candidates that verification must
      reject);
    * ``n_singletons`` unrelated documents.

    Tokens are drawn uniformly from a 20k-word vocabulary whose words
    all carry a per-seed salt suffix, so unrelated documents share
    almost no shingles and corpora of different seeds share none.
    ``planted`` is the set of within-family ``(doc_a, doc_b)`` pairs,
    ``doc_a < doc_b``, whose exact 3-shingle Jaccard is at least
    ``threshold``."""
    rng = random.Random(f"neardup:{seed}")
    salt = format(seed % 4096, "x")
    vocab = [f"{w}{salt}" for w in vocabulary(rng, 20000)]

    def words(k: int) -> list[str]:
        return rng.choices(vocab, k=k)

    n_docs = n_families * family_size + 2 * n_decoys + n_singletons
    ids = list(range(n_docs))
    rng.shuffle(ids)  # related documents are not adjacent in doc_id order
    next_id = iter(ids).__next__
    rows, planted = [], set()
    for _ in range(n_families):
        base = words(n_tokens)
        members = []
        for _m in range(family_size):
            toks = list(base)
            for j in rng.sample(range(n_tokens), n_edits):
                toks[j] = words(1)[0]
            doc_id, text = next_id(), " ".join(toks)
            rows.append((doc_id, text))
            members.append((doc_id, shingles(text)))
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                (ia, sa), (ib, sb) = members[x], members[y]
                if jaccard(sa, sb) >= threshold:
                    planted.add((min(ia, ib), max(ia, ib)))
    half = n_tokens // 2
    for _ in range(n_decoys):
        head = words(half)
        rows.append((next_id(), " ".join(head + words(n_tokens - half))))
        rows.append((next_id(), " ".join(head + words(n_tokens - half))))
    for _ in range(n_singletons):
        rows.append((next_id(), " ".join(words(n_tokens))))
    rows.sort()
    return rows, planted


def fingerprint(rows) -> str:
    """sha256 over the rows' repr: equal iff the generated inputs are
    byte-identical."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
