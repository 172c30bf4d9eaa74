"""CSS selector compiler + matcher.

Implements the selector dialect the reference accepts (reference:
ext/selma/src/selector.rs:14-64 validates CSS at construction; the
dialect itself is the streaming-rewriter subset): type / ``*`` / ``#id`` /
``.class`` / ``[attr]`` with ``= ~= |= ^= $= *=`` operators and an ``i``
case flag, compound selectors, descendant and child combinators, comma
lists, and ``:not(...)`` including nesting
(test/selma_selector_test.rb:18-44).

Selectors are compiled once at driver time (fail-fast on invalid CSS,
mirroring selector.rs:28-44) and matched against (element, open-element
stack) during the streaming pass — matching never needs a DOM because
combinators only ever look *upward*, and the stack carries each open
ancestor's tag/id/class/attrs.
"""

from __future__ import annotations

import re

_IDENT_RE = re.compile(r"[-\w -￿\\]+")


class SelectorError(ValueError):
    pass


class Compound:
    """One compound selector: optional type + simple selectors."""

    __slots__ = ("tag", "ids", "classes", "attrs", "nots")

    def __init__(self):
        self.tag = None          # lowercase tag name or None (universal)
        self.ids = []            # list[str]
        self.classes = []        # list[str]
        self.attrs = []          # list[(name, op, value, ci)] op=None for [attr]
        self.nots = []           # list[list[Complex]] (selector lists)

    def matches(self, node) -> bool:
        if self.tag is not None and node.tag_name != self.tag:
            return False
        if self.ids:
            node_id = node.get_attr("id")
            for want in self.ids:
                if node_id != want:
                    return False
        if self.classes:
            cls = node.get_attr("class")
            if cls is None:
                return False
            have = cls.split()
            for want in self.classes:
                if want not in have:
                    return False
        for name, op, value, ci in self.attrs:
            actual = node.get_attr(name)
            if actual is None:
                return False
            if op is None:
                continue
            a, v = (actual.lower(), value.lower()) if ci else (actual, value)
            if op == "=":
                ok = a == v
            elif op == "^=":
                ok = v != "" and a.startswith(v)
            elif op == "$=":
                ok = v != "" and a.endswith(v)
            elif op == "*=":
                ok = v != "" and v in a
            elif op == "~=":
                ok = v in a.split()
            elif op == "|=":
                ok = a == v or a.startswith(v + "-")
            else:  # pragma: no cover
                ok = False
            if not ok:
                return False
        for alt_list in self.nots:
            for complex_sel in alt_list:
                if complex_sel.matches_compound_only(node):
                    return False
        return True


class Complex:
    """A compound chain joined by combinators. ``parts`` is ordered
    left-to-right; ``combinators[i]`` joins parts[i] and parts[i+1]
    (' ' descendant, '>' child)."""

    __slots__ = ("parts", "combinators")

    def __init__(self, parts, combinators):
        self.parts = parts
        self.combinators = combinators

    def matches(self, element_node, ancestors) -> bool:
        """ancestors: outermost-first list of nodes (stack snapshot,
        excluding the element itself)."""
        if not self.parts[-1].matches(element_node):
            return False
        return self._match_ancestors(len(self.parts) - 2, len(ancestors) - 1,
                                     ancestors)

    def _match_ancestors(self, part_idx, anc_idx, ancestors):
        if part_idx < 0:
            return True
        comb = self.combinators[part_idx]
        part = self.parts[part_idx]
        if comb == ">":
            if anc_idx < 0 or not part.matches(ancestors[anc_idx]):
                return False
            return self._match_ancestors(part_idx - 1, anc_idx - 1, ancestors)
        # descendant: try each ancestor position
        k = anc_idx
        while k >= 0:
            if part.matches(ancestors[k]) and self._match_ancestors(
                part_idx - 1, k - 1, ancestors
            ):
                return True
            k -= 1
        return False

    def matches_compound_only(self, node) -> bool:
        """Used inside :not(): the reference dialect only allows compound
        selectors there, so a Complex inside :not has exactly one part."""
        return self.parts[-1].matches(node)


class CompiledSelector:
    __slots__ = ("css", "alternatives", "required_tags", "prefilter_complete")

    def __init__(self, css, alternatives):
        self.css = css
        self.alternatives = alternatives
        # necessary-condition prefilter: a match requires the element's
        # tag to be the rightmost compound's type in SOME alternative;
        # None = unrestricted (an alternative is universal/.class/[attr])
        tags = set()
        for alt in alternatives:
            t = alt.parts[-1].tag
            if t is None:
                tags = None
                break
            tags.add(t)
        self.required_tags = frozenset(tags) if tags is not None else None
        # when every alternative is a bare single compound (type-only or
        # universal), the required_tags prefilter IS the full decision —
        # dispatch can skip matches() entirely ("*", "img", "a, b" ...)
        self.prefilter_complete = all(
            len(alt.parts) == 1
            and not alt.parts[0].ids
            and not alt.parts[0].classes
            and not alt.parts[0].attrs
            and not alt.parts[0].nots
            for alt in alternatives
        )

    def matches(self, element_node, ancestors) -> bool:
        for alt in self.alternatives:
            if alt.matches(element_node, ancestors):
                return True
        return False


class _Parser:
    def __init__(self, css: str):
        self.css = css
        self.i = 0
        self.n = len(css)

    def error(self, msg):
        raise SelectorError(f"Could not parse {self.css!r} as valid CSS: {msg}")

    def peek(self):
        return self.css[self.i] if self.i < self.n else ""

    def skip_ws(self):
        while self.i < self.n and self.css[self.i] in " \t\n\r\f":
            self.i += 1

    def parse_selector_list(self, stop=None):
        alts = [self.parse_complex(stop)]
        self.skip_ws()
        while self.peek() == ",":
            self.i += 1
            alts.append(self.parse_complex(stop))
            self.skip_ws()
        return alts

    def parse_complex(self, stop=None):
        parts = [self.parse_compound()]
        combinators = []
        while True:
            had_ws = False
            save = self.i
            while self.i < self.n and self.css[self.i] in " \t\n\r\f":
                had_ws = True
                self.i += 1
            ch = self.peek()
            if ch == ">":
                self.i += 1
                self.skip_ws()
                combinators.append(">")
                parts.append(self.parse_compound())
                continue
            if ch == "" or ch == "," or (stop and ch == stop):
                self.i = save if not had_ws else self.i
                break
            if had_ws:
                combinators.append(" ")
                parts.append(self.parse_compound())
                continue
            self.error(f"unexpected character {ch!r} at {self.i}")
        return Complex(parts, combinators)

    def parse_compound(self):
        self.skip_ws()
        comp = Compound()
        matched_any = False
        ch = self.peek()
        if ch == "*":
            self.i += 1
            matched_any = True
        elif ch and (ch.isalpha() or ch in "_-" or ch == "\\"):
            comp.tag = self.parse_ident().lower()
            matched_any = True
        while True:
            ch = self.peek()
            if ch == "#":
                self.i += 1
                comp.ids.append(self.parse_ident())
                matched_any = True
            elif ch == ".":
                self.i += 1
                comp.classes.append(self.parse_ident())
                matched_any = True
            elif ch == "[":
                self.i += 1
                comp.attrs.append(self.parse_attr())
                matched_any = True
            elif ch == ":":
                self.i += 1
                comp.nots.append(self.parse_pseudo())
                matched_any = True
            else:
                break
        if not matched_any:
            self.error(f"expected a selector at {self.i}")
        return comp

    def parse_ident(self):
        m = _IDENT_RE.match(self.css, self.i)
        if not m:
            self.error(f"expected identifier at {self.i}")
        self.i = m.end()
        return m.group(0).replace("\\", "")

    def parse_attr(self):
        self.skip_ws()
        name = self.parse_ident().lower()
        self.skip_ws()
        ch = self.peek()
        if ch == "]":
            self.i += 1
            return (name, None, None, False)
        op = None
        if ch in "~|^$*":
            if self.css[self.i : self.i + 2] == ch + "=":
                op = ch + "="
                self.i += 2
            else:
                self.error(f"bad attribute operator at {self.i}")
        elif ch == "=":
            op = "="
            self.i += 1
        else:
            self.error(f"bad attribute selector at {self.i}")
        self.skip_ws()
        ch = self.peek()
        if ch == '"' or ch == "'":
            end = self.css.find(ch, self.i + 1)
            if end < 0:
                self.error("unterminated attribute value string")
            value = self.css[self.i + 1 : end]
            self.i = end + 1
        else:
            if ch == "]" or ch == "":
                self.error("empty attribute value")
            m = _IDENT_RE.match(self.css, self.i)
            if not m:
                self.error(f"bad attribute value at {self.i}")
            value = m.group(0)
            self.i = m.end()
        self.skip_ws()
        ci = False
        if self.peek() in ("i", "I", "s", "S") and self.css[self.i + 1 : self.i + 2].strip() in ("]", ""):
            ci = self.peek() in ("i", "I")
            self.i += 1
            self.skip_ws()
        if self.peek() != "]":
            self.error(f"expected ']' at {self.i}")
        self.i += 1
        return (name, op, value, ci)

    def parse_pseudo(self):
        m = _IDENT_RE.match(self.css, self.i)
        if not m:
            self.error("expected pseudo-class name")
        name = m.group(0).lower()
        self.i = m.end()
        if name != "not":
            self.error(f"unsupported pseudo-class :{name}")
        if self.peek() != "(":
            self.error("expected '(' after :not")
        self.i += 1
        inner = self.parse_selector_list(stop=")")
        for complex_sel in inner:
            if len(complex_sel.parts) != 1:
                self.error("combinators are not supported inside :not()")
        self.skip_ws()
        if self.peek() != ")":
            self.error("expected ')' closing :not(")
        self.i += 1
        return inner


def compile_selector(css) -> CompiledSelector:
    """Compile a CSS selector string, raising at construction for invalid
    or empty CSS (reference: selector.rs:19-44; empty raises per
    test/selma_selector_test.rb:12-16)."""
    if not isinstance(css, str):
        raise TypeError("selector must be a string")
    if not css.strip():
        raise SelectorError("empty CSS selector")
    p = _Parser(css)
    alts = p.parse_selector_list()
    p.skip_ws()
    if p.i != p.n:
        p.error(f"trailing characters at {p.i}")
    return CompiledSelector(css, alts)


class Selector:
    """User-facing selector triple (reference: ext/selma/src/selector.rs:5-9
    and lib/selma — match_element / match_text_within / ignore_text_within).
    Validation mirrors selector.rs:19-57."""

    __slots__ = ("match_element", "match_text_within", "ignore_text_within",
                 "_element_sel", "_text_sel")

    def __init__(self, match_element=None, match_text_within=None,
                 ignore_text_within=None):
        if match_element is None and match_text_within is None:
            raise ValueError(
                "Neither `match_element` nor `match_text_within` option given"
            )
        if match_element is not None and not isinstance(match_element, str):
            raise TypeError("match_element must be a string")
        if match_text_within is not None and not isinstance(match_text_within, str):
            raise TypeError("match_text_within must be a string")
        self.match_element = match_element
        self.match_text_within = match_text_within
        self._element_sel = (
            compile_selector(match_element) if match_element is not None else None
        )
        self._text_sel = (
            compile_selector(match_text_within)
            if match_text_within is not None
            else None
        )
        if ignore_text_within is None:
            self.ignore_text_within = None
        else:
            self.ignore_text_within = [str(t) for t in ignore_text_within]

    @property
    def element_selector(self):
        return self._element_sel

    @property
    def text_selector(self):
        return self._text_sel
