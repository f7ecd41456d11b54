"""Differential tests for the vendored markdown-it block parser.

The extraction oracle (perfbench's, and the extraction tests) runs this
same parser, so a change in its token stream would go unseen there.  These
tests pin the three local edits of ``vendor/markdown_it`` (see its
``port.yaml``) against the behaviour they replaced:

* block rules are picked by a line's first character
  (``Ruler.getRulesByChar`` + ``StateBlock.lineRules``): compared with the
  full rule chain on every line, which is the parser before the edit;
* ``StateBlock`` builds its line marks one line at a time: compared with
  upstream's per-character loop, kept below as the reference;
* a token digest over a deterministic input set, computed with the parser
  before these edits.
"""

import hashlib
import os
import random
import sys

import pytest
from hypothesis import given, settings, strategies as st

from knowledgebase_processor_spark.extract.core import _md

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "vendor"))
from markdown_it import MarkdownIt  # noqa: E402
from markdown_it.ruler import Ruler  # noqa: E402
from markdown_it.rules_block.state_block import StateBlock  # noqa: E402

TOKEN_FIELDS = ("type", "tag", "map", "content", "info", "markup", "level",
                "nesting", "block", "hidden")


def _parsers():
    # the extraction parser, plus a preset that also runs a block rule
    # (table) with no first-character declaration and the inline chain
    return {"extract": _md(), "tables": MarkdownIt("commonmark").enable("table")}


def _tokens(md, text):
    env = {}
    toks = [tuple(tuple(v) if isinstance(v, list) else v
                  for v in (getattr(t, f) for f in TOKEN_FIELDS))
            for t in md.parse(text, env)]
    return toks, repr(sorted(env.items()))


def _full_chain(self, chainName=""):
    """``Ruler.getRulesByChar`` as if no rule declared a first character:
    every line gets the whole chain."""
    return {}, self.getRules(chainName)


def _assert_dispatch_matches_full_chain(texts):
    for name, md in _parsers().items():
        fast = [_tokens(md, t) for t in texts]
        with pytest.MonkeyPatch.context() as m:
            m.setattr(Ruler, "getRulesByChar", _full_chain)
            slow = [_tokens(md, t) for t in texts]
        for text, a, b in zip(texts, fast, slow):
            assert a == b, (name, text[:200])


# --- inputs ---------------------------------------------------------------

# the verify skill's adversarial probes, scaled to ~10 KB
PROBES = [
    ">" * 10_000,
    "[" * 10_000,
    "# h\n" * 2_500,
    "```\n" + "code\n" * 2_000,
    "~~~~ x\n" + "> - # \n" * 1_400,
    "####### seven\n" * 700,
    "######## eight #\n" * 600,
    "|" + "a|" * 5_000,
    "".join("  " * (i % 30) + "- item\n" for i in range(800)),
    "> " * 2_000 + "x\n" + ">\n" * 2_000,
    "1. a\n   > b\n   c\n" * 500,
    "[x]: /u\n" * 1_000,
    "<!--\n" + "x\n" * 3_000,
    "<div>\n" + "- a\n" * 2_000,
    "a\n===\n" * 1_200,
    "\t- a\n\t\t- b\n\t\t\t> c\n" * 600,
]

_ATOMS = ["#", ">", "-", "*", "+", "_", "`", "~", "<", "[", "]", ":", "|",
          "1.", ")", "\\", " ", "\t", "\r\n", "\n", "    ", "<!--", "<div>",
          "```", "[x]: /u", "x", "a b"]

# FIXTURES.md §3.1 features, as whole documents
FEATURE_DOCS = [
    "---\ntitle: T\ntags: [a, b]\n---\n# Heading 1\n\nText [[Target|Alias]].\n",
    "+++\ntitle = 'x'\n+++\n## H2\n### H3\n##### H5\n",
    "# A\n\n- [ ] todo one\n- [x] done\n  - nested [[Link]]\n    1. deep\n",
    "```python\nprint('Hello, world!')\n```\n\n> quote\n>> nested\n> lazy\ncontinued\n",
    "| a | b | c |\n|---|---|---|\n| 1 | 2 | 3 |\n| 4 | 5 | 6 |\n",
    "Setext\n======\n\nOther\n---\n\n***\n",
    "<div>\n*raw*\n</div>\n\n[ref]: http://x.org \"T\"\n[ref2]:\n  /y\n",
    "1) one\n2) two\n\n10. ten\n    code\n\n\tcode tab\n",
    "> - a\n> - b\n>\n> ```\n> c\n> ```\n- > q\n  > r\n",
    "para\n# interrupt\npara\n<!-- c -->\npara\n```\nf\n```\npara\n- l\n",
]


def _random_text(rng):
    return "".join(rng.choice(_ATOMS) for _ in range(rng.randrange(1, 60)))


def _pinned_inputs():
    rng = random.Random(20261018)
    return FEATURE_DOCS + PROBES + [_random_text(rng) for _ in range(5_000)]


# hypothesis grammar of the FIXTURES.md §3.1 block features
_inline = st.sampled_from([
    "a", "b c", "[[Wiki]]", "[[A|B]]", "x*y", "`c`", "#tag", "1)", "<b>",
    "", "- x", "[ ] t", "[x]", "# h", "==", "--", "> q", "```", "~~~", "|a|",
    "[l]: /u", "\\", "a\t b",
])
_leaf = st.one_of(
    st.builds(lambda k, t, close: ["#" * k + " " + t + (" ##" if close else "")],
              st.integers(1, 8), _inline, st.booleans()),
    st.builds(lambda t, c, n: [t, c * n],
              _inline, st.sampled_from("=-"), st.integers(1, 4)),
    st.lists(_inline, min_size=1, max_size=3),
    st.sampled_from([["***"], ["---"], ["___"], ["- - -"], [" * * *"], ["_ _"]]),
    st.builds(lambda m, n, info, body, closed:
              [m * n + info] + body + ([m * n] if closed else []),
              st.sampled_from("`~"), st.integers(2, 5),
              st.sampled_from(["", "python", "js x", "a`b"]),
              st.lists(_inline, max_size=3), st.booleans()),
    st.sampled_from([["<div>", "x", "</div>"], ["<!-- c", "-->"],
                     ["<pre>", "p", "</pre>"], ["<?php x ?>"],
                     ["<!DOCTYPE html>"], ["<![CDATA[", "]]>"],
                     ["<a href='x'>"], ["</p>"], ["<custom-tag>", "t"]]),
    st.sampled_from([["[x]: /u"], ["[x]:", "/u 'title'"], ["[x]: /u", '"t"'],
                     ["[a", "b]: /u"], ["[x]: <>"], ["[x]:"]]),
    st.lists(_inline, min_size=1, max_size=2).map(lambda ls: ["    " + s for s in ls]),
    st.just([""]),
    st.just(["|a|b|", "|-|-|", "|1|2|"]),
)


@st.composite
def _container(draw, children):
    lines = [s for b in draw(st.lists(children, min_size=1, max_size=3)) for s in b]
    lazy = draw(st.lists(st.booleans(), min_size=len(lines), max_size=len(lines)))
    if draw(st.booleans()):
        marker = draw(st.sampled_from([">", "> ", " > ", ">\t", ">>"]))
        return [s if i and skip else marker + s
                for i, (s, skip) in enumerate(zip(lines, lazy))]
    marker = draw(st.sampled_from(["-", "*", "+", "1.", "2)", "- [ ]", "- [x]", "10."]))
    sep = draw(st.sampled_from([" ", "  ", "\t", "     ", ""]))
    indent = draw(st.sampled_from([" " * (len(marker) + 1), "  ", "\t", "    "]))
    return [marker + sep + lines[0]] + [
        s if skip else indent + s for s, skip in zip(lines[1:], lazy[1:])]


_block = st.recursive(_leaf, _container, max_leaves=10)
_document = st.builds(
    lambda blocks, eol: "\n".join(s for b in blocks for s in b) + eol,
    st.lists(_block, max_size=8), st.sampled_from(["", "\n", "\n\n", "  "]))


# --- first-character dispatch ---------------------------------------------

def test_dispatch_matches_full_chain_on_generated_notes(note_corpus):
    texts = [n.text for seed in (1, 2, 3) for n in note_corpus.generate(seed, 150)]
    texts += [n.text for n in note_corpus.generate(4, 60, hostile_share=0.5)]
    _assert_dispatch_matches_full_chain(texts)


def test_dispatch_matches_full_chain_on_adversarial_probes():
    _assert_dispatch_matches_full_chain(PROBES + FEATURE_DOCS)


@settings(max_examples=300, deadline=None)
@given(_document)
def test_dispatch_matches_full_chain_on_block_grammar(text):
    _assert_dispatch_matches_full_chain([text])


def test_dispatch_differential_sees_a_wrong_declaration():
    """The comparison above can fail: a rule declared with the wrong first
    character drops out of the dispatch and changes the tokens."""
    md = MarkdownIt("commonmark")
    heading = next(r for r in md.block.ruler.__rules__ if r.name == "heading")
    heading.firstChars = "!"
    md.block.ruler.__cache__ = None
    fast = _tokens(md, "# h\n")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(Ruler, "getRulesByChar", _full_chain)
        assert _tokens(md, "# h\n") != fast


def test_dispatch_map_keeps_chain_order_and_follows_rule_changes():
    md = MarkdownIt("commonmark")
    ruler = md.block.ruler
    for chain in ("", "paragraph", "reference", "blockquote", "list"):
        full = ruler.getRules(chain)
        by_char, any_char = ruler.getRulesByChar(chain)
        assert any_char == [f for f in full if f in any_char]
        for rules in by_char.values():
            assert rules == [f for f in full if f in rules]
            assert set(any_char) <= set(rules)
    def names(rules):
        return [f.__name__ for f in rules]

    by_char, any_char = ruler.getRulesByChar("")
    assert names(any_char) == ["code", "lheading", "paragraph"]
    assert names(by_char["#"]) == ["code", "heading", "lheading", "paragraph"]
    assert names(by_char["-"]) == ["code", "hr", "list_block", "lheading", "paragraph"]
    md.disable("heading")
    assert "#" not in ruler.getRulesByChar("")[0]
    md.enable("heading")
    assert "heading" in names(ruler.getRulesByChar("")[0]["#"])

    def my_heading(state, startLine, endLine, silent):
        return False
    # a replaced rule drops its declaration: it is tried on every line
    ruler.at("heading", my_heading)
    assert my_heading in ruler.getRulesByChar("")[1]


# --- line marks -----------------------------------------------------------

def _line_marks_per_character(src):
    """Upstream's ``StateBlock.__init__`` marker loop (markdown-it-py
    3.0.0 / markdown-it 14.1.0), kept as the reference."""
    bMarks, eMarks, tShift, sCount, bsCount = [], [], [], [], []
    indent_found = False
    start = pos = indent = offset = 0
    length = len(src)
    for pos, character in enumerate(src):
        if not indent_found:
            if character in ("\t", " "):
                indent += 1
                if character == "\t":
                    offset += 4 - offset % 4
                else:
                    offset += 1
                continue
            else:
                indent_found = True
        if character == "\n" or pos == length - 1:
            if character != "\n":
                pos += 1
            bMarks.append(start)
            eMarks.append(pos)
            tShift.append(indent)
            sCount.append(offset)
            bsCount.append(0)
            indent_found = False
            indent = 0
            offset = 0
            start = pos + 1
    bMarks.append(length)
    eMarks.append(length)
    tShift.append(0)
    sCount.append(0)
    bsCount.append(0)
    return bMarks, eMarks, tShift, sCount, bsCount


def _line_marks(src):
    state = StateBlock(src, _md(), {}, [])
    assert state.lineMax == len(state.bMarks) - 1
    return state.bMarks, state.eMarks, state.tShift, state.sCount, state.bsCount


@pytest.mark.parametrize("src", [
    "", "\n", "\n\n", " ", "\t", " \t ", "x", "x\n", "a\n \t", "a\n  ",
    "a\n\t\n", "  a\n\tb\n \t c", "ab\tc\n\t x", "x\t\ty\n  \t\tz\t",
    "\t\t\t\n", "a\r\n  b\r\n", "# h\n>\t- x\n    ",
])
def test_line_marks_match_per_character_loop_on_edge_cases(src):
    assert _line_marks(src) == _line_marks_per_character(src)


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=" \t\n>-#x", max_size=40))
def test_line_marks_match_per_character_loop(src):
    assert _line_marks(src) == _line_marks_per_character(src)


# --- pinned digest --------------------------------------------------------

# sha256 over _tokens() of every _pinned_inputs() text for each parser in
# _parsers(), computed with the vendored parser before the per-line marks,
# the first-character dispatch and the dropped debug logging
PINNED_DIGEST = "7ca821ce439a94d5fcb21aca5a5afffef9227bef7d83cb281b8ed75fcfd8a8ce"


def token_digest():
    h = hashlib.sha256()
    for name, md in _parsers().items():
        for text in _pinned_inputs():
            h.update(repr((name, _tokens(md, text))).encode())
    return h.hexdigest()


def test_token_digest_is_pinned():
    assert token_digest() == PINNED_DIGEST
