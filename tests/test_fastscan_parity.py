"""Differential parity: every production parse backend vs the stdlib
HTMLParser reference backend.

The ``fused`` kernel (solrizer_spark/extraction/fusedscan.py) and, when
it builds, the compiled ``c`` kernel must produce a bit-identical
``ExtractionResult`` — raw_text bytes, title, every block field
including the chunk-boundary-sensitive ``link_chars`` — for every
input the stdlib backend handles. Pinned three ways: handcrafted
adversarial constructs, the deterministic corpus generator at two size
factors, and hypothesis fuzz over an HTML-ish fragment alphabet.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solrizer_spark.extraction.html_text import extract_html


def _key(r):
    return (
        r.raw_text,
        r.title,
        r.parse_failed,
        r.error,
        [
            (
                b.block_index,
                b.tag_path,
                b.text,
                b.n_chars,
                b.n_words,
                b.link_chars,
                b.link_density,
                b.text_density,
                b.in_boilerplate_container,
                b.kept,
            )
            for b in r.blocks
        ],
    )


def _have_cscan():
    from solrizer_spark.extraction import cscan

    return cscan.load()


_PARITY_BACKENDS = ("fused",) + (("c",) if _have_cscan() else ())


def assert_parity(payload):
    a = extract_html(payload, backend="stdlib")
    for other in _PARITY_BACKENDS:
        b = extract_html(payload, backend=other)
        assert _key(a) == _key(b), (
            f"{other} backend divergence on {payload!r:.200}"
        )


ADVERSARIAL = [
    # clean structures
    "<html><head><title>T</title></head><body><p>hello world</p></body></html>",
    "<p>a<b>b</b>c</p><div>d</div>",
    # comments, incl. unterminated and degenerate
    "<p>a</p><!-- comment --><p>b</p>",
    "<p>a</p><!-- unterminated",
    "<!-->",
    "<!--->",
    "<!-- -- > still comment --><p>x</p>",
    # processing instructions + declarations
    "<?php echo 1 ?><p>x</p>",
    "<?broken",
    "<!DOCTYPE html><p>x</p>",
    "<!doctype HTML SYSTEM 'x'><p>y</p>",
    "<!DOCTYPE unterminated",
    "<!>x",
    "<!-x>y",
    "<!bogus decl>tail",
    "<!bogus unterminated",
    # marked sections
    "<![CDATA[not text in html.parser]]><p>x</p>",
    "<![cdata[a]]>b",
    "<![if gte mso 9]>ms<![endif]>x",
    "<![CDATA[unterminated",
    "<![",
    # start-tag edge shapes
    "<br><br/><hr />text",
    "<div/>self<p>after</p>",
    '<a href="x>y">quoted gt</a>',
    "<a href='x>y'>quoted gt 2</a>",
    "<a href=bare/>slash-eaten</a>",
    "<a href=x />true self-close",
    "<input value='a<b'>lt in attr",
    "<a foo>bar</a>",
    "<a ='>weird",
    "<a4 x>numeric tag</a4>",
    "<A HREF='x'>UPPER</A>",
    "<a\nhref='x'>newline attrs</a>",
    "<a foo=>empty value</a>",
    "<a 'quoted-name'>q</a>",
    # unterminated start tag at EOF (recovery path)
    "text <a href=",
    "text <a href='unclosed",
    "text <div",
    "text <",
    "a<b",
    # end-tag edge shapes
    "<p>x</p >y",
    "<p>x</ p>y",
    "<p>x</p attr>y",
    "<p>x</>y",
    "<p>x</123>y",
    "<p>x</p",
    # lone/bogus '<'
    "1 < 2 and 3 > 2",
    "a < b <p>c</p>",
    "tail<",
    # entities and charrefs, incl. broken ones
    "&amp; &lt; &gt; &#65; &#x41; &unknown; &amp x",
    "a &amp",
    "a &",
    "&#9731;snow",
    "&NotAnEntity;<p>&quot;q&quot;</p>",
    # script/style CDATA semantics
    "<script>var a = '<p>not a tag</p>';</script><p>real</p>",
    "<script>if (a < b && c > d) {}</script>x",
    "<script>unterminated",
    "<style>p { content: '</notstyle>'; }</style>x",
    "<script>a</script foo>b</script>c",
    "<SCRIPT>upper</SCRIPT>ok",
    "<script></ script>still script</script>out",
    "<script><!-- legacy --></script>after",
    "<noscript>shown &amp; skipped</noscript>x",
    "<template><p>dropped</p></template>kept",
    # links and block structure (link_chars chunk accounting)
    "<p><a href='x'>one two</a> three</p>",
    "<p><a>a &amp; b</a></p>",
    "<nav><a href='/'>Home</a> | <a href='/a'>A</a></nav><p>body text here</p>",
    "<ul><li><a>x</a></li><li>plain item text</li></ul>",
    # misnesting
    "<b><p>cross</b></p>nested",
    "<a><div>link around block</div></a>",
    "<p><p><p>triple",
    "</div></div>unopened",
    # title edge cases
    "<title>one</title><title>two</title>",
    "<title>unterminated title",
    "<title>a &amp; b</title><p>c</p>",
    # null-ish / whitespace
    "",
    "   ",
    "\n\t",
    "<p>   </p>",
    # non-ascii
    "<p>héllo wörld — ünïcode</p>",
    "<p>日本語のテキスト</p>",
]


@pytest.mark.parametrize("payload", ADVERSARIAL, ids=range(len(ADVERSARIAL)))
def test_adversarial_parity(payload):
    assert_parity(payload)


def test_corpus_parity():
    from solrizer_spark.corpus.generator import generate_page

    n = 0
    for seed in (42, 7, 1234):
        for factor in (1, 16):
            for i in range(60):
                html = generate_page(i, seed=seed, size_factor=factor)[0]["html"]
                if html:
                    assert_parity(html)
                    n += 1
    assert n > 200


_FRAGMENTS = st.sampled_from(
    [
        "<p>", "</p>", "<div>", "</div>", "<a href='x'>", "<a>", "</a>",
        "<script>", "</script>", "<style>", "</style>", "<title>", "</title>",
        "<br>", "<br/>", "<img src=x>", "<!-- c -->", "<!--", "-->",
        "<!DOCTYPE html>", "<![CDATA[", "]]>", "<?pi?>", "<!x>", "</>",
        "text", " words here ", "&amp;", "&#65;", "&bogus;", "&", "&#",
        "<", ">", "'", '"', "/", "=", " ", "\n", "a<b", "x=y",
        "<nav>", "</nav>", "<li>", "</li>", "é", "—",
    ]
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_FRAGMENTS, min_size=0, max_size=40))
def test_fuzz_parity(parts):
    assert_parity("".join(parts))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>&;!?/='\"ab -#x[]", max_size=120))
def test_fuzz_parity_raw(s):
    assert_parity(s)


def test_unknown_backend_raises():
    with pytest.raises(ValueError, match="unknown HTML backend"):
        extract_html("<p>x</p>", backend="nope")
