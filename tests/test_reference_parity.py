"""Reference-parity golden tests: exact expected outputs taken from the
reference's own test suite (tests/unit_tests.py — cited per case), run
against the from-scratch kernel.  The reference package cannot execute
here (lxml absent), so these pins ARE the parity evidence."""

import pytest

from trafilatura_spark.kernel import Options, extract

# reference tests run with ZERO_CONFIG (MIN_EXTRACTED_SIZE=0, unit_tests.py:66-70)
MD = Options(format="markdown", formatting=True, min_extracted_size=0)
MD_NOFMT = Options(format="markdown", formatting=False, min_extracted_size=0)
TXT_FMT = Options(format="txt", formatting=True, min_extracted_size=0)
TXT = Options(format="txt", min_extracted_size=0)


def test_markdown_formatting_default():
    "unit_tests.py:713-715 (test_include_formatting_markdown)"
    doc = "<html><body><article><p>plain and <b>bold</b> text here.</p></article></body></html>"
    assert extract(doc, MD) == "plain and **bold** text here."
    assert extract(doc, MD_NOFMT) == "plain and bold text here."
    assert extract(doc, TXT_FMT) == "plain and **bold** text here."


def test_markdown_list_item_inline_spacing():
    "unit_tests.py:718-721 (issue #845)"
    doc = "<html><body><article><ol><li>Foo <em>bar</em> baz.</li></ol></article></body></html>"
    assert extract(doc, MD) == "1. Foo *bar* baz."


def test_markdown_sup_sub_keep_boundary():
    "unit_tests.py:724-734 (issue #889)"
    sup = "<html><body><article><p>The layer has 100<sup>2</sup>=10000 nodes.</p></article></body></html>"
    sub = "<html><body><article><p>Written 2011<sub>15ya</sub> in winter.</p></article></body></html>"
    assert extract(sup, MD) == "The layer has 100<sup>2</sup>=10000 nodes."
    assert extract(sub, MD) == "Written 2011<sub>15ya</sub> in winter."
    spaced = "<html><body><article><p>x <sup> 2 </sup> y</p></article></body></html>"
    bold = "<html><body><article><p>x <b> 2 </b> y</p></article></body></html>"
    assert extract(spaced, MD) == "x  <sup>2</sup>  y"
    assert extract(bold, MD) == "x  **2**  y"


def test_markdown_empty_sup_sub_dropped():
    "unit_tests.py:737-750 (issue #889)"
    for tag in ("sup", "sub"):
        doc = f"<html><body><article><p>a<{tag}></{tag}>b</p></article></body></html>"
        assert extract(doc, MD) == "ab"
    footnote = '<html><body><article><p>Fact<sup><img src="x.png"/></sup> follows here.</p></article></body></html>'
    assert extract(footnote, MD) == "Fact follows here."
    tailed = "<html><body><article><p>alpha<sup></sup>beta gamma.</p></article></body></html>"
    assert extract(tailed, MD) == "alphabeta gamma."
    assert extract(tailed, MD.copy(focus="precision")) == "alphabeta gamma."


def test_heading_and_bold_markdown():
    "unit_tests.py:411-418 (test_formatting: titles as markdown)"
    doc = (
        "<html><body><article><h3>Title</h3>"
        "<p><b>This here is in bold font.</b>Non-bold here</p></article></body></html>"
    )
    assert extract(doc, TXT_FMT) == "### Title\n\n**This here is in bold font.**Non-bold here"
    assert extract(doc, MD) == "### Title\n\n**This here is in bold font.**Non-bold here"


def test_trailing_lb_removed():
    "unit_tests.py:403-406 (trailing <br> dropped from paragraph)"
    doc = "<html><body><p>This here is the text.<br/></p></body></html>"
    out = extract(doc, TXT)
    assert out == "This here is the text."


def test_simple_extract_abc():
    "unit_tests.py:241 shape: minimal well-formed page extracts"
    assert extract("<html><body><p>ABC</p></body></html>", TXT) == "ABC"


def _wrap(t):
    return f"<html><body>{t}</body></html>"


def test_precision_recall_parity():
    "unit_tests.py:1371-1414: focus-mode decisions on teasers/asides/link-paragraphs."
    wrap = _wrap
    Z = dict(min_extracted_size=0, min_output_size=1)

    doc = wrap(
        '<div class="article-body"><div class="teaser-content"><p>This here is a teaser text.</p></div>'
        "<div><p>This here is the text.</p></div>"
    )
    assert "teaser text" in extract(doc, Options(focus="recall", fast=True, **Z))
    assert "teaser text" not in extract(doc, Options(fast=True, **Z))
    assert "teaser text" not in extract(doc, Options(focus="precision", fast=True, **Z))

    doc = wrap('<div class="article-body"><p>content</p><p class="link">Test</p></div>')
    balanced = extract(doc, Options(fast=True, **Z))
    assert "content" in balanced and "Test" in balanced
    precise = extract(doc, Options(focus="precision", fast=True, **Z))
    assert "content" in precise and "Test" not in precise

    doc = wrap("<article><aside><p>Here is the text.</p></aside></article>")
    assert extract(doc, Options(fast=True, **Z)) != "Here is the text."
    assert extract(doc, Options(focus="recall", fast=True, **Z)) == "Here is the text."

    doc = wrap("<div><span>Text.</span></div>")
    assert not extract(doc, Options(focus="precision", fast=True, **Z))
    assert extract(doc, Options(focus="recall", fast=True, **Z)) == "Text."


def test_yoast_faq_block_parity():
    "unit_tests.py:682-708: Yoast FAQ questions are kept; headers under formatting."
    wrap = _wrap
    lead = (
        "The wrap dress is a dress with a front closure formed by wrapping one side across "
        "the other and knotting the attached ties that wrap around the back at the waist or "
        "fastening buttons. It was popularised in the seventies and has remained a wardrobe "
        "staple ever since, flattering many different body shapes thanks to its cut. " * 2
    )
    doc = wrap(
        "<article><h1>Wrap dress</h1><p>" + lead + "</p>"
        '<div class="schema-faq wp-block-yoast-faq-block">'
        '<div class="schema-faq-section" id="faq-question-1">'
        '<strong class="schema-faq-question">Who invented the wrap dress?</strong> '
        '<p class="schema-faq-answer">It was popularised by Diane von Furstenberg in 1974.</p>'
        "</div></div></article>"
    )
    assert "Who invented the wrap dress?" in extract(doc, Options())
    assert "### Who invented the wrap dress?" in extract(doc, Options(formatting=True))


def test_blockquote_inline_content_parity():
    "unit_tests.py:669-680: inline formatting/links/images inside blockquotes survive."
    intro = "Lead paragraph long enough to anchor the main extractor here with extra words for safety."

    def page(inner):
        return _wrap(f"<article><p>{intro}</p>{inner}</article>")

    Z = dict(min_extracted_size=0, formatting=True, format="markdown")
    assert (
        extract(page("<blockquote><p>A <b>bold</b> word</p></blockquote>"), Options(**Z))
        == f"{intro}\n\nA **bold** word"
    )
    assert (
        extract(page("<blockquote><p>see <a href='http://x.com'>link</a></p></blockquote>"), Options(links=True, **Z))
        == f"{intro}\n\nsee [link](http://x.com)"
    )
    assert (
        extract(page("<blockquote><p>text</p><img src='x.jpg' alt='img'/></blockquote>"), Options(images=True, **Z))
        == f"{intro}\n\ntext\n\n![img](x.jpg)"
    )


def test_link_density_threshold_parity():
    """unit_tests.py:1433-1504: table link-density thresholds (80% medium /
    50% large, textless icon links exempt) and the div-level farm rules
    (short punctuated lists kept, big link farms pruned, long card links
    kept).  Checked through the production entry points: whether
    link_dense_tables picks the table, and whether delete_by_link_density
    deletes the div."""
    from trafilatura_spark.kernel.cleaning import delete_by_link_density, link_dense_tables
    from trafilatura_spark.kernel.loader import load_html

    MED = '<ref target="/x">' + "x" * 250 + "</ref>"
    BIG = '<ref target="/x">' + "x" * 600 + "</ref>"
    STRADDLE = '<ref target="/x">' + "x" * 360 + "</ref>"
    table_cases = [
        (f"<table><cell>{'y' * 50}{MED}</cell></table>", True),    # 83% links, medium -> removed
        (f"<table><cell>{'y' * 200}{MED}</cell></table>", False),  # 56%, medium -> kept
        (f"<table><cell>{'y' * 240}{STRADDLE}</cell></table>", False),  # 60%, ~600 chars -> kept
        (f"<table><cell>{'y' * 400}{BIG}</cell></table>", True),   # 60%, large -> removed
        (f"<table><cell>{'y' * 600}{BIG}</cell></table>", False),  # 40%, large -> kept
    ]
    def table_case(fragment):
        tree = load_html(_wrap(fragment))
        return tree.find(".//table") in link_dense_tables(tree)

    for fragment, expected in table_cases:
        assert table_case(fragment) is expected, fragment[:60]

    icon = f"<table><cell>{'data ' * 50}<ref target=\"/x\"><graphic src=\"/i.png\"/></ref></cell></table>"
    assert table_case(icon) is False

    def div_case(items):
        "Whether delete_by_link_density removes the div."
        tree = load_html(_wrap(f"<div>{items}</div><p>real article sibling here</p>"))
        el = tree.find(".//div")
        delete_by_link_density(tree, "div")
        return el.getparent() is None

    short = "".join(f'<ref target="/p{i}">Recommended product number {i}: a nice gadget</ref> ' for i in range(3))
    assert div_case(short) is False  # 100-150 chars with punctuation: kept
    farm = "".join(f'<ref target="/n{i}">Latest news headline number {i} about some topic today</ref> ' for i in range(20))
    assert div_case(farm) is True  # >3 links, >90% link text at any size: pruned
    card_text = (
        "Align: a widget that aligns its child within itself and optionally sizes itself "
        "based on the child's given size"
    )
    cards = "".join(f'<ref target="/w{i}">{card_text}</ref> ' for i in range(8))
    assert div_case(cards) is False  # avg link length >= 100: catalog, kept


def test_overall_discard_vocabulary_parity():
    """unit_tests.py:1506-1535: legacy tokens (yin stays, xg1 removed),
    both-attribute matching regardless of source order, and the 'cookie'
    first-attribute-only exception (pages ABOUT cookies keep content)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.selectors import overall_discard_matches

    def discarded(attrs):
        t = load_html(_wrap(f"<div {attrs}><p>content</p></div>"))
        return any(len(p) > 0 for p in overall_discard_matches(t))

    for attrs in ('class="yin"', 'class="zlylin"', 'class="mol-factbox"'):
        assert discarded(attrs), attrs
    assert not discarded('class="xg1"')  # removed from the reference 2026-07-10
    assert discarded('class="x" id="author-box"')  # token in @id, class first
    assert discarded('id="x" class="sidebar"')  # token in @class, id first
    assert not discarded('class="hidden-x" id="cookieBanner"')  # cookie: first-attr-only


def test_precision_discard_link_token_parity():
    "unit_tests.py:1549-1567: 'link' is a whole class token; 'bottom' stays a substring."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.selectors import precision_discard_matches

    def discarded(value, tag="div"):
        t = load_html(_wrap(f'<{tag} class="{value}"><p>content</p></{tag}>'))
        matches = precision_discard_matches(t)
        return any(len(p) > 0 for p in matches)

    assert discarded("link")
    assert discarded("nav link")
    assert not discarded("article-permalink")
    assert not discarded("headline-link")
    assert not discarded("featured-link--wrap")
    assert discarded("article-bottom")
    assert discarded("site-header", tag="header")


def test_body_xpath_fulltext_class_parity():
    "unit_tests.py:1569-1586: case-insensitive fulltext class still selects the body candidate."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.selectors import BODY_SELECTORS

    def selected(cls):
        t = load_html(_wrap(f'<div class="{cls}"><p>content</p></div>'))
        return any(s(t) is not None for s in BODY_SELECTORS)

    for cls in ("fulltext", "FullText", "fullText", "FULLTEXT", "article-fulltext", "FulltextWrapper"):
        assert selected(cls), cls


def test_basic_cleaning_cookie_banner_scope_parity():
    """unit_tests.py:1588-1610: cookie/consent tokens in basic cleaning are
    anchored banner/CMP compounds — body classes like 'cookies-not-set' and
    topical classes like 'cookie-recipe-content' must survive baseline/html2txt."""
    from trafilatura_spark.kernel.baseline import baseline, html2txt
    from trafilatura_spark.kernel.loader import load_html

    content = "<p>" + "Real article text about a subject. " * 5 + "</p>"
    banners = (
        "<div id='onetrust-consent-sdk'><p>By clicking Accept you agree we can store cookies.</p></div>"
        "<div class='cookie-notice-container'><p>We use cookies to improve our service.</p></div>"
    )
    doc = load_html(
        "<html><body class='single-post cookies-not-set'>"
        f"<div class='cookie-recipe-content'>{content}</div>{banners}</body></html>"
    )
    _, text, _ = baseline(doc)
    assert "Real article text" in text
    assert "cookies" not in text
    page_measure = html2txt(doc)
    assert "Real article text" in page_measure and "cookies" not in page_measure


def test_images_parity():
    """unit_tests.py:864-946: image file-type gate, src-attribute ladder
    (src/data-src/data-src-*), data-URI rejection, markdown rendering and
    relative-URL absolutization against the page URL."""
    from trafilatura_spark.kernel.handlers import handle_image
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.textutils import is_image_file

    assert is_image_file(None) is False
    assert is_image_file("") is False
    assert is_image_file("test.jpg") is True
    assert is_image_file("test.JPG") is True
    assert is_image_file("PIC.PNG") is True
    assert is_image_file("photo.JPEG") is True
    assert is_image_file("test.txt") is False
    assert is_image_file("test.jpg" * 2000) is False  # length threshold

    def img_el(s):
        return load_html(_wrap(s)).find(".//img")

    assert handle_image(None) is None
    assert handle_image(img_el('<img src="test.jpg"/>')) is not None
    assert handle_image(img_el('<img data-src="test.jpg" alt="text" title="a title"/>')) is not None
    assert handle_image(img_el('<img other="test.jpg"/>')) is None
    assert handle_image(img_el('<img src="data:image/jpeg;base64,iVBORw0KGgo=" alt="t"/>')) is None
    # CNN-style data-src-* ladder: a usable src is found and absolutized
    fallback = handle_image(img_el('<img class="media__image" alt="A." data-src-mini="//c/s.jpg" data-src-large="//c/l.jpg"/>'))
    assert fallback is not None and fallback.get("src").startswith("http")

    def img(body, url=None):
        opts = Options(
            images=True, fast=True, format="markdown", formatting=True, url=url,
            min_extracted_size=0, min_output_size=0,
            min_output_comm_size=0, min_extracted_comm_size=0,
        )
        return extract(f"<html><body><article>{body}</article></body></html>", opts) or ""

    assert img('<img data-src="test.jpg" alt="text" title="a title"/>') == "![a title text](test.jpg)"
    assert img('<p><img data-src="test.jpg" alt="text" title="a title"/></p>') == "![a title text](test.jpg)"
    assert img('<p><img other="test.jpg" alt="text" title="a title"/></p>') == ""
    assert img('<div><p><img data-src-small="test.jpg" alt="text" title="a title"/></p></div>') == "![a title text](test.jpg)"
    url = "http://a.b/c/d.html"
    assert img('<div><p><img src="//a.b/test.jpg" alt="t" title="a"/></p></div>', url=url) == "![a t](http://a.b/test.jpg)"
    assert img('<div><p><img src="/a.b/test.jpg" alt="t" title="a"/></p></div>', url=url) == "![a t](http://a.b/a.b/test.jpg)"
    assert img('<div><p><img src="./a.b/test.jpg" alt="t" title="a"/></p></div>', url=url) == "![a t](http://a.b/c/a.b/test.jpg)"
    assert img('<div><p><img src="../a.b/test.jpg" alt="t" title="a"/></p></div>', url=url) == "![a t](http://a.b/a.b/test.jpg)"


def test_links_parity():
    """unit_tests.py:948-998 + :855-862: link rendering with/without targets,
    relative-target absolutization against the page host (host-root base,
    not page-path urljoin), and the precision-mode long-link-paragraph drop."""
    Z = dict(min_extracted_size=0, min_output_size=0, min_output_comm_size=0, min_extracted_comm_size=0)
    L = dict(links=True, fast=True, format="markdown", formatting=True, **Z)

    doc = _wrap('<p><a href="testlink.html">Test link text.</a> This part of the text has to be long enough.</p>')
    assert "testlink.html" not in extract(doc, Options(**Z))
    assert "[Test link text.](testlink.html) This part of the text has to be long enough." in extract(doc, Options(**L))
    assert "[Test link text.](https://www.example.com/testlink.html)" in extract(
        doc, Options(url="https://www.example.com/", **L)
    )

    no_target = _wrap("<p><a>Test link text.</a> This part of the text has to be long enough.</p>")
    assert "[Test link text.] This part of the text has to be long enough." in extract(no_target, Options(**L))

    segs = _wrap("<article><a>Segment 1</a><h1><a>Segment 2</a></h1><p>Segment 3</p></article>")
    result = extract(segs, Options(format="xml", links=True, fast=True, **Z))
    assert "1" in result and "2" in result and "3" in result

    # sanitize/fallback path absolutizes too (unit_tests.py:855-862)
    doc2 = _wrap('<p><a href="/path/page">link</a> ' + "padding " * 10 + "</p>")
    slow = extract(doc2, Options(url="https://www.example.org", links=True, format="markdown", formatting=True, **Z))
    assert "[link](https://www.example.org/path/page)" in slow

    # license rel link lands in XML metadata
    lic = _wrap('<p>Test text under <a rel="license" href="">CC BY-SA license</a>.</p>')
    assert 'license="CC BY-SA license"' in extract(
        lic, Options(format="xml", links=True, fast=True, with_metadata=True, **Z)
    )

    # link-only paragraph: kept in balanced, dropped in precision
    farm = _wrap(f"<article><p><a>f{'abcd' * 20}</a></p></article>")
    assert "abc" in extract(farm, Options(fast=True, **Z))
    assert not extract(farm, Options(fast=True, focus="precision", **Z))


def test_htmlprocessing_parity():
    """unit_tests.py:1201-1339: paywall pruning at both speeds, heading
    rendering in xml/xmltei, conversion vocabulary (ref/graphic/hi-#t/
    table), image order preservation inside links, and the
    only_with_metadata gate."""
    from trafilatura_spark.kernel.cleaning import convert_tags, tree_cleaning
    from trafilatura_spark.kernel.loader import load_html

    Z = dict(min_extracted_size=0, min_output_size=0, min_output_comm_size=0, min_extracted_comm_size=0)

    doc = '<html><body><main><p>1</p><p id="premium">2</p><p>3</p></main></body></html>'
    assert extract(doc, Options(fast=True, **Z)) == "1\n3"
    assert extract(doc, Options(fast=False, **Z)) == "1\n3"

    doc = _wrap("<article><h1>Test headline</h1><p>Test</p></article>")
    assert '<head rend="h1">Test headline</head>' in extract(doc, Options(format="xml", fast=True, **Z))
    assert '<ab rend="h1" type="header">Test headline</ab>' in extract(doc, Options(format="xmltei", fast=True, **Z))

    tree = load_html(_wrap(
        '<table><a href="">Link</a></table><img src="test.jpg"/><u>Underlined</u>'
        "<tt>True Type</tt><sub>Text</sub><sup>Text</sup>"
    ))
    opts = Options(formatting=True, images=True, links=True, tables=True)
    conv = convert_tags(tree_cleaning(tree, opts), opts)
    assert next(conv.iterdescendants("ref"), None) is not None
    assert next(conv.iterdescendants("graphic"), None) is not None
    assert any(h.get("rend") == "#t" for h in conv.iterdescendants("hi"))
    assert next(conv.iterdescendants("table"), None) is not None

    multi = load_html(_wrap('<a href="/x"><img src="a.jpg"/><img src="b.jpg"/><img src="c.jpg"/></a>'))
    o2 = Options(images=True, links=True)
    conv2 = convert_tags(tree_cleaning(multi.copy_tree(), o2), o2)
    assert [g.get("src") for g in conv2.iterdescendants("graphic")] == ["a.jpg", "b.jpg", "c.jpg"]

    bare = '<html><head><meta http-equiv="content-language" content="EN"/></head><body><div class="article-body"><p>Text.</p></div></body></html>'
    assert extract(bare, Options(format="xml", **Z)) is not None
    assert extract(bare, Options(format="xml", only_with_metadata=True, **Z)) is None
    # declared-language fast gate fires; the slow path keeps language-unknown
    # short text (heuristic classifier stand-in: unknown never discards)
    assert extract(bare, Options(lang="de", fast=True, **Z)) is None


def test_exotic_tags_parity():
    """unit_tests.py:308-399: malformed doctype recovery, naked div with
    <br> separators (containment, as in the reference: the div and its
    lb tails are processed independently by design), HTML5 <details>,
    improperly-nested <em><p>, and comment-section capture."""
    Z = dict(min_extracted_size=0, min_output_size=0, min_output_comm_size=0, min_extracted_comm_size=0)

    broken_doctype = (
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
        '2012"http://www.w3.org/TR/html4/loose.dtd"><html><head></head><body><p>ABC</p></body></html>'
    )
    assert "ABC" in extract(broken_doctype, Options(**Z))

    naked = "<html><body><main><div>1.<br/>2.<br/>3.<br/></div></main></body></html>"
    assert "1.\n2.\n3." in extract(naked, Options(fast=True, **Z))

    details = _wrap(
        "<article><details><summary>Epcot Center</summary><p>Epcot is a theme park at "
        "Walt Disney World Resort featuring exciting attractions, international pavilions, "
        "award-winning fireworks and seasonal special events.</p></details></article>"
    )
    for fast in (True, False):
        result = extract(details, Options(fast=fast, **Z))
        assert "Epcot Center" in result and "award-winning fireworks" in result

    weird = _wrap(
        '<div id="content"><h1>A header</h1><h2>Very specific bug so odd</h2>'
        '<h3>Nested header</h3><p>Some "hyphenated-word quote" followed by a bit more text line.</p>'
        "<em><p>em improperly wrapping p here</p></em><p>Text here<br/></p><h3>More articles</h3></div>"
    )
    for focus in ("balanced", "precision", "recall"):
        result = extract(
            weird,
            Options(formatting=True, links=True, images=True, format="markdown", focus=focus, **Z),
        )
        assert "em improperly wrapping p here" in result
        assert result.endswith("Text here")

    commented = _wrap('<article><p>text</p><div class="comments"><p>comment</p></div></article>')
    assert extract(commented, Options(comments=True, fast=True, **Z)).endswith("\ncomment")


def test_markdown_metadata_yaml_safe_parity():
    "unit_tests.py:626-666 (GH #814): YAML front matter stays parseable for special values."
    from trafilatura_spark.kernel.formats import _yaml_scalar

    assert _yaml_scalar("Indu K Murthy") == "Indu K Murthy"
    assert _yaml_scalar("https://example.com/a:b") == "https://example.com/a:b"
    assert _yaml_scalar("élan vital") == "élan vital"
    assert _yaml_scalar("COP30: a guide") == '"COP30: a guide"'
    assert _yaml_scalar("#1 ranking") == '"#1 ranking"'
    assert _yaml_scalar("&launch") == '"&launch"'
    assert _yaml_scalar("true") == '"true"'
    assert _yaml_scalar("2024") == '"2024"'
    assert _yaml_scalar("[draft]") == '"[draft]"'
    assert _yaml_scalar('say "hi": now') == '"say \\"hi\\": now"'

    # end-to-end: markdown + with_metadata emits quoted front matter
    doc = (
        "<html><head><title>COP30: a beginner’s guide</title>"
        '<meta name="author" content="Indu K Murthy"/></head>'
        "<body><article><p>Some body text with enough words to be extracted.</p></article></body></html>"
    )
    result = extract(doc, Options(format="markdown", with_metadata=True, min_extracted_size=0))
    assert result.startswith("---\n")
    assert 'title: "COP30: a beginner’s guide"' in result
    assert "author: Indu K Murthy" in result
    assert result.endswith("Some body text with enough words to be extracted.")


def test_markdown_formatting_default_tristate():
    "unit_tests.py:710-716: markdown formats by default; explicit False honored."
    doc = _wrap("<article><p>plain and <b>bold</b> text here.</p></article>")
    Z = dict(min_extracted_size=0)
    assert extract(doc, Options(format="markdown", **Z)) == "plain and **bold** text here."
    assert extract(doc, Options(format="markdown", formatting=False, **Z)) == "plain and bold text here."
    assert extract(doc, Options(format="txt", formatting=True, **Z)) == "plain and **bold** text here."


def test_formatting_parity_extended():
    """unit_tests.py:400-624: trailing lb drop, markdown emphasis table
    (**/*/`/~~/__), inline code in headings, code fences from pre/code
    combinations, lists with links, line-break after formatting, empty
    front matter without fingerprint, and mixed-content XML serialization
    (no indentation injected between inline children)."""
    Z = dict(min_extracted_size=0, min_output_size=0, min_output_comm_size=0, min_extracted_comm_size=0)
    TF = Options(format="txt", formatting=True, **Z)

    assert "lb" not in extract(_wrap("<p>This here is the text.<br/></p>"), Options(format="xml", **Z))

    s = _wrap("<article><h3>Title</h3><p><b>This here is in bold font.</b>Non-bold here</p></article>")
    assert extract(s, TF) == "### Title\n\n**This here is in bold font.**Non-bold here"
    assert extract(s, Options(format="markdown", **Z)) == extract(s, TF)

    meta = extract(
        "<html><head><title>Test</title></head><body><p>ABC.</p></body></html>",
        Options(format="markdown", with_metadata=True, **Z),
    )
    assert " ".join(meta.split()) == "--- title: Test --- ABC."  # no fingerprint line

    code_doc = _wrap(
        "<article><h3>Title</h3><p>Here is a code sample:</p><code>import trafilatura</code></article>"
    )
    assert extract(code_doc, TF) == "### Title\n\nHere is a code sample:\n\n`import trafilatura`"

    emphasis = _wrap(
        '<p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, '
        '<u>underlined</u>, <a href="test.html">link</a> and additional text to bypass detection.</p>'
    )
    assert extract(emphasis, Options(fast=True, formatting=False, **Z)) == (
        "bold, italics, tt, deleted, underlined, link and additional text to bypass detection."
    )
    assert extract(emphasis, Options(fast=True, formatting=True, **Z)) == (
        "**bold**, *italics*, `tt`, ~~deleted~~, __underlined__, link and additional text to bypass detection."
    )
    assert extract(emphasis, Options(fast=True, links=True, formatting=True, **Z)) == (
        "**bold**, *italics*, `tt`, ~~deleted~~, __underlined__, [link](test.html) "
        "and additional text to bypass detection."
    )
    xml_out = extract(emphasis, Options(format="xml", fast=True, formatting=True, **Z))
    assert (
        '<p><hi rend="#b">bold</hi>, <hi rend="#i">italics</hi>, <hi rend="#t">tt</hi>, '
        '<del>deleted</del>, <hi rend="#u">underlined</hi>, link and additional text to bypass detection.</p>'
    ) in xml_out

    lists = _wrap(
        '<article><ul><li>Number 0</li><li>Number <a href="test.html">1</a></li>'
        '<li><a href="test.html">Number 2</a> n2</li><li>Number 3</li>'
        "<li><p>Number 4</p> n4</li></ul>Test</article>"
    )
    assert extract(lists, Options(format="markdown", links=True, **Z)) == (
        "- Number 0\n- Number [1](test.html)\n- [Number 2](test.html) n2\n- Number 3\n- Number 4 n4\n\nTest"
    )

    fed = _wrap(
        "<article><p><strong>Staff Review of the Financial Situation</strong><br>"
        "Domestic financial conditions remained accommodative over the intermeeting period.</p></article>"
    )
    assert extract(fed, Options(format="txt", fast=True, **Z)) == (
        "Staff Review of the Financial Situation\nDomestic financial conditions "
        "remained accommodative over the intermeeting period."
    )

    heading_code = _wrap(
        '<article><h4 id="1theinoperator">1) The <code>in</code> Operator</h4>'
        "<p>The easiest way to check if a Python string contains a substring is to use the "
        "<code>in</code> operator and some more text for the size gate.</p></article>"
    )
    assert '<head rend="h4">1) The <code>in</code> Operator</head>' in extract(
        heading_code, Options(format="xml", fast=True, formatting=True, **Z)
    )

    pre_code = (
        "<html><head><body><article>python code below:\n"
        "<pre><code>\ndef test:\n    print('hello')\n    print('world')\n    </code></pre>\n"
        "</article></body></html>"
    )
    assert extract(pre_code, Options(format="markdown", **Z)) == (
        "python code below:\n```\ndef test:\n    print('hello')\n    print('world')\n    \n```"
    )


def test_external_components_parity():
    "unit_tests.py:806-846: language-mismatch discard and invalid-attribute robustness."
    Z = dict(min_extracted_size=0, min_output_size=0)
    italian = "<html><body>" + "<p>Non è inglese.</p>" * 20 + "</body></html>"
    assert extract(italian, Options(fast=False, lang="en", **Z)) is None
    bad_xml = (
        '<p>Testing</p><ul style="" padding:1px; margin:15px""><b>Features:</b> '
        "<li>Saves the cost of two dedicated phone lines.</li> al station using Internet "
        "or cellular technology.</li> <li>Requires no change to the existing Fire Alarm "
        "Control Panel configuration. The IPGSM-4G connects directly to the primary and "
        "secondary telephone ports.</li>"
    )
    res = extract(f"<html><body>{bad_xml}</body></html>", Options(format="xml", **Z))
    assert "Features" in res


def test_no_duplicate_content_parity():
    """unit_tests.py:2141-2226 (#768/#817/#879/T6/#634): content must never
    be emitted twice — overlapping candidates, wild-text recovery re-adds,
    list-folded paragraphs, non-adjacent duplicates, short elements, and
    inline-formatting boundaries in the recovery dedup."""
    real = Options()  # real config: default min_extracted_size hides nothing

    dup768 = (
        "<!doctype html><body><main><article><div><br>Line that has to have at least 125 "
        "characters for the bug to appear so here is some filler text text text text text "
        "text text</div></article></main></body></html>"
    )
    assert (extract(dup768, real) or "").count("Line that has to have") == 1

    dup817 = (
        "<html><body><div id='content'><p>Authoritative taxonomy of but let us leave it as "
        "it is 1 2 3</p></div><p>some text long enough not to skip and printed twice on this "
        "line some text long enough not to skip and printed twice on this line</p></body></html>"
    )
    assert (extract(dup817, real) or "").count("Authoritative taxonomy") == 1

    dup879 = (
        "<html><body><nav>menu chrome</nav><article><h1>The Example Chronicle</h1>"
        "<p>First synthetic paragraph of adequate length for extraction to engage properly.</p>"
        "<p>Second synthetic paragraph, also long enough to matter for the extractor.</p>"
        "</article><footer>footer chrome</footer></body></html>"
    )
    for doc in (dup879, dup879.replace("article>", "main>")):
        out = extract(doc, real) or ""
        assert out.count("First synthetic paragraph") == 1
        assert out.count("Second synthetic paragraph") == 1

    dup = "X" * 30 + " short duplicate description text for the list item here right now please."
    wild = (
        "Y" * 30 + " this is genuinely separate wild text living outside the article container "
        "elsewhere in the page body content over here, quite far removed from it."
    )
    doc = f"<html><body><p>{wild}</p><article><dl><dt>Term</dt><dd><p>{dup}</p></dd></dl></article></body></html>"
    result = extract(doc, Options(fast=True)) or ""
    assert result.count(dup) == 1 and result.count(wild) == 1 and "Term" in result

    para = (
        "This paragraph has Hyper<b>link</b>ed formatting inside and needs to be comfortably "
        "longer than the fifty character dedup gate to be caught by the substring check."
    )
    doc = f"<html><body><article><dl><dt>Term one</dt><dd><p>{para}</p></dd></dl></article></body></html>"
    assert (extract(doc, Options(formatting=True, fast=True)) or "").count("formatting inside") == 1
