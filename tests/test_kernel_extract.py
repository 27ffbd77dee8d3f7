"""Kernel cascade: golden-output and behavior assertions per genre.

Expected strings are hand-derived from the reference semantics
(SURVEY.md §2.4-2.5; the reference itself is not runnable in this
environment — no lxml — so these pin the kernel's contract directly)."""

from trafilatura_spark.kernel import Options, bare_extract, extract

LONG_1 = (
    "This is the first substantial paragraph of the article and it keeps going with plenty "
    "of descriptive prose, clauses, and commas, so that the accumulated character count "
    "comfortably exceeds the minimum extracted size threshold used by the extraction pipeline."
)
LONG_2 = (
    "A second paragraph continues the story with further details and context, adding even "
    "more characters to the body text so the whole document is clearly long enough for the "
    "main extractor to accept it without any fallback."
)


def wrap(t: str) -> str:
    return f"<html><body>{t}</body></html>"


def test_single_paragraph_roundtrip():
    text = "Hello world, this is a simple paragraph for testing the pipeline with enough text."
    assert extract(wrap(f"<p>{text}</p>")) == text


def test_whitespace_collapsed():
    assert extract(wrap("<p>a   b\n\t c  end of sentence with more words here</p>")) == (
        "a b c end of sentence with more words here"
    )


def test_article_main_tier_newlines():
    r = bare_extract(wrap(f"<article><h2>Section Title</h2><p>{LONG_1}</p><p>{LONG_2}</p></article>"))
    assert r.tier == "main"
    assert r.text == f"Section Title\n{LONG_1}\n{LONG_2}"


def test_boilerplate_removed():
    html = wrap(
        '<div id="nav-menu"><ul><li><a href="/a">Home</a></li><li><a href="/b">News</a></li></ul></div>'
        f'<div class="post-content"><p>{LONG_1}</p><p>{LONG_2}</p></div>'
        '<div class="share-buttons"><a href="#">Twitter</a><a href="#">Facebook</a></div>'
        "<footer><p>Copyright 2026 whatever site</p></footer>"
    )
    r = bare_extract(html)
    assert r.tier == "main"
    assert r.text == f"{LONG_1}\n{LONG_2}"
    assert "Twitter" not in r.text
    assert "Copyright" not in r.text


def test_hidden_elements_dropped():
    html = wrap(
        f"<article><p>{LONG_1}</p><p>{LONG_2}</p></article>"
        '<div style="display:none"><p>hidden secret</p></div>'
        '<div aria-hidden="true"><p>aria hidden content</p></div>'
    )
    r = bare_extract(html)
    assert "hidden secret" not in (r.text or "")
    assert "aria hidden" not in (r.text or "")


def test_empty_discarded():
    assert extract(wrap("")) is None
    assert extract(wrap("   ")) is None


def test_plain_text_kept():
    assert extract(wrap("just plain text with no markup whatsoever")) == (
        "just plain text with no markup whatsoever"
    )


def test_list_items_lines():
    out = extract(wrap("<ul><li>alpha item one</li><li>beta item two</li></ul>"))
    assert out == "alpha item one\nbeta item two"


def test_nested_list():
    out = extract(wrap("<ul><li>outer<ul><li>inner</li></ul></li></ul>"))
    assert "outer" in out and "inner" in out


def test_table_cells_rows():
    out = extract(wrap("<table><tr><th>H1</th><th>H2</th></tr><tr><td>a</td><td>b</td></tr></table>"))
    assert out == "H1\nH2\na\nb"


def test_table_colspan_pads():
    out = extract(
        wrap('<table><tr><th>A</th><th>B</th></tr><tr><td colspan="2">wide</td></tr></table>')
    )
    assert "wide" in out


def test_table_caption_header_row():
    out = extract(wrap("<table><caption>Cap Text</caption><tr><td>x</td></tr></table>"))
    assert out.startswith("Cap Text")


def test_code_block_preserved():
    html = wrap(f'<article><p>{LONG_1}</p><pre lang="python">def f(x):\n    return x</pre></article>')
    r = bare_extract(html)
    assert "def f(x):" in r.text


def test_blockquote():
    html = wrap(f"<article><p>{LONG_1}</p><blockquote><p>{LONG_2}</p></blockquote></article>")
    r = bare_extract(html)
    assert LONG_2 in r.text


def test_formatting_stripped_by_default():
    out = extract(wrap(f"<article><p>{LONG_1[:100]} <b>bold</b> and <i>ital</i> {LONG_2}</p></article>"))
    assert "bold" in out and "**" not in out


def test_markdown_formatting():
    opts = Options(format="markdown", formatting=True)
    out = extract(
        wrap(f"<article><h2>Head</h2><p>{LONG_1} <b>bold</b> tail of paragraph.</p><p>{LONG_2}</p></article>"),
        opts,
    )
    assert "## Head" in out
    assert "**bold**" in out


def test_comments_captured():
    html = wrap(
        f"<article><p>{LONG_1}</p><p>{LONG_2}</p></article>"
        '<div id="comments"><div class="comment-list"><p>First comment with plenty of words to keep.</p></div></div>'
    )
    r = bare_extract(html)
    assert "First comment" in r.text
    assert r.len_comments > 0


def test_json_ld_baseline():
    body = "Recipe body text that lives only inside the JSON-LD articleBody property of this page, long enough to pass the minimum content length gate for the baseline extractor."
    html = wrap(
        '<script type="application/ld+json">'
        f'{{"@type":"Article","articleBody":"{body}"}}'
        "</script><div><p>tiny</p></div>"
    )
    r = bare_extract(html)
    assert r.text == body
    assert r.tier == "baseline"


def test_adjacent_duplicates_dropped():
    long_p = (
        "Repeated paragraph content that is clearly longer than fifty characters so the "
        "adjacent-repeat rule applies to it."
    )
    html = wrap(f"<article><p>{long_p}</p><p>{long_p}</p><p>{LONG_1}</p></article>")
    r = bare_extract(html)
    assert r.text.count(long_p) == 1


def test_short_repeats_kept():
    short = "Short line."
    html = wrap(f"<article><p>{short}</p><p>{short}</p><p>{LONG_1}</p><p>{LONG_2}</p></article>")
    r = bare_extract(html)
    assert r.text.count(short) == 2


def test_link_farm_dropped():
    farm = "".join(f'<a href="/l{i}">link text {i}</a> ' for i in range(8))
    html = wrap(f'<div class="post-content"><p>{LONG_1}</p><p>{LONG_2}</p></div><div><p>{farm}</p></div>')
    r = bare_extract(html)
    assert "link text 3" not in r.text


def test_social_media_filter():
    html = wrap(f"<article><p>{LONG_1}</p><p>{LONG_2}</p><p>Twitter</p></article>")
    r = bare_extract(html)
    assert "Twitter" not in r.text


def test_nfc_normalization():
    # e + combining acute -> precomposed é
    decomposed = "café content paragraph with enough words to be kept by the extractor heuristics"
    out = extract(wrap(f"<p>{decomposed}</p>"))
    assert "café" in out


def test_control_characters_removed():
    out = extract(wrap("<p>abc\x07def and the rest of a sufficiently long paragraph here</p>"))
    assert "\x07" not in out
    assert "abcdef" in out


def test_faulty_html_repaired():
    out = extract("<html ... /><body><p>content paragraph long enough to be kept around</p></body></html>")
    assert out is not None and "content paragraph" in out


def test_large_doc_performance():
    import time

    paras = "".join(f"<p>Paragraph number {i} with some repeated filler text content.</p>" for i in range(10000))
    t0 = time.monotonic()
    out = extract(wrap(f"<article>{paras}</article>"))
    elapsed = time.monotonic() - t0
    assert out is not None
    assert elapsed < 10.0, f"10k-paragraph doc took {elapsed:.1f}s"


def test_precision_mode_runs():
    opts = Options(focus="precision")
    out = extract(wrap(f"<article><p>{LONG_1}</p><p>{LONG_2}</p></article>"), opts)
    assert LONG_1 in out


def test_recall_mode_runs():
    opts = Options(focus="recall")
    out = extract(wrap(f"<article><p>{LONG_1}</p><p>{LONG_2}</p></article>"), opts)
    assert LONG_1 in out


def test_fast_mode_skips_fallbacks():
    opts = Options(fast=True)
    out = extract(wrap(f"<article><p>{LONG_1}</p><p>{LONG_2}</p></article>"), opts)
    assert LONG_1 in out


def test_determinism():
    from trafilatura_spark.fixtures import turn_text

    html = wrap(turn_text("conv00000007", 3))
    assert extract(html) == extract(html)


def test_input_handling_parity():
    """unit_tests.py:169-253: encoding detection, faulty-HTML repair,
    XML-illegal char stripping, input-type handling, NFC normalization."""
    import pytest as _pytest

    from trafilatura_spark.kernel import Options, extract
    from trafilatura_spark.kernel.baseline import baseline
    from trafilatura_spark.kernel.loader import detect_encoding, load_html, repair_faulty_html
    from trafilatura_spark.kernel.textutils import sanitize, trim

    assert detect_encoding("高山云雾出好茶".encode("utf-8")) == ["utf-8"]
    assert "gb18030" in detect_encoding("高山云雾出好茶".encode("gb18030"))

    cases = [
        ("<!DOCTYPE html PUBLIC />\n<html></html>", "\n<html></html>"),
        ("<html>\n</html>", "<html>\n</html>"),
        ("<html/>\n</html>", "<html>\n</html>"),
        (
            '<!DOCTYPE html>\n<html lang="en-US"/>\n<head/>\n<body/>\n</html>',
            '<!DOCTYPE html>\n<html lang="en-US">\n<head/>\n<body/>\n</html>',
        ),
    ]
    for raw, expected in cases:
        assert repair_faulty_html(raw, raw[:50].lower()) == expected

    # XML-illegal characters stripped pre-parse; tabs kept
    bad = "<html><body><p>a\x00b\x1dc￾￿d</p>\t<p>keep\tme</p></body></html>"
    repaired = repair_faulty_html(bad, bad[:50].lower())
    assert "abcd" in repaired and "keep\tme" in repaired
    page = (
        "<html><body><article>"
        + "<p>Long enough article paragraph\x1d for baseline￿ to trigger.</p>" * 3
        + "</article></body></html>"
    )
    assert baseline(page)[2] > 0

    with _pytest.raises(TypeError):
        load_html(123)
    assert load_html("<html><body>\x2f\x2e\x9f</body></html>".encode("latin-1")) is not None

    class _RespLike:
        data = b"<html><body><p>response data</p></body></html>"

    assert load_html(_RespLike()) is not None

    assert trim("\tTest  ") == "Test"
    assert trim("\t\tTest  Test\r\n") == "Test Test"
    assert sanitize(None) is None
    assert sanitize("Test&nbsp;Text") == "Test Text"

    result = extract(
        "<html><body><p>Äffin</p></body></html>",
        Options(min_extracted_size=0, min_output_size=0),
    )
    assert result == "Äffin"  # NFC-normalized output


def test_deep_nesting_output_matches_shallow():
    """The serializer walks an explicit stack, so nesting far past the
    recursion limit (~1000) gives exactly the shallow page's output; a
    readability-tier page keeps its nesting in the output tree, where the
    recursive serializer raised RecursionError at depth 1000."""
    from trafilatura_spark.kernel.settings import DEFAULT_OPTIONS
    from trafilatura_spark.operators.extract import extract_one_result

    for options in (DEFAULT_OPTIONS, DEFAULT_OPTIONS.copy(format="markdown")):
        for shape in (
            lambda d: "<div>" * d + f"<ul><li>{LONG_1}</li><li>{LONG_2}</li></ul>" + "</div>" * d,
            lambda d: "<div>" * d + f"<p>{LONG_1}</p><p>{LONG_2}</p>" + "</div>" * d,
        ):
            shallow = extract_one_result(wrap(shape(50)), options, timeout=None)
            assert shallow.tier not in ("error", "timeout") and shallow.text
            for depth in (2000, 5000):
                deep = extract_one_result(wrap(shape(depth)), options, timeout=None)
                assert (deep.text, deep.tier) == (shallow.text, shallow.tier), (options.format, depth)
