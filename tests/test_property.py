"""Property-based robustness: the kernel must never crash and must hold
its output invariants on arbitrary input."""

import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from trafilatura_spark.kernel import Options, bare_extract, extract
from trafilatura_spark.kernel.dom import parse_html, strip_tags

TAGS = ["p", "div", "span", "b", "ul", "li", "table", "tr", "td", "h2", "blockquote", "pre", "a", "br"]

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)


@st.composite
def html_fragment(draw, depth=0):
    if depth > 3:
        return draw(text_strategy)
    n = draw(st.integers(0, 3))
    parts = [draw(text_strategy)]
    for _ in range(n):
        tag = draw(st.sampled_from(TAGS))
        inner = draw(html_fragment(depth=depth + 1))
        if tag == "br":
            parts.append("<br/>")
        elif tag == "a":
            parts.append(f'<a href="/x">{inner}</a>')
        else:
            parts.append(f"<{tag}>{inner}</{tag}>")
        parts.append(draw(text_strategy))
    return "".join(parts)


@settings(max_examples=120, deadline=None)
@given(html_fragment())
def test_extract_never_crashes(fragment):
    result = bare_extract(f"<html><body>{fragment}</body></html>")
    assert result.tier is not None
    if result.text is not None:
        # NFC-normalized, no disallowed control characters
        assert unicodedata.is_normalized("NFC", result.text)
        assert "\x00" not in result.text


@settings(max_examples=60, deadline=None)
@given(html_fragment())
def test_markdown_never_crashes(fragment):
    out = extract(
        f"<html><body>{fragment}</body></html>",
        Options(format="markdown", formatting=True, min_extracted_size=0),
    )
    assert out is None or isinstance(out, str)


@settings(max_examples=80, deadline=None)
@given(html_fragment())
def test_strip_tags_preserves_text(fragment):
    "Splicing inline wrappers must never lose character data."
    tree = parse_html(f"<html><body><div>{fragment}</div></body></html>")
    if tree is None:
        return
    before = tree.text_content()
    strip_tags(tree, "span", "b", "a")
    assert tree.text_content() == before


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_plain_text_roundtrip_or_none(raw):
    "Arbitrary plain text either round-trips (whitespace-collapsed) or is discarded."
    result = bare_extract(f"<html><body>{raw}</body></html>")
    if result.text is not None:
        assert result.text == result.text.strip()


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_pdf_extractor_total_on_arbitrary_bytes(blob):
    "extract_pdf_text is TOTAL: any %PDF- prefixed payload yields a str."
    from trafilatura_spark.kernel.pdftext import extract_pdf_text

    out = extract_pdf_text(b"%PDF-1.4\n" + blob)
    assert isinstance(out, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=1000))
def test_pdf_stream_bodies_never_crash(blob):
    "Arbitrary bytes inside a stream bracket (inflated or raw) never raise."
    from trafilatura_spark.kernel.pdftext import extract_pdf_text

    doc = b"%PDF-1.4\nstream\n" + blob + b"\nendstream\n%%EOF"
    assert isinstance(extract_pdf_text(doc), str)


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=300))
def test_langid_total_on_arbitrary_text(raw):
    "classify_language is total and strict mode labels any lettered text."
    from trafilatura_spark.kernel.langid import classify_language

    lenient = classify_language(raw)
    strict = classify_language(raw, strict=True)
    assert lenient is None or isinstance(lenient, str)
    assert strict is None or isinstance(strict, str)
    if lenient is not None:
        assert strict is not None  # strict never knows LESS than default


@settings(max_examples=60, deadline=None)
@given(
    st.binary(min_size=16, max_size=16) | st.binary(min_size=32, max_size=32),
    st.binary(min_size=0, max_size=96),
)
def test_aes_cbc_roundtrip(key, data):
    "CBC encrypt/decrypt are inverses for any key size and block-aligned data."
    from trafilatura_spark.kernel.aescipher import cbc_decrypt, cbc_encrypt

    pad = (-len(data)) % 16
    plain = data + b"\x00" * pad
    iv = bytes(range(16))
    assert cbc_decrypt(key, iv, cbc_encrypt(key, iv, plain)) == plain


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_zstd_brotli_roundtrip_and_garbage_totality(blob):
    "System-library codecs roundtrip any payload; garbage never crashes."
    import pytest

    from trafilatura_spark.kernel.cdecompress import (
        HAS_BROTLI, HAS_ZSTD, brotli_compress, brotli_decompress,
        zstd_compress, zstd_decompress)

    if not (HAS_ZSTD and HAS_BROTLI):
        pytest.skip("system codec libraries absent")
    assert zstd_decompress(zstd_compress(blob)) == blob
    assert brotli_decompress(brotli_compress(blob)) == blob
    for fn in (zstd_decompress, brotli_decompress):
        try:
            fn(b"\x28\xb5\x2f\xfd" + blob[:64])
        except (ValueError, RuntimeError):
            pass  # rejection is the expected outcome; crashes are not


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_normalize_url_total_and_idempotent(raw):
    "normalize_url never raises and is idempotent on its own output."
    from trafilatura_spark.kernel.metadata import normalize_url

    try:
        once = normalize_url(raw)
    except ValueError:
        return  # urllib rejects some malformed ports; never other errors
    assert normalize_url(once) == once


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=400), st.booleans())
def test_find_date_total_on_arbitrary_text(body, original):
    "The date ladder (incl. frequency scoring) is total over any text."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    tree = load_html(f"<html><body><p>{body}</p></body></html>")
    if tree is None:
        return
    result = find_date(tree, original_date=original, max_date="2030-12-31")
    assert result is None or (len(result) == 10 and result[4] == "-")


@given(st.binary(max_size=2048))
@settings(max_examples=120, deadline=None)
def test_media_header_parsers_total_on_arbitrary_bytes(blob):
    "Dimension/duration header parsers never raise, whatever the bytes."
    from trafilatura_spark.operators.multimodal import (
        jpeg_dimensions, mp4_duration, wav_duration,
    )

    for fn in (jpeg_dimensions, wav_duration, mp4_duration):
        out = fn(blob)
        assert out is None or out  # None or a truthy parsed value
    # prefix-corrupted real headers too
    for prefix in (b"RIFF", b"\xff\xd8", b"\x00\x00\x00\x10ftyp"):
        for fn in (jpeg_dimensions, wav_duration, mp4_duration):
            fn(prefix + blob)


@given(st.text(max_size=2000))
@settings(max_examples=100, deadline=None)
def test_dtd_parser_bounded_failure_mode(raw):
    """parse_dtd on arbitrary text: parses or raises ValueError — never
    hangs (entity-expansion cycles are depth-bounded) and never escapes
    another exception type."""
    from trafilatura_spark.kernel.dtd import parse_dtd

    try:
        schema = parse_dtd(raw)
    except ValueError:
        return
    assert schema.elements is not None


@given(st.binary(min_size=0, max_size=3000))
@settings(max_examples=200, deadline=None)
def test_ttf_cmap_inversion_total(data):
    "Arbitrary bytes as a font program: dict out or {}, never an exception."
    from trafilatura_spark.kernel.pdftext import _ttf_unicode_by_gid

    out = _ttf_unicode_by_gid(data)
    assert isinstance(out, dict)
    for gid, ch in out.items():
        assert isinstance(gid, int) and isinstance(ch, str) and len(ch) == 1


@given(st.binary(min_size=0, max_size=500))
@settings(max_examples=100, deadline=None)
def test_ttf_cmap_inversion_total_with_sfnt_prefix(data):
    "Plausible sfnt headers + garbage tables stay total too."
    import struct

    from trafilatura_spark.kernel.pdftext import _ttf_unicode_by_gid

    font = struct.pack(">I4H", 0x00010000, 1, 16, 0, 0)
    font += b"cmap" + struct.pack(">3I", 0, 28, len(data)) + data
    assert isinstance(_ttf_unicode_by_gid(font), dict)


def _converted_tree(fragment):
    from trafilatura_spark.kernel.cleaning import convert_tags
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.settings import DEFAULT_OPTIONS

    tree = load_html("<html><body><div id='x'>" + fragment + "</div></body></html>")
    if tree is None:
        return None
    return convert_tags(tree, DEFAULT_OPTIONS)  # produces <ref>/<graphic> vocabulary


def _targeted(elem):
    "The refine key the fold tests give a <ref>."
    return "ref:targeted" if elem.get("target") else None


def _assert_stats_match_scans(elem, stats):
    from trafilatura_spark.kernel.textutils import trim

    text = elem.text_content()
    refs = elem.findall(".//ref")
    assert stats.length == len(trim(text))
    assert stats.commas == text.count(",")
    assert stats.counts.get("ref", 0) == len(refs)
    assert stats.counts.get("ref:targeted", 0) == sum(1 for ref in refs if ref.get("target"))
    assert ("graphic" in stats.counts) == (elem.find(".//graphic") is not None)
    # the reference's collect_link_info figures (htmlprocessing.py:115-123)
    lengths = [n for n in (len(trim(ref.text_content())) for ref in refs) if n]
    figures = (sum(lengths), len(lengths), sum(1 for n in lengths if n < 10))
    assert (stats.link_chars, stats.links_filled, stats.links_short) == figures


@given(html_fragment())
@settings(max_examples=150, deadline=None)
def test_fold_subtree_equivalence(fragment):
    """The one-pass subtree fold must agree exactly with a separate scan
    of every element's subtree (text_content / findall('.//ref') /
    find('.//graphic')) on arbitrary converted trees."""
    from trafilatura_spark.kernel.subtree import fold_subtree

    tree = _converted_tree(fragment)
    if tree is None:
        return
    seen = []

    def visit(elem, stats):
        _assert_stats_match_scans(elem, stats)
        seen.append(elem)
        return False

    fold_subtree(
        [tree], (), visit, key_elems=set(tree.iter()), counted={"ref", "graphic"},
        refine={"ref": _targeted}, link_tag="ref",
    )
    assert seen == list(tree.iter())[::-1]  # reverse document order


@given(html_fragment(), st.integers(0, 2**16))
@settings(max_examples=150, deadline=None)
def test_outermost_and_folds_from_many_roots(fragment, seed):
    """``outermost`` keeps exactly the elements with no ancestor among the
    given ones, in the given order, and a fold from those roots visits the
    given keys in reverse document order with the same stats as scans."""
    from trafilatura_spark.kernel.subtree import fold_subtree, outermost

    tree = _converted_tree(fragment)
    if tree is None:
        return
    elems = [el for i, el in enumerate(tree.iter()) if (i * 7 + seed) % 3 == 0]
    chosen = set(elems)
    roots = outermost(elems)
    assert roots == [el for el in elems if not any(anc in chosen for anc in el.iterancestors())]
    seen = []

    def visit(elem, stats):
        _assert_stats_match_scans(elem, stats)
        seen.append(elem)
        return False

    fold_subtree(
        roots, (), visit, key_elems=chosen, counted={"ref", "graphic"}, refine={"ref": _targeted},
        link_tag="ref",
    )
    assert seen == elems[::-1]


@given(html_fragment(), st.integers(0, 2**16))
@settings(max_examples=150, deadline=None)
def test_fold_subtree_deletions_match_rescans(fragment, seed):
    """Keys deleted during the fold leave their ancestors' stats exactly as
    a rescan of the mutated tree gives them (tails kept in place)."""
    from trafilatura_spark.kernel.dom import delete_element
    from trafilatura_spark.kernel.subtree import fold_subtree

    tree = _converted_tree(fragment)
    if tree is None:
        return

    def visit(elem, stats):
        _assert_stats_match_scans(elem, stats)
        if elem.getparent() is not None and (len(elem.tag) + seed + stats.length) % 3 == 0:
            delete_element(elem)
            return True
        return False

    fold_subtree(
        [tree], ("div", "p", "list", "item", "table", "hi"), visit, counted={"ref", "graphic"},
        refine={"ref": _targeted}, link_tag="ref",
    )


def _splice_one_by_one(tree, matches):
    "The splice-per-match algorithm splice_matches replaced: deepest first, stable."
    def depth(el):
        d, p = 0, el.getparent()
        while p is not None and p is not tree:
            d, p = d + 1, p.getparent()
        return d

    for el in sorted(matches, key=lambda el: -depth(el)):
        parent = el.getparent()
        if parent is None:
            continue
        idx = parent.index(el)
        prev = parent[idx - 1] if idx > 0 else None

        def append_text(s):
            if s:
                if prev is not None:
                    prev.tail = (prev.tail or "") + s
                else:
                    parent.text = (parent.text or "") + s

        parent.remove(el)
        append_text(el.text)
        for pos, child in enumerate(list(el), idx):
            el.remove(child)
            parent.insert(pos, child)
            prev = child
        append_text(el.tail)


@given(html_fragment(), st.sets(st.sampled_from(TAGS)))
@settings(max_examples=150, deadline=None)
def test_splice_matches_equals_one_by_one(fragment, tags):
    """The one-pass splice builds exactly the tree a splice per match
    builds, texts and tails included; spliced elements end detached."""
    from trafilatura_spark.kernel.dom import splice_matches, tostring_debug

    tree = parse_html(f"<html><body><div>{fragment}</div></body></html>")
    if tree is None:
        return
    expected = tree.copy_tree()
    _splice_one_by_one(expected, [el for el in expected.iterdescendants() if el.tag in tags])
    matches = [el for el in tree.iterdescendants() if el.tag in tags]
    splice_matches(tree, matches)
    assert tostring_debug(tree) == tostring_debug(expected)
    assert all(el.getparent() is None and len(el) == 0 for el in matches)
