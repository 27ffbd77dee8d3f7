"""Tree cleaning, tag conversion and link-density boilerplate heuristics.

Semantics mirror /root/reference/trafilatura/htmlprocessing.py:47-447
(tree_cleaning, prune_html, prune_unwanted_nodes, link-density tests,
convert_tags, handle_textnode, process_node).
"""

from __future__ import annotations

import re as _re
from typing import Iterable, Optional
from urllib.parse import urlsplit

from .dedup_state import duplicate_test
from .dom import Element, delete_element, splice_matches as _splice_all, strip_tags
from .selectors import basic_clean_matches
from .settings import (
    CUT_EMPTY_ELEMS,
    MANUALLY_CLEANED,
    MANUALLY_STRIPPED,
    Options,
    check_deadline,
)
from .subtree import fold_subtree, outermost
from .textutils import LINK_FARM_RATIO, is_image_element, textfilter, trim

REND_TAG_MAPPING = {
    "em": "#i", "i": "#i", "b": "#b", "strong": "#b", "u": "#u",
    "kbd": "#t", "samp": "#t", "tt": "#t", "var": "#t",
    "sub": "#sub", "sup": "#sup",
}

PRESERVE_IMG_CLEANING = {"figure", "picture", "source"}

CODE_INDICATORS = ["{", '("', "('", "\n    "]


def tree_cleaning(tree: Element, options: Options) -> Element:
    "Prune unwanted elements (htmlprocessing.py:47-82)."
    check_deadline(options)
    cleaning_list, stripping_list = MANUALLY_CLEANED.copy(), MANUALLY_STRIPPED.copy()
    if not options.tables:
        cleaning_list.extend(["table", "td", "th", "tr"])
    else:
        for elem in list(tree.iterdescendants("figure")):
            if next(elem.iterdescendants("table"), None) is not None:
                elem.tag = "div"
        for elem in tree.iterdescendants("table"):
            if elem.get("role") in ("presentation", "none"):
                elem.tag = "div"
    if options.images:
        cleaning_list = [e for e in cleaning_list if e not in PRESERVE_IMG_CLEANING]
        stripping_list.remove("img")

    # one walk collects BOTH the strip (splice) and delete matches:
    # membership is tag-based, so splicing the strip set cannot add or
    # remove delete candidates — except the one tag on both lists (ins),
    # whose splice leaves its delete a parentless no-op exactly like the
    # reference's strip-then-rescan order.  Splices still run before the
    # recall probe/copy and the deletions, preserving the sequence.
    strip_set = frozenset(stripping_list)
    delete_set = frozenset(cleaning_list)
    strip_matches: list = []
    by_tag: dict = {t: [] for t in cleaning_list}
    for element in tree.iterdescendants():
        t = element.tag
        if t in strip_set:
            strip_matches.append(element)
        if t in delete_set:
            by_tag[t].append(element)
    check_deadline(options)
    _splice_all(tree, strip_matches)

    def _apply_deletes() -> None:
        # tag-by-tag in list order for determinism (reference iterates
        # per tag, htmlprocessing.py:77-80); deleting an element already
        # inside a detached subtree is a no-op on the output
        for tag in cleaning_list:
            for element in by_tag[tag]:
                delete_element(element)

    if options.focus == "recall" and tree.find(".//p") is not None:
        tcopy = tree.copy_tree()
        _apply_deletes()
        if tree.find(".//p") is None:
            tree = tcopy
    else:
        _apply_deletes()
    check_deadline(options)

    return prune_html(tree, options.focus)


def prune_html(tree: Element, focus: str = "balanced") -> Element:
    "Delete empty elements in CUT_EMPTY_ELEMS (htmlprocessing.py:85-92)."
    keep_tails = focus != "precision"
    for element in list(tree.iterdescendants()):
        if (
            element.tag in CUT_EMPTY_ELEMS
            and len(element) == 0
            and not element.text
        ):
            delete_element(element, keep_tail=keep_tails)
    return tree


def prune_unwanted_nodes(
    tree: Element, match_passes: Iterable, with_backup: bool = False
) -> Element:
    """Delete nodes matched by each selector pass; optionally restore a
    backup when >6/7 of the text would be lost (htmlprocessing.py:95-112).

    ``match_passes`` is either a list of pre-computed element lists or a
    list of callables (tree) -> list[Element].
    """
    if with_backup:
        old_len = len(tree.text_content())
        backup = tree.copy_tree()

    for matcher in match_passes:
        matches = matcher(tree) if callable(matcher) else matcher
        for subtree in matches:
            delete_element(subtree)

    if with_backup:
        new_len = len(tree.text_content())
        return tree if new_len > old_len / 7 else backup
    return tree


def _is_last_child(element: Element) -> bool:
    "``element.getnext() is None`` without the sibling index scan."
    parent = element.getparent()
    return parent is None or parent[-1] is element


def _link_density_verdict(
    element: Element, elemlen: int, nlinks: int, linklen: int, elemnum: int, shortelems: int,
    favor_precision: bool,
) -> tuple[bool, bool]:
    """The decision of the reference's link_density_test
    (htmlprocessing.py:126-172) over link aggregates: ``elemlen`` is the
    trimmed text length, ``nlinks`` the number of descendant <ref>s, and
    ``linklen``/``elemnum``/``shortelems`` the reference's
    collect_link_info figures (htmlprocessing.py:115-123): the summed
    trimmed text length of the <ref>s, how many have non-empty trimmed
    text, and how many of those are shorter than 10.  Returns
    (boilerplate?, whether the reference's link-text list comes back
    non-empty)."""
    if nlinks == 1:
        # the one link's trimmed text is the whole of linklen
        len_threshold = 10 if favor_precision else 100
        if linklen > len_threshold and linklen > elemlen * 0.9:
            return True, False
    if element.tag == "p":
        limitlen = 60 if _is_last_child(element) else 30
    elif _is_last_child(element):
        limitlen = 300
    else:
        limitlen = 100
    if elemlen < limitlen:
        if elemnum == 0:
            return True, False
        if linklen > elemlen * 0.8 or (elemnum > 1 and shortelems / elemnum > 0.8):
            return True, True
        return False, True
    if nlinks > 4 and linklen > elemlen * LINK_FARM_RATIO and linklen < 100 * elemnum:
        return True, True
    return False, False


_LINK_COUNTED = frozenset(("ref", "graphic"))


def link_dense_tables(tree: Element) -> list[Element]:
    """The tables of ``tree`` (itself included), in document order, that
    are link-dense boilerplate (htmlprocessing.py:175-189).  One
    fold_subtree walk over the outermost tables' subtrees: O(n) however
    deeply the tables nest."""
    found: list = []

    def visit(elem: Element, stats) -> bool:
        if stats.counts.get("ref"):
            elemlen = stats.length
            if elemlen >= 200:
                linklen = stats.link_chars
                if linklen > 0.8 * elemlen if elemlen < 1000 else linklen > 0.5 * elemlen:
                    found.append(elem)
        return False

    fold_subtree(outermost(tree.iter("table")), ("table",), visit, counted=_LINK_COUNTED, link_tag="ref")
    found.reverse()
    return found


def delete_by_link_density(
    subtree: Element, tagname: str, backtracking: bool = False, favor_precision: bool = False
) -> Element:
    """Delete elements identified as link-dense boilerplate
    (htmlprocessing.py:192-221).  Every ``tagname`` element is judged on
    the tree as it was before any deletion; only those with a <ref>
    descendant can be deleted, and one fold_subtree walk over the
    outermost of them gives all of their figures: O(n) in the subtree
    size."""
    # the candidates: ancestors of a <ref> with the tag, each chain climbed
    # once (a node with no <ref> descendant is never deleted: the
    # reference's link_density_test returns (False, []) and backtracking
    # requires a non-empty link-text list).  Refs are taken in document
    # order, so the outermost candidates come out in document order.
    climbed: set = set()
    candidates: dict = {}
    for ref in subtree.iterdescendants("ref"):
        node = ref.getparent()
        while node is not None and node not in climbed:
            climbed.add(node)
            if node.tag == tagname:
                candidates[node] = None
            if node is subtree:
                break
            node = node.getparent()
    if not candidates:
        return subtree

    deletions: list = []
    len_threshold = 200 if favor_precision else 100
    depth_threshold = 1 if favor_precision else 3

    def visit(elem: Element, stats) -> bool:
        if "graphic" in stats.counts:
            return False
        elemlen = stats.length
        result, listed = _link_density_verdict(
            elem, elemlen, stats.counts["ref"], stats.link_chars, stats.links_filled,
            stats.links_short, favor_precision,
        )
        if result or (
            backtracking and listed and 0 < elemlen < len_threshold and len(elem) >= depth_threshold
        ):
            parent = elem.getparent()
            # paragraph holding a list item's content: keep (GH #788 in reference)
            if not (tagname == "p" and parent is not None and parent.tag in ("item", "td", "th")):
                deletions.append(elem)
        return False

    fold_subtree(
        outermost(candidates), (), visit, key_elems=candidates, counted=_LINK_COUNTED, link_tag="ref"
    )
    # visited in reverse document order; delete in document order
    for elem in reversed(deletions):
        delete_element(elem)

    return subtree


def handle_textnode(
    elem: Element, options: Options, comments_fix: bool = True, preserve_spaces: bool = False
) -> Optional[Element]:
    "Convert, format, and probe potential text elements (htmlprocessing.py:224-263)."
    if elem.tag == "graphic" and is_image_element(elem):
        return elem
    if elem.tag == "done" or (len(elem) == 0 and not elem.text and not elem.tail):
        return None

    if not comments_fix and elem.tag == "lb":
        if not preserve_spaces:
            elem.tail = trim(elem.tail) or None
        return elem

    if not elem.text and len(elem) == 0:
        elem.text, elem.tail = elem.tail, ""
        if comments_fix and elem.tag == "lb":
            elem.tag = "p"

    if not preserve_spaces:
        elem.text = trim(elem.text) or None
        if elem.tail:
            elem.tail = trim(elem.tail) or None

    if (not elem.text and textfilter(elem)) or (options.dedup and duplicate_test(elem, options)):
        return None
    return elem


def process_node(elem: Element, options: Options) -> Optional[Element]:
    "Light-format text probe (htmlprocessing.py:266-283)."
    if elem.tag == "done" or (len(elem) == 0 and not elem.text and not elem.tail):
        return None

    elem.text, elem.tail = trim(elem.text) or None, trim(elem.tail) or None

    if elem.tag != "lb" and not elem.text and elem.tail:
        elem.text, elem.tail = elem.tail, None

    if (elem.text or elem.tail) and (
        textfilter(elem) or (options.dedup and duplicate_test(elem, options))
    ):
        return None

    return elem


# --- tag conversion (htmlprocessing.py:286-447) ------------------------------
#
# Lists, <pre> and <details> convert things in their whole subtree.  They
# are converted in document order, so an enclosing element of the same
# kind has already converted everything inside a nested one, whose own
# walk would find nothing left (no conversion creates li/dd/dt, hljs
# spans or summaries).  Each walk therefore records the same-kind
# elements it passes in ``covered``, and those skip their walk: one walk
# per outermost element, O(n) where a walk each is O(n * depth).

_LIST_TAGS = frozenset(("dl", "ol", "ul"))


def _convert_lists(elem: Element, covered: set) -> None:
    elem.set("rend", elem.tag)
    elem.tag = "list"
    if elem in covered:
        return
    i = 1
    for subelem in elem.iterdescendants():
        tag = subelem.tag
        if tag in _LIST_TAGS:
            covered.add(subelem)
        elif tag in ("dd", "dt", "li"):
            if tag != "li":
                subelem.set("rend", f"{tag}-{i}")
                if tag == "dd":
                    i += 1
            subelem.tag = "item"


def _is_code_text(text: Optional[str]) -> bool:
    if not text:
        return False
    return any(ind in text for ind in CODE_INDICATORS)


def _convert_quotes(elem: Element, covered: set) -> None:
    code_flag = False
    if elem.tag == "pre":
        if len(elem) == 1 and elem[0].tag == "span":
            code_flag = True
        if elem not in covered:
            code_elems = []
            for subelem in elem.iterdescendants():
                if subelem.tag == "span":
                    if (subelem.get("class") or "").startswith("hljs"):
                        code_elems.append(subelem)
                elif subelem.tag == "pre":
                    covered.add(subelem)
            if code_elems:
                code_flag = True
                for subelem in code_elems:
                    subelem.attrib.clear()
        if _is_code_text(elem.text):
            code_flag = True
    elem.tag = "code" if code_flag else "quote"


def _convert_headings(elem: Element, covered: set) -> None:
    rend = elem.tag
    elem.attrib.clear()
    elem.set("rend", rend)
    elem.tag = "head"


def _convert_deletions(elem: Element, covered: set) -> None:
    elem.tag = "del"
    elem.set("rend", "overstrike")


def _convert_details(elem: Element, covered: set) -> None:
    elem.tag = "div"
    if elem in covered:
        return
    for subelem in elem.iterdescendants():
        if subelem.tag == "summary":
            subelem.tag = "head"
        elif subelem.tag == "details":
            covered.add(subelem)


def _convert_lb(elem: Element, covered: set) -> None:
    elem.tag = "lb"


CONVERSIONS = {
    "dl": _convert_lists, "ol": _convert_lists, "ul": _convert_lists,
    "h1": _convert_headings, "h2": _convert_headings, "h3": _convert_headings,
    "h4": _convert_headings, "h5": _convert_headings, "h6": _convert_headings,
    "br": _convert_lb, "hr": _convert_lb,
    "blockquote": _convert_quotes, "pre": _convert_quotes, "q": _convert_quotes,
    "del": _convert_deletions, "s": _convert_deletions, "strike": _convert_deletions,
    "details": _convert_details,
}


def get_base_url(url: str) -> str:
    "scheme://host of a page URL (courlan.urlutils.get_base_url semantics)."
    parts = urlsplit(url)
    return f"{parts.scheme}://{parts.netloc}"


def fix_relative_urls(base_url: str, url: str) -> str:
    """Absolutize a link target against the HOST-ROOT base — the
    reference resolves <a href> via courlan.fix_relative_urls over
    get_base_url(page_url) (htmlprocessing.py:376-385), which is
    deliberately coarser than urljoin (no page-path resolution)."""
    if url.startswith("//"):
        return ("https:" if base_url.startswith("https") else "http:") + url
    if url.startswith("/"):
        return base_url + url
    if url.startswith("."):
        return base_url + "/" + _re.sub(r"^[./]+", "", url)
    if not url.startswith(("http://", "https://", "{")):
        return f"{base_url}/{url}"
    return url


def convert_tags(tree: Element, options: Options, url: Optional[str] = None) -> Element:
    """Rewrite HTML into the internal vocabulary (htmlprocessing.py:388-447).

    Round-7 shape: one traversal after the link pass collects/handles
    the FAQ-strong, empty-sup/sub, rend and conversion passes.  Pass
    ORDER is preserved exactly: per-element decisions (FAQ conversion,
    empty-sub/sup deletion, rend-vs-formatting) are order-independent
    across elements, rend SPLICES still run before the tag CONVERSIONS
    (a <pre> whose single child is spliced away must see its post-splice
    children, the original strip-then-convert sequence), and both the
    splice set and the conversion set are exactly what the original
    per-pass scans collected (earlier passes never retag another pass's
    candidates)."""
    check_deadline(options)
    if not options.links:
        # links under div/li/p (and tables if on) become bare <ref>, rest
        # spliced out — the keep/strip decision is one walk; the splice
        # set equals strip_tags(tree, "a") run after the keepers were
        # retagged to ref
        strip_a: list = []
        for elem in list(tree.iterdescendants("a")):
            keep = False
            for anc in elem.iterancestors():
                if anc.tag in ("div", "li", "p") or (options.tables and anc.tag == "table"):
                    keep = True
                    break
            if keep:
                elem.tag = "ref"
            else:
                strip_a.append(elem)
        _splice_all(tree, strip_a)
        check_deadline(options)
    else:
        # relative targets absolutized against the page host (convert_link,
        # htmlprocessing.py:376-385); ref elements included so the fallback
        # sanitize path absolutizes too (external.py:183)
        base_url = get_base_url(url) if url else None
        for elem in list(tree.iterdescendants("a")) + list(tree.iterdescendants("ref")):
            target = elem.get("href") or elem.get("target")
            elem.tag = "ref"
            elem.attrib.clear()
            if target:
                if base_url:
                    target = fix_relative_urls(base_url, target)
                elem.set("target", target)

    formatting = options.formatting
    rend_matches: list = []
    conv_matches: list = []
    for elem in list(tree.iterdescendants()):
        tag = elem.tag
        if tag == "strong" and "schema-faq-question" in (elem.get("class") or ""):
            # Yoast FAQ question headers (htmlprocessing.py:407-410)
            elem.attrib.clear()
            elem.set("rend", "h3")
            elem.tag = "head"
            continue
        if tag in ("sub", "sup") and not elem.text and len(elem) == 0:
            # empty sup/sub dropped, tail kept (htmlprocessing.py:412-417)
            delete_element(elem)
            continue
        if tag in REND_TAG_MAPPING:
            if formatting:
                rend = REND_TAG_MAPPING[tag]
                elem.attrib.clear()
                elem.set("rend", rend)
                elem.tag = "hi"
            else:
                rend_matches.append(elem)
        elif tag in CONVERSIONS:
            conv_matches.append(elem)
    check_deadline(options)
    if rend_matches:
        _splice_all(tree, rend_matches)
    covered: set = set()
    for elem in conv_matches:
        CONVERSIONS[elem.tag](elem, covered)

    if options.images:
        for elem in tree.iterdescendants("img"):
            elem.tag = "graphic"
        if options.links:
            for ref in list(tree.iterdescendants("ref")):
                graphics = list(ref.iterdescendants("graphic"))
                for graphic in reversed(graphics):
                    ref.addnext(graphic)
                if graphics and not ref.text_content().strip():
                    delete_element(ref)

    return tree


def basic_cleaning(tree: Element) -> Element:
    "Remove a few section types (reference baseline.py:32-36)."
    for elem in basic_clean_matches(tree):
        delete_element(elem)
    return tree
