"""Readability-style fallback scorer (arc90 family).

Reimplements the scoring/candidate/sanitize loop the reference vendors in
/root/reference/trafilatura/readability_lxml.py:99-404 over the
lightweight DOM: score p/pre/td by comma count + text length, propagate
to parent/grandparent with class/id +-25 weights and tag priors, scale by
link density, pick the best candidate, gather qualifying siblings, then
sanitize with the counts heuristics.  Runs ruthless first and retries
leniently when the result is shorter than ``retry_length``.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Optional

from .dom import Element, delete_element
from .settings import DEFAULT_OPTIONS, ExtractionTimeout, Options, check_deadline
from .subtree import fold_subtree, outermost
from .textutils import trim

DOT_SPACE = re.compile(r"\.( |$)")

DIV_SCORES = {"div", "article"}
BLOCK_SCORES = {"pre", "td", "blockquote"}
BAD_ELEM_SCORES = {"address", "ol", "ul", "dl", "dd", "dt", "li", "form", "aside"}
STRUCTURE_SCORES = {"h1", "h2", "h3", "h4", "h5", "h6", "th", "header", "footer", "nav"}
# _sanitize's targets and the descendants it counts; hidden inputs are
# also counted under their own key
_SANITIZE_TARGETS = frozenset(("table", "ul", "div", "aside", "header", "footer", "section"))
_SANITIZE_COUNTED = frozenset(("p", "img", "li", "embed", "input"))
_HIDDEN_INPUT = "input:hidden"
_SANITIZE_REFINE = {"input": lambda elem: _HIDDEN_INPUT if elem.get("type") == "hidden" else None}
_SCORED_TAGS = frozenset(("p", "pre", "td"))
DIV_TO_P_ELEMS = {"a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"}
FRAME_TAGS = {"body", "html"}
LIST_TAGS = {"ol", "ul"}

UNLIKELY_RE = re.compile(
    r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar"
    r"|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter",
    re.I,
)
MAYBE_RE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|pagination|post|text|blog|story", re.I
)
NEGATIVE_RE = re.compile(
    r"button|combx|comment|com-|contact|figure|foot|footer|footnote|form|input|masthead"
    r"|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget",
    re.I,
)
VIDEO_RE = re.compile(r"https?:\/\/(?:www\.)?(?:youtube|vimeo)\.com", re.I)


def _text_length(elem: Element) -> int:
    return len(trim(elem.text_content()))


def _text_and_links(elem: Element) -> tuple:
    """One doc-order subtree walk returning (inner text, descendant <a>
    elements) — replaces the text_content() + findall('.//a') pair the
    link-density path otherwise runs as two traversals.  Text is
    byte-identical to ``elem.text_content()``; the node list matches
    ``findall`` (descendants only, nested links included)."""
    parts: list = []
    links: list = []
    emit = parts.append
    stack: list = []
    children = elem._children
    for i in range(len(children) - 1, -1, -1):
        c = children[i]
        if c.tail:
            stack.append(c.tail)
        stack.append(c)
    if elem.text:
        stack.append(elem.text)
    pop = stack.pop
    while stack:
        item = pop()
        if item.__class__ is str:
            emit(item)
            continue
        if item.tag == "a":
            links.append(item)
        children = item._children
        for i in range(len(children) - 1, -1, -1):
            c = children[i]
            if c.tail:
                stack.append(c.tail)
            stack.append(c)
        if item.text:
            stack.append(item.text)
    return "".join(parts), links


@lru_cache(maxsize=16384)
def _unlikely_attrs(attrs: str) -> bool:
    "Memoized UNLIKELY/MAYBE verdict — class/id strings repeat across a page."
    return UNLIKELY_RE.search(attrs) is not None and MAYBE_RE.search(attrs) is None


@lru_cache(maxsize=16384)
def _attr_weight(attribute: str) -> int:
    "Memoized per-attribute-string class weight contribution."
    weight = 0
    if NEGATIVE_RE.search(attribute):
        weight -= 25
    if POSITIVE_RE.search(attribute):
        weight += 25
    return weight


class _Candidate:
    __slots__ = ("score", "elem")

    def __init__(self, score: float, elem: Element):
        self.score = score
        self.elem = elem


class ReadabilityExtractor:
    """One-shot extractor over a (mutable) tree; returns a <div> body
    Element.  Checks the per-document deadline of ``options`` between its
    passes."""

    def __init__(
        self, doc: Element, min_text_length: int = 25, retry_length: int = 250,
        options: Options = DEFAULT_OPTIONS,
    ):
        self.doc = doc
        self.min_text_length = min_text_length
        self.retry_length = retry_length
        self.options = options

    def summary(self) -> Element:
        for elem in list(self.doc.iter("script", "style", "fencedframe")):
            delete_element(elem)

        ruthless = True
        while True:
            check_deadline(self.options)
            if ruthless:
                self._remove_unlikely_candidates()
            self._transform_misused_divs()
            check_deadline(self.options)
            candidates = self._score_paragraphs()
            check_deadline(self.options)

            best = self._select_best_candidate(candidates)
            if best:
                article = self._get_article(candidates, best)
            else:
                if ruthless:
                    ruthless = False
                    continue
                body = self.doc.find(".//body")
                article = body if body is not None else self.doc

            cleaned = self._sanitize(article, candidates)
            check_deadline(self.options)
            article_length = _text_length(cleaned)
            if ruthless and article_length < self.retry_length:
                ruthless = False
                continue
            return cleaned

    def _get_article(self, candidates: dict, best: _Candidate) -> Element:
        sibling_score_threshold = max(10, best.score * 0.2)
        output = Element("div")
        parent = best.elem.getparent()
        siblings = list(parent) if parent is not None else [best.elem]
        for sibling in siblings:
            append = False
            if sibling is best.elem or (
                sibling in candidates and candidates[sibling].score >= sibling_score_threshold
            ):
                append = True
            elif sibling.tag == "p":
                link_density = self._link_density(sibling)
                node_content = sibling.text or ""
                node_length = len(node_content)
                if (
                    node_length > 80
                    and link_density < 0.25
                    or (node_length <= 80 and link_density == 0 and DOT_SPACE.search(node_content))
                ):
                    append = True
            if append:
                output.append(sibling)
        return output

    def _select_best_candidate(self, candidates: dict) -> Optional[_Candidate]:
        if not candidates:
            return None
        return max(candidates.values(), key=lambda c: c.score)

    def _link_density(self, elem: Element) -> float:
        text, links = _text_and_links(elem)
        total = len(trim(text)) or 1
        link_length = sum(_text_length(link) for link in links)
        return link_length / total

    def _score_paragraphs(self) -> dict:
        """Score p/pre/td by text length and commas, credit their parent
        and grandparent, then scale every candidate by its link density.
        One fold_subtree walk over the outermost scored elements gives
        their text figures; only candidates with an <a> descendant have a
        link density above 0, and a second walk over the outermost of
        them gives theirs (no mutation happens here).  O(n) however deep
        the page."""
        scored: list = []
        links: list = []
        for elem in self.doc.iter("p", "pre", "td", "a"):
            (links if elem.tag == "a" else scored).append(elem)
        stats: dict = {}

        def visit(elem: Element, elem_stats) -> bool:
            stats[elem] = elem_stats
            return False

        fold_subtree(outermost(scored), _SCORED_TAGS, visit)

        candidates: dict = {}
        for elem in scored:
            parent_node = elem.getparent()
            if parent_node is None:
                continue
            grand_parent_node = parent_node.getparent()

            elem_stats = stats[elem]
            elem_text_len = elem_stats.length
            if elem_text_len < self.min_text_length:
                continue

            for node in (parent_node, grand_parent_node):
                if node is not None and node not in candidates:
                    candidates[node] = self._score_node(node)

            # len(trim(text).split(",")) is the comma count + 1
            score = 1 + (elem_stats.commas + 1) + min(elem_text_len / 100, 3)
            candidates[parent_node].score += score
            if grand_parent_node is not None:
                candidates[grand_parent_node].score += score / 2

        # the candidates above a link, each ancestor chain climbed once
        linked: dict = {}
        climbed: set = set()
        for link in links:
            node = link._parent
            while node is not None and node not in climbed:
                climbed.add(node)
                if node in candidates:
                    linked[node] = None
                node = node._parent

        def scale(elem: Element, elem_stats) -> bool:
            candidates[elem].score *= 1 - elem_stats.link_chars / (elem_stats.length or 1)
            return False

        fold_subtree(outermost(linked), (), scale, key_elems=linked, link_tag="a")
        return candidates

    def _class_weight(self, elem: Element) -> float:
        weight = 0
        for attribute in filter(None, (elem.get("class"), elem.get("id"))):
            weight += _attr_weight(attribute)
        return weight

    def _score_node(self, elem: Element) -> _Candidate:
        score = self._class_weight(elem)
        name = elem.tag.lower()
        if name in DIV_SCORES:
            score += 5
        elif name in BLOCK_SCORES:
            score += 3
        elif name in BAD_ELEM_SCORES:
            score -= 3
        elif name in STRUCTURE_SCORES:
            score -= 5
        return _Candidate(score, elem)

    def _remove_unlikely_candidates(self) -> None:
        for elem in list(self.doc.iterdescendants()):
            if elem._parent is None:
                continue
            a = elem.attrib
            if not a:
                continue
            cls = a.get("class")
            eid = a.get("id")
            if cls:
                attrs = cls + " " + eid if eid else cls
            elif eid:
                attrs = eid
            else:
                continue
            if len(attrs) < 2:
                continue
            if elem.tag not in FRAME_TAGS and _unlikely_attrs(attrs):
                delete_element(elem)

    def _transform_misused_divs(self) -> None:
        # single bottom-up pass instead of a per-div subtree rescan (which
        # is quadratic on nested divs).  Every div is visited in document
        # order before any div INSIDE it could be renamed, so evaluating
        # all the "contains a DIV_TO_P_ELEMS descendant" checks against the
        # original tags is exactly the per-div loop's semantics.
        doc = self.doc
        divs: list = []
        has_block: dict = {}  # id(elem) -> subtree contains a DIV_TO_P_ELEMS tag
        order: list = []
        stack = list(doc._children)
        while stack:
            node = stack.pop()
            order.append(node)
            stack.extend(node._children)
        for node in reversed(order):  # children always before parents
            flag = False
            for c in node._children:
                if c.tag in DIV_TO_P_ELEMS or has_block[id(c)]:
                    flag = True
                    break
            has_block[id(node)] = flag
            if node.tag == "div":
                divs.append(node)
        for elem in divs:
            if not has_block[id(elem)]:
                elem.tag = "p"

        for elem in list(self.doc.iterdescendants("div")):
            if elem.text and elem.text.strip():
                p_elem = Element("p")
                p_elem.text, elem.text = elem.text, None
                elem.insert(0, p_elem)

            for pos in range(len(elem) - 1, -1, -1):
                child = elem[pos]
                if child.tail and child.tail.strip():
                    p_elem = Element("p")
                    p_elem.text, child.tail = child.tail, None
                    elem.insert(pos + 1, p_elem)
                if child.tag == "br":
                    delete_element(child)

    def _sanitize(self, node: Element, candidates: dict) -> Element:
        for header in list(node.iter("h1", "h2", "h3", "h4", "h5", "h6")):
            if self._class_weight(header) < 0 or self._link_density(header) > 0.33:
                delete_element(header)

        for elem in list(node.iter("form", "textarea")):
            delete_element(elem)

        for elem in list(node.iter("iframe")):
            if "src" in elem.attrib and VIDEO_RE.search(elem.attrib["src"]):
                elem.text = "VIDEO"
            else:
                delete_element(elem)

        # Targets are judged children first (reverse document order), each
        # on its subtree as left by the deletions below it, so one
        # fold_subtree walk gives every target's figures: O(n) in the
        # article size instead of one subtree walk per target.
        def visit(elem: Element, stats) -> bool:
            weight = self._class_weight(elem)
            score = candidates[elem].score if elem in candidates else 0
            if weight + score < 0:
                delete_element(elem)
                return True
            if stats.commas >= 10:
                return False
            counts = stats.counts
            n_p = counts.get("p", 0)
            n_img = counts.get("img", 0)
            n_li = counts.get("li", 0) - 100
            n_input = counts.get("input", 0) - counts.get(_HIDDEN_INPUT, 0)
            n_embed = counts.get("embed", 0)
            content_length = stats.length
            link_density = stats.link_chars / (content_length or 1)
            too_short = content_length < self.min_text_length
            if (
                (n_p and n_img > 1 + n_p * 1.3)  # too many images
                or (n_li > n_p and elem.tag not in LIST_TAGS)  # more li than p
                or n_input > n_p / 3  # too many inputs
                or (too_short and (n_img == 0 or n_img > 2))  # too short
                or (weight < 25 and link_density > 0.2)  # link-dense for weight
                or (weight >= 25 and link_density > 0.5)  # link-dense for high weight
                or (n_embed == 1 and content_length < 75) or n_embed > 1  # embeds
            ):
                delete_element(elem)
                return True
            if content_length:
                return False
            # no content: kept when the neighbours carry > 1000 chars
            siblings = []
            for sib in elem.itersiblings():
                sib_len = _text_length(sib)
                if sib_len:
                    siblings.append(sib_len)
                    break
            limit = len(siblings) + 1
            for sib in elem.itersiblings(preceding=True):
                sib_len = _text_length(sib)
                if sib_len:
                    siblings.append(sib_len)
                    if len(siblings) >= limit:
                        break
            if siblings and sum(siblings) > 1000:
                return False
            delete_element(elem)
            return True

        fold_subtree(
            [node], _SANITIZE_TARGETS, visit, counted=_SANITIZE_COUNTED, refine=_SANITIZE_REFINE, link_tag="a"
        )

        self.doc = node
        return node


def try_readability(htmlinput: Element, options: Options = DEFAULT_OPTIONS) -> Element:
    "Safety-net wrapper (reference external.py:35-45); a deadline miss still aborts."
    try:
        return ReadabilityExtractor(htmlinput, min_text_length=25, retry_length=250, options=options).summary()
    except ExtractionTimeout:
        raise
    except Exception:
        return Element("div")


# --- reader-ability pre-check (readability_lxml.py:410-471) -------------------

_READERABLE_UNLIKELY_RE = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|extra|"
    r"footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|sidebar|"
    r"skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|pager|popup|yom-remote",
    re.I,
)
_READERABLE_MAYBE_RE = re.compile(r"and|article|body|column|content|main|shadow", re.I)
_DISPLAY_NONE_RE = re.compile(r"display:\s*none", re.I)


def is_node_visible(node: Element) -> bool:
    "Style/attribute visibility check (readability_lxml.py:421-433)."
    if _DISPLAY_NONE_RE.search(node.get("style") or ""):
        return False
    if "hidden" in node.attrib:
        return False
    if node.get("aria-hidden") == "true" and "fallback-image" not in (node.get("class") or ""):
        return False
    return True


def is_probably_readerable(html, options: Optional[dict] = None) -> bool:
    """Cheap reader-ability decision without running the extractor
    (readability_lxml.py:436-471 / mozilla readability): sqrt-scored
    text mass over visible p/pre/article and div>br nodes."""
    from math import sqrt

    from .loader import load_html

    options = options or {}
    doc = load_html(html)
    if doc is None:
        return False

    min_content_length = options.get("min_content_length", 140)
    min_score = options.get("min_score", 20)
    visibility_checker = options.get("visibility_checker", is_node_visible)

    nodes = list(dict.fromkeys(
        list(doc.iterdescendants("p", "pre", "article"))
        + [br.getparent() for br in doc.iterdescendants("br") if br.getparent() is not None and br.getparent().tag == "div"]
    ))

    score = 0.0
    for node in nodes:
        if not visibility_checker(node):
            continue
        class_and_id = f"{node.get('class') or ''} {node.get('id') or ''}"
        if _READERABLE_UNLIKELY_RE.search(class_and_id) and not _READERABLE_MAYBE_RE.search(class_and_id):
            continue
        parent = node.getparent()
        if node.tag == "p" and parent is not None and parent.tag == "li":
            continue
        text_content_length = len(node.text_content().strip())
        if text_content_length < min_content_length:
            continue
        score += sqrt(text_content_length - min_content_length)
        if score > min_score:
            return True
    return False
