"""Subtree aggregates for many elements of one tree, in one linear walk.

The link-density tests (cleaning.py) and the readability scorer
(readability.py) ask, for many elements of a tree, about each element's
whole subtree: the length of its trimmed text, its commas, how many
descendants carry some tag, and the trimmed text length of its descendant
links.  A separate subtree walk per element costs O(n * depth), which is
quadratic on deeply nested pages.  ``fold_subtree`` answers them all in one
walk: a "key" element's stats combine the raw text of its own region (its
subtree minus nested keys) with the stats of the nested keys, so every
element and every text string is touched once, and the whole fold is O(n).
Callers fold only the subtrees of the outermost keys (``outermost``), so
the parts of the tree that hold no key are not walked.

The text is never joined across keys.  It is summarised as a whitespace
monoid that composes under concatenation and gives ``len(trim(text))``
exactly (textutils.trim collapses whitespace runs and strips): the number
of non-space characters, the number of whitespace-separated words, and
whether the text starts and ends with a non-space character.  Two
adjacent pieces share a word when the first ends and the second starts
with a non-space character.  ``str.split`` and ``str.isspace`` use the
same whitespace definition, so the counts agree with ``trim``.
"""

from __future__ import annotations

from typing import Callable, Container, Iterable, Mapping

from .textutils import trim


class SubtreeStats:
    """Aggregates of one element's inner content: its text and its
    descendants, not its own tail.

    - ``chars``, ``words``, ``lead``, ``trail``: the whitespace monoid of
      the inner text (``lead`` is None when the text is empty);
    - ``commas``: commas in the inner text;
    - ``length``: ``len(trim(inner text))``;
    - ``counts``: {key: descendants counted under that key}: each counted
      descendant under its tag, and under the key its tag's ``refine``
      function gives it (see fold_subtree);
    - ``link_chars``, ``links_filled``, ``links_short``: over descendant
      link elements, the sum of their trimmed text lengths, how many have
      non-empty trimmed text, and how many of those are shorter than 10.

    A childless key's stats carry only ``length`` and ``commas`` (its
    counts and link figures are empty); its parent takes its text as plain
    text.  During the walk the same object is the open element's accumulator and
    its stack marker: ``parts`` holds its region's texts and the stats of
    nested keys, in reverse document order, until the element closes;
    ``nested`` counts the stats among them."""

    __slots__ = (
        "elem", "visited", "parts", "nested", "chars", "words", "lead", "trail", "commas",
        "length", "counts", "link_chars", "links_filled", "links_short",
    )

    def __init__(self, elem, visited: bool) -> None:
        self.elem = elem
        self.visited = visited
        self.parts: list = []
        self.nested = 0
        self.counts: dict = {}
        self.link_chars = 0
        self.links_filled = 0
        self.links_short = 0

    def _measure(self, text: str) -> None:
        "Set the text fields from one string."
        if text:
            self.chars, self.words, self.lead, self.trail, self.commas = _text_monoid(text)
        else:
            self.chars = self.words = self.commas = 0
            self.lead = self.trail = None
        self.length = self.chars + self.words - 1 if self.words else 0

    def _close(self) -> None:
        "Fold ``parts`` into the text fields."
        parts = self.parts
        self.parts = []
        parts.reverse()
        if not self.nested:
            self._measure("".join(parts))
            return
        chars = words = commas = 0
        lead = trail = None
        i, n = 0, len(parts)
        while i < n:
            part = parts[i]
            if part.__class__ is str:
                # adjacent region texts are one piece: measure them joined
                j = i + 1
                while j < n and parts[j].__class__ is str:
                    j += 1
                seg = _text_monoid("".join(parts[i:j]))
                i = j
            else:
                i += 1
                if part.lead is None:  # empty text: transparent
                    continue
                seg = (part.chars, part.words, part.lead, part.trail, part.commas)
            if lead is None:
                lead = seg[2]
            elif trail and seg[2]:
                words -= 1  # the two pieces' edge words are one word
            chars += seg[0]
            words += seg[1]
            commas += seg[4]
            trail = seg[3]
        self.chars, self.words, self.lead, self.trail = chars, words, lead, trail
        self.commas = commas
        self.length = chars + words - 1 if words else 0


_NO_COUNTS: dict = {}  # a childless key's counts; never written


def _text_monoid(text: str) -> tuple:
    """(non-space chars, words, starts non-space, ends non-space, commas) of
    a non-empty string.  Not through the memoised ``trim``: region texts
    can be large and rarely repeat."""
    tokens = text.split()
    return sum(map(len, tokens)), len(tokens), not text[0].isspace(), not text[-1].isspace(), text.count(",")


def _count(counts: dict, elem, refine: Mapping[str, Callable]) -> None:
    tag = elem.tag
    counts[tag] = counts.get(tag, 0) + 1
    if tag in refine:
        key = refine[tag](elem)
        if key is not None:
            counts[key] = counts.get(key, 0) + 1


def _credit_link(parent: SubtreeStats, length: int) -> None:
    "Add a link whose inner text is ``length`` long to its nearest key ancestor's figures."
    parent.link_chars += length
    parent.links_filled += 1
    if length < 10:
        parent.links_short += 1


def outermost(elems: Iterable) -> list:
    """The elements of ``elems`` that have no ancestor in ``elems``, in the
    order given.  O(n) in the tree size: the ancestor chains are climbed
    with a memo, so no element is climbed past twice."""
    elems = list(elems)
    keys = set(elems)
    covered: dict = {}  # element -> it or one of its ancestors is in keys
    found = []
    for elem in elems:
        path = []
        node = elem._parent
        inside = False
        while node is not None:
            known = covered.get(node)
            if known is not None:
                inside = known
                break
            if node in keys:
                inside = covered[node] = True
                break
            path.append(node)
            node = node._parent
        for node in path:
            covered[node] = inside
        if not inside:
            found.append(elem)
    return found


def fold_subtree(
    roots: Iterable,
    key_tags: Container[str],
    visit: Callable,
    key_elems: Container = (),
    counted: Container[str] = frozenset(),
    refine: Mapping[str, Callable] = {},
    link_tag: str = "",
) -> None:
    """Call ``visit(elem, stats)`` with the ``SubtreeStats`` of every key
    element in the subtrees of ``roots``, the roots included.  The roots
    must be disjoint subtrees; given in document order, they are visited
    in reverse document order: descendants before their ancestor, later
    siblings before earlier ones.

    An element is a key when its tag is in ``key_tags`` or it is in
    ``key_elems``.  Descendants are counted when their tag is in
    ``counted``; ``refine`` maps some counted tags to a function that
    gives an element a second key to be counted under, or None.
    ``link_tag`` elements feed the link figures.
    ``visit`` may delete the element it is given (only that one): it then
    returns True, and the element leaves its ancestors' stats exactly as
    if it had been deleted before the walk, its tail staying in place.
    Otherwise it returns a false value.

    O(n) in the size of the subtrees: each element is opened once, each
    text and tail is read once, and each key's (or link's) stats are
    folded once into its nearest key ancestor.  A childless key or link
    passes its text up as plain text.  Texts and tails are read when
    their parent opens, so a deletion's tail merge (dom.delete_element)
    is not seen twice."""
    frame = SubtreeStats(None, False)  # the innermost open key; first a sink
    frames = [frame]
    emit = frame.parts.append
    stack: list = list(roots)
    pop = stack.pop
    push = stack.append
    stats_cls = SubtreeStats
    new_stats = object.__new__
    while stack:
        item = pop()
        cls = item.__class__
        if cls is str:
            emit(item)
            continue
        if cls is stats_cls:  # a key element closes
            frames.pop()
            frame = frames[-1]
            emit = frame.parts.append
            item._close()
            elem = item.elem
            if item.visited and visit(elem, item):
                continue
            emit(item)
            frame.nested += 1
            if item.counts:
                counts = frame.counts
                for tag, n in item.counts.items():
                    counts[tag] = counts.get(tag, 0) + n
            if item.links_filled:
                frame.link_chars += item.link_chars
                frame.links_filled += item.links_filled
                frame.links_short += item.links_short
            tag = elem.tag
            if tag in counted:
                _count(frame.counts, elem, refine)
            if tag == link_tag and item.length:
                _credit_link(frame, item.length)
            continue
        tag = item.tag
        keyed = tag in key_tags or item in key_elems
        if keyed or tag == link_tag:
            if not item._children:  # a leaf closes at once
                # its stats need only the length and commas: the parent
                # takes its text as plain text
                text = item.text
                length = len(trim(text)) if text else 0
                if keyed:
                    leaf = new_stats(stats_cls)
                    leaf.elem = item
                    leaf.length = length
                    leaf.commas = text.count(",") if text else 0
                    leaf.counts = _NO_COUNTS
                    leaf.link_chars = leaf.links_filled = leaf.links_short = 0
                    if visit(item, leaf):
                        continue
                if text:
                    emit(text)
                if tag in counted:
                    _count(frame.counts, item, refine)
                if tag == link_tag and length:
                    _credit_link(frame, length)
                continue
            frame = stats_cls(item, keyed)
            frames.append(frame)
            emit = frame.parts.append
            push(frame)
        elif tag in counted:
            _count(frame.counts, item, refine)
        children = item._children
        if not children:  # its text is next in reverse document order
            if item.text:
                emit(item.text)
            continue
        if item.text:
            push(item.text)
        for child in children:
            push(child)
            if child.tail:
                push(child.tail)
