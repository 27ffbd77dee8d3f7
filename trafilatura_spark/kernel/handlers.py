"""Main extractor: per-tag handlers, candidate-ladder selection, wild-text
recovery and comment capture.

Semantics mirror /root/reference/trafilatura/main_extractor.py (handlers
:70-652, tables :401-580, _extract :743-790, extract_content :793-820,
recover_wild_text :655-701, prune_unwanted_sections :704-740,
extract_comments :823-867).
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urljoin

from .cleaning import (
    delete_by_link_density,
    handle_textnode,
    link_dense_tables,
    process_node,
    prune_unwanted_nodes,
)
from .dom import Element, SubElement, delete_element, strip_elements, strip_tags
from .selectors import (
    BODY_PREDS,
    COMMENTS_PREDS,
    comments_discard_matches,
    first_match_ladder,
    discard_image_matches,
    overall_discard_matches,
    precision_discard_matches,
    teaser_discard_matches,
)
from .settings import (
    DEDUPE_SCAN_CAP,
    INLINE_CARRIED,
    MIN_DUPLICATE_LENGTH,
    TAG_CATALOG,
    Options,
    check_deadline,
)
from .textutils import FORMATTING_PROTECTED, is_image_file, text_chars_test, trim

P_FORMATTING = {"hi", "ref"}
TABLE_ELEMS = {"td", "th"}
_INLINE_WRAP_TAGS = P_FORMATTING | {"del"}
FORMATTING = P_FORMATTING | {"del", "span"}
KEEP_ATTRS = {"rend", "role", "target", "src", "alt", "title"}
CODES_QUOTES = {"code", "quote"}
NOT_AT_THE_END = {"head", "ref"}
_QUOTE_TAGS = set(TAG_CATALOG) | {"ref", "graphic"}
_MAX_SPAN = 100


def _elem_text(element: Element) -> str:
    "Plain concatenated text for recovery/adjacent dedup (main_extractor.py:51-57)."
    return trim("".join(element.itertext()))


def _wraps_inline(element: Element) -> bool:
    return len(element) > 0 and (
        element.tag == "ref" or any(c.tag in INLINE_CARRIED for c in element)
    )


def handle_titles(element: Element, options: Options) -> Optional[Element]:
    "Process head elements (main_extractor.py:70-93)."
    if len(element) == 0:
        title = process_node(element, options)
    else:
        title = element.copy_tree()
        for child in list(element):
            processed_child = handle_textnode(child, options, comments_fix=False)
            if processed_child is not None:
                title.append(processed_child)
            child.tag = "done"
    if title is not None and text_chars_test("".join(title.itertext())):
        return title
    return None


def handle_formatting(element: Element, options: Options) -> Optional[Element]:
    "Orphan inline formatting wrapped in <p> unless parent protected (:96-143)."
    formatting = process_node(element, options)
    if formatting is None:
        return None
    parent = element.getparent()
    if parent is None:
        parent = element.getprevious()
    if parent is None or parent.tag not in FORMATTING_PROTECTED:
        processed_element = Element("p")
        processed_element.insert(0, formatting)
    else:
        processed_element = formatting
    return processed_element


def update_elem_rendition(elem: Element, new_elem: Element) -> None:
    rend_attr = elem.get("rend")
    if rend_attr:
        new_elem.set("rend", rend_attr)


def is_text_element(elem: Optional[Element]) -> bool:
    return elem is not None and text_chars_test("".join(elem.itertext()))


def define_newelem(processed_elem: Optional[Element], orig_elem: Element, keep_children: bool = False) -> None:
    "Create a new sub-element, optionally carrying inline children (:174-189)."
    if processed_elem is None:
        return
    childelem = SubElement(orig_elem, processed_elem.tag)
    childelem.text, childelem.tail = processed_elem.text, processed_elem.tail
    for key, value in processed_elem.attrib.items():
        if key in KEEP_ATTRS:
            childelem.set(key, value)
    if keep_children:
        for sub in processed_elem:
            if sub.tag in INLINE_CARRIED or sub.tag == "lb":
                define_newelem(sub, childelem, keep_children=True)
                for carried in sub.iter():
                    carried.tag = "done"


def process_nested_elements(child: Element, new_child_elem: Element, options: Options) -> None:
    "Rewire a list item's descendants (:146-160)."
    new_child_elem.text = child.text
    for subelem in list(child.iterdescendants()):
        if subelem.tag == "list":
            processed_subchild = handle_lists(subelem, options)
            if processed_subchild is not None:
                new_child_elem.append(processed_subchild)
        elif subelem.tag in INLINE_CARRIED:
            define_newelem(subelem, new_child_elem, keep_children=True)
        else:
            processed_subchild = handle_textnode(subelem, options, comments_fix=False)
            if processed_subchild is not None:
                define_newelem(processed_subchild, new_child_elem)
        subelem.tag = "done"


def handle_lists(element: Element, options: Options) -> Optional[Element]:
    "Process list elements including descendants (:191-229)."
    processed_element = Element(element.tag)

    if element.text is not None and element.text.strip():
        new_child_elem = SubElement(processed_element, "item")
        new_child_elem.text = element.text

    for child in list(element.iterdescendants("item")):
        new_child_elem = Element("item")
        if len(child) == 0:
            processed_child = process_node(child, options)
            if processed_child is not None:
                new_child_elem.text = processed_child.text or ""
                if processed_child.tail and processed_child.tail.strip():
                    new_child_elem.text += " " + processed_child.tail
                processed_element.append(new_child_elem)
        else:
            process_nested_elements(child, new_child_elem, options)
            if child.tail is not None and child.tail.strip():
                new_child_elem_children = [el for el in new_child_elem if el.tag != "done"]
                if new_child_elem_children:
                    last_subchild = new_child_elem_children[-1]
                    if last_subchild.tail is None or not last_subchild.tail.strip():
                        last_subchild.tail = child.tail
                    else:
                        last_subchild.tail += " " + child.tail
        if new_child_elem.text or len(new_child_elem) > 0:
            update_elem_rendition(child, new_child_elem)
            processed_element.append(new_child_elem)
        child.tag = "done"
    element.tag = "done"
    if is_text_element(processed_element):
        update_elem_rendition(element, processed_element)
        return processed_element
    return None


def is_code_block_element(element: Element) -> bool:
    "Structural code markers (:232-245)."
    if element.get("lang") or element.tag == "code":
        return True
    parent = element.getparent()
    if parent is not None and "highlight" in (parent.get("class") or ""):
        return True
    code = element.find("code")
    if (
        code is not None
        and len(element) == 1
        and not (element.text or "").strip()
        and not (code.tail or "").strip()
    ):
        return True
    return False


def handle_code_blocks(element: Element) -> Element:
    processed_element = element.copy_tree()
    for child in element.iter():
        child.tag = "done"
    processed_element.tag = "code"
    return processed_element


def handle_quotes(element: Element, options: Options) -> Optional[Element]:
    "Process quote elements (:257-282)."
    if is_code_block_element(element):
        return handle_code_blocks(element)

    processed_element = Element(element.tag)
    processed_element.text = element.text
    for child in list(element.iterdescendants()):
        if child.tag == "graphic":
            processed_child = handle_image(child, options)
            define_newelem(processed_child, processed_element)
        elif child.tag == "p" and len(child) > 0:
            processed_child = handle_paragraphs(child, _QUOTE_TAGS, options)
            if processed_child is not None:
                processed_element.append(processed_child)
        elif child.tag in INLINE_CARRIED:
            define_newelem(child, processed_element, keep_children=True)
        else:
            processed_child = process_node(child, options)
            define_newelem(processed_child, processed_element)
        child.tag = "done"
    if is_text_element(processed_element):
        strip_tags(processed_element, "quote")
        return processed_element
    return None


def handle_other_elements(element: Element, potential_tags: set, options: Options) -> Optional[Element]:
    "Divs and unknown elements (:285-309)."
    if element.tag == "div" and "w3-code" in (element.get("class") or ""):
        return handle_code_blocks(element)

    if element.tag not in potential_tags:
        return None

    if element.tag == "div":
        processed_element = handle_textnode(element, options, comments_fix=False, preserve_spaces=True)
        if processed_element is not None and text_chars_test(processed_element.text):
            processed_element.attrib.clear()
            if processed_element.tag == "div":
                processed_element.tag = "p"
            return processed_element

    return None


def handle_paragraphs(element: Element, potential_tags: set, options: Options) -> Optional[Element]:
    "Process paragraphs along with their children (:312-398)."
    element.attrib.clear()

    if len(element) == 0:
        return process_node(element, options)

    processed_element = Element(element.tag)
    # NOTE reference iterates element.iter("*") which INCLUDES the element
    # itself (main_extractor.py:323): the p node is processed first and its
    # own text is carried through the nested-p merge branch below
    for child in [element] + list(element.iterdescendants()):
        if child.tag not in potential_tags and child.tag != "done":
            continue
        processed_child = handle_textnode(child, options, comments_fix=False, preserve_spaces=True)
        if processed_child is not None:
            if processed_child.tag == "p":
                if processed_element.text:
                    processed_element.text += " " + (processed_child.text or "")
                else:
                    processed_element.text = processed_child.text
                child.tag = "done"
                continue
            newsub = Element(child.tag)
            if processed_child.tag in P_FORMATTING:
                if _wraps_inline(processed_child):
                    define_newelem(processed_child, processed_element, keep_children=True)
                    child.tag = "done"
                    continue
                if len(processed_child) > 0:
                    for item in list(processed_child):
                        if item.tag == "lb" and item.tail:
                            item.tail = " " + item.tail.lstrip()
                        elif item.text is not None and text_chars_test(item.text):
                            item.text = " " + item.text
                        strip_tags(processed_child, item.tag)
                if child.tag == "hi":
                    newsub.set("rend", child.get("rend", ""))
                elif child.tag == "ref":
                    if child.get("target") is not None:
                        newsub.set("target", child.get("target", ""))
            newsub.text, newsub.tail = processed_child.text, processed_child.tail

            if processed_child.tag == "graphic":
                image_elem = handle_image(processed_child, options)
                if image_elem is not None:
                    newsub = image_elem
            processed_element.append(newsub)
        child.tag = "done"
    if len(processed_element) > 0:
        last_elem = processed_element[-1]
        if last_elem.tag == "lb" and last_elem.tail is None:
            delete_element(last_elem)
        return processed_element
    if processed_element.text:
        return processed_element
    return None


# --- tables (:401-580) --------------------------------------------------------

def define_cell_type(is_header: bool) -> Element:
    cell_element = Element("cell")
    if is_header:
        cell_element.set("role", "head")
    return cell_element


def _span_value(cell: Element, attr: str) -> int:
    value = cell.get(attr, "1")
    return min(int(value), _MAX_SPAN) if value.isdecimal() else 1


def _row_has_content(row: Element) -> bool:
    return any(cell.text or len(cell) > 0 for cell in row)


def _flush_rowspan_phantoms(rowspan_map: dict, newrow: Element) -> None:
    while (col := len(newrow)) in rowspan_map:
        newrow.append(define_cell_type(False))
        rowspan_map[col] -= 1
        if rowspan_map[col] == 0:
            del rowspan_map[col]


def _finalize_row(newtable: Element, newrow: Element, rowspan_map: dict, max_cols: int) -> None:
    _flush_rowspan_phantoms(rowspan_map, newrow)
    while len(newrow) < max_cols:
        newrow.append(define_cell_type(False))
    if _row_has_content(newrow):
        newtable.append(newrow)


def _inner_table_tails(table: Element, memo: dict) -> str:
    """The tails of all tables inside ``table`` (not its own), concatenated
    in document order: what a cell around ``table`` also receives, since
    _fill_cell keeps the tail of every table nested in it at any depth.

    Memoised per table in ``memo``, which one handler loop shares across
    its handle_table calls: a nested table whose own handle_table still
    runs has not been touched since an enclosing call measured it (any
    handler that walks into it marks it done).  Each subtree is walked
    once, iteratively: O(n) for the whole loop, at any nesting depth."""
    if table in memo:
        return memo[table]
    nearest: dict = {table: []}  # table -> its nearest nested tables, in document order
    stack = [(child, table) for child in reversed(table._children)]
    while stack:
        node, owner = stack.pop()
        if node.tag == "table":
            nearest[owner].append(node)
            if node in memo:
                continue
            nearest[node] = []
            owner = node
        stack.extend((child, owner) for child in reversed(node._children))
    for outer in reversed(list(nearest)):  # inner tables first
        memo[outer] = "".join((t.tail or "") + memo[t] for t in nearest[outer])
    return memo[table]


def _fill_cell(
    new_child_elem: Element,
    cell: Element,
    table_tails: dict,
    ptags_with_div: set,
    options: Options,
) -> None:
    """Extract a td/th cell's content into the new <cell> (:442-490).
    A nested table is left to its own handle_table; the cell keeps only
    its tail and the tails of the tables inside it (_inner_table_tails)."""
    if len(cell) == 0:
        processed_cell = process_node(cell, options)
        if processed_cell is not None:
            new_child_elem.text, new_child_elem.tail = processed_cell.text, processed_cell.tail
        return
    new_child_elem.text, new_child_elem.tail = cell.text, cell.tail
    cell.tag = "done"
    # the cell's descendants in document order, nested tables unopened
    items: list = []
    stack = cell._children[::-1]
    while stack:
        node = stack.pop()
        items.append(node)
        if node.tag != "table":
            stack.extend(node._children[::-1])
    for child in items:
        if child.tag == "done":
            continue
        if child.tag == "table":
            tails = (child.tail or "") + _inner_table_tails(child, table_tails)
            if tails:
                if len(new_child_elem) > 0:
                    new_child_elem[-1].tail = (new_child_elem[-1].tail or "") + tails
                else:
                    new_child_elem.text = (new_child_elem.text or "") + tails
            continue
        if child.tag in TABLE_ELEMS:
            child.tag = "cell"
            processed_subchild = handle_textnode(child, options, preserve_spaces=True)
        elif child.tag in _INLINE_WRAP_TAGS:
            processed_subchild = handle_textnode(child, options, preserve_spaces=True)
            if processed_subchild is None and len(child) > 0:
                define_newelem(child, new_child_elem, keep_children=True)
                for el in child.iter():
                    el.tag = "done"
                continue
        elif child.tag == "list" and options.focus == "recall":
            processed_subchild = handle_lists(child, options)
            if processed_subchild is not None:
                new_child_elem.append(processed_subchild)
            child.tag = "done"
            continue
        else:
            processed_subchild = handle_textelem(child, ptags_with_div, options)
        define_newelem(processed_subchild, new_child_elem, keep_children=True)
        child.tag = "done"


def handle_table(
    table_elem: Element, potential_tags: set, options: Options, table_tails: Optional[dict] = None
) -> Optional[Element]:
    """Process a single table (:493-580).  ``table_tails`` is the handler
    loop's _inner_table_tails memo; with it, every table of a nest costs
    O(its own rows and cells), so the loop is O(n) however deep tables
    nest."""
    newtable = Element("table")
    ptags_with_div = set(potential_tags) | {"div"}
    if table_tails is None:
        table_tails = {}

    # the reference strips thead/tbody/tfoot here; tree_cleaning has
    # already stripped them from every tree that reaches the handlers
    # (MANUALLY_STRIPPED) and nothing creates them again

    direct_rows = [c for c in table_elem if c.tag == "tr"]
    col_counts = [
        sum(_span_value(td, "colspan") for td in tr if td.tag in TABLE_ELEMS) for tr in direct_rows
    ]
    max_cols = min(max(col_counts, default=0), _MAX_SPAN)

    for caption_elem in [c for c in table_elem if c.tag == "caption"]:
        caption_text = " ".join(caption_elem.itertext()).strip()
        if caption_text:
            caption_row = Element("row")
            caption_cell = define_cell_type(True)
            caption_cell.text = caption_text
            caption_row.append(caption_cell)
            while len(caption_row) < max_cols:
                caption_row.append(define_cell_type(False))
            newtable.append(caption_row)
        caption_elem.tag = "done"

    header_row_emitted = False
    row_has_th = False
    newrow = Element("row")
    rowspan_map: dict = {}

    for elem in list(table_elem):
        if elem.tag == "tr":
            if len(newrow) > 0:
                _finalize_row(newtable, newrow, rowspan_map, max_cols)
                header_row_emitted = header_row_emitted or row_has_th
            newrow = Element("row")
            row_has_th = False
            _flush_rowspan_phantoms(rowspan_map, newrow)
            cells = list(elem)
        elif elem.tag in TABLE_ELEMS:
            cells = [elem]
        else:
            if elem.tag != "table":
                elem.tag = "done"
            continue

        for cell in cells:
            if cell.tag not in TABLE_ELEMS:
                continue
            is_header = cell.tag == "th" and not header_row_emitted
            row_has_th = row_has_th or is_header
            _flush_rowspan_phantoms(rowspan_map, newrow)
            new_child_elem = define_cell_type(is_header)
            colspan = _span_value(cell, "colspan")
            rows = _span_value(cell, "rowspan")
            if rows > 1:
                for c in range(len(newrow), len(newrow) + colspan):
                    rowspan_map[c] = rows - 1
            _fill_cell(new_child_elem, cell, table_tails, ptags_with_div, options)
            newrow.append(new_child_elem)
            for _ in range(colspan - 1):
                newrow.append(define_cell_type(is_header))
            cell.tag = "done"
        elem.tag = "done"

    _finalize_row(newtable, newrow, rowspan_map, max_cols)
    if len(newtable) > 0:
        return newtable
    return None


def handle_image(element: Optional[Element], options: Optional[Options] = None) -> Optional[Element]:
    "Process image elements (:583-622)."
    if element is None:
        return None

    processed_element = Element(element.tag)

    for attr in ("data-src", "src"):
        src = element.get(attr, "")
        if is_image_file(src):
            processed_element.set("src", src)
            break
    else:
        for attr, value in element.attrib.items():
            if attr.startswith("data-src") and is_image_file(value):
                processed_element.set("src", value)
                break

    alt_attr = element.get("alt")
    if alt_attr:
        processed_element.set("alt", alt_attr)
    title_attr = element.get("title")
    if title_attr:
        processed_element.set("title", title_attr)

    if not processed_element.attrib or not processed_element.get("src"):
        return None

    link = processed_element.get("src", "")
    if not link.startswith("http"):
        if options is not None and options.url is not None:
            link = urljoin(options.url, link)
        else:
            link = re.sub(r"^//", "http://", link)
        processed_element.set("src", link)

    processed_element.tail = element.tail
    return processed_element


def handle_textelem(
    element: Element, potential_tags: set, options: Options, table_tails: Optional[dict] = None
) -> Optional[Element]:
    "Dispatch by tag (:625-652); ``table_tails`` is handle_table's per-loop memo."
    new_element = None
    if element.tag == "list":
        new_element = handle_lists(element, options)
    elif element.tag in CODES_QUOTES:
        new_element = handle_quotes(element, options)
    elif element.tag == "head":
        new_element = handle_titles(element, options)
    elif element.tag == "p":
        new_element = handle_paragraphs(element, potential_tags, options)
    elif element.tag == "lb":
        if text_chars_test(element.tail):
            this_element = process_node(element, options)
            if this_element is not None:
                new_element = Element("p")
                new_element.text = this_element.tail
    elif element.tag in FORMATTING:
        new_element = handle_formatting(element, options)
    elif element.tag == "table" and "table" in potential_tags:
        new_element = handle_table(element, potential_tags, options, table_tails)
    elif element.tag == "graphic" and "graphic" in potential_tags:
        new_element = handle_image(element, options)
    else:
        new_element = handle_other_elements(element, potential_tags, options)
    return new_element


# --- section pruning and candidate ladder (:655-820) ---------------------------

def prune_unwanted_sections(
    tree: Element, potential_tags: set, options: Options, keep_teasers: bool = False
) -> Element:
    "Rule-based deletion of targeted sections (:704-740)."
    favor_precision = options.focus == "precision"
    check_deadline(options)
    tree = prune_unwanted_nodes(tree, overall_discard_matches(tree), with_backup=True)
    check_deadline(options)
    if "graphic" not in potential_tags:
        tree = prune_unwanted_nodes(tree, discard_image_matches(tree))
    if options.focus != "recall":
        if not keep_teasers:
            tree = prune_unwanted_nodes(tree, teaser_discard_matches(tree))
        if favor_precision:
            tree = prune_unwanted_nodes(tree, precision_discard_matches(tree))
    for _ in range(2):
        check_deadline(options)
        tree = delete_by_link_density(tree, "div", backtracking=True, favor_precision=favor_precision)
        tree = delete_by_link_density(tree, "list", backtracking=False, favor_precision=favor_precision)
        tree = delete_by_link_density(tree, "p", backtracking=False, favor_precision=favor_precision)
    check_deadline(options)
    if "table" in potential_tags or favor_precision:
        for elem in link_dense_tables(tree):
            delete_element(elem, keep_tail=False)
    if favor_precision:
        while len(tree) > 0 and tree[-1].tag == "head":
            delete_element(tree[-1], keep_tail=False)
        tree = delete_by_link_density(tree, "head", backtracking=False, favor_precision=True)
        tree = delete_by_link_density(tree, "quote", backtracking=False, favor_precision=True)
    return tree


def _document_root(element: Element) -> Element:
    node = element
    while node.getparent() is not None:
        node = node.getparent()
    return node


def _handle_all(subelems, potential_tags: set, options: Options) -> list:
    """handle_textelem over a candidate's elements with a cooperative
    deadline check every 64 elements (the per-document timeout must be
    able to preempt huge candidate subtrees, not only stage boundaries)."""
    out = []
    table_tails: dict = {}
    for i, e in enumerate(subelems):
        if i % 64 == 0:
            check_deadline(options)
        el = handle_textelem(e, potential_tags, options, table_tails)
        if el is not None:
            out.append(el)
    return out


def _extract(tree: Element, options: Options) -> tuple:
    "Candidate ladder over BODY selectors (:743-790)."
    potential_tags = set(TAG_CATALOG)
    if options.tables:
        potential_tags.update(["table", "td", "th", "tr"])
    if options.images:
        potential_tags.add("graphic")
    if options.links:
        potential_tags.add("ref")
    result_body = Element("body")

    # ladder over BODY selectors: one fused walk finds the first selector
    # with a match (identical to trying each in turn — the per-rung scans
    # only diverge after a mutation, and the ladder re-enters the fused
    # scan with the next rung index after every mutating iteration)
    rung = 0
    while True:
        rung, subtree = first_match_ladder(tree, BODY_PREDS, rung)
        if subtree is None:
            break
        check_deadline(options)
        subtree = prune_unwanted_sections(subtree, potential_tags, options)
        if len(subtree) == 0:
            rung += 1
            continue
        # NOTE '//p//text()' in the reference is document-absolute: it measures
        # all paragraph text in the containing tree, not just the subtree
        # (main_extractor.py:765)
        root = _document_root(subtree)
        ptest = ["".join(p.itertext()) for p in root.iterdescendants("p")]
        factor = 1 if options.focus == "precision" else 3
        if not any(ptest) or len("".join(ptest)) < options.min_extracted_size * factor:
            potential_tags.add("div")
        if "ref" not in potential_tags:
            strip_tags(subtree, "ref")
        if "span" not in potential_tags:
            strip_tags(subtree, "span")
        subelems = list(subtree.iterdescendants())
        if {e.tag for e in subelems} == {"lb"}:
            subelems = [subtree]
        result_body.extend(_handle_all(subelems, potential_tags, options))
        while len(result_body) > 0 and result_body[-1].tag in NOT_AT_THE_END:
            delete_element(result_body[-1], keep_tail=False)
        if sum(e.tag != "graphic" for e in result_body) > 1:
            break
        rung += 1
    temp_text = " ".join(result_body.itertext()).strip()
    return result_body, temp_text, potential_tags


def recover_wild_text(
    tree: Element, result_body: Element, options: Options, potential_tags: Optional[set] = None
) -> Element:
    "Recover missed text parts across the whole document (:655-701)."
    potential_tags = set(TAG_CATALOG if potential_tags is None else potential_tags)
    search_tags = {"code", "p", "quote", "table"}
    recall = options.focus == "recall"
    if recall:
        potential_tags.update(["div", "lb"])
        search_tags.update(["div", "lb", "list"])
    search_tree = prune_unwanted_sections(tree, potential_tags, options, keep_teasers=options.fast)
    unwanted = ("span",) if "ref" in potential_tags else ("a", "ref", "span")
    strip_tags(search_tree, *unwanted)

    subelems = [
        el
        for el in search_tree.iterdescendants()
        if el.tag in search_tags
        or (el.tag == "div" and "w3-code" in (el.get("class") or ""))
    ]
    elem_texts = [_elem_text(el) for el in result_body]
    existing = "\n".join(filter(None, elem_texts))
    existing_elems = set(elem_texts)
    table_tails: dict = {}
    for i, subelem in enumerate(subelems):
        if i % 64 == 0:
            check_deadline(options)
        processed = handle_textelem(subelem, potential_tags, options, table_tails)
        if processed is None:
            continue
        text = _elem_text(processed)
        under_cap = len(existing) <= DEDUPE_SCAN_CAP
        if text and (
            text in existing_elems
            or (len(text) > MIN_DUPLICATE_LENGTH and under_cap and text in existing)
        ):
            continue
        result_body.append(processed)
        if under_cap:
            existing += "\n" + text
        existing_elems.add(text)
    return result_body


def extract_content(cleaned_tree: Element, options: Options) -> tuple:
    "Main content extraction with recovery + repeat-drop (:793-820)."
    backup_tree = cleaned_tree.copy_tree()
    check_deadline(options)

    result_body, temp_text, potential_tags = _extract(cleaned_tree, options)

    if len(result_body) == 0 or len(temp_text) < options.min_extracted_size:
        result_body = recover_wild_text(backup_tree, result_body, options, potential_tags)
        temp_text = " ".join(result_body.itertext()).strip()
    previous = None
    for el in list(result_body):
        current = _elem_text(el)
        if current and current == previous and len(current) > MIN_DUPLICATE_LENGTH:
            delete_element(el, keep_tail=False)
        else:
            previous = current
    strip_elements(result_body, "done")
    strip_tags(result_body, "div")
    return result_body, temp_text, len(temp_text)


def process_comments_node(elem: Element, potential_tags: set, options: Options) -> Optional[Element]:
    if elem.tag in potential_tags:
        processed_element = handle_textnode(elem, options, comments_fix=True)
        if processed_element is not None:
            processed_element.attrib.clear()
            return processed_element
    return None


def extract_comments(tree: Element, options: Options) -> tuple:
    "Comment section capture (:834-867)."
    comments_body = Element("body")
    potential_tags = set(TAG_CATALOG)
    rung = 0
    while True:
        rung, subtree = first_match_ladder(tree, COMMENTS_PREDS, rung)
        if subtree is None:
            break
        subtree = prune_unwanted_nodes(subtree, comments_discard_matches(subtree))
        strip_tags(subtree, "a", "ref", "span")
        comments_body.extend(
            el
            for el in (
                process_comments_node(e, potential_tags, options)
                for e in list(subtree.iterdescendants())
            )
            if el is not None
        )
        if len(comments_body) > 0:
            delete_element(subtree, keep_tail=False)
            break
        rung += 1
    temp_comments = " ".join(comments_body.itertext()).strip()
    return comments_body, temp_comments, len(temp_comments), tree
