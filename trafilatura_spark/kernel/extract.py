"""Extraction cascade facade.

Mirrors /root/reference/trafilatura/core.py:137-287 (forum detection,
trafilatura_sequence) and :290-491 (bare_extraction gates), plus the
comparator decision logic of external.py:48-121 — re-expressed over the
lightweight DOM, with a per-document `tier` label for pipeline metrics
(the Spark jobs aggregate tiers per partition).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Optional

from .baseline import baseline, basic_cleaning, html2txt, html2txt_len
from .cleaning import convert_tags, prune_unwanted_nodes, tree_cleaning
from .dom import Element, delete_element, strip_tags
from .handlers import _elem_text, extract_comments, extract_content
from .justext import try_justext
from .loader import UnsupportedCompression, load_html
from .readability import try_readability
from .selectors import remove_comments_matches
from .serialize import xmltotxt
from .settings import (
    ESCALATION_ACCEPT_RATIO,
    ESCALATION_JUSTEXT_RATIO,
    ESCALATION_MAX_LENGTH,
    ESCALATION_PAGE_SHARE,
    JUSTEXT_OVERRIDE_RATIO,
    DEFAULT_OPTIONS,
    ExtractionTimeout,
    Options,
    check_deadline,
)
from .textutils import normalize_unicode, trim

_DISCUSSION_FORUM_POSTING_RE = re.compile(
    r'"@type"\s*:\s*"DiscussionForumPosting"|"@type"\s*:\s*\[[^\]]*"DiscussionForumPosting"'
)

# tags marking an unclean fallback result (external.py:28)
_SANITIZED_TAGS = frozenset(
    "aside audio button fencedframe fieldset figure footer iframe input label link nav "
    "noindex noscript object option select source svg time".split()
)

TEI_VALID_TAGS = frozenset(
    "ab body cell code del div graphic head hi item lb list p quote ref row table".split()
)


@dataclass
class ExtractionResult:
    text: Optional[str]
    tier: str
    chars_kept: int
    len_comments: int
    body: Optional[Element] = None
    commentsbody: Optional[Element] = None
    raw_text: Optional[str] = None
    # populated when options.with_metadata (or an implying option) is set:
    # extracted from the SAME parsed tree as the content cascade, so the
    # metadata path costs zero extra HTML parses (reference core.py:405-413
    # likewise extracts metadata from the one loaded tree)
    metadata: Any = None


def _forum_thread_page(tree: Element) -> bool:
    "schema.org DiscussionForumPosting detection (core.py:142-154)."
    for script in tree.iterdescendants("script"):
        if (
            script.get("type") == "application/ld+json"
            and script.text
            and _DISCUSSION_FORUM_POSTING_RE.search(script.text)
        ):
            return True
    return False


def _prepare_tree(tree: Element, options: Options, url: Optional[str]) -> tuple:
    cleaned = tree_cleaning(tree.copy_tree(), options)
    check_deadline(options)
    backup = cleaned.copy_tree()
    cleaned = convert_tags(cleaned, options, url)
    check_deadline(options)
    return cleaned, backup


def _sanitize_fallback_tree(tree: Element, options: Options) -> tuple:
    "Convert a readability output tree to the internal vocabulary (external.py:176-208)."
    cleaned_tree = tree_cleaning(tree, options)
    if not options.links:
        strip_tags(cleaned_tree, "a")
    strip_tags(cleaned_tree, "span")
    check_deadline(options)
    cleaned_tree = convert_tags(cleaned_tree, options, options.url)
    check_deadline(options)
    seen_group_elems: set = set()
    for tr in cleaned_tree.iter("tr"):
        parent = tr.getparent()
        if parent not in seen_group_elems and any(c.tag == "th" for c in tr):
            seen_group_elems.add(parent)
            for c in tr:
                if c.tag == "th":
                    c.set("role", "head")
    for elem in cleaned_tree.iter("td", "th", "tr"):
        if elem.tag == "tr":
            elem.tag = "row"
        else:
            elem.tag = "cell"
    sanitization_list = sorted(
        {el.tag for el in cleaned_tree.iter()} - TEI_VALID_TAGS
    )
    strip_tags(cleaned_tree, *sanitization_list)
    text = trim(" ".join(cleaned_tree.itertext()))
    return cleaned_tree, text, len(text)


def _justext_rescue(tree: Element, options: Options) -> tuple:
    "jusText as second fallback (external.py:166-173)."
    tree = basic_cleaning(tree)
    check_deadline(options)
    temppost_algo = try_justext(tree, options.url, options.lang)
    temp_text = trim(" ".join(temppost_algo.itertext()))
    return temppost_algo, temp_text, len(temp_text)


def _prefer_readability(
    body: Element, algo_body: Element, algo_text: str, len_text: int, len_algo: int, options: Options
) -> bool:
    "Decision heuristics (external.py:48-77)."
    if len_algo in (0, len_text):
        return False
    if len_text > 2 * len_algo:
        return False
    has_p_text = any("".join(p.itertext()) for p in body.iterdescendants("p"))
    return (
        len_text == 0
        or (len_algo > 2 * len_text and not algo_text.startswith("{"))
        or (
            len_algo > options.min_extracted_size * 2
            and (not has_p_text or len(body.findall(".//table")) > len(body.findall(".//p")))
        )
        or (options.focus == "recall" and len_algo > 1.5 * len_text and not algo_text.startswith("{"))
        or (
            options.focus == "recall"
            and not body.findall(".//head")
            and any(algo_body.iterdescendants("h2", "h3", "h4"))
            and len_algo > len_text
        )
    )


def _compare_extraction(
    cleaned_tree: Element,
    raw_tree: Element,
    body: Element,
    text: str,
    len_text: int,
    options: Options,
    tier: list,
) -> tuple:
    "Choose own vs readability vs justext (external.py:80-121)."
    if options.focus == "recall" and len_text > options.min_extracted_size * 10:
        return body, text, len_text

    jt_result = False
    if options.focus == "precision":
        from .selectors import overall_discard_matches

        raw_tree = prune_unwanted_nodes(raw_tree, overall_discard_matches(raw_tree))

    check_deadline(options)  # stage boundary: before the readability pass
    temppost_algo = try_readability(raw_tree, options)
    algo_text = trim(temppost_algo.text_content())
    len_algo = len(algo_text)

    use_readability = _prefer_readability(body, temppost_algo, algo_text, len_text, len_algo, options)
    if use_readability:
        body, text, len_text = temppost_algo, algo_text, len_algo
        tier[0] = "readability"

    if any(el.tag in _SANITIZED_TAGS for el in body.iterdescendants()) or len_text < options.min_extracted_size:
        check_deadline(options)  # stage boundary: before the justext pass
        body2, text2, len_text2 = _justext_rescue(cleaned_tree, options)
        if text2 and len_text <= JUSTEXT_OVERRIDE_RATIO * len_text2:
            body, text, len_text = body2, text2, len_text2
            jt_result = True
            tier[0] = "justext"

    if use_readability and not jt_result:
        body, text, len_text = _sanitize_fallback_tree(body, options)

    return body, text, len_text


def _recall_retry(esc_tree: Element, r_options: Options, url: Optional[str], tier: list) -> tuple:
    "Stage-4 retry in recall mode (core.py:165-176)."
    cleaned_tree, cleaned_tree_backup = _prepare_tree(esc_tree, r_options, url)
    postbody, temp_text, len_text = extract_content(cleaned_tree, r_options)
    if not r_options.fast:
        subtier = [tier[0]]
        postbody, temp_text, len_text = _compare_extraction(
            cleaned_tree_backup, esc_tree.copy_tree(), postbody, temp_text, len_text, r_options, subtier
        )
    return postbody, temp_text, len_text


def trafilatura_sequence(tree: Element, options: Options, url: Optional[str] = None) -> tuple:
    """The 4-stage cascade (core.py:179-287).  Returns
    (postbody, temp_text, len_text, commentsbody, temp_comments, len_comments, tier)."""
    tier = ["main"]
    is_forum = _forum_thread_page(tree)
    if not options.comments and (options.focus == "precision" or not is_forum):
        tree = tree.copy_tree()
        tree = prune_unwanted_nodes(tree, [remove_comments_matches(tree)])
    cleaned_tree, cleaned_tree_backup = _prepare_tree(tree, options, url)

    commentsbody, temp_comments, len_comments = Element("body"), "", 0
    forum_posts = None
    if options.comments:
        commentsbody, temp_comments, len_comments, cleaned_tree = extract_comments(cleaned_tree, options)
        if len_comments > 0 and is_forum:
            forum_posts = commentsbody
            commentsbody, temp_comments, len_comments = Element("body"), "", 0
            cleaned_tree = convert_tags(cleaned_tree_backup.copy_tree(), options, url)
    if options.focus == "precision" and not is_forum:
        cleaned_tree = prune_unwanted_nodes(cleaned_tree, [remove_comments_matches(cleaned_tree)])

    # 1. main extractor
    check_deadline(options)
    postbody, temp_text, len_text = extract_content(cleaned_tree, options)

    # 2. external comparison
    if not options.fast:
        check_deadline(options)
        postbody, temp_text, len_text = _compare_extraction(
            cleaned_tree_backup, tree.copy_tree(), postbody, temp_text, len_text, options, tier
        )

    # 3. baseline rescue
    if len_text < options.min_extracted_size and options.focus != "precision":
        check_deadline(options)
        postbody, temp_text, len_text = baseline(tree)
        tier[0] = "baseline"
        forum_posts = None

    # 4. recall escalation
    if (
        options.focus == "balanced"
        and 0 < len_text < ESCALATION_MAX_LENGTH
        # html2txt_len == len(html2txt(tree)) without the copy/mutation
        and len_text < ESCALATION_PAGE_SHARE * html2txt_len(tree)
    ):
        r_options = options.copy(focus="recall")
        if is_forum:
            esc_tree = tree
        else:
            esc_tree = tree.copy_tree()
            esc_tree = prune_unwanted_nodes(esc_tree, [remove_comments_matches(esc_tree)])
        r_len = 0
        r_body, r_text = None, ""
        try:
            check_deadline(options)
            r_body, r_text, r_len = _recall_retry(esc_tree, r_options, url, tier)
        except ExtractionTimeout:
            raise  # a deadline miss must abort the document, not this stage
        except Exception:
            pass
        j_len = 0
        j_body, j_text = None, ""
        if not options.fast:
            try:
                check_deadline(options)
                j_body, j_text, j_len = _justext_rescue(esc_tree.copy_tree(), options)
            except ExtractionTimeout:
                raise
            except Exception:
                pass

        if j_len > r_len and j_len > ESCALATION_JUSTEXT_RATIO * len_text:
            postbody, temp_text, len_text, forum_posts = j_body, j_text, j_len, None
            tier[0] = "escalation_justext"
        elif r_len >= options.min_extracted_size and r_len > ESCALATION_ACCEPT_RATIO * len_text:
            postbody, temp_text, len_text, forum_posts = r_body, r_text, r_len, None
            tier[0] = "escalation_recall"

    if forum_posts is not None:
        existing = "\n".join(filter(None, (_elem_text(el) for el in postbody)))
        salvaged = [el for el in forum_posts if (t := _elem_text(el)) and t not in existing]
        if salvaged:
            postbody.extend(salvaged)
            temp_text = " ".join(postbody.itertext()).strip()
            len_text = len(temp_text)

    return postbody, temp_text, len_text, commentsbody, temp_comments, len_comments, tier[0]


def bare_extract(filecontent: Any, options: Options = DEFAULT_OPTIONS) -> ExtractionResult:
    "Per-document extraction with gates (core.py:290-491), returning text + tier."
    try:
        # PDF payloads (north-rule "PDF/layout parse"): a from-scratch
        # content-stream text reader (kernel/pdftext.py) — never the HTML
        # parse, which would render PDF bytes as soup
        from .pdftext import is_pdf

        if is_pdf(filecontent):
            from .pdftext import decryption_key, extract_pdf_info, is_encrypted
            from .textutils import sanitize

            # standard-security (RC4/AES) with an empty user password
            # decrypts transparently; anything this reader cannot open
            # (real password, unknown handler) is labeled, never parsed
            # as garbage.  The file key is derived ONCE here and passed
            # down — /R 6 Algorithm 2.B costs thousands of AES block ops
            crypt = None
            if is_encrypted(filecontent):
                crypt = decryption_key(filecontent, options.pdf_password)
                if crypt is None:
                    return ExtractionResult(None, "pdf_encrypted", 0, 0)
            info = extract_pdf_info(filecontent, crypt)
            pdf_text = normalize_unicode(sanitize(info.text) or "")
            if not pdf_text or len(pdf_text) < options.min_output_size:
                # distinguish WHY there is no text: CID fonts without a
                # ToUnicode map are countable corpus inventory, not
                # generic emptiness
                tier = "pdf_no_text_map" if info.unmapped_cid else "pdf_empty"
                return ExtractionResult(None, tier, 0, 0)
            # text extracted in stream order would interleave columns on
            # row-major multi-column pages — labeled so a corpus owner can
            # count documents needing layout reconstruction
            tier = "pdf_multi_column" if info.multi_column else "pdf"
            return ExtractionResult(pdf_text, tier, len(pdf_text), 0)

        tree = load_html(filecontent)
        if tree is None:
            return ExtractionResult(None, "unparseable", 0, 0)
        check_deadline(options)

        # quick declared-language gate in fast mode (core.py:399-402:
        # meta-language check when the classifier would be skipped)
        if options.lang and options.fast:
            from .langid import check_html_lang

            if check_html_lang(tree, options.lang) is False:
                return ExtractionResult(None, "wrong_language", 0, 0)

        # metadata is extracted ONCE, from the already-parsed tree, before
        # the cascade (reference core.py:405-413); every downstream
        # consumer (blacklist gate, only_with_metadata gate, front matter,
        # TEI header) reuses this object instead of re-parsing the document
        metadata = None
        if options.with_metadata:
            from .metadata import extract_metadata

            metadata = extract_metadata(
                tree,
                options.url,
                options.author_blacklist,
                date_extensive=options.date_extensive,
                date_original=options.date_original,
                min_date=options.date_min,
                max_date=options.date_max,
            )

            # per-job URL blacklist (reference core.py:414-417): the check
            # is against the EXTRACTED document URL — canonical/og:url from
            # the page, falling back to the job-supplied URL (with_metadata
            # is implied by a blacklist, settings.py:99-101)
            if options.url_blacklist and metadata.url in options.url_blacklist:
                return ExtractionResult(None, "blacklisted_url", 0, 0)

            # metadata completeness gate (reference core.py:419-422):
            # enforced HERE, on the main execution path, so the Spark
            # operators honor the option through bare_extract too
            if options.only_with_metadata and not (
                metadata.url and metadata.title and metadata.date
            ):
                return ExtractionResult(None, "no_metadata", 0, 0)

        # user pruning rules (reference prune_xpath, core.py:429-432):
        # subtrees removed before the cascade sees the document
        if options.prune_selectors:
            from .selectors import compile_user_selector

            tree = prune_unwanted_nodes(
                tree, [compile_user_selector(s) for s in options.prune_selectors]
            )

        (
            postbody,
            temp_text,
            len_text,
            commentsbody,
            temp_comments,
            len_comments,
            tier,
        ) = trafilatura_sequence(tree, options, options.url)

        if options.max_tree_size:
            if len(postbody) > options.max_tree_size:
                strip_tags(postbody, "hi")
            if len(postbody) > options.max_tree_size:
                return ExtractionResult(None, "discarded_size", 0, 0)
        if len_text < options.min_output_size and len_comments < options.min_output_comm_size:
            return ExtractionResult(None, "discarded", 0, 0)

        # body-level duplicate gate (core.py:465-467; reference default off)
        if options.dedup:
            from .dedup_state import duplicate_test

            if duplicate_test(postbody, options):
                return ExtractionResult(None, "discarded_duplicate", 0, 0)

        # language gate (core.py:470-474; n-gram classifier stand-in,
        # strict = discard-on-unknown as with py3langid installed)
        if options.lang:
            from .langid import language_filter

            if language_filter(temp_text, temp_comments, options.lang, options.lang_strict):
                return ExtractionResult(None, "wrong_language", 0, 0)
    except ExtractionTimeout:
        # preemptive per-document bound: the reference's 30 s/file kill
        # yields no output for the document (cli_utils.py:431-437)
        return ExtractionResult(None, "timeout", 0, 0)
    except UnsupportedCompression:
        # zstd/brotli payloads with no decoder in this environment:
        # a labeled discard, never a garbage latin-1 parse
        return ExtractionResult(None, "unsupported_input", 0, 0)
    except (TypeError, ValueError):
        return ExtractionResult(None, "error", 0, 0)

    text = xmltotxt(postbody, options.formatting)
    if options.comments and commentsbody is not None:
        text = f"{text}\n{xmltotxt(commentsbody, options.formatting)}".strip()
    text = normalize_unicode(text)
    return ExtractionResult(
        text, tier, len(text), len_comments, postbody, commentsbody, temp_text, metadata
    )


def serialize_result(result: ExtractionResult, options: Options) -> Optional[str]:
    """Format dispatcher over a finished ExtractionResult — shared by the
    extract() facade and the Spark operator (operators/extract.py), so a
    format='xml'/'json'/... job serializes per turn identically to the
    single-document API.  txt/markdown return the plain string UNLESS
    metadata was requested — then the YAML front-matter path runs
    (reference core.py:118-125)."""
    if result.text is None or (
        options.format in ("txt", "markdown") and not options.with_metadata
    ):
        return result.text
    if result.body is None:
        # PDF-path results carry plain text and no DOM body: the
        # format dispatcher has no tree to serialize
        return result.text
    from .formats import determine_returnstring

    # metadata was extracted from the same parsed tree inside bare_extract;
    # reuse it (one parse per document on every path)
    metadata = result.metadata
    if metadata is not None:
        # fingerprint only for non-text formats (core.py:778-785: the
        # markdown/txt front matter carries no fingerprint line)
        if options.format not in ("txt", "markdown") and result.raw_text is not None:
            from .fingerprint import content_fingerprint

            metadata.fingerprint = content_fingerprint(  # type: ignore[attr-defined]
                f"{metadata.title} {result.raw_text}"
            )
    return determine_returnstring(result.body, result.commentsbody, options, metadata)


def extract(filecontent: Any, options: Options = DEFAULT_OPTIONS) -> Optional[str]:
    """Reference `extract()`-equivalent: txt/markdown return the plain
    string; csv/json/html/xml formats serialize via the format
    dispatcher (core.py:494-588, 78-132)."""
    # the only_with_metadata completeness gate runs inside bare_extract
    # (reference core.py:419-422), so a failed gate arrives at the
    # dispatcher as result.text=None/tier='no_metadata' — no re-extraction
    return serialize_result(bare_extract(filecontent, options), options)
