"""Kernel cost stays near-linear in document size on adversarial shapes,
and the per-document deadline holds on production-size ones.

Each complexity shape is extracted at size n and 2n, back to back, five
times (alternating which size goes first), and the median 2n/n ratio of
CPU time may be at most 2.5: a cost quadratic in depth or width gives ~4.
Pairing the runs cancels the host's speed swings, which a best-of-k per
size does not.  Contention on a shared host comes in episodes of a few
seconds that slow the larger working set more; a quadratic cost shows ~4
in every measurement, so a shape passes on the first of up to three
measurements whose median is within the bound.  Each n sits above the size where the trees outgrow the
CPU caches of a 4-vCPU VM (there a linear pass jumps ~1.7x once), and
puts the 2n run at 80-700 ms there.  The cyclic collector is paused
during each timed call: a full collection costs time in proportion to
every object the test process holds, not to the page.
"""

from __future__ import annotations

import gc
import statistics
import time

import pytest

from trafilatura_spark.kernel import Options, bare_extract
from trafilatura_spark.kernel.loader import load_html
from trafilatura_spark.kernel.settings import DEFAULT_OPTIONS
from trafilatura_spark.operators.extract import extract_one_result

MAX_RATIO = 2.5

_P = "<p>" + " ".join(f"word{i}, more text here" for i in range(20)) + "</p>"


def _page(body: str) -> str:
    return f"<html><body>{body}</body></html>"


SHAPES = {
    # one paragraph under n bare nested divs
    "nested_divs": (2000, lambda n: _page("<div>" * n + _P + "</div>" * n)),
    # the same with a link, so no element takes the link-density tests'
    # no-links early exit
    "nested_divs_link": (
        2000,
        lambda n: _page("<div>" * n + _P + '<a href="/x">a link to somewhere</a>' + "</div>" * n),
    ),
    # one paragraph inside n nested single-cell tables
    "nested_tables": (500, lambda n: _page("<table><tr><td>" * n + _P + "</td></tr></table>" * n)),
    # n unclosed inline tags: the parser nests them n deep
    "nested_inline": (4000, lambda n: _page(_P + "<b>x " * n)),
    # n sibling paragraphs with inline markup in one div
    "wide_siblings": (
        4000,
        lambda n: _page(
            "<div>"
            + "".join(f"<p>Paragraph {i} has words, commas, and a <b>bold</b> run.</p>" for i in range(n))
            + "</div>"
        ),
    ),
    # n attributes on one element
    "many_attributes": (
        16000,
        lambda n: _page("<div " + " ".join(f'data-k{i}="v{i}"' for i in range(n)) + ">" + _P + "</div>"),
    ),
}


def _cpu_seconds(html: str) -> float:
    gc.collect()
    gc.disable()
    try:
        start = time.process_time()
        bare_extract(html, Options())
        return time.process_time() - start
    finally:
        gc.enable()


def _median_ratio(small: str, large: str) -> tuple:
    "Median 2n/n CPU-time ratio over five back-to-back pairs, and the ratios."
    ratios = []
    for i in range(5):
        if i % 2:
            cost_large = _cpu_seconds(large)
            cost_small = _cpu_seconds(small)
        else:
            cost_small = _cpu_seconds(small)
            cost_large = _cpu_seconds(large)
        ratios.append(cost_large / cost_small)
    return statistics.median(ratios), ratios


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_kernel_cost_is_near_linear(shape):
    n, build = SHAPES[shape]
    small, large = build(n), build(2 * n)
    assert bare_extract(small, Options()).tier == bare_extract(large, Options()).tier
    attempts = []
    for _ in range(3):
        ratio, ratios = _median_ratio(small, large)
        if ratio <= MAX_RATIO:
            return
        attempts.append([round(r, 2) for r in ratios])
    pytest.fail(f"{shape} (n={n}): 2n/n CPU-time ratios above {MAX_RATIO} in every attempt: {attempts}")


# ROADMAP A's production-size shapes: every one ran past 120 s with a 30 s
# deadline before the kernel was made linear and checked the deadline
# inside its longer stages.  The HTML parser has no deadline check, so the
# bound is the page's own parse time plus the deadline plus a margin.
_PROD_P = "<p>" + "word " * 60 + "</p>"
PRODUCTION_SHAPES = {
    "divs_550kb": "<div>" * 50000 + _PROD_P + "</div>" * 50000,
    "tables_66kb": "<table><tr><td>" * 2000 + _PROD_P + "</td></tr></table>" * 2000,
    "bold_800kb": "<b>x" * 200000,
}
DEADLINE_S = 2
MARGIN_S = 1.5


@pytest.mark.parametrize("shape", sorted(PRODUCTION_SHAPES))
def test_deadline_holds_on_production_shapes(shape):
    html = PRODUCTION_SHAPES[shape]
    start = time.monotonic()
    load_html(html)
    parse_s = time.monotonic() - start
    start = time.monotonic()
    result = extract_one_result(html, DEFAULT_OPTIONS, timeout=DEADLINE_S)
    elapsed = time.monotonic() - start
    assert result.tier in ("timeout", "main"), result.tier
    bound = parse_s + DEADLINE_S + MARGIN_S
    assert elapsed < bound, (
        f"{shape}: returned after {elapsed:.2f} s (tier {result.tier}); parse {parse_s:.2f} s, "
        f"deadline {DEADLINE_S} s"
    )
