"""Seeded input corpora for the benchmark workloads.

Every text is built by the genre builders of ``trafilatura_spark.fixtures``
from an integer drawn from ``_mix(seed, ...)``, so the same seed gives
byte-identical parquet.  Another seed gives other words, other
conversation shapes and another placement of the page sizes, with the
same amount of work: turn counts, genre counts and the set of page sizes
and nesting depths do not depend on the seed.

The parquet layout is fixed: ``N_FILES`` files, one row group each, rows
dealt round-robin so every file carries the same share of the work.  The
session reads each file as its own scan task (see ``run.SPARK_CONF``),
which gives a 4-slot stage two tasks per core.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from trafilatura_spark import fixtures

N_FILES = 8
CHAT_TURNS = 6000

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
    ]
)


def _mix(seed: int, *parts) -> int:
    "64-bit hash of the seed and the parts; every random draw goes through it."
    key = "|".join(str(p) for p in (seed,) + parts).encode()
    return int.from_bytes(hashlib.sha1(key).digest()[:8], "big")


# --- chat_mix: the fixture genre mix in heavy-tailed conversations ----------


def _conversation_size(seed: int, k: int) -> int:
    "The fixture size law: ~80% 2-10 turns, ~19% 10-49, ~1% 60-399."
    h = _mix(seed, k, "size")
    bucket = h % 100
    if bucket < 80:
        return 2 + h % 9
    if bucket < 99:
        return 10 + h % 40
    return 60 + h % 340


def chat_rows(seed: int, n_turns: int) -> Iterator[tuple]:
    """Exactly ``n_turns`` (conv_id, turn_idx, role, text) rows.  The last
    conversation is cut short, and genres are dealt in turn, so the turn
    count and the count of each genre never depend on the seed."""
    genres = fixtures.GENRES
    k = emitted = 0
    while emitted < n_turns:
        conv_id = f"c{seed}-{k:06d}"
        size = min(_conversation_size(seed, k), n_turns - emitted)
        for turn_idx in sorted(range(size), key=lambda i: _mix(seed, conv_id, i, "order")):
            build = genres[(emitted + seed) % len(genres)]
            text = build(_mix(seed, conv_id, turn_idx, "genre") % 100_000)
            yield (conv_id, turn_idx, ("user", "assistant", "tool")[turn_idx % 3], text)
            emitted += 1
        k += 1


# --- long_pages: long documents whose cost is per node, not per row ---------

# Each builder takes a content hash ``h`` and a size fraction ``f`` in [0, 1).

def _long_article(h: int, f: float) -> str:
    "A 20-250 KB article: headings and paragraphs inside page chrome."
    target = 20_000 + int(f * 230_000)
    sections, size, i = [], 0, 0
    while size < target:
        part = f"<h2>{fixtures._sentence(h + i, 5)[:-1]}</h2>" + "".join(
            f"<p>{fixtures._paragraph(h + i * 37 + j, 4, 14)}</p>" for j in range(6)
        )
        sections.append(part)
        size += len(part)
        i += 1
    nav = "".join(f'<li><a href="/n{j}">{fixtures._sentence(h + j, 2)[:-1]}</a></li>' for j in range(30))
    return (
        f"<html><head><title>{fixtures._sentence(h, 6)[:-1]}</title></head><body>"
        f'<nav><ul>{nav}</ul></nav><article><h1>{fixtures._sentence(h + 1, 6)[:-1]}</h1>'
        f"{''.join(sections)}</article><footer><p>{fixtures._sentence(h + 2, 8)}</p></footer>"
        "</body></html>"
    )


def _wide_table(h: int, f: float) -> str:
    "A 20-60 KB data table: 40-119 rows, twelve columns."
    cols = 12
    rows = 40 + int(f * 80)
    head = "".join(f"<th>{fixtures._sentence(h + c, 2)[:-1]}</th>" for c in range(cols))
    body = "".join(
        "<tr>" + "".join(f"<td>{fixtures._sentence(h + r * cols + c, 3)[:-1]}</td>" for c in range(cols)) + "</tr>"
        for r in range(rows)
    )
    return f"<article><p>{fixtures._paragraph(h, 3, 14)}</p><table><tr>{head}</tr>{body}</table></article>"


def _padding(h: int) -> str:
    "About 16 KB of paragraphs, so every page is at least 20 KB."
    return "".join(f"<p>{fixtures._paragraph(h + j, 4, 14)}</p>" for j in range(30))


def _nested_divs(h: int, f: float) -> str:
    "One paragraph under 550-649 bare nested divs, then padding."
    depth = 550 + int(f * 100)
    p = f"<p>{fixtures._paragraph(h, 4, 14)}</p>"
    return "<div>" * depth + p + "</div>" * depth + _padding(h + 1)


def _nested_tables(h: int, f: float) -> str:
    "One paragraph inside 95-114 nested single-cell tables, then padding."
    depth = 95 + int(f * 20)
    p = f"<p>{fixtures._paragraph(h, 4, 14)}</p>"
    return "<table><tr><td>" * depth + p + "</td></tr></table>" * depth + _padding(h + 1)


def _inline_siblings(h: int, f: float) -> str:
    "Padding, then 2200-2799 unclosed sibling <b> runs."
    return _padding(h) + "<b>x" * (2200 + int(f * 600))


def _large_doc(h: int, f: float) -> str:
    return fixtures._genre_large_doc(h)


# One page of each shape per conversation, one conversation per file
# position; the articles appear twice so their sizes cover 20-250 KB in
# sixteen even steps.
LONG_SHAPES: list = [
    _long_article,
    _long_article,
    _wide_table,
    _nested_divs,
    _nested_tables,
    _inline_siblings,
    _large_doc,
]


def long_rows(seed: int, n_files: int = N_FILES) -> Iterator[tuple]:
    """``n_files`` conversations of one page per shape.  Page sizes and
    depths are a fixed set of even steps; the seed picks the words and
    which conversation gets which step."""
    for c in range(n_files):
        conv_id = f"p{seed}-{c:04d}"
        step = (c + seed) % n_files
        for turn_idx, build in enumerate(LONG_SHAPES):
            f = (step + 0.5 * (turn_idx == 1)) / n_files
            yield (conv_id, turn_idx, "tool", build(_mix(seed, conv_id, turn_idx, "page") % 1_000_000, f))


# --- layout -----------------------------------------------------------------

def write_parquet(rows: Iterator[tuple], path: str, n_files: int = N_FILES) -> tuple:
    """Deal rows round-robin into ``n_files`` single-row-group files.
    ``long_rows`` emits shapes in a cycle whose length (7) is coprime with
    ``n_files`` (8), so every file gets each shape once.  Returns (rows,
    distinct conv_ids, key checksum): the checksum is the sum of
    crc32("conv_id:turn_idx"), which ``workloads.KEY_SUM`` recomputes on
    the output."""
    shards: list = [[] for _ in range(n_files)]
    keys: set = set()
    key_sum = 0
    for n, row in enumerate(rows):
        shards[n % n_files].append(row)
        key = f"{row[0]}:{row[1]}"
        keys.add(key)
        key_sum += zlib.crc32(key.encode())
    if len(keys) != sum(map(len, shards)):
        raise ValueError("generated rows repeat a (conv_id, turn_idx) key")
    os.makedirs(path, exist_ok=True)
    for i, shard in enumerate(shards):
        cols = list(zip(*shard)) if shard else [[], [], [], []]
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=max(1, len(shard)))
    return len(keys), len({k.rsplit(":", 1)[0] for k in keys}), key_sum


CORPORA: dict = {
    "chat": lambda seed: chat_rows(seed, CHAT_TURNS),
    "long": long_rows,
}


def texts(corpus: str, seed: int) -> dict:
    "{(conv_id, turn_idx): text} of a generated corpus, for the output checks."
    return {(conv_id, turn_idx): text for conv_id, turn_idx, _, text in CORPORA[corpus](seed)}
