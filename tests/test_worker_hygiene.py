"""Batch-function hygiene, in process: every mapInPandas function the
operators ship drops the zip-archive import finders when its partition
ends, slices large batches by ``max_batch_chars``, and keeps one bad
turn from failing the task."""

import importlib
import itertools
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from trafilatura_spark.fixtures import generate_rows
from trafilatura_spark.operators import metadata_op
from trafilatura_spark.operators.extract import (
    batch_slices,
    make_extract_batch_fn,
    make_extract_with_metadata_batch_fn,
)
from trafilatura_spark.operators.textstats import make_lang_id_batch_fn

ROWS = list(itertools.islice(generate_rows(4), 14))
TURNS = pd.DataFrame(
    {
        "conv_id": [r[0] for r in ROWS] + ["convnull"],
        "turn_idx": [r[1] for r in ROWS] + [0],
        "text": [r[3] for r in ROWS] + [None],
    }
)
DOCS = TURNS.rename(columns={"conv_id": "doc_id"})[["doc_id", "text"]]

BATCH_FNS = {
    "extract": (make_extract_batch_fn, TURNS),
    "extract_with_metadata": (make_extract_with_metadata_batch_fn, TURNS),
    "metadata": (metadata_op.make_metadata_batch_fn, TURNS),
    "lang_id": (make_lang_id_batch_fn, DOCS),
}


def zip_finders() -> list:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def run_partition(fn, batches) -> pd.DataFrame:
    return pd.concat(list(fn(iter(batches))), ignore_index=True)


@pytest.fixture
def zipped_package(tmp_path, request):
    """A package with two sub-modules in a zip on sys.path, one of them
    imported, so the import cache holds zip finders."""
    name = f"zpkg_{request.node.name.replace('[', '_').replace(']', '').replace('-', '_')}"
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "")
        zf.writestr(f"{name}/first.py", "VALUE = 1\n")
        zf.writestr(f"{name}/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module(f"{name}.first").VALUE == 1
        assert zip_finders(), "the zip import should leave zip finders in the cache"
        yield name
    finally:
        sys.path.remove(str(archive))
        for mod in [m for m in sys.modules if m == name or m.startswith(name + ".")]:
            del sys.modules[mod]
        importlib.invalidate_caches()


@pytest.mark.parametrize("which", sorted(BATCH_FNS))
def test_partition_end_drops_zip_finders(zipped_package, which):
    factory, frame = BATCH_FNS[which]
    with_finders = run_partition(factory(), [frame])
    assert zip_finders() == []
    # a second partition runs with the finders gone; the output is the same
    assert run_partition(factory(), [frame]).equals(with_finders)
    assert zip_finders() == []
    # a dropped finder is rebuilt by the next import that needs it
    assert importlib.import_module(f"{zipped_package}.second").VALUE == 2


def test_consumer_stopping_early_still_drops_zip_finders(zipped_package):
    out = make_extract_batch_fn()(iter([TURNS.iloc[:3], TURNS.iloc[3:]]))
    next(out)
    assert zip_finders()
    out.close()
    assert zip_finders() == []


def _old_slice_ends(texts, limit):
    "The per-row slice rule of the original plain-path loop."
    ends, start, n = [], 0, len(texts)
    while start < n:
        acc, end = 0, start
        while end < n and acc <= limit:
            acc += len(texts[end]) if isinstance(texts[end], str) else 0
            end += 1
        ends.append(end)
        start = end
    return ends


def test_batch_slices_keeps_the_per_row_rule():
    rng = np.random.default_rng(3)
    for _ in range(200):
        n = int(rng.integers(0, 30))
        texts = [None if rng.random() < 0.2 else "x" * int(rng.integers(0, 50)) for _ in range(n)]
        limit = int(rng.integers(0, 120))
        pdf = pd.DataFrame({"text": pd.Series(texts, dtype=object)})
        got = list(itertools.accumulate(len(s) for s in batch_slices(pdf, limit)))
        assert got == _old_slice_ends(texts, limit), (texts, limit)


@pytest.mark.parametrize("which", ["extract", "extract_with_metadata"])
def test_small_max_batch_chars_slices_without_changing_rows(which):
    factory, frame = BATCH_FNS[which]
    whole = run_partition(factory(), [frame])
    frames = list(factory(max_batch_chars=2_000)(iter([frame])))
    assert len(frames) >= 2
    assert pd.concat(frames, ignore_index=True).equals(whole)


def test_metadata_batch_survives_a_raising_turn(monkeypatch):
    clean = run_partition(metadata_op.make_metadata_batch_fn(), [TURNS])
    real = metadata_op.extract_metadata
    calls = itertools.count()

    def flaky(html):
        # every row before the trailing null turn reaches the extractor
        if next(calls) == 2:
            raise ValueError("bad document")
        return real(html)

    monkeypatch.setattr(metadata_op, "extract_metadata", flaky)
    out = run_partition(metadata_op.make_metadata_batch_fn(), [TURNS])
    assert len(out) == len(TURNS)
    assert out[["conv_id", "turn_idx"]].equals(TURNS[["conv_id", "turn_idx"]])
    meta_cols = [c for c in out.columns if c not in ("conv_id", "turn_idx")]
    assert out.loc[2, meta_cols].isna().all()
    others = out.index != 2
    assert out.loc[others].equals(clean.loc[others])
    assert clean.loc[others, "title"].notna().any()
