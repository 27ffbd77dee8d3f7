"""Distributed per-turn extraction: the Spark face of the kernel.

Design (SURVEY.md §7 P1, BASELINE.json north_rule):
- input: transcripts DataFrame (conv_id, turn_idx, role, text, tool, ts)
- Catalyst-side gates BEFORE the UDF: null filter + file-size gate
  (reference utils.py:405-413) expressed as `length(text)` predicates so
  they are pushed into the scan / evaluated in whole-stage codegen.
- conv_id-salted repartition: `hash(conv_id, pmod(turn_idx, salt))` so a
  single million-turn conversation spreads over many partitions (AQE
  balances bytes, not lxml-CPU; salting balances work).
- mapInPandas over Arrow batches: Spark sees only columnar Arrow; the
  per-document DOM work happens inside the batch loop (no per-row Python
  crossing the JVM boundary).
- preemptive per-document deadline replacing the reference CLI's 30 s/file
  process kill (cli_utils.py / settings.cfg:37): the cascade aborts
  cooperatively at stage/element checkpoints, yielding tier='timeout'.
- per-partition worker hygiene: every batch function drops the Python
  worker's zip-archive import finders when its partition ends
  (operators/worker.py), so the next task's import-cache invalidation
  does not re-read pyspark.zip once per sub-package.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import DEFAULT_OPTIONS, Options, bare_extract
from .worker import partition_scoped

# fixed wrapping convention (FIXTURES.md): load_html rejects bare
# single-block fragments, so turns are wrapped identically everywhere
WRAP_PREFIX = "<html><body>"
WRAP_SUFFIX = "</body></html>"

EXTRACT_RESULT_FIELDS = [
    StructField("extracted_text", StringType(), True),
    StructField("tier", StringType(), False),
    StructField("chars_kept", IntegerType(), False),
]

DEFAULT_TIMEOUT_SECS = 30.0


def wrap_turn(text: str) -> str:
    return f"{WRAP_PREFIX}{text}{WRAP_SUFFIX}"


def wrap_if_fragment(text: str) -> str:
    """Full documents pass through; bare fragments get the standard wrap.

    A page is a full document when it starts with `<html` OR a doctype
    declaration — re-wrapping a doctype-prefixed page would nest its real
    `<head>` inside a second `<html><body>` shell where the meta scanners
    don't look (reference load_html handles both, utils.py:234-278).
    PDF payloads (%PDF- magic, possibly whitespace-prefixed) also pass
    through: the kernel routes them to the content-stream text reader
    (kernel/pdftext.py), not the HTML parse."""
    head = text[:1024].lstrip()[:15]
    if not head:  # >1 KB of leading whitespace: fall back to a full strip
        head = text.lstrip()[:15]
    if head[:5] == "%PDF-":
        return text
    head = head.lower()
    if head.startswith("<html") or head.startswith("<!doctype"):
        return text
    return wrap_turn(text)


def extract_one_result(
    text: Optional[str], options: Options, timeout: float = DEFAULT_TIMEOUT_SECS
):
    """Extract a single turn; returns the kernel ExtractionResult (incl.
    the metadata object when options.with_metadata is set — extracted
    from the SAME parse as the content, kernel/extract.py bare_extract).

    The per-document bound is PREEMPTIVE: a monotonic deadline rides on
    the options and is checked cooperatively at cascade stage boundaries
    and inside element loops (kernel/settings.py check_deadline), so a
    pathological document yields tier='timeout' in bounded wall time
    instead of stalling an executor core — matching the reference CLI's
    hard 30 s/file kill (settings.cfg:37, cli_utils.py:431-437)."""
    from ..kernel.extract import ExtractionResult

    if text is None:
        return ExtractionResult(None, "null_input", 0, 0)
    # size gate: the reference CLI's is_acceptable_length (utils.py:405-413,
    # settings.cfg:7-8) discards before extraction; keep the row, null the text
    wrapped = wrap_if_fragment(text)
    if len(wrapped) < options.min_file_size or len(wrapped) > options.max_file_size:
        return ExtractionResult(None, "discarded_size", 0, 0)
    if timeout is not None:
        options = options.copy(deadline=time.monotonic() + timeout)
    try:
        result = bare_extract(wrapped, options)
        if options.format not in ("txt", "markdown") and result.text is not None:
            # non-text formats (xml/json/csv/html/xmltei) serialize through
            # the same dispatcher as the extract() facade, so a format job
            # on the cluster emits per-turn strings byte-identical to the
            # single-document API.  txt/markdown stay plain here even with
            # metadata: the operator surfaces metadata as COLUMNS
            # (extract_with_metadata), not YAML front matter.
            from ..kernel.extract import serialize_result

            serialized = serialize_result(result, options)
            return ExtractionResult(
                serialized,
                result.tier,
                len(serialized) if serialized else 0,
                result.len_comments,
                metadata=result.metadata,
            )
        return result
    except Exception:
        return ExtractionResult(None, "error", 0, 0)


def extract_one(text: Optional[str], options: Options, timeout: float = DEFAULT_TIMEOUT_SECS):
    "Tuple face of extract_one_result: (extracted_text|None, tier, chars_kept)."
    result = extract_one_result(text, options, timeout)
    return result.text, result.tier, result.chars_kept


def batch_slices(pdf: pd.DataFrame, max_batch_chars: int) -> Iterator[pd.DataFrame]:
    """``pdf`` in consecutive row slices whose summed text length stays
    near ``max_batch_chars``: a slice ends after the row that takes it
    over the limit, or at the end of the batch.  Null texts count 0.
    Bounds the Python-side memory of one slice's results (the reference's
    20 MB per-doc gate times a small factor; SURVEY.md §7 hard part 6)."""
    n = len(pdf)
    ends = pdf["text"].str.len().to_numpy(dtype="int64", na_value=0).cumsum()
    start = 0
    while start < n:
        base = ends[start - 1] if start else 0
        over = int(ends.searchsorted(base + max_batch_chars, side="right"))
        end = min(n, max(start, over) + 1)
        yield pdf.iloc[start:end]
        start = end


def make_extract_batch_fn(
    options: Options = DEFAULT_OPTIONS,
    passthrough_cols: Optional[list] = None,
    timeout: float = DEFAULT_TIMEOUT_SECS,
    max_batch_chars: int = 32_000_000,
):
    """Build a mapInPandas function emitting passthrough columns +
    (extracted_text, tier, chars_kept).

    ``max_batch_chars`` bounds Python-side memory: an Arrow batch whose
    summed text length exceeds it is processed in slices (batch_slices).
    """
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]

    @partition_scoped
    def extract_batch(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for chunk in batch_slices(pdf, max_batch_chars):
                extracted, tiers, kept = [], [], []
                for text in chunk["text"]:
                    etext, tier, chars = extract_one(text, options, timeout)
                    extracted.append(etext)
                    tiers.append(tier)
                    kept.append(chars)
                out = chunk[passthrough].copy()
                out["extracted_text"] = extracted
                out["tier"] = tiers
                out["chars_kept"] = pd.array(kept, dtype="int32")
                yield out

    return extract_batch


def extract_result_schema(df: DataFrame, passthrough_cols: Optional[list] = None) -> StructType:
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    fields = [df.schema[c] for c in passthrough]
    return StructType(list(fields) + EXTRACT_RESULT_FIELDS)


def salted_repartition(df: DataFrame, num_partitions: Optional[int] = None, salt_buckets: int = 64) -> DataFrame:
    """Repartition on hash(conv_id, turn-bucket) so heavy conversations
    spread across partitions (north_rule: conv_id-salted repartitioning).

    Extraction is per-turn, so co-locating a conversation is unnecessary;
    the salt prevents the opposite failure (one giant conv_id in one
    partition when a later stage partitions by conv_id alone).
    """
    salt = F.pmod(F.col("turn_idx"), F.lit(salt_buckets))
    if num_partitions:
        return df.repartition(num_partitions, F.col("conv_id"), salt)
    return df.repartition(F.col("conv_id"), salt)


def extract_transcripts(
    df: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 64,
    passthrough_cols: Optional[list] = None,
    timeout: float = DEFAULT_TIMEOUT_SECS,
    keep_discarded: bool = True,
) -> DataFrame:
    """Full extraction operator: gates -> salted repartition -> Arrow batches.

    With ``keep_discarded`` (the per-turn completeness contract) every
    input turn yields an output row; rows the reference would discard
    carry extracted_text=NULL plus a tier label, and the size gate runs
    in the UDF.  With keep_discarded=False the null/size gates run as
    Catalyst filters ahead of the UDF (whole-stage codegen, pushed into
    the scan) — the throughput configuration for production sweeps.
    """
    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    # Partitioning policy: extraction is per-turn (no co-location needed),
    # so the default trusts the input partitioning — for file/Iceberg
    # sources, spark.sql.files.maxPartitionBytes already yields balanced
    # splits, and skipping the pre-UDF shuffle measured >2x faster here.
    # Pass num_partitions to engage the conv_id-salted repartition when
    # the input is skewed (e.g. one giant conversation per input split)
    # or badly sized.
    if keep_discarded:
        gated = df
    else:
        # reference min/max file-size gate, utils.py:405-413 + settings.cfg:7-8,
        # adjusted for the wrapping markup the kernel adds
        wrap_len = len(WRAP_PREFIX) + len(WRAP_SUFFIX)
        gated = df.filter(
            F.col("text").isNotNull()
            & (F.length("text") + F.lit(wrap_len) >= DEFAULT_OPTIONS.min_file_size)
            & (F.length("text") + F.lit(wrap_len) <= DEFAULT_OPTIONS.max_file_size)
        )
    needed = list(dict.fromkeys(passthrough + ["text"]))
    pruned = gated.select(*needed)  # column pruning reaches the scan
    if num_partitions is not None:
        pruned = salted_repartition(pruned, num_partitions, salt_buckets)
    schema = extract_result_schema(df, passthrough)
    fn = make_extract_batch_fn(options, passthrough, timeout)
    return pruned.mapInPandas(fn, schema=schema)


def make_extract_with_metadata_batch_fn(
    options: Options = DEFAULT_OPTIONS,
    passthrough_cols: Optional[list] = None,
    timeout: float = DEFAULT_TIMEOUT_SECS,
    max_batch_chars: int = 32_000_000,
):
    """Batch function emitting extraction AND metadata columns in one
    mapInPandas pass — the reference's bare_extraction(with_metadata=True)
    shape.  One table scan, one Arrow crossing, and ONE HTML PARSE per
    document serve both outputs: bare_extract runs with with_metadata set
    and returns the metadata object extracted from the same parsed tree
    (running the two standalone operators costs two of each).  Batches
    are sliced by ``max_batch_chars`` as in make_extract_batch_fn."""
    from .metadata_op import METADATA_FIELDS

    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    options = options.copy(with_metadata=True)

    @partition_scoped
    def batch(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for chunk in batch_slices(pdf, max_batch_chars):
                extracted, tiers, kept = [], [], []
                meta_cols: dict = {name: [] for name, _ in METADATA_FIELDS}
                meta_cols["categories_joined"] = []
                meta_cols["tags_joined"] = []
                for text in chunk["text"]:
                    result = extract_one_result(text, options, timeout)
                    extracted.append(result.text)
                    tiers.append(result.tier)
                    kept.append(result.chars_kept)
                    meta = result.metadata
                    for name, _ in METADATA_FIELDS:
                        meta_cols[name].append(getattr(meta, name, None) if meta else None)
                    meta_cols["categories_joined"].append(
                        ",".join(meta.categories) if meta and meta.categories else None
                    )
                    meta_cols["tags_joined"].append(
                        ",".join(meta.tags) if meta and meta.tags else None
                    )
                out = chunk[passthrough].copy()
                out["extracted_text"] = extracted
                out["tier"] = tiers
                out["chars_kept"] = pd.array(kept, dtype="int32")
                for key, values in meta_cols.items():
                    out[key] = values
                yield out

    return batch


def extract_with_metadata(
    df: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 64,
    passthrough_cols: Optional[list] = None,
    timeout: float = DEFAULT_TIMEOUT_SECS,
) -> DataFrame:
    "Combined content + metadata extraction in a single Arrow stage."
    from .metadata_op import METADATA_FIELDS

    passthrough = passthrough_cols or ["conv_id", "turn_idx"]
    needed = list(dict.fromkeys(passthrough + ["text"]))
    pruned = df.select(*needed)
    if num_partitions is not None:
        pruned = salted_repartition(pruned, num_partitions, salt_buckets)
    fields = [df.schema[c] for c in passthrough] + list(EXTRACT_RESULT_FIELDS)
    fields += [StructField(name, dtype, True) for name, dtype in METADATA_FIELDS]
    fields += [
        StructField("categories_joined", StringType(), True),
        StructField("tags_joined", StringType(), True),
    ]
    fn = make_extract_with_metadata_batch_fn(options, passthrough, timeout)
    return pruned.mapInPandas(fn, schema=StructType(fields))


def assemble_conversations(
    extracted: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "extracted_text",
    separator: str = "\n\n",
    role_col: str = None,
) -> DataFrame:
    """Assemble per-turn extraction output back into ONE training
    document per conversation — the last mile of the transcript
    pipeline: turns join in ``turn_idx`` order separated by blank lines,
    discarded turns (NULL text) are skipped but still counted, so
    (n_turns, n_kept) records how much of the conversation survived the
    cascade.

    ``role_col`` (the transcripts schema's role column, carried through
    extraction via passthrough_cols) prefixes each turn "role: text" —
    the chat-style training-document format.

    100 TB shape: one shuffle keyed by conv_id (the same key the
    extraction stage already salts/partitions by, so co-location is
    reusable); ordering happens INSIDE each group via array_sort over
    (turn_idx, text) structs — no global sort, no window."""
    # A NULL role must not null out a kept turn via concat's
    # null-propagation (n_kept counts non-null TEXT, so the assembled
    # document would silently lose a counted turn): fall back to the
    # bare text when the role is missing.
    text_expr = (
        F.when(
            F.col(role_col).isNotNull(),
            F.concat(F.col(role_col), F.lit(": "), F.col(text_col)),
        ).otherwise(F.col(text_col))
        if role_col
        else F.col(text_col)
    )
    turns = F.array_sort(
        F.collect_list(F.struct(F.col(idx_col).alias("i"), text_expr.alias("t")))
    )
    return (
        extracted.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count(text_col).alias("n_kept"),
            turns.alias("_turns"),
        )
        .select(
            F.col(conv_col),
            "n_turns",
            "n_kept",
            F.array_join(
                F.transform(
                    F.filter(F.col("_turns"), lambda s: s["t"].isNotNull()),
                    lambda s: s["t"],
                ),
                separator,
            ).alias("conversation_text"),
        )
    )


def postprocess_conversations(
    convs: DataFrame,
    dedup_lines: int = 0,
    c4_clean: bool = False,
    scrub_pii: bool = False,
    text_col: str = "conversation_text",
    id_col: str = "conv_id",
) -> DataFrame:
    """Post-assembly cleaning pipeline over conversation documents, in
    the order a training pipeline runs them: corpus-level boilerplate
    line removal (``dedup_lines`` = min distinct-conversation frequency;
    the only shuffling stage) -> C4 line/document rules (adds the
    ``c4_keep`` verdict, rewrites the text to the surviving lines; rows
    are never dropped here — filter downstream) -> PII scrubbing (adds
    ``n_pii``, replaces emails/IPv4s/phones with typed placeholders).

    The C4 and PII stages are pure projections (zero extra shuffle); the
    exposed entrypoint flags --dedup-lines/--c4-clean/--scrub-pii map
    1:1 onto the arguments (tools/submit_extract.py)."""
    text = F.col(text_col)
    if dedup_lines:
        from .dedup import line_dedup

        # skip_empty: conversations join turns with '\n\n', so the blank
        # separator line occurs in EVERY multi-turn document — without the
        # exclusion it is censused as boilerplate once min_doc_freq
        # conversations exist and turn separation collapses to single '\n'
        dd = line_dedup(
            convs.select(F.col(id_col).alias("doc_id"), text.alias("text")),
            min_doc_freq=dedup_lines,
            skip_empty=True,
        )
        convs = convs.drop(text_col).join(
            dd.select(
                F.col("doc_id").alias(id_col),
                F.col("kept_text").alias(text_col),
                F.col("n_removed").alias("n_boilerplate_removed"),
            ),
            id_col,
        )
    if c4_clean:
        from .textstats import c4_clean_text, c4_keep

        convs = convs.withColumn("c4_keep", c4_keep(text)).withColumn(
            text_col, c4_clean_text(text)
        )
    if scrub_pii:
        from .textstats import pii_count, pii_scrubbed

        convs = convs.withColumn("n_pii", pii_count(text).cast("int")).withColumn(
            text_col, pii_scrubbed(text)
        )
    return convs
