"""The workloads: the job each one times and the checks on its output.

Every job reads the generated parquet and calls only public functions of
``trafilatura_spark``.  A job returns ``(wall_seconds, result)``; the
wall runs from building the DataFrame to the committed result (the
collected aggregate, or the last parquet write).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import corpus

# The sink of the read-and-aggregate workloads.  It returns, in one
# collected row, the completeness checksum over (conv_id, turn_idx) (the
# generator computes the input's), a checksum over every output row, the
# failed-tier count and a seeded sample of output rows for the in-process
# comparison.
P = 2147483647
KEY_SUM = "sum(crc32(concat_ws(':', conv_id, CAST(turn_idx AS STRING))))"
OUT_SUM = f"sum(pmod(xxhash64(conv_id, turn_idx, tier, coalesce(extracted_text, '')), {P}))"
FAILED = "count_if(tier IN ('error', 'timeout'))"
SAMPLE_TURNS = {"chat": 48, "long": 8}

N_BUCKETS = 8
WAVE_SIZE = 4
DEDUP_LINES = 10


@dataclass
class Context:
    "What the jobs and checks know about one generated input."

    corpus: str
    seed: int
    path: str
    tmp: str
    n_turns: int = 0
    n_convs: int = 0
    key_sum: int = 0
    meta: bool = False
    sample_mod: int = 1
    runs: int = 0

    def sink_exprs(self, meta=None) -> list:
        meta = self.meta if meta is None else meta
        cols = "conv_id, turn_idx, tier, extracted_text" + (", title" if meta else "")
        pick = f"pmod(xxhash64(conv_id, turn_idx, {self.seed}L), {self.sample_mod}) = 0"
        return [
            "count(*) AS n",
            f"{KEY_SUM} AS key_sum",
            f"{OUT_SUM} AS out_sum",
            f"{FAILED} AS n_failed",
            f"collect_list(CASE WHEN {pick} THEN struct({cols}) END) AS sample",
        ]


def read_input(spark, ctx: Context, where: str = ""):
    "The generated input with the columns the operators read; ``where`` filters it."
    df = spark.read.parquet(ctx.path).select("conv_id", "turn_idx", "text")
    return df.filter(where) if where else df


def aggregate(df, ctx: Context, meta=None) -> dict:
    "Runs the sink over ``df``; ``meta`` overrides whether it samples ``title``."
    row = df.selectExpr(*ctx.sink_exprs(meta)).collect()[0]
    return {
        "n": row.n,
        "key_sum": row.key_sum,
        "out_sum": row.out_sum,
        "n_failed": row.n_failed,
        "sample": [tuple(s) for s in row.sample],
    }


def sink_job(operator: str):
    "A job running ``trafilatura_spark.operators.extract.<operator>`` into the aggregate sink."

    def job(spark, ctx: Context, df=None) -> tuple:
        from trafilatura_spark.operators import extract as ox

        t0 = time.perf_counter()
        result = aggregate(getattr(ox, operator)(read_input(spark, ctx) if df is None else df), ctx)
        return time.perf_counter() - t0, result

    return job


def pipeline_job(spark, ctx: Context, df=None) -> tuple:
    """The ``tools/submit_extract.py --assemble`` shape: resumable lineage
    run, then conversation assembly and cleaning written to parquet.
    Each call writes into a fresh output directory."""
    from trafilatura_spark.operators.extract import assemble_conversations, postprocess_conversations
    from trafilatura_spark.plans.lineage import read_output, run_resumable_extraction

    ctx.runs += 1
    out = os.path.join(ctx.tmp, f"pipeline-{ctx.runs}")
    t0 = time.perf_counter()
    summary = run_resumable_extraction(
        spark, read_input(spark, ctx) if df is None else df, out, n_buckets=N_BUCKETS, wave_size=WAVE_SIZE
    )
    t1 = time.perf_counter()
    convs = postprocess_conversations(
        assemble_conversations(read_output(spark, out)),
        dedup_lines=DEDUP_LINES,
        c4_clean=True,
        scrub_pii=True,
    )
    convs.write.mode("overwrite").parquet(os.path.join(out, "conversations"))
    t2 = time.perf_counter()
    return t2 - t0, {
        "out": out,
        "waves": summary["waves_run"],
        "lineage.run_s": t1 - t0,
        "pipeline.conversation_stage_s": t2 - t1,
    }


def pipeline_output(spark, ctx: Context, result: dict) -> dict:
    """Reads a pipeline run's committed output back into the sink's shape,
    plus the manifest and conversation checks."""
    from trafilatura_spark.plans.lineage import read_manifest, read_output

    out = result["out"]
    agg = aggregate(read_output(spark, out), ctx)
    manifest = read_manifest(spark, out).collect()
    agg["manifest_buckets"] = sorted(r.part_bucket for r in manifest if r.status == "done")
    agg["manifest_turns"] = sum(r.n_turns for r in manifest)
    agg["conversations"] = spark.read.parquet(os.path.join(out, "conversations")).count()
    agg["output_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(os.path.join(out, "data")) for f in files
    )
    return agg


def check(ctx: Context, agg: dict, problems: list) -> int:
    """Compares one committed output with the input and with in-process
    extraction of its sampled turns.  Appends a line per problem; returns
    the number of failed turns (missing, error/timeout, or mismatched)."""
    from trafilatura_spark.kernel import DEFAULT_OPTIONS
    from trafilatura_spark.operators.extract import extract_one_result

    failed = max(0, ctx.n_turns - agg["n"]) + agg["n_failed"]
    if agg["n"] != ctx.n_turns or agg["key_sum"] != ctx.key_sum:
        problems.append(f"rows: {agg['n']} of {ctx.n_turns}, key checksum {'ok' if agg['key_sum'] == ctx.key_sum else 'differs'}")
    if agg["n_failed"]:
        problems.append(f"{agg['n_failed']} turns with tier error/timeout")
    if not agg["sample"]:
        problems.append("empty output sample")
    options = DEFAULT_OPTIONS.copy(with_metadata=True) if ctx.meta else DEFAULT_OPTIONS
    inputs = corpus.texts(ctx.corpus, ctx.seed)
    for row in agg["sample"]:
        conv_id, turn_idx, tier, text = row[:4]
        ref = extract_one_result(inputs[conv_id, turn_idx], options)
        got, want = (text, tier), (ref.text, ref.tier)
        if ctx.meta:
            got += (row[4],)
            want += (ref.metadata.title if ref.metadata else None,)
        if got != want:
            failed += 1
            fields = ("extracted_text", "tier", "title")
            differs = ", ".join(f for f, a, b in zip(fields, got, want) if a != b)
            problems.append(f"turn ({conv_id}, {turn_idx}): {differs} differs from in-process extraction")
    if "manifest_buckets" in agg:
        if agg["manifest_buckets"] != list(range(N_BUCKETS)):
            problems.append(f"manifest covers buckets {agg['manifest_buckets']}")
        if agg["manifest_turns"] != ctx.n_turns:
            problems.append(f"manifest n_turns sums to {agg['manifest_turns']}, input has {ctx.n_turns}")
        if agg["conversations"] != ctx.n_convs:
            problems.append(f"{agg['conversations']} conversations written, input has {ctx.n_convs}")
    return failed


@dataclass
class Workload:
    corpus: str
    job: object
    meta: bool = False
    # the traced run also reports the lineage and conversation-stage layers
    pipeline_layers: bool = False


WORKLOADS = {
    "chat_mix": Workload("chat", sink_job("extract_transcripts"), pipeline_layers=True),
    "long_pages": Workload("long", sink_job("extract_transcripts")),
    "chat_meta": Workload("chat", sink_job("extract_with_metadata"), meta=True),
}
