"""Spark layer: the distributed extraction must equal the local kernel
per turn under stable (conv_id, turn_idx) ordering — the operational
per-row invariant (BASELINE.json input_hint) evidenced in-sandbox.
"""

import pytest

from trafilatura_spark.fixtures import generate_rows, transcripts_df
from trafilatura_spark.kernel import DEFAULT_OPTIONS
from trafilatura_spark.operators.extract import extract_one, extract_transcripts

N_CONVS = 30


@pytest.fixture(scope="module")
def spark_output(spark):
    df = transcripts_df(spark, N_CONVS, num_slices=4)
    out = extract_transcripts(df, num_partitions=8)
    rows = out.orderBy("conv_id", "turn_idx").collect()
    return rows


def local_expected():
    expected = {}
    for conv_id, turn_idx, role, text, tool, ts in generate_rows(N_CONVS):
        etext, tier, chars = extract_one(text, DEFAULT_OPTIONS)
        expected[(conv_id, turn_idx)] = (etext, tier, chars)
    return expected


def test_per_turn_equality(spark_output):
    "100% per-turn text equality between distributed and local execution."
    expected = local_expected()
    assert len(spark_output) == len(expected)
    mismatches = []
    for row in spark_output:
        key = (row.conv_id, row.turn_idx)
        etext, tier, chars = expected[key]
        if row.extracted_text != etext or row.tier != tier or row.chars_kept != chars:
            mismatches.append((key, row.tier, tier))
    assert not mismatches, f"{len(mismatches)} turns diverge: {mismatches[:5]}"


def test_null_alignment(spark_output):
    "Discarded turns surface as NULL text with a tier label, never dropped."
    expected = local_expected()
    nulls = [r for r in spark_output if r.extracted_text is None]
    assert nulls, "corpus should contain discarded turns"
    for r in nulls:
        assert expected[(r.conv_id, r.turn_idx)][0] is None
        assert r.tier in ("discarded", "discarded_size", "null_input", "unparseable", "error")


def test_stable_ordering(spark_output):
    keys = [(r.conv_id, r.turn_idx) for r in spark_output]
    assert keys == sorted(keys)


def test_tier_coverage(spark_output):
    "Genres designed to hit each major tier actually do (FIXTURES.md §4)."
    tiers = {r.tier for r in spark_output}
    assert "main" in tiers
    assert "baseline" in tiers
    assert "discarded" in tiers
    assert "escalation_recall" in tiers
    # at least one external comparator tier engaged
    assert tiers & {"readability", "justext"}


def test_every_turn_has_row(spark, spark_output):
    df = transcripts_df(spark, N_CONVS, num_slices=4)
    assert df.count() == len(spark_output)


def test_plan_shape(spark):
    "The physical plan keeps scan-side work out of Python: one Arrow stage."
    df = transcripts_df(spark, 5, num_slices=2)
    out = extract_transcripts(df, num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan or "MapInArrow" in plan


def test_timeout_guard_preemptive():
    """A pathological document is ABORTED in bounded wall time (the
    reference's 30 s/file kill yields no output), not merely labeled."""
    import time

    from trafilatura_spark.operators.extract import extract_one
    from trafilatura_spark.kernel import DEFAULT_OPTIONS

    # expired deadline: first checkpoint fires, nothing is extracted
    text = "<article>" + "".join(f"<p>Paragraph {i} text content here.</p>" for i in range(300)) + "</article>"
    etext, tier, chars = extract_one(text, DEFAULT_OPTIONS, timeout=0.0)
    assert tier == "timeout"
    assert etext is None and chars == 0

    # slow doc (thousands of elements through the full cascade takes
    # seconds): a 50 ms deadline must abort it in well under a second
    slow = "<div>" + "".join(
        f"<div class=\"c{i}\"><p>Short {i}</p><span>x</span></div>" for i in range(4000)
    ) + "</div>"
    t0 = time.monotonic()
    etext, tier, chars = extract_one(slow, DEFAULT_OPTIONS, timeout=0.05)
    wall = time.monotonic() - t0
    assert tier == "timeout"
    assert wall < 1.0, f"preemption took {wall:.2f}s"

    # and without a deadline the same doc completes normally
    etext2, tier2, chars2 = extract_one(slow, DEFAULT_OPTIONS, timeout=None)
    assert tier2 != "timeout" and etext2


def test_assemble_conversations_order_and_counts(spark):
    """Conversation assembly: turn order preserved, NULL (discarded)
    turns skipped but counted, one shuffle keyed by conv_id."""
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [
        ("c1", 2, "third"), ("c1", 0, "first"), ("c1", 1, None),
        ("c2", 0, None), ("c2", 1, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, extracted_text string")
    out = {r.conv_id: r for r in assemble_conversations(df).collect()}
    assert out["c1"].conversation_text == "first\n\nthird"
    assert out["c1"].n_turns == 3 and out["c1"].n_kept == 2
    assert out["c2"].conversation_text == "" and out["c2"].n_kept == 0
    plan = assemble_conversations(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the one conv_id shuffle


def test_operator_csv_html_tei_formats(spark):
    """The remaining non-text formats also flow through the operator's
    shared dispatcher: csv rows are tab-separated records, html wraps in
    <html><body>, xmltei yields a full TEI document per turn."""
    from trafilatura_spark.kernel import Options
    from trafilatura_spark.operators.extract import extract_transcripts

    body = "<article><h2>T</h2><p>" + "tok " * 40 + "</p></article>"
    df = spark.createDataFrame(
        [("c1", 0, body)], "conv_id string, turn_idx int, text string"
    )
    csv_row = extract_transcripts(
        df, options=Options(format="csv", min_extracted_size=0)
    ).collect()[0]
    assert "\t" in csv_row.extracted_text and "tok tok" in csv_row.extracted_text
    html_row = extract_transcripts(
        df, options=Options(format="html", min_extracted_size=0)
    ).collect()[0]
    assert html_row.extracted_text.startswith("<html>")
    tei_row = extract_transcripts(
        df, options=Options(format="xmltei", min_extracted_size=0)
    ).collect()[0]
    assert tei_row.extracted_text.startswith('<TEI xmlns="http://www.tei-c.org/ns/1.0">')
    assert '<div type="entry">' in tei_row.extracted_text


def test_assemble_conversations_role_tagging(spark):
    "role_col prefixes each kept turn 'role: text' (chat-document format)."
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [("c1", 0, "hi", "user"), ("c1", 1, "hello", "assistant"), ("c1", 2, None, "user")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, role string"
    )
    out = assemble_conversations(df, role_col="role").collect()[0]
    assert out.conversation_text == "user: hi\n\nassistant: hello"
    assert out.n_turns == 3 and out.n_kept == 2


def test_assemble_conversations_null_role_keeps_turn(spark):
    """A turn with non-NULL text but NULL role must survive assembly as
    bare text (concat null-propagation previously dropped it from the
    document while n_kept still counted it — ADVICE r5)."""
    from trafilatura_spark.operators.extract import assemble_conversations

    rows = [("c1", 0, "hi", "user"), ("c1", 1, "orphan line", None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, role string"
    )
    out = assemble_conversations(df, role_col="role").collect()[0]
    assert out.conversation_text == "user: hi\n\norphan line"
    assert out.n_turns == 2 and out.n_kept == 2


def test_tier_metrics_twin_types_match_spark(spark):
    """The DuckDB twin of extract_tier_metrics returns the column types the
    Spark query returns: SUM over an INTEGER column is HUGEINT in DuckDB
    but bigint in Spark, so the twin casts it (a hash gate compares the
    typed values)."""
    import duckdb
    from pyspark.sql.types import LongType

    from trafilatura_spark.queries import ORACLE_SQL, extract_tier_metrics

    spark_types = {f.name: f.dataType for f in extract_tier_metrics(spark, "").schema.fields}
    assert spark_types["n_turns"] == LongType()
    assert spark_types["total_chars"] == LongType()
    described = duckdb.connect().execute("DESCRIBE " + ORACLE_SQL["extract_tier_metrics"]).fetchall()
    duck_types = {row[0]: row[1] for row in described}
    assert duck_types["n_turns"] == "BIGINT"
    assert duck_types["total_chars"] == "BIGINT"
