"""Text-analysis operators for training-data pipelines (column-level,
JVM-side: pure pyspark.sql.functions, no Python UDFs).

Each operator has an exact ANSI-SQL twin used by the DuckDB oracle (see
__spark_entry__.py); both sides alias columns identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.langid import LANG_WORDS

# english stopword regex for the quality-scoring ratio (token_stats);
# language ID itself uses the shared 17-language LANG_WORDS vocabulary
EN_STOPWORD_RE = r"\b(the|and|of|to|is|in|that|it|for|with)\b"
# characters stripped before whitespace tokenization (keeps the
# tokenizer identical between Spark and the DuckDB twin: no \w / \b
# word-boundary semantics, which differ for non-ASCII between engines)
_STRIP_PUNCT = r'[.,;:!?¿¡()\[\]{}"«»„“”\'’<>/\\|@#%^&*+=~`-]'

_PUNCT_RE = r"[\.,;:!\?]"
_UPPER_RE = r"[A-Z]"
_TOKEN_RE = r"[A-Za-z0-9_]+"
# GPT-2-style pre-tokenizer approximation, lookahead-free so it runs
# identically on Spark (java.util.regex) and DuckDB (RE2): contractions,
# space-prefixed letter runs, digit runs, punctuation runs.  Counts the
# units a byte-BPE would start from — a practical LLM-token estimator.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    "Token count + quality-scoring ratios per document."
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    text = F.col(text_col)
    n_tokens = F.size(F.split(F.trim(text), r"\s+"))
    n_chars = F.length(text)
    n_punct = F.regexp_count(text, F.lit(_PUNCT_RE))
    n_upper = F.regexp_count(text, F.lit(_UPPER_RE))
    n_stop = F.regexp_count(F.lower(text), F.lit(EN_STOPWORD_RE))
    n_bpe = F.regexp_count(text, F.lit(_BPE_RE))
    return df.select(
        F.col(id_col),
        n_tokens.cast("int").alias("n_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        n_chars.cast("int").alias("n_chars_measured"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 6).alias("upper_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6).alias("mean_token_len"),
    )


def token_stats_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    "DuckDB twin of token_stats."
    return f"""
    SELECT {id_col},
           CAST(len(regexp_split_to_array(trim({text_col}), '\\s+')) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all({text_col}, '{_BPE_RE.replace("'", "''")}')) AS INT) AS n_bpe_tokens,
           CAST(length({text_col}) AS INT) AS n_chars_measured,
           ROUND(len(regexp_extract_all({text_col}, '{_PUNCT_RE}')) * 1.0
                 / GREATEST(length({text_col}), 1), 6) AS punct_ratio,
           ROUND(len(regexp_extract_all({text_col}, '{_UPPER_RE}')) * 1.0
                 / GREATEST(length({text_col}), 1), 6) AS upper_ratio,
           ROUND(len(regexp_extract_all(lower({text_col}), '{EN_STOPWORD_RE}')) * 1.0
                 / GREATEST(len(regexp_split_to_array(trim({text_col}), '\\s+')), 1), 6) AS stopword_ratio,
           ROUND(length({text_col}) * 1.0
                 / GREATEST(len(regexp_split_to_array(trim({text_col}), '\\s+')), 1), 6) AS mean_token_len
    FROM {table}
    """


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Function-word language ID over 17 languages (kernel LANG_WORDS):
    distinct-marker-hit argmax, ties broken by fixed language order.

    Scoring is set-intersection (distinct markers matched), computed as
    array_intersect on a punctuation-stripped whitespace tokenization —
    \\b word boundaries are ASCII-only in both Spark's and DuckDB's regex
    engines, which silently breaks Cyrillic/Turkish markers; tokenizing
    first keeps Spark and the oracle twin byte-identical."""
    tokens = F.split(
        F.regexp_replace(F.lower(F.col(text_col)), F.lit(_STRIP_PUNCT), F.lit(" ")), r"\s+"
    )
    langs = list(LANG_WORDS)
    scores = {
        lang: F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in LANG_WORDS[lang].split()])))
        for lang in langs
    }
    best_score = F.greatest(*scores.values())
    # first language (in fixed order) reaching the max wins — same
    # tie-break as the CASE chain in the DuckDB twin.  Building from the
    # last language outward makes langs[0] the outermost (first-checked).
    pred = None
    for lang in reversed(langs):
        hit = scores[lang] == best_score
        pred = F.when(hit, F.lit(lang)) if pred is None else F.when(hit, F.lit(lang)).otherwise(pred)
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best_score.cast("int").alias("marker_hits"),
    )


def lang_id_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    langs = list(LANG_WORDS)
    strip_sql = _STRIP_PUNCT.replace("'", "''")  # quote the ' inside the char class
    tok = f"regexp_split_to_array(regexp_replace(lower({text_col}), '{strip_sql}', ' ', 'g'), '\\s+')"
    score_cols = ", ".join(
        "len(list_intersect(toks, ["
        + ", ".join(f"'{w}'" for w in LANG_WORDS[lang].split())
        + f"])) AS s_{lang}"
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs) + " END"
    return f"""
    WITH toks AS (SELECT {id_col}, {tok} AS toks FROM {table}),
    scored AS (SELECT {id_col}, {score_cols} FROM toks),
    m AS (SELECT *, {best} AS best FROM scored)
    SELECT {id_col}, {pred} AS pred_lang, CAST(best AS INT) AS marker_hits FROM m
    """


def make_lang_id_batch_fn(id_col: str = "doc_id", text_col: str = "text"):
    "The mapInPandas function of lang_id_ngram: (id_col, pred_lang) per row."
    from .worker import partition_scoped

    @partition_scoped
    def batch(iterator):
        from ..kernel.langid import classify_language

        for pdf in iterator:
            out = pdf[[id_col]].copy()
            out["pred_lang"] = [
                classify_language(t) if isinstance(t, str) else None
                for t in pdf[text_col]
            ]
            yield out

    return batch


def lang_id_ngram(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Character-n-gram language ID over ~53 languages — the kernel's
    Cavnar-Trenkle profile classifier (kernel/langprofiles.py) run as an
    Arrow-batched mapInPandas column.  Complements the JVM-side 17-language
    `lang_id` (which stays the cheap whole-table sweep with an exact
    DuckDB twin); this variant is the full-coverage path, used when the
    corpus is broader than the marker-word vocabulary.  Oracle: the rank
    arithmetic has no SQL twin, so the DuckDB side joins the pinned
    fixture parquet (tools/gen_langid_fixture.py) — a value match proves
    the live run reproduces the generation-time labels exactly."""
    from pyspark.sql.types import StringType, StructField, StructType

    from .balance import spread_for_compute

    schema = StructType(
        [df.schema[id_col], StructField("pred_lang", StringType(), True)]
    )
    batch = make_lang_id_batch_fn(id_col, text_col)
    return spread_for_compute(df.select(id_col, text_col)).mapInPandas(batch, schema=schema)


# Gopher-style quality rules (Rae et al. 2021, §A1.1) — the published
# heuristics, tuned to what both regex engines (java.util.regex / RE2)
# evaluate identically: plain character classes only, no \b / lookaround.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_ALPHA_RE = "[A-Za-z]"
_BULLET_RE = r"^[ \t]*[-*•‣▪]"
_ELLIPSIS_RE = r"(\.\.\.|…)[ \t]*$"


def quality_gopher(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-rule document quality filter, entirely JVM-side built-ins.

    Per document: word count, mean word length, fraction of words with an
    alphabetic character, bullet-/ellipsis-line ratios, duplicate-line
    ratio, distinct-stopword hits — and the pass/fail verdict combining
    them (the thresholds published for MassiveWeb).  At 100 TB this is a
    single narrow projection over the text column: no shuffle, no Python,
    fully pipelined into whatever scan feeds it."""
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    text = F.col(text_col)
    words = F.split(F.trim(text), r"\s+")
    lines = F.split(text, "\n")
    n_words = F.size(words)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    mean_word_len = F.round(
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    alpha_ratio = F.round(
        F.size(F.filter(words, lambda w: w.rlike(_ALPHA_RE))) / F.greatest(n_words, F.lit(1)), 6
    )
    bullet_ratio = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE))) / n_lines, 6
    )
    ellipsis_ratio = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(_ELLIPSIS_RE))) / n_lines, 6
    )
    dup_line_ratio = F.round(1 - F.size(F.array_distinct(lines)) / n_lines, 6)
    lower_words = F.transform(words, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lower_words, s),
        )
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
        dup_line_ratio.alias("dup_line_ratio"),
        stop_hits.cast("int").alias("stopword_hits"),
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("bullet_line_ratio") <= 0.9)
        & (F.col("ellipsis_line_ratio") <= 0.3)
        & (F.col("dup_line_ratio") <= 0.3)
        & (F.col("stopword_hits") >= 2)
    )
    return out.withColumn("passes", passes)


def quality_gopher_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    "DuckDB twin of quality_gopher (identical tokenization and thresholds)."
    stoplist = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    bullet = _BULLET_RE
    ellipsis = _ELLIPSIS_RE
    return f"""
    WITH base AS (
      SELECT {id_col},
             regexp_split_to_array(trim({text_col}), '\\s+') AS words,
             string_split({text_col}, chr(10)) AS lines
      FROM {table}
    ),
    m AS (
      SELECT {id_col},
             CAST(len(words) AS INT) AS n_words,
             ROUND(list_sum(list_transform(words, w -> length(w))) * 1.0
                   / GREATEST(len(words), 1), 6) AS mean_word_len,
             ROUND(len(list_filter(words, w -> regexp_matches(w, '{_ALPHA_RE}'))) * 1.0
                   / GREATEST(len(words), 1), 6) AS alpha_word_ratio,
             ROUND(len(list_filter(lines, l -> regexp_matches(l, '{bullet}'))) * 1.0
                   / GREATEST(len(lines), 1), 6) AS bullet_line_ratio,
             ROUND(len(list_filter(lines, l -> regexp_matches(l, '{ellipsis}'))) * 1.0
                   / GREATEST(len(lines), 1), 6) AS ellipsis_line_ratio,
             ROUND(1 - len(list_distinct(lines)) * 1.0 / GREATEST(len(lines), 1), 6) AS dup_line_ratio,
             CAST(len(list_filter([{stoplist}],
                        s -> list_contains(list_transform(words, w -> lower(w)), s))) AS INT)
               AS stopword_hits
      FROM base
    )
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND alpha_word_ratio >= 0.8
            AND bullet_line_ratio <= 0.9
            AND ellipsis_line_ratio <= 0.3
            AND dup_line_ratio <= 0.3
            AND stopword_hits >= 2) AS passes
    FROM m
    """


# repetition thresholds published for MassiveWeb (Rae et al. 2021 §A1.1),
# the COMPLETE table: most-frequent-n-gram character fraction for short n,
# duplicated-n-gram character fraction for long n, and duplicate
# line/paragraph fractions (by segment count and by character mass)
REP_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
REP_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
REP_SEG_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
}


def _ngram_expr(toks, n: int):
    "Space-joined word n-grams of the token array (empty when too short)."
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


REP_NGRAM_MODES = [(n, "top") for n in REP_TOP_THRESHOLDS] + [
    (n, "dup") for n in REP_DUP_THRESHOLDS
]


def _top_chars_walk_sql(grams: str) -> str:
    """Chars covered by the most frequent gram of one document, WITHOUT
    any shuffle: sort the array, one aggregate() pass over adjacent runs.
    Ties go to the lexicographically smallest gram (strictly `>` keeps
    the FIRST maximal run of the sorted order — identical to ORDER BY
    cnt DESC, g ASC); 0 when the top gram occurs only once (a
    once-occurring n-gram is not repetition).

    Emitted as a SQL string (one parse) rather than a pyspark Column
    tree: nine of these walks built via F.aggregate/F.struct cost ~1.1 s
    of py4j round-trips per query invocation (measured round 7), all of
    it inside the timed wall.  The parsed expression is the same."""
    bc = "CASE WHEN acc.run > acc.best_cnt THEN acc.run ELSE acc.best_cnt END"
    bg = "CASE WHEN acc.run > acc.best_cnt THEN acc.prev ELSE acc.best_g END"
    return f"""aggregate(
      array_sort({grams}),
      named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best_cnt', CAST(0 AS BIGINT), 'best_g', ''),
      (acc, g) -> CASE WHEN g = acc.prev
        THEN named_struct('prev', acc.prev, 'run', acc.run + 1, 'best_cnt', acc.best_cnt, 'best_g', acc.best_g)
        ELSE named_struct('prev', g, 'run', CAST(1 AS BIGINT), 'best_cnt', {bc}, 'best_g', {bg}) END,
      acc -> CASE WHEN {bc} > 1 THEN {bc} * length({bg}) ELSE CAST(0 AS BIGINT) END
    )"""


def _dup_chars_walk_sql(arr: str, count_first: bool) -> str:
    """Chars in repeated elements of one document's array (no shuffle):
    ``count_first`` True counts ALL occurrences of a gram that repeats
    (the Gopher duplicated-n-gram definition), False counts occurrences
    beyond the first (the duplicate line/paragraph definition).
    SQL-string form for the same construction-cost reason as
    _top_chars_walk_sql."""
    sub = 0 if count_first else 1
    close = (
        f"acc.dupch + CASE WHEN acc.run > 1 THEN (acc.run - {sub}) * length(acc.prev) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    return f"""aggregate(
      array_sort({arr}),
      named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'dupch', CAST(0 AS BIGINT)),
      (acc, g) -> CASE WHEN g = acc.prev
        THEN named_struct('prev', acc.prev, 'run', acc.run + 1, 'dupch', acc.dupch)
        ELSE named_struct('prev', g, 'run', CAST(1 AS BIGINT), 'dupch', {close}) END,
      acc -> {close}
    )"""


def _ngram_sql(toks: str, n: int) -> str:
    "SQL-string twin of _ngram_expr (space-joined word n-grams)."
    return (
        f"CASE WHEN size({toks}) >= {n} THEN transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def quality_repetition(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher repetition signals, the COMPLETE published set (Rae et al.
    2021 §A1.1): fraction of document characters covered by the single
    most frequent {2,3,4}-gram and by ALL duplicated {5..10}-grams, plus
    duplicate line / paragraph fractions by segment count and by
    character mass (a segment occurrence beyond the first identical one
    counts as a duplicate; segments are trimmed, empties dropped;
    paragraphs split on blank lines).

    The other half of the Gopher rule set next to quality_gopher's
    word/line statistics — repetitive machine-generated or boilerplate
    text scores high here while length-based stats look normal.

    Shape at 100 TB: every metric is PER-DOCUMENT, so nothing shuffles —
    each n's gram array is sorted and run-walked inside one projection
    (array_sort + F.aggregate, all JVM-side; O(n log n) per doc per n).
    The earlier explode -> groupBy(doc, n, gram) formulation pushed
    ~9x-token-count rows through an exchange to compute numbers every
    executor already had locally; this version is a scan -> project ->
    done plan, benched ~5x faster at sf0.1 and trivially linear-scaling
    (plan-audited: no Exchange, no Python)."""
    from .balance import spread_for_compute

    df = spread_for_compute(df)

    def _segs_sql(pattern: str) -> str:
        return (
            f"filter(transform(split({text_col}, '{pattern}'), s -> trim(s)), "
            f"s -> length(s) > 0)"
        )

    base = df.selectExpr(
        id_col,
        f"split(lower(trim({text_col})), '\\\\s+') AS toks",
        f"greatest(length(trim({text_col})), 1) AS n_chars",
        _segs_sql(r"\\n") + " AS _lines",
        _segs_sql(r"\\n{2,}") + " AS _paras",
    )
    cols = [id_col]
    metrics = []
    for n, mode in REP_NGRAM_MODES:
        name = f"{mode}{n}_char_frac"
        metrics.append(name)
        grams = _ngram_sql("toks", n)
        chars = (
            _top_chars_walk_sql(grams)
            if mode == "top"
            else _dup_chars_walk_sql(grams, count_first=True)
        )
        cols.append(f"round({chars} / n_chars, 6) AS {name}")
    for kind, arr in (("line", "_lines"), ("para", "_paras")):
        tot_chars = f"aggregate({arr}, CAST(0 AS BIGINT), (acc, s) -> acc + length(s))"
        metrics.append(f"dup_{kind}_frac")
        cols.append(
            f"CASE WHEN size({arr}) > 0 THEN "
            f"round((size({arr}) - size(array_distinct({arr}))) / size({arr}), 6) "
            f"ELSE 0.0D END AS dup_{kind}_frac"
        )
        metrics.append(f"dup_{kind}_char_frac")
        cols.append(
            f"CASE WHEN size({arr}) > 0 THEN "
            f"round({_dup_chars_walk_sql(arr, count_first=False)} / "
            f"greatest({tot_chars}, CAST(1 AS BIGINT)), 6) "
            f"ELSE 0.0D END AS dup_{kind}_char_frac"
        )
    out = base.selectExpr(*cols)
    passes = None
    for n, thr in REP_TOP_THRESHOLDS.items():
        cond = F.col(f"top{n}_char_frac") <= thr
        passes = cond if passes is None else (passes & cond)
    for n, thr in REP_DUP_THRESHOLDS.items():
        passes = passes & (F.col(f"dup{n}_char_frac") <= thr)
    for col, thr in REP_SEG_THRESHOLDS.items():
        passes = passes & (F.col(col) <= thr)
    ordered = [F.col(id_col)] + [F.col(m) for m in metrics]
    return out.select(*ordered, passes.alias("rep_passes"))


def quality_repetition_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    "DuckDB twin of quality_repetition (identical tokenization and ties)."
    parts = []
    for n, mode in REP_NGRAM_MODES:
        grams = (
            f"[array_to_string(toks[i:i+{n - 1}], ' ') "
            f"FOR i IN generate_series(1, len(toks) - {n} + 1)]"
        )
        counts = f"""
      SELECT {id_col}, g, COUNT(*) AS cnt
      FROM (SELECT {id_col}, unnest(CASE WHEN len(toks) >= {n} THEN {grams}
                                         ELSE [] END) AS g FROM base)
      GROUP BY {id_col}, g"""
        if mode == "top":
            parts.append(f"""
    m_{mode}{n} AS (
      -- cnt > 1 guard: a once-occurring top n-gram is not repetition
      SELECT {id_col}, CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END AS chars FROM (
        SELECT {id_col}, g, cnt,
               ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY cnt DESC, g ASC) AS rn
        FROM ({counts})
      ) WHERE rn = 1
    )""")
        else:
            parts.append(f"""
    m_{mode}{n} AS (
      SELECT {id_col}, SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS chars
      FROM ({counts}) GROUP BY {id_col}
    )""")
    seg_parts = []
    for kind, pattern in [("line", "\\n"), ("para", "\\n{2,}")]:
        seg_parts.append(f"""
    m_seg_{kind} AS (
      SELECT {id_col},
             ROUND(SUM(cnt - 1) * 1.0 / SUM(cnt), 6) AS dup_{kind}_frac,
             ROUND(SUM((cnt - 1) * length(seg)) * 1.0
                   / GREATEST(SUM(cnt * length(seg)), 1), 6) AS dup_{kind}_char_frac
      FROM (
        SELECT {id_col}, seg, COUNT(*) AS cnt FROM (
          SELECT {id_col},
                 unnest(list_filter(
                   list_transform(regexp_split_to_array({text_col}, '{pattern}'),
                                  s -> trim(s)),
                   s -> length(s) > 0)) AS seg
          FROM {table})
        GROUP BY {id_col}, seg
      ) GROUP BY {id_col}
    )""")
    ngram_cols = ",\n           ".join(
        f"ROUND(COALESCE(m_{mode}{n}.chars, 0) * 1.0 / b.n_chars, 6) AS {mode}{n}_char_frac"
        for n, mode in REP_NGRAM_MODES
    )
    seg_cols = ",\n           ".join(
        f"COALESCE(m_seg_{kind}.dup_{kind}_frac, 0) AS dup_{kind}_frac,\n           "
        f"COALESCE(m_seg_{kind}.dup_{kind}_char_frac, 0) AS dup_{kind}_char_frac"
        for kind in ("line", "para")
    )
    ngram_joins = "\n    ".join(
        f"LEFT JOIN m_{mode}{n} USING ({id_col})" for n, mode in REP_NGRAM_MODES
    )
    conds = (
        [f"top{n}_char_frac <= {t}" for n, t in REP_TOP_THRESHOLDS.items()]
        + [f"dup{n}_char_frac <= {t}" for n, t in REP_DUP_THRESHOLDS.items()]
        + [f"{col} <= {t}" for col, t in REP_SEG_THRESHOLDS.items()]
    )
    return f"""
    WITH base AS (
      SELECT {id_col},
             regexp_split_to_array(lower(trim({text_col})), '\\s+') AS toks,
             GREATEST(length(trim({text_col})), 1) AS n_chars
      FROM {table}
    ),{",".join(parts)},{",".join(seg_parts)}
    SELECT b.{id_col},
           {ngram_cols},
           {seg_cols},
           ({" AND ".join(conds)}) AS rep_passes
    FROM base b
    {ngram_joins}
    LEFT JOIN m_seg_line USING ({id_col})
    LEFT JOIN m_seg_para USING ({id_col})
    """


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    "Deterministic document fingerprint: md5 of whitespace-normalized lowercase text."
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(F.col(id_col), F.md5(normalized).alias("fp"))


def fingerprint_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
    SELECT {id_col}, md5(regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')) AS fp
    FROM {table}
    """


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", top_k: int = 50_000
) -> DataFrame:
    """Corpus-LM quality score, the CCNet-family filter shape (Wenzek et
    al. 2020 rank documents by LM perplexity; with no KenLM in this
    environment the LM is the corpus's own unigram distribution): per
    document, the mean log10 probability of its tokens under corpus
    unigram frequencies, plus token/OOV counts.  Low scores = unusual
    token distributions (boilerplate, non-language, encoding garbage);
    the score is a RANKING signal, thresholds are corpus-specific.

    100 TB shape: token counting is word-count (one shuffle, map-side
    combine); the model is the TOP-K vocabulary (bounded — ~1M rows
    broadcast; ties at the cutoff break deterministically by count desc,
    token asc), so scoring is (doc, tok) partial counts -> broadcast
    join -> per-doc agg — one more doc-keyed shuffle, nothing
    corpus-wide.  OOV tokens take a 0.5-count floor probability
    (add-half smoothing on the unseen mass; the distribution need not
    renormalize for a ranking filter).

    BIT-DETERMINISM (driver hash gate): a plain AVG of doubles sums in
    partition order and is therefore nondeterministic at the last ulp.
    Instead each DISTINCT token's log-prob is computed once from integer
    counts, rounded to 9 dp, and carried as DECIMAL(20,9); the per-doc
    score is sum(doc_cnt * lp) as DECIMAL — exact and associative, so
    partitioning cannot change it — then one double divide + round(6).
    The DuckDB twin mirrors the same fixed-point arithmetic."""
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    doc_tok = ex.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("doc_cnt"))
    counts = doc_tok.groupBy("tok").agg(F.sum("doc_cnt").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    vocab = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_k)
    lp_vocab = vocab.crossJoin(total).select(
        "tok",
        F.round(F.log10(F.col("cnt") / F.col("n_total")), 9)
        .cast("decimal(20,9)")
        .alias("lp"),
    )
    oov_lp = total.select(
        F.round(F.log10(F.lit(0.5) / F.col("n_total")), 9)
        .cast("decimal(20,9)")
        .alias("oov_lp")
    )
    scored = doc_tok.join(F.broadcast(lp_vocab), "tok", "left").crossJoin(
        F.broadcast(oov_lp)
    )
    # doc_cnt as decimal(10,0): a long operand would push the product past
    # precision 38 and Spark's precision-loss rule silently truncates the
    # scale to 6 — decimal(10,0) * decimal(20,9) stays exact at (31,9).
    dcnt = F.col("doc_cnt").cast("decimal(10,0)")
    return scored.groupBy(id_col).agg(
        F.round(
            F.sum(dcnt * F.coalesce(F.col("lp"), F.col("oov_lp"))).cast("double")
            / F.sum("doc_cnt"),
            6,
        ).alias("unigram_logprob"),
        F.sum("doc_cnt").alias("n_tokens"),
        F.sum(F.when(F.col("lp").isNull(), F.col("doc_cnt")).otherwise(F.lit(0))).alias(
            "n_oov"
        ),
    )


def unigram_logprob_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", top_k: int = 50_000
) -> str:
    """DuckDB twin of unigram_logprob (identical tokenization, cutoff ties,
    smoothing, and the same DECIMAL(20,9) fixed-point per-token log-probs
    so the exact sum matches Spark's bit-for-bit)."""
    return f"""
    WITH ex AS (
      SELECT {id_col},
             unnest(regexp_split_to_array(lower(trim({text_col})), '\\s+')) AS tok
      FROM {table}
    ),
    doc_tok AS (SELECT {id_col}, tok, COUNT(*) AS doc_cnt FROM ex GROUP BY {id_col}, tok),
    counts AS (SELECT tok, SUM(doc_cnt) AS cnt FROM doc_tok GROUP BY tok),
    total AS (SELECT SUM(cnt) AS n_total FROM counts),
    vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT {top_k}),
    lp_vocab AS (
      SELECT tok, CAST(ROUND(log10(cnt / n_total), 9) AS DECIMAL(20,9)) AS lp
      FROM vocab CROSS JOIN total
    ),
    oov AS (
      SELECT CAST(ROUND(log10(0.5 / n_total), 9) AS DECIMAL(20,9)) AS oov_lp FROM total
    )
    SELECT d.{id_col},
           ROUND(CAST(SUM(CAST(d.doc_cnt AS DECIMAL(10,0)) * COALESCE(l.lp, o.oov_lp)) AS DOUBLE)
                 / SUM(d.doc_cnt), 6) AS unigram_logprob,
           CAST(SUM(d.doc_cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN l.lp IS NULL THEN d.doc_cnt ELSE 0 END) AS BIGINT) AS n_oov
    FROM doc_tok d LEFT JOIN lp_vocab l USING (tok) CROSS JOIN oov o
    GROUP BY d.{id_col}
    """


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the prep step for
    embedding / training pipelines whose models have a context budget:
    each document becomes ceil((n - overlap) / stride) chunks of up to
    ``chunk_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens (stride = chunk_tokens - overlap).  Output rows
    (doc_id, chunk_idx, chunk_text, n_tokens) keep provenance for
    dedup/lineage joins back to the source document.

    100 TB shape: a pure per-document projection + explode — no shuffle,
    no Python; chunk counts are data-proportional so the explode factor
    is bounded by (1 + overlap/stride)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    stride = chunk_tokens - overlap
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    # chunks fully covered by a previous window are not re-emitted:
    # n_chunks = 1 + ceil(max(n - chunk, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("int").alias("n_tokens"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        F.col(id_col),
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def chunk_documents_sql(
    table: str = "documents",
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    "DuckDB twin of chunk_documents (identical tokenization and windowing)."
    stride = chunk_tokens - overlap
    return f"""
    WITH toks AS (
      SELECT {id_col},
             regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
      FROM {table}
    ),
    idx AS (
      SELECT {id_col}, t, len(t) AS n,
             unnest(range(0, 1 + CAST(ceil(GREATEST(len(t) - {chunk_tokens}, 0)
                                           * 1.0 / {stride}) AS INT))) AS i
      FROM toks
    )
    SELECT {id_col},
           CAST(i AS INT) AS chunk_idx,
           array_to_string(t[i * {stride} + 1 : i * {stride} + {chunk_tokens}], ' ') AS chunk_text,
           CAST(LEAST(n - i * {stride}, {chunk_tokens}) AS INT) AS n_tokens
    FROM idx
    """


# ---------------------------------------------------------------------------
# C4-style line/document cleaning (Raffel et al. 2020, §2.2: the public
# "Colossal Clean Crawled Corpus" heuristics) — the post-extraction
# cleaning pass a training pipeline runs over the text the cascade
# produced.  All rules are JVM column expressions with a DuckDB twin.

# a kept line must end in terminal punctuation (period / ! / ? / quote)
_C4_TERMINAL_RE = r'[.!?"]$'
# lines carrying js prompts or policy boilerplate are dropped outright
_C4_BAD_LINE_RE = r"(javascript|cookie policy|privacy policy|terms of use|uses cookies)"
_C4_MIN_LINE_WORDS = 5
_C4_MIN_SENTENCES = 3


def c4_kept_lines(text):
    "Array column of the lines of `text` that survive the C4 line rules."

    def _line_ok(line):
        t = F.trim(line)
        return (
            t.rlike(_C4_TERMINAL_RE)
            & (F.size(F.split(t, r"\s+")) >= _C4_MIN_LINE_WORDS)
            & ~F.lower(t).rlike(_C4_BAD_LINE_RE)
        )

    return F.transform(F.filter(F.split(text, "\n"), _line_ok), F.trim)


def c4_clean_text(text):
    "Cleaned text column: the surviving lines re-joined."
    return F.array_join(c4_kept_lines(text), "\n")


def c4_keep(text):
    "Boolean column: the C4 document verdict over `text`."
    n_sentences = F.regexp_count(c4_clean_text(text), F.lit(r"[.!?]"))
    doc_bad = text.contains("{") | F.lower(text).contains("lorem ipsum")
    return ~doc_bad & (n_sentences >= _C4_MIN_SENTENCES)


def quality_c4(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """C4 cleaning verdict per document, entirely JVM-side.

    Line rules (a line survives iff ALL hold): ends in terminal
    punctuation, has >= 5 whitespace words, and carries no
    javascript/policy boilerplate.  Document rules: drop when the raw
    text contains '{' (leaked code), contains 'lorem ipsum', or fewer
    than 3 sentences survive the line pass.  Output keeps the cleaned
    text alongside the verdict so the caller can filter OR inspect.

    100 TB shape: one narrow projection over the text column — zero
    shuffle, zero Python, pipelined into the scan (plan-asserted)."""
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = c4_kept_lines(text)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    doc_bad = text.contains("{") | F.lower(text).contains("lorem ipsum")
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept_lines"),
        n_sentences.cast("int").alias("n_sentences"),
        kept_text.alias("clean_text"),
        (~doc_bad & (n_sentences >= _C4_MIN_SENTENCES)).alias("c4_keep"),
    )


def quality_c4_sql(
    text_expr: str, from_clause: str = "documents", id_col: str = "doc_id"
) -> str:
    "DuckDB twin of quality_c4 (identical regexes, word rule, thresholds)."
    return f"""
    WITH base AS (SELECT {id_col}, {text_expr} AS text FROM {from_clause}),
    kept AS (
      SELECT {id_col}, text,
             len(string_split(text, chr(10))) AS n_lines,
             list_transform(
               list_filter(string_split(text, chr(10)),
                 x -> regexp_matches(trim(x), '{_C4_TERMINAL_RE}')
                      AND len(regexp_split_to_array(trim(x), '\\s+')) >= {_C4_MIN_LINE_WORDS}
                      AND NOT regexp_matches(lower(trim(x)), '{_C4_BAD_LINE_RE}')),
               x -> trim(x)) AS kept_lines
      FROM base
    )
    SELECT {id_col},
           CAST(n_lines AS INT) AS n_lines,
           CAST(len(kept_lines) AS INT) AS n_kept_lines,
           -- COALESCE: DuckDB's array_to_string over an empty list is
           -- NULL where Spark's array_join is '' — same doc, same ''
           CAST(len(regexp_extract_all(COALESCE(array_to_string(kept_lines, chr(10)), ''), '[.!?]')) AS INT)
             AS n_sentences,
           COALESCE(array_to_string(kept_lines, chr(10)), '') AS clean_text,
           NOT (contains(text, '{{') OR contains(lower(text), 'lorem ipsum'))
             AND len(regexp_extract_all(COALESCE(array_to_string(kept_lines, chr(10)), ''), '[.!?]'))
                 >= {_C4_MIN_SENTENCES} AS c4_keep
    FROM kept
    """


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass public training pipelines (e.g. the
# BigScience ROOTS corpus tooling) run before tokenization: emails, bare
# IPv4 addresses and international phone numbers are replaced by typed
# placeholder tokens.  Patterns are RE2-compatible (no lookarounds) so
# the Spark and DuckDB sides compile the IDENTICAL regex.  Replacement
# runs email -> ip -> phone, counts are taken on the ORIGINAL text.

PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9]{1,3}[ \-][0-9]{3}[ \-][0-9]{4,8}"


def pii_scrubbed(text):
    "Scrubbed text column: emails -> <EMAIL>, IPv4s -> <IP>, phones -> <PHONE>."
    scrubbed = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")


def pii_count(text):
    "Total count of PII hits (emails + IPv4s + phones) in `text`."
    return (
        F.regexp_count(text, F.lit(PII_EMAIL_RE))
        + F.regexp_count(text, F.lit(PII_IPV4_RE))
        + F.regexp_count(text, F.lit(PII_PHONE_RE))
    )


def scrub_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Replace emails / IPv4s / phone numbers with <EMAIL>/<IP>/<PHONE>.

    100 TB shape: pure projection (three regexp_replace passes fused by
    codegen into one scan over the string) — zero shuffle, zero Python."""
    from .balance import spread_for_compute

    df = spread_for_compute(df)
    text = F.col(text_col)
    scrubbed = pii_scrubbed(text)
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL_RE))
    n_ips = F.regexp_count(text, F.lit(PII_IPV4_RE))
    n_phones = F.regexp_count(text, F.lit(PII_PHONE_RE))
    return df.select(
        F.col(id_col),
        n_emails.cast("int").alias("n_emails"),
        n_ips.cast("int").alias("n_ips"),
        n_phones.cast("int").alias("n_phones"),
        ((n_emails + n_ips + n_phones) > 0).alias("has_pii"),
        scrubbed.alias("scrubbed_text"),
    )


def scrub_pii_sql(
    text_expr: str, from_clause: str = "documents", id_col: str = "doc_id"
) -> str:
    "DuckDB twin of scrub_pii (identical RE2-compatible patterns + order)."
    return f"""
    WITH base AS (SELECT {id_col}, {text_expr} AS text FROM {from_clause})
    SELECT {id_col},
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS INT) AS n_phones,
           len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
             + len(regexp_extract_all(text, '{PII_IPV4_RE}'))
             + len(regexp_extract_all(text, '{PII_PHONE_RE}')) > 0 AS has_pii,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{PII_IPV4_RE}', '<IP>', 'g'),
               '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed_text
    FROM base
    """
