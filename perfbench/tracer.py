"""Span tracer for the traced benchmark run.

Driver side, ``tracing(trace_dir)`` swaps the operator's batch-function
factories for ones that return ``traced(fn)``.  On a Python worker the
traced batch function installs span wrappers when its partition starts,
records every span in memory, and at the partition's end removes the
wrappers and writes the spans to one file in ``trace_dir``.  Writing
from the batch function itself, not from an exit hook, matters because
forked PySpark workers leave through ``os._exit``.  Installing per
partition, not at interpreter start, leaves the kernel untouched for the
untraced jobs that run in the same session, which is how the traced run
measures its own overhead.

A span is ``(name, start_ns, end_ns, parent_index, turn_no)``.  The
wrapped calls, in the namespaces they are called from:

- ``bare_extract`` in ``trafilatura_spark.operators.extract`` (span
  ``turn``: one per document that reaches the kernel);
- the stage functions ``trafilatura_spark.kernel.extract`` calls, plus
  its escalation retry (span ``escalation``);
- ``trafilatura_spark.kernel.metadata.extract_metadata``;
- ``Element.copy_tree``;
- the batch function (span ``batch``) and its pulls from the Arrow input
  iterator (span ``arrow_in``).
"""

from __future__ import annotations

import contextlib
import importlib
import marshal
import os
import statistics
import time
from collections import Counter, defaultdict

KERNEL_STAGES = (
    "load_html",
    "tree_cleaning",
    "convert_tags",
    "extract_content",
    "try_readability",
    "try_justext",
    "baseline",
    "html2txt_len",
    "xmltotxt",
)
# (module, attribute, span name)
PATCHES = tuple(("trafilatura_spark.kernel.extract", s, s) for s in KERNEL_STAGES) + (
    ("trafilatura_spark.kernel.extract", "_recall_retry", "escalation"),
    ("trafilatura_spark.operators.extract", "bare_extract", "turn"),
    ("trafilatura_spark.kernel.metadata", "extract_metadata", "extract_metadata"),
)
BATCH_FACTORIES = ("make_extract_batch_fn", "make_extract_with_metadata_batch_fn")
TIERS = (
    "main",
    "readability",
    "justext",
    "baseline",
    "escalation_recall",
    "escalation_justext",
    "discarded",
    "discarded_size",
    "timeout",
    "error",
)


class Recorder:
    "Spans and counts of one partition, kept in memory until it ends."

    def __init__(self):
        self.spans: list = []
        self.stack: list = []
        self.turn = -1
        self.rows: list = []
        self.tiers: Counter = Counter()

    def open(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter_ns(), 0, self.stack[-1] if self.stack else -1, self.turn))
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.stack.pop()
        name, start, _, parent, turn = self.spans[idx]
        self.spans[idx] = (name, start, time.perf_counter_ns(), parent, turn)

    def wrap(self, name: str, fn):
        is_turn = name == "turn"

        def traced_call(*args, **kwargs):
            if is_turn:
                self.turn += 1
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced_call

    def install(self) -> list:
        "Wrap every patch target; returns what ``uninstall`` needs."
        from trafilatura_spark.kernel.dom import Element

        undo = []
        for module_name, attr, name in PATCHES:
            module = importlib.import_module(module_name)
            original = getattr(module, attr)
            undo.append((module, attr, original))
            setattr(module, attr, self.wrap(name, original))
        original = Element.__dict__["copy_tree"]
        undo.append((Element, "copy_tree", original))
        Element.copy_tree = self.wrap("copy_tree", original)
        return undo

    @staticmethod
    def uninstall(undo: list) -> None:
        for owner, attr, original in reversed(undo):
            setattr(owner, attr, original)

    def flush(self, trace_dir: str) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        stage, part = (ctx.stageId(), ctx.partitionId()) if ctx else (-1, -1)
        record = {
            "stage": stage,
            "partition": part,
            "spans": self.spans,
            "rows": self.rows,
            "tiers": dict(self.tiers),
        }
        name = f"{stage}-{part}-{os.getpid()}-{time.perf_counter_ns()}.marshal"
        with open(os.path.join(trace_dir, name), "wb") as f:
            marshal.dump(record, f)


def _timed_input(rec: Recorder, iterator):
    while True:
        idx = rec.open("arrow_in")
        try:
            pdf = next(iterator)
        except StopIteration:
            rec.close(idx)
            return
        rec.close(idx)
        rec.rows.append(len(pdf))
        yield pdf


def _run_traced(fn, trace_dir: str, iterator):
    rec = Recorder()
    undo = rec.install()
    try:
        out = fn(_timed_input(rec, iterator))
        while True:
            idx = rec.open("batch")
            try:
                pdf = next(out)
            except StopIteration:
                rec.close(idx)
                break
            rec.close(idx)
            rec.tiers.update(pdf["tier"].tolist())
            yield pdf
    finally:
        rec.uninstall(undo)
        rec.flush(trace_dir)


def traced(fn, trace_dir: str):
    "A mapInPandas function that runs ``fn`` under the span recorder."

    def batch(iterator):
        return _run_traced(fn, trace_dir, iterator)

    return batch


@contextlib.contextmanager
def tracing(trace_dir: str):
    "Within the block, operators built on the driver ship traced batch functions."
    import trafilatura_spark.operators.extract as ox

    saved = {name: getattr(ox, name) for name in BATCH_FACTORIES}

    def factory(make):
        return lambda *args, **kwargs: traced(make(*args, **kwargs), trace_dir)

    for name, make in saved.items():
        setattr(ox, name, factory(make))
    try:
        yield
    finally:
        for name, make in saved.items():
            setattr(ox, name, make)


def _pct(values: list, q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def summarize(trace_dir: str, n_reps: int) -> dict:
    """Per-layer metrics, per traced job, from the span files.  A span's
    self time is its duration minus the durations of its child spans."""
    calls: Counter = Counter()
    self_ns: Counter = Counter()
    turn_ns: list = []
    rows: list = []
    tiers: Counter = Counter()
    busy_by_stage: dict = defaultdict(list)
    for name in os.listdir(trace_dir):
        with open(os.path.join(trace_dir, name), "rb") as f:
            record = marshal.load(f)
        spans = record["spans"]
        child_ns = [0] * len(spans)
        for _, start, end, parent, _ in spans:
            if parent >= 0:
                child_ns[parent] += end - start
        busy = 0
        for i, (span, start, end, _, _) in enumerate(spans):
            calls[span] += 1
            self_ns[span] += end - start - child_ns[i]
            if span == "turn":
                turn_ns.append(end - start)
            elif span == "batch":
                busy += end - start
            elif span == "arrow_in":
                busy -= end - start
        busy_by_stage[record["stage"]].append(busy)
        rows.extend(record["rows"])
        tiers.update(record["tiers"])

    reps = max(1, n_reps)
    turns = calls["turn"]

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m = {f"kernel.{s}.s": self_ns[s] / 1e9 / reps for s in KERNEL_STAGES}
    m.update(
        {
            "kernel.cascade_self.s": self_ns["turn"] / 1e9 / reps,
            "kernel.turns": turns / reps,
            "kernel.try_readability.calls": calls["try_readability"] / reps,
            "kernel.try_justext.calls": calls["try_justext"] / reps,
            "kernel.readability.win_ratio": ratio(tiers["readability"], calls["try_readability"]),
            "kernel.justext.win_ratio": ratio(tiers["justext"], calls["try_justext"]),
            "kernel.escalation.attempts": calls["escalation"] / reps,
            "kernel.escalation.accept_ratio": ratio(
                tiers["escalation_recall"] + tiers["escalation_justext"], calls["escalation"]
            ),
            "kernel.copy_tree.calls": calls["copy_tree"] / reps,
            "kernel.copy_tree.per_turn": ratio(calls["copy_tree"], turns),
            "kernel.copy_tree.s": self_ns["copy_tree"] / 1e9 / reps,
            "kernel.turn_ms.p50": _pct(turn_ns, 0.50) / 1e6,
            "kernel.turn_ms.p99": _pct(turn_ns, 0.99) / 1e6,
            "kernel.turn_ms.max": max(turn_ns, default=0) / 1e6,
            "kernel.extract_metadata.s": self_ns["extract_metadata"] / 1e9 / reps,
            "kernel.extract_metadata.calls": calls["extract_metadata"] / reps,
            "extract.driver_self_s": self_ns["batch"] / 1e9 / reps,
            "extract.batches": len(rows) / reps,
            "extract.rows_per_batch.p50": float(statistics.median(rows)) if rows else 0.0,
            "spark.partition_busy_s.max_over_median": statistics.median(
                ratio(max(b), statistics.median(b)) for b in busy_by_stage.values()
            )
            if busy_by_stage
            else 0.0,
        }
    )
    known = set(TIERS)
    for t in TIERS:
        m[f"kernel.tier.{t}"] = tiers[t] / reps
    m["kernel.tier.other"] = sum(v for k, v in tiers.items() if k not in known) / reps
    return m
