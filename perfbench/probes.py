"""Layer probes of the traced run: direct calls into the functions
layer and noop-sink forces of single operators."""

from __future__ import annotations

import os
import statistics

import pandas as pd

from harness import now
from workloads import INSPECT_COLUMNS, SAMPLE_SIZE, land

FUNCTION_SAMPLE_TURNS = 4000
REPEATS = 3  # each force reports the median of three


def functions(ctx) -> dict[str, float]:
    """Single-thread calls on the first FUNCTION_SAMPLE_TURNS backlog turns."""
    from auto_data_tokenize_spark.functions import detectors
    from auto_data_tokenize_spark.functions.tokenizer import Tokenizer

    turns = pd.concat(
        pd.read_parquet(f, columns=["conv_id", "text"]) for f in ctx.files("backlog")[:5]
    ).head(FUNCTION_SAMPLE_TURNS)
    rows = list(zip(turns["conv_id"], turns["text"]))
    tok = Tokenizer(ctx.key)
    span = ctx.tracer.span
    find_s = tok_s = 0.0
    spans = 0
    for _, t in rows:
        with span("functions.find_spans"):
            t0 = now()
            found = detectors.find_spans(t)
            find_s += now() - t0
        spans += len(found)
    for c, t in rows:
        with span("functions.tokenize_text"):
            t0 = now()
            tok.tokenize_text(c, t)
            tok_s += now() - t0
    return {
        "functions.find_spans_us_per_turn": find_s / len(rows) * 1e6,
        "functions.tokenize_text_us_per_turn": tok_s / len(rows) * 1e6,
        "functions.spans_per_turn": spans / len(rows),
    }


def _table(ctx, name: str):
    from auto_data_tokenize_spark.streaming.source import TRANSCRIPT_SCHEMA

    table_dir = os.path.join(ctx.work, name)
    land(ctx.files("backlog"), table_dir)
    return table_dir, ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(table_dir)


def operators(ctx) -> dict[str, float]:
    """Each operator over the backlog, forced through the noop sink:
    engine compute without streaming, sink or plan entry point."""
    from auto_data_tokenize_spark.operators import identify, ordering, sampler, tokenize

    _, table = _table(ctx, "probe-table")
    plans = {
        "operators.tokenize_turns_s": lambda: tokenize.tokenize_turns(table, root_key=ctx.key),
        "operators.detections_s": lambda: identify.detections(table, root_key=ctx.key),
        "operators.sample_per_column_s": lambda: sampler.sample_per_column(
            table, INSPECT_COLUMNS, n=SAMPLE_SIZE
        ),
        "operators.cluster_sorted_s": lambda: ordering.cluster_sorted(table),
    }
    out = {}
    for name, plan in plans.items():
        times = []
        for _ in range(REPEATS):
            with ctx.tracer.span(name):
                t0 = now()
                plan().write.mode("overwrite").format("noop").save()
                times.append(now() - t0)
        out[name] = statistics.median(times)
    return out
