"""The two workloads, and the stateful-path probe of the traced run.

Each workload runs set-up, warm-up, then its measured pass over the
backlog, and checks every output.

- ``tokenize_stream``: the stateless headline path, source ->
  ``pipeline.tokenize_stream`` -> ``ExactlyOnceSink.foreach_batch``.
  Catch-up: after WARMUP_DRAINS unmeasured drains, the pre-landed
  backlog drains as one UDF-bound micro-batch, CATCHUP_DRAINS times on
  fresh queries; the last query stays running
  into the live phase, where an open-loop generator lands small files
  at a fixed rate (per-micro-batch fixed costs: planning, WAL and offset
  commits, sink write and publish).
- ``batch_pipelines``: the reference's batch entry points over the
  backlog as a multi-file table, no streaming: ``plans.pipelines.inspect``
  (shuffle-bound sampling, detection on a few thousand values, no
  crypto) then ``tokenize_and_order`` (tokenize + range-partitioned
  sort, written to parquet), repeated until ``--seconds`` have passed.
- ``cep_probe`` (traced run of batch_pipelines only): the stateful path,
  the backlog drained with a fixed ``maxFilesPerTrigger`` through
  tumbling-window frequencies, session windows on the unsalted conv_id
  and the detections x token-dictionary stream-stream join.

End-to-end metrics, the same names on both workloads:

- ``turns_per_s``: backlog turns per second of the bulk phase (median
  catch-up drain; 2 pipelines x turns / pass wall time, median pass).
- ``latency_p50_s`` / ``latency_p90_s``: tokenize_stream: per live
  file, from when it was due to the return of the ``foreach_batch`` call
  that committed it, nearest-rank percentiles over every live file.
  batch_pipelines: each turn has two results, so its p50 is
  the time to the collected inspection report and its p90 the time to
  the written ordered table (median passes).
- ``setup_s``: see ``run.py``.

Each workload also names the per-layer metric prefixes of layers it
never runs; those report 0 in its traced run, and every other per-layer
metric must be measured.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

import harness
import inputs
import verify
from harness import now

CEP_MAX_FILES = 8  # stateful: 3 data micro-batches (+ the watermark's no-data batch)
CEP_QUERIES = ("freq", "sessions", "join")
# The JVM keeps speeding up until about 150 000 turns have gone through
# the tokenize path (the query count does not matter), and batch passes
# for about ten passes. Warm-ups that long do not fit the run length, so
# the measured drains and passes start part-way up that slope, after
# 48 000 turns or one pass. One drain or pass varies by about 10%
# from the next, so each reports the median of four or more.
WARMUP_DRAINS = 2  # backlog drains before the measured ones
CATCHUP_DRAINS = 4  # turns_per_s of tokenize_stream is the median drain
WARMUP_PASSES = 1  # the first pass after a cold start takes 2-3 times a later one
MIN_BATCH_PASSES = 4  # batch passes repeat until --seconds have passed
INSPECT_COLUMNS = ["text", "role", "tool", "conv_id"]
SAMPLE_SIZE = 1000
SETUPS = 2  # cold set-ups per untraced run; see README.md for why not more


class Ctx:
    """One benchmark run: its inputs, scratch space, session, tracer and
    the verification tally."""

    def __init__(self, seed: int, seconds: int, inputs_dir: str, work: str, tracer):
        self.seed, self.seconds = seed, seconds
        self.inputs, self.work, self.tracer = inputs_dir, work, tracer
        self.cores = harness.nproc()
        self.spark = None
        self.attempted = self.failed = 0
        self.notes: list[str] = []
        from auto_data_tokenize_spark.functions.tokenizer import DEFAULT_ROOT_KEY

        self.key = DEFAULT_ROOT_KEY  # the key the goldens are made with

    def files(self, kind: str) -> list[str]:
        return sorted(glob.glob(os.path.join(self.inputs, kind, "*.parquet")))

    def check(self, result: tuple[int, int, list[str]]) -> None:
        att, failed, notes = result
        self.attempted += att
        self.failed += failed
        self.notes += notes

    def golden(self, keys: pd.DataFrame) -> pd.DataFrame:
        """The golden tokenized rows of the turns in ``keys``."""
        g = norm(pd.read_parquet(os.path.join(self.inputs, "golden_tokenized.parquet")))
        return g.merge(norm(keys[verify.KEY]), on=verify.KEY)


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """String columns as object and turn_idx as int64, so frames read by
    pyarrow, Spark and pandas merge on equal keys."""
    out = df.copy()
    for c in out.columns:
        if c == "turn_idx":
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_string_dtype(out[c]):
            out[c] = out[c].astype(object)
    return out


def land(files: list[str], dst: str) -> None:
    """Land files atomically: copy under a hidden name (the file source
    skips names starting with '.'), then rename."""
    os.makedirs(dst, exist_ok=True)
    for f in files:
        name = os.path.basename(f)
        tmp = os.path.join(dst, f".{name}.tmp")
        shutil.copyfile(f, tmp)
        os.rename(tmp, os.path.join(dst, name))


def start_query(sdf, sink, checkpoint: str, name: str):
    return (
        sdf.writeStream.outputMode("append")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink.foreach_batch)
        .start()
    )


def finish_query(q) -> None:
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


# -- set-up -------------------------------------------------------------------


def setup(ctx: Ctx, count: int) -> list[float]:
    """Session start plus Python-worker warm-up on a tiny input: one
    tiny file per core through the tokenize operator to a noop sink, so
    every core starts a Python worker and loads the tokenizer. Each
    set-up launches a fresh JVM, as every real caller of get_spark does."""
    from auto_data_tokenize_spark.operators.tokenize import tokenize_turns
    from auto_data_tokenize_spark.streaming.source import TRANSCRIPT_SCHEMA

    d = os.path.join(ctx.work, "setup")
    land(ctx.files("live")[: ctx.cores], d)
    out = []
    for i in range(count):
        harness.shutdown_jvm()  # teardown of the previous session, not timed
        with ctx.tracer.span("session.setup", i=i):
            t0 = now()
            spark = ctx.spark = harness.start_spark(ctx.cores, ctx.work)
            # one file per partition: small files are not packed together
            # because each costs more than the 4 MB open-cost estimate
            tiny = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(d)
            tokenize_turns(tiny, root_key=ctx.key).write.mode("overwrite").format("noop").save()
            out.append(now() - t0)
    return out


# -- tokenize_stream ----------------------------------------------------------


def tokenize_pass(ctx: Ctx, tag: str, live: bool) -> dict:
    from auto_data_tokenize_spark.streaming import pipeline, source
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    spark = ctx.spark
    d = os.path.join(ctx.work, tag)
    in_dir = os.path.join(d, "in")
    backlog = ctx.files("backlog")
    land(backlog, in_dir)
    sink = ExactlyOnceSink(os.path.join(d, "out"))
    ckpt = os.path.join(d, "ckpt")
    landed: list[tuple[str, float, float]] = []
    with ctx.tracer.span("streaming.query", query="tokenize", phase=tag) as qspan:
        timed = harness.TimedSink(sink, ctx.tracer, qspan)
        t0 = now()
        # no maxFilesPerTrigger: the backlog drains as one UDF-bound
        # micro-batch, and live micro-batches take whatever has landed
        st = source.transcripts_stream(spark, in_dir)
        q = start_query(pipeline.tokenize_stream(st, root_key=ctx.key), timed, ckpt, "tokenize")
        with ctx.tracer.span("streaming.catchup"):
            q.processAllAvailable()
        catchup_s = max(t1 for _, _, t1 in timed.calls) - t0
        if live:
            with ctx.tracer.span("streaming.live"):
                # open loop: file i is due at start + i/rate whatever the query does
                start = now() + 0.1
                for i, f in enumerate(ctx.files("live")):
                    due = start + i / inputs.LIVE_FILES_PER_S
                    delay = due - now()
                    if delay > 0:
                        time.sleep(delay)
                    land([f], in_dir)
                    landed.append((os.path.join(in_dir, os.path.basename(f)), due, now()))
                q.processAllAvailable()
        finish_query(q)
    return {
        "sink": sink, "calls": timed.calls, "landed": landed,
        "batch_of": harness.source_batches(ckpt),
        "turns_per_s": len(backlog) * inputs.FILE_TURNS / catchup_s,
        "files": backlog + (ctx.files("live") if live else []),
    }


def live_latency(p: dict) -> dict:
    """Latency of each live file (due -> commit), and the generator's
    lag and the landed-but-uncommitted backlog at each landing."""
    ret = {b: t1 for b, _, t1 in p["calls"]}
    done = [ret.get(p["batch_of"].get(path)) for path, _, _ in p["landed"]]
    lat = [c - due for c, (_, due, _) in zip(done, p["landed"]) if c is not None]
    backlog = [
        i + 1 - sum(1 for c in done if c is not None and c <= t)
        for i, (_, _, t) in enumerate(p["landed"])
    ]
    return {
        "lat": lat,
        "missing": len(done) - len(lat),
        "generator_lag_max_s": max(t - due for _, due, t in p["landed"]),
        "backlog_files_max": float(max(backlog)),
    }


def verify_tokenize(ctx: Ctx, p: dict) -> None:
    got = norm(p["sink"].read_committed(ctx.spark).select("conv_id", "turn_idx", "text_tok").toPandas())
    landed = pd.concat(pd.read_parquet(f, columns=verify.KEY) for f in p["files"])
    ctx.check(verify.tokenized_rows(got, ctx.golden(landed)))


def tokenize_stream(ctx: Ctx, tag: str) -> dict:
    # CATCHUP_DRAINS drains of the backlog, each a fresh query; the last
    # one stays running into the live phase
    passes = [
        tokenize_pass(ctx, f"{tag}-{i}", live=i == CATCHUP_DRAINS - 1)
        for i in range(CATCHUP_DRAINS)
    ]
    p = passes[-1]
    lv = live_latency(p)
    res = {
        "turns_per_s": statistics.median(x["turns_per_s"] for x in passes),
        "latency_p50_s": harness.percentile(lv["lat"], 50),
        # the highest percentile with ten of the 100 samples beyond it
        "latency_p90_s": harness.percentile(lv["lat"], 90),
        "samples": len(lv["lat"]),
        "layers": {
            "bench.generator_lag_max_s": lv["generator_lag_max_s"],
            "bench.backlog_files_max": lv["backlog_files_max"],
        },
    }
    ctx.attempted += len(p["landed"])
    ctx.failed += lv["missing"]
    if lv["missing"]:
        ctx.notes.append(f"{lv['missing']} live files never committed")

    def check() -> None:
        for x in passes:
            verify_tokenize(ctx, x)

    res["verify"] = check
    res["sinks"] = [(x["sink"], x["calls"]) for x in passes]
    return res


def warm_tokenize(ctx: Ctx) -> None:
    for i in range(WARMUP_DRAINS):
        tokenize_pass(ctx, f"warmup-{i}", live=False)


def scaling_efficiency(ctx: Ctx, rate_n: float) -> float:
    """Catch-up drain at local[1] against local[nproc]: rate_N / (N x rate_1).
    The session restarts at local[1] inside the warm JVM and drains the
    backlog once unmeasured, so only the core count differs from the
    local[nproc] drains."""
    ctx.spark.stop()
    ctx.spark = harness.start_spark(1, ctx.work)
    tokenize_pass(ctx, "scaling-warmup", live=False)
    p = tokenize_pass(ctx, "scaling-1", live=False)
    verify_tokenize(ctx, p)
    return rate_n / (ctx.cores * p["turns_per_s"])


# -- cep_stream -----------------------------------------------------------------


def _cep_frame(ctx: Ctx, name: str, in_dir: str, dict_dir: str):
    from auto_data_tokenize_spark.streaming import join, pipeline, source

    st = source.transcripts_stream(ctx.spark, in_dir, CEP_MAX_FILES)
    if name == "freq":
        return pipeline.infotype_freq_stream(st, root_key=ctx.key)
    if name == "sessions":
        return pipeline.session_report_stream(st, root_key=ctx.key)
    side = source.token_dictionary_stream(ctx.spark, dict_dir, CEP_MAX_FILES)
    return join.token_dictionary_join(pipeline.detections_stream(st, root_key=ctx.key), side)


def cep_pass(ctx: Ctx, tag: str) -> dict:
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    d = os.path.join(ctx.work, tag)
    in_dir, dict_dir = os.path.join(d, "in"), os.path.join(d, "dict")
    backlog = ctx.files("backlog")
    land(backlog, in_dir)
    land(ctx.files("dict"), dict_dir)
    queries = {}
    for name in CEP_QUERIES:
        timed = harness.TimedSink(ExactlyOnceSink(os.path.join(d, name, "out")), ctx.tracer)
        ckpt = os.path.join(d, name, "ckpt")
        r = queries[name] = {"timed": timed, "err": None}
        with ctx.tracer.span("streaming.query", query=name, phase=tag) as timed.parent:
            r["t0"] = now()
            q = start_query(_cep_frame(ctx, name, in_dir, dict_dir), timed, ckpt, name)
            try:
                with ctx.tracer.span("streaming.drain"):
                    q.processAllAvailable()
                finish_query(q)
            except Exception as e:  # a query that raises counts as a failed result
                q.stop()
                r["err"] = f"{name}: query raised {type(e).__name__}: {str(e)[:200]}"
        ret = timed.returned_at()
        batch_of = harness.source_batches(ckpt)
        files = (os.path.join(in_dir, os.path.basename(f)) for f in backlog)
        r["lat"] = [ret[batch_of[f]] - r["t0"] for f in files if batch_of.get(f) in ret]
        r["drain_s"] = max(ret.values(), default=now()) - r["t0"]
        r["progress"] = [dict(p) for p in q.recentProgress]
        r["sink"], r["calls"] = timed.sink, timed.calls
    return {"dict": dict_dir, "queries": queries}


def verify_cep(ctx: Ctx, p: dict) -> None:
    from pyspark.sql import functions as F

    from auto_data_tokenize_spark.operators.windows import infotype_frequencies, session_reports
    from auto_data_tokenize_spark.streaming import source
    from auto_data_tokenize_spark.streaming.join import token_dictionary_join

    spark = ctx.spark
    det = spark.read.parquet(os.path.join(ctx.inputs, "golden_detections.parquet")).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dic = spark.read.schema(source.TOKEN_DICT_SCHEMA).parquet(p["dict"])
    twins = {
        "freq": infotype_frequencies(det, "5 minutes"),
        "sessions": session_reports(det, "30 minutes"),
        "join": token_dictionary_join(det, dic, interval="10 minutes"),
    }
    for name, q in p["queries"].items():
        if q["err"]:
            ctx.check((1, 1, [q["err"]]))
            continue
        got = norm(q["sink"].read_committed(spark).toPandas())
        twin = norm(twins[name].toPandas())
        if name == "freq":
            ctx.check(verify.bounded_by_twin(got, twin, ["window_start", "window_end", "info_type"], "n", name))
        elif name == "sessions":
            ctx.check(verify.sessions_within_twin(got, twin))
        else:
            cols = sorted(set(got.columns) & set(twin.columns))
            ctx.check(verify.bounded_by_twin(got[cols], twin[cols], cols, None, name))


def warm_cep(ctx: Ctx) -> None:
    """The three queries over the first CEP_MAX_FILES backlog files (one
    data micro-batch and the watermark's no-data batch each), run
    concurrently: only one-time JVM and state-store costs matter here."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    d = os.path.join(ctx.work, "cep-warmup")
    in_dir, dict_dir = os.path.join(d, "in"), os.path.join(d, "dict")
    land(ctx.files("backlog")[:CEP_MAX_FILES], in_dir)
    land(ctx.files("dict")[:CEP_MAX_FILES], dict_dir)
    queries = [
        start_query(
            _cep_frame(ctx, name, in_dir, dict_dir),
            ExactlyOnceSink(os.path.join(d, name, "out")),
            os.path.join(d, name, "ckpt"),
            name,
        )
        for name in CEP_QUERIES
    ]
    for q in queries:
        q.processAllAvailable()
    for q in queries:
        finish_query(q)


def cep_probe(ctx: Ctx) -> dict[str, float]:
    """The stateful path, for the traced run: warm-up, then the three
    queries drained one after another; state metrics per query, and the
    outputs checked against their batch twins."""
    warm_cep(ctx)
    p = cep_pass(ctx, "cep")
    verify_cep(ctx, p)
    qs = p["queries"]
    out = {"cep.turns_per_s": len(qs) * inputs.BACKLOG_TURNS / sum(q["drain_s"] for q in qs.values())}
    for name, q in qs.items():
        out.update(harness.state_metrics(name, q["progress"]))
    return out


# -- batch_pipelines ----------------------------------------------------------


def plans_pass(ctx: Ctx, table, table_dir: str, out_dir: str) -> dict:
    """``plans.pipelines.inspect`` (sample SAMPLE_SIZE values per column
    -> column report -> InspectionReport, collected to the driver) then
    ``tokenize_and_order`` (free-form tokenize + range-partitioned sort,
    written to parquet)."""
    from auto_data_tokenize_spark.plans import pipelines

    with ctx.tracer.span("plans.inspect"):
        t0 = now()
        cfg = pipelines.InspectConfig(
            columns=INSPECT_COLUMNS, sample_size=SAMPLE_SIZE, input_pattern=table_dir
        )
        report = pipelines.inspect(table, cfg)[1].collect()[0].asDict(recursive=True)
        t1 = now()
    with ctx.tracer.span("plans.tokenize_and_order"):
        enc = pipelines.EncryptConfig(free_form_columns=["text"], root_key=ctx.key)
        pipelines.tokenize_and_order(table, enc).write.mode("overwrite").parquet(out_dir)
        t2 = now()
    return {"inspect_s": t1 - t0, "ordered_s": t2 - t1, "report": report, "out": out_dir}


def verify_batch(ctx: Ctx, passes: list[dict]) -> None:
    """Report counts equal an independent recount of the same sample;
    the written table, read in file order, is sorted and equals the
    golden tokenized text."""
    from auto_data_tokenize_spark.functions import detectors

    table = pd.concat(pd.read_parquet(f) for f in ctx.files("backlog"))
    want = verify.independent_inspect_counts(table, INSPECT_COLUMNS, SAMPLE_SIZE, detectors.find_spans)
    golden = ctx.golden(table)
    for p in passes:
        ctx.check(verify.inspect_report(p["report"]["column_report"], want))
        parts = sorted(glob.glob(os.path.join(p["out"], "part-*.parquet")))
        got = norm(pd.concat(pq.read_table(f).to_pandas() for f in parts))
        ctx.check(verify.sorted_rows(got[verify.KEY + ["text"]], golden, "text"))


def batch_passes(ctx: Ctx, tag: str, min_passes: int, seconds: float) -> list[dict]:
    from auto_data_tokenize_spark.streaming.source import TRANSCRIPT_SCHEMA

    table_dir = os.path.join(ctx.work, tag, "table")
    land(ctx.files("backlog"), table_dir)
    table = ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(table_dir)
    passes: list[dict] = []
    t_end = now() + seconds
    while len(passes) < min_passes or now() < t_end:
        out_dir = os.path.join(ctx.work, tag, f"ordered-{len(passes)}")
        with ctx.tracer.span("plans.pass", phase=tag):
            passes.append(plans_pass(ctx, table, table_dir, out_dir))
    return passes


def batch_pipelines(ctx: Ctx, tag: str) -> dict:
    passes = batch_passes(ctx, tag, MIN_BATCH_PASSES, ctx.seconds)
    inspect = statistics.median(p["inspect_s"] for p in passes)
    ordered = statistics.median(p["ordered_s"] for p in passes)
    walls = [p["inspect_s"] + p["ordered_s"] for p in passes]
    return {
        # each turn has two results: the report (p50) and the ordered table (p90)
        "turns_per_s": statistics.median(2 * inputs.BACKLOG_TURNS / w for w in walls),
        "latency_p50_s": inspect,
        "latency_p90_s": statistics.median(walls),
        "samples": len(passes),
        "layers": {"plans.inspect_s": inspect, "plans.tokenize_and_order_s": ordered},
        "verify": lambda: verify_batch(ctx, passes),
        "sinks": [],
    }


def warm_batch(ctx: Ctx) -> None:
    batch_passes(ctx, "warmup", WARMUP_PASSES, 0)


# name -> (warm-up, measured pass, per-layer prefixes of layers it never runs)
WORKLOADS = {
    "tokenize_stream": (warm_tokenize, tokenize_stream, ("plans.", "cep.", "state.")),
    "batch_pipelines": (
        warm_batch, batch_pipelines, ("streaming.", "bench.", "session.scaling_efficiency"),
    ),
}
