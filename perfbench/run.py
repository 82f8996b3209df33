"""Reference benchmark for auto_data_tokenize_spark (see README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates (or reuses) the seed's inputs,
starts Spark at local[nproc] through ``session.get_spark``, runs set-up
and an untimed warm-up pass, measures the workload, checks every
output, and prints one metric per line followed by one JSON object as
the last line of standard output:

  --trace 0  every end-to-end metric of BENCHMARK.json
  --trace 1  an untraced pass, then a traced pass (listener, spans,
             status store) and the layer probes; every per-layer metric
             of BENCHMARK.json, plus the tracing overhead. Spans go to
             perfbench/out/trace-<workload>-s<seed>.json.

``setup_s`` is the median of two cold set-ups (JVM launch, session
start and Python-worker warm-up on a tiny input); a traced run does one.
``session.peak_rss_mb`` sums VmHWM of this process, the JVM and its
Python workers, read right after the measured pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
SPEC = os.path.join(REPO_ROOT, "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def result(ctx, values: dict[str, float], spec_metrics: list[dict]) -> dict:
    names = {m["name"] for m in spec_metrics}
    if set(values) != names:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ names)}")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec_metrics
        },
    }


def sink_metrics(sinks: list) -> dict[str, float]:
    calls = [t1 - t0 for _, c in sinks for _, t0, t1 in c]
    lineage = [rec for s, _ in sinks for rec in s.lineage()]
    return {
        "streaming.sink.foreach_batch_s": sum(calls),
        "streaming.sink.foreach_batch_p50_s": statistics.median(calls) if calls else 0.0,
        "streaming.sink.rows": float(sum(r["row_count"] for r in lineage)),
        "streaming.sink.files": float(sum(r["num_files"] for r in lineage)),
    }


def e2e(res: dict, setups: list[float]) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setups),
        "turns_per_s": res["turns_per_s"],
        "latency_p50_s": res["latency_p50_s"],
        "latency_p90_s": res["latency_p90_s"],
    }


def traced(ctx, measure, workload: str, base: dict, setups: list[float], rss: float) -> dict[str, float]:
    import harness
    import probes
    import workloads
    from auto_data_tokenize_spark.streaming.listener import JsonlMetricsListener

    spark = ctx.spark
    listener = JsonlMetricsListener(os.path.join(ctx.work, "listener"))
    spark.streams.addListener(listener)
    first_stage = harness.last_stage_id(spark)
    ctx.tracer.enabled = True
    try:
        with ctx.tracer.span("run", workload=workload, seed=ctx.seed):
            res = measure(ctx, "traced")
        recs = harness.wait_listener(listener.path, len(res["sinks"])) if res["sinks"] else []
    finally:
        spark.streams.removeListener(listener)
    layers = dict(res["layers"])
    layers.update(harness.stage_metrics(spark, first_stage))
    if res["sinks"]:
        layers.update(harness.listener_metrics(recs))
        layers.update(sink_metrics(res["sinks"]))
    res["verify"]()
    layers.update(probes.functions(ctx))
    layers.update(probes.operators(ctx))
    # the stateful path rides on the shorter traced run, so each traced
    # run stays well inside the per-run time limit
    if workload == "batch_pipelines":
        layers.update(workloads.cep_probe(ctx))
    if workload == "tokenize_stream":
        layers["session.scaling_efficiency"] = workloads.scaling_efficiency(ctx, base["turns_per_s"])
    layers["session.peak_rss_mb"] = rss
    layers["trace.overhead_share"] = base["turns_per_s"] / res["turns_per_s"] - 1
    untraced = e2e(base, setups)
    with_trace = e2e(res, setups)
    for k in ("turns_per_s", "latency_p50_s", "latency_p90_s"):
        print(f"  tracing overhead {k}: {with_trace[k] - untraced[k]:+.4f} (traced - untraced)")
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    ctx.tracer.write(
        os.path.join(BENCH_DIR, "out", f"trace-{workload}-s{ctx.seed}.json"),
        {"listener": recs, "layers": layers, "untraced": untraced, "traced": with_trace},
    )
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository's reference benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO_ROOT, "auto_data_tokenize_spark")):
        print(f"no auto_data_tokenize_spark package under {REPO_ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    import harness
    import inputs
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    warm, measure, skips = workloads.WORKLOADS[a.workload]
    phases: dict[str, float] = {}
    t = harness.now()

    def phase(name: str) -> None:
        nonlocal t
        phases[name] = harness.now() - t
        t = harness.now()

    inputs_dir = inputs.ensure(a.seed, a.seconds)
    phase("inputs")
    work = os.path.join(BENCH_DIR, ".work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tracer = harness.Tracer(False, uuid.uuid4().hex)
    ctx = workloads.Ctx(a.seed, a.seconds, inputs_dir, work, tracer)
    try:
        # a traced run reports no setup_s, so one cold set-up does
        setups = workloads.setup(ctx, 1 if a.trace else workloads.SETUPS)
        phase("setup")
        warm(ctx)
        phase("warmup")
        base = measure(ctx, "measured")
        rss = harness.peak_rss_mb()
        phase("measure")
        base["verify"]()
        phase("verify")
        if a.trace:
            # 0 only for the layers this workload never runs; result()
            # rejects any other per-layer metric the run did not produce
            skipped = {m["name"] for m in spec["per_layer"] if m["name"].startswith(skips)}
            values = traced(ctx, measure, a.workload, base, setups, rss)
            if skipped & values.keys():
                raise RuntimeError(f"layers declared skipped were measured: {sorted(skipped & values.keys())}")
            values.update(dict.fromkeys(skipped, 0.0))
            out = result(ctx, values, spec["per_layer"])
            phase("traced")
        else:
            out = result(ctx, e2e(base, setups), spec["end_to_end"])
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    phase("shutdown")
    print(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} cores={ctx.cores}")
    print("  wall: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()))
    print(f"  latency samples: {base['samples']}")
    print(f"  failed_share: {ctx.failed / max(1, ctx.attempted):.6f} ({ctx.failed}/{ctx.attempted})")
    for n in ctx.notes:
        print(f"  FAILED CHECK: {n}")
    for k, m in out["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
