"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload thin_commit --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. Inputs are generated from --seed under
perfbench/.work/inputs (reused for the same seed) before anything is
timed. With --trace 0 the last stdout line holds the end-to-end metrics
of BENCHMARK.json; with --trace 1 it holds the per-layer metrics, from a
separate traced pass with the Spark event log on. Earlier stdout lines
carry the host context, the input properties and, when traced, the
layer self-time table. Exits 1 if an output fails verification and 2 if
the package is not found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import gen
import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_LAYERS = ("sources", "operators.extract", "operators.lineage",
                "operators.dedup")


def _environment(work: str) -> None:
    """Everything the run writes stays under ``work``; the package's
    session factory reads its settings from these variables."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM of the run (the spark-submit launcher, the Spark JVM) writes
    # outside the work directory: perf-data files otherwise go to /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(harness.CORES),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_JAVA_OPTS": jvm_opts,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    os.chdir(work)  # spark-warehouse and similar land here


def _log(**fields) -> None:
    """A progress line on stderr; stdout carries only results."""
    print(json.dumps({k.rstrip("_"): round(v, 4) if isinstance(v, float)
                      else v for k, v in fields.items()}), file=sys.stderr,
          flush=True)


def _setups(run, wl) -> tuple[list, list]:
    """SETUPS set-ups, each launching its own JVM; the last session is
    kept for the passes."""
    starts, warms = [], []
    for i in range(harness.SETUPS):
        if i:
            run.stop_session()
        s, w = run.start_session(wl.warmup)
        starts.append(s)
        warms.append(w)
        _log(setup=i, start_s=s, warmup_s=w)
    return starts, warms


def _measure(wl, seconds: int) -> list[dict]:
    """The run's passes: as many as fit ``seconds`` at the workload's
    nominal pass time."""
    n = max(1, round(seconds / wl.pass_s))
    results = []
    for i in range(n):
        results.append(wl.iteration())
        _log(pass_=i, wall_s=results[-1]["wall"])
    return results


def _outcome(results: list[dict]) -> dict:
    problems = sorted({p for r in results for p in r["problems"]})
    failed = sum(r["failed"] for r in results)
    if problems:
        print(json.dumps({"problems": problems}), file=sys.stderr)
    return {"correct": failed == 0 and not problems,
            "attempted": sum(r["attempted"] for r in results),
            "failed": failed}


def timed(run, wl, seconds: int) -> tuple[dict, dict]:
    """End-to-end metrics: medians over the set-ups and over the passes,
    and the memory peak while the passes ran."""
    starts, warms = _setups(run, wl)
    rss = harness.RssSampler()
    rss.start()
    try:
        results = _measure(wl, seconds)
    finally:
        peak = rss.stop()

    def med(f):
        return statistics.median(f(r) for r in results)

    metrics = {
        "setup_s": statistics.median(s + w for s, w in zip(starts, warms)),
        "docs_per_s": med(lambda r: r["docs"] / r["wall"]),
        "mb_per_s": med(lambda r: r["mb"] / r["wall"]),
        "freshness_p50_ms": med(lambda r: r["fresh_p50"]),
        "freshness_p90_ms": med(lambda r: r["fresh_p90"]),
        "peak_rss_mb": peak,
    }
    return metrics, _outcome(results)


def traced(run, wl, work: str) -> tuple[dict, dict]:
    """One set-up and an untraced pass, then a set-up with the event log
    on and spans around each layer call, its traced pass and the
    workload's isolated layer calls. Either pass is the first after a
    set-up of its own, so tracing overhead compares like with like.
    Layers the workload does not run read 0."""
    start_s, warmup_s = run.start_session(wl.warmup)
    m = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    untraced = wl.iteration()
    run.stop_session()
    log_dir = os.path.join(run.dir, "eventlog")
    run.tracer.enabled = True
    run.start_session(wl.warmup, event_log=log_dir)
    last = wl.traced(m)
    e2e, selfs = run.tracer.self_times("e2e")
    run.stop_session()  # flushes the event log
    tasks = harness.tasks_by_group(log_dir, wl.group_alias)
    wl.after_event_log(m, tasks)
    for layer, vals in harness.spark_layer_metrics(tasks).items():
        for field, v in vals.items():
            m[f"spark.{layer}.{field}"] = v
    layer_self = {k: selfs.get(k, 0.0) for k in TRACE_LAYERS}
    for k, v in layer_self.items():
        m[f"trace.{k}.self_s"] = v
    m["trace.e2e_s"] = e2e
    m["trace.unattributed_s"] = e2e - sum(layer_self.values())
    m["trace.overhead_s"] = last["wall"] - untraced["wall"]
    traces = os.path.join(work, "traces")
    os.makedirs(traces, exist_ok=True)
    run.tracer.dump(os.path.join(traces, f"{run.tracer.run_id}.jsonl"))
    print(json.dumps({"trace_table": {
        "workload": run.workload, "e2e_s": round(e2e, 4),
        "self_s": {k: round(v, 4) for k, v in layer_self.items()},
        "unattributed_s": round(m["trace.unattributed_s"], 4),
        "overhead_s": round(m["trace.overhead_s"], 4),
        "layers_run": list(wl.layers)}}), flush=True)
    return m, _outcome([untraced, last])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "my_ocr_spark", "__init__.py")):
        print(f"perfbench: no my_ocr_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    work = os.path.join(HERE, ".work")
    sys.path.insert(0, ROOT)
    _environment(work)
    import workloads

    print(json.dumps({"host": harness.host_context()}), flush=True)
    inputs, props = gen.ensure_inputs(args.workload, args.seed,
                                      os.path.join(work, "inputs"))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "inputs": props}), flush=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run = workloads.Run(args.workload, args.seed, work, run_id,
                        harness.Tracer(False, run_id))
    try:
        wl = workloads.WORKLOADS[args.workload](run, inputs)
        if args.trace:
            metrics, outcome = traced(run, wl, work)
        else:
            metrics, outcome = timed(run, wl, args.seconds)
    finally:
        run.stop_session()
        shutil.rmtree(run.dir, ignore_errors=True)
    missing = units.keys() - metrics.keys()
    if not args.trace and missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    outcome["metrics"] = {k: {"value": float(metrics.get(k, 0.0)),
                              "unit": u} for k, u in units.items()}
    print(json.dumps(outcome), flush=True)
    return 0 if outcome["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
