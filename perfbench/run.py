"""Extraction benchmark: the production runner end to end, and its layers.

    python3 perfbench/run.py --workload pdf_unique --seed 1 --seconds 2 --trace 0

Run from the repository root.  Each run generates (or reuses) the seeded
workload, starts Spark at ``local[<cores>]`` from this single driver process,
runs one untimed ``pipeline.resume.run_resumable`` pass over the whole input
and then times passes for ``--seconds`` (at least one).  Every committed
turn of every pass is then checked against its golden; a mismatch fails the
run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
variant and prints the per-layer metrics (see README.md).  The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# metric names and units: BENCHMARK.json at the repository root
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Spark set-ups per run
SESSIONS = 2


def _prepare_environment(run_id: str) -> dict:
    """Work directories inside the checkout; temp files of this process,
    the JVM and the Python workers all land there."""
    work = {
        "cache": os.path.join(WORK, "inputs"),
        "traces": os.path.join(WORK, "traces"),
        "run": os.path.join(WORK, "runs", run_id),
    }
    work["spark_local"] = os.path.join(work["run"], "spark-local")
    work["warehouse"] = os.path.join(work["run"], "warehouse")
    work["events"] = os.path.join(work["run"], "events")
    work["tmp"] = os.path.join(work["run"], "tmp")
    for key in ("cache", "traces", "spark_local", "events", "tmp"):
        os.makedirs(work[key], exist_ok=True)
    os.environ["TMPDIR"] = work["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % work["tmp"]
    return work


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


_T0 = time.monotonic()


def log(msg: str) -> None:
    print("perfbench %7.1fs %s" % (time.monotonic() - _T0, msg), file=sys.stderr, flush=True)


def _rate(passes: list[dict]) -> float:
    """Median over the passes of committed turns per second."""
    return statistics.median(p["turns"] / p["wall_s"] for p in passes)


def _runner_layers(m: dict, passes: list[dict], untraced: list[dict],
                   wave_ms: list[int], probe: dict) -> dict:
    """The extract/resume/trace metrics derived from the measured legs."""
    traced_rate = _rate(passes)
    untraced_rate = _rate(untraced)
    salted = m["extract.salted_turns_per_s"]
    runner_wall = statistics.median(p["wall_s"] for p in passes)
    return {
        "extract.vs_pool": salted / m["pool.turns_per_s"],
        "resume.wave_ms_p50": statistics.median(wave_ms),
        "resume.wave_ms_max": max(wave_ms),
        "resume.shell_share": 1 - (passes[0]["turns"] / salted) / runner_wall,
        "resume.waves": statistics.median(p["waves"] for p in passes),
        "resume.vs_pool": untraced_rate / m["pool.turns_per_s"],
        "resume.reprocessed_buckets": probe["reprocessed"],
        "trace.overhead": traced_rate / untraced_rate,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdfparse_spark")):
        print("perfbench: no pdfparse_spark package under %s" % ROOT, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq

    import eventlog
    import inputs
    import layers
    import procfs
    from sparkrun import PHASE, Session
    from spans import Tracer

    if args.workload not in inputs.WORKLOADS:
        print("perfbench: unknown workload %r (choose from %s)"
              % (args.workload, sorted(inputs.WORKLOADS)), file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    run_id = "%s_seed%d_trace%d_%s" % (args.workload, args.seed, args.trace, uuid.uuid4().hex[:8])
    work = _prepare_environment(run_id)
    tracer = Tracer(trace, args.workload, run_id)
    failed_checks: list[str] = []
    m: dict = {}
    try:
        with tracer.span("input"):
            inp = inputs.ensure_inputs(args.workload, args.seed, work["cache"])
        props = inp["props"]
        log("input ready: %d turns" % props["input.turns"])
        if trace:
            texts = pq.read_table(inp["input"], columns=["text"]).column("text").to_pylist()
            km, kf = layers.kernel_layers(texts, tracer)
            failed_checks += kf
            m.update(km)
            m.update(layers.pool_legs(texts, cores, tracer))
            del texts
            log("kernel and pool layers measured")

        # SESSIONS Spark set-ups per run, setup_s is their median.  The last
        # session runs the timed passes (in the traced run with the event log
        # on); in the traced run the first one runs the untraced passes and
        # the resume probe.
        setups: list[float] = []
        untraced: list[dict] = []
        gated: list[dict] = []
        probe = None
        for i in range(SESSIONS):
            last = i == SESSIONS - 1
            events = work["events"] if trace and last else None
            with tracer.span("session.%d" % i):
                s = Session(cores, work, inp["input"], events)
                setups.append(s.setup_s)
                log("set-up %.2f s" % s.setup_s)
                try:
                    if trace and not last:
                        warm, untraced = s.timed_passes(
                            work["run"], args.seconds, tracer, "untraced")
                        gated += [warm] + untraced
                        with tracer.span("resume.probe"):
                            probe = s.resume_probe(work["run"] + "/probe",
                                                   props["probe_convs"])
                        failed_checks += probe["failed"]
                        gated.append(probe)
                        log("untraced passes and resume probe done")
                    if not last:
                        continue
                    warm, passes = s.timed_passes(work["run"], args.seconds, tracer, "pass",
                                                  "runner" if trace else None)
                    gated += [warm] + passes
                    log("warm-up %.0f turns/s, timed passes %s turns/s" % (
                        warm["turns"] / warm["wall_s"],
                        ["%.0f" % (p["turns"] / p["wall_s"]) for p in passes]))
                    rss = procfs.peak_rss_mb(procfs.worker_pids())
                    if trace:
                        with tracer.span("extract.noshuffle"):
                            m["extract.noshuffle_turns_per_s"] = s.extract_rate(None)
                        with tracer.span("extract.salted"):
                            m["extract.salted_turns_per_s"] = s.extract_rate(s.partitions)
                        wave_ms = []
                        for p, ms in zip(passes, s.wave_ms(passes)):
                            wave_ms += ms
                            if sum(ms) > 1000 * p["wall_s"]:
                                failed_checks.append(
                                    "runner wall %.0f ms is below the ledger's wave_ms sum %d"
                                    % (1000 * p["wall_s"], sum(ms)))
                    with tracer.span("golden_gate"):
                        attempted, mismatch = s.golden_gate(inp["golden"], gated)
                    log("golden gate done")
                finally:
                    s.stop()

        if trace:
            m.update(eventlog.spark_metrics(work["events"], PHASE, "runner", cores, len(passes)))
            m.update(_runner_layers(m, passes, untraced, wave_ms, probe))
            values = m
            tracer.dump(os.path.join(work["traces"], run_id + ".json"))
        else:
            values = {
                "turns_per_s": _rate(passes),
                "cpu_s_per_kturn": statistics.median(1000 * p["cpu_s"] / p["turns"]
                                                     for p in passes),
                "setup_s": statistics.median(setups),
                "peak_worker_rss_mb": rss,
            }
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    finally:
        shutil.rmtree(work["run"], ignore_errors=True)

    correct = mismatch == 0 and not failed_checks
    for msg in failed_checks:
        print("perfbench: check failed: %s" % msg, file=sys.stderr)
    summary = {"workload": args.workload, "seed": args.seed, "passes": len(passes),
               "mismatch_turns": {"value": mismatch, "unit": "turns"},
               **{k: v for k, v in props.items() if k.startswith("input.")}}
    if "kernel.decomposition_ratio" in m:
        summary["kernel.decomposition_ratio"] = m["kernel.decomposition_ratio"]
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": mismatch,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
