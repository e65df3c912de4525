"""Benchmark runner: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 24 --trace 0

Prints one line of run facts (cores, master, Spark version, seed, rounds)
and, as the last line of stdout, the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md). ``--repeat N`` is the steadiness
mode: it runs the workload N times with seeds seed..seed+N-1, each in its own
process, and reports each metric's median, quartiles and spread.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()   # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "curate")
SETUP_REPS = 3      # input set-up repeats per run; setup_s takes the median
MIN_ROUNDS = 3      # a round median needs at least three rounds
ROUND_SECONDS = 6   # measuring seconds per round (4 rounds at 24 s)
TRACE_MIN_ROUNDS = 4   # ABBA: two untraced, two traced


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=24.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    p.add_argument("--repeat", type=int, default=0,
                   help="steadiness mode: run N times, report spreads")
    return p.parse_args(argv)


def round_count(seconds: float, min_rounds: int) -> int:
    """Rounds a run times: one per ROUND_SECONDS of ``seconds``. Fixed for
    a given ``seconds``, so a faster build times the same rounds, sooner."""
    return max(min_rounds, round(seconds / ROUND_SECONDS))


def run_rounds(wl, ctx, n: int, tracers: tuple = ()) -> list:
    """Closed loop: start the next round only after the previous one ends.
    With two ``tracers``, rounds take them in the order ABBA ABBA..., which
    cancels a linear warm-up drift out of their comparison."""
    from perfbench.workloads import Round

    rounds = []
    while len(rounds) < n:
        if tracers:
            i = len(rounds)
            ctx.tracer = tracers[(i + i // 2) % 2]
        try:
            rounds.append(wl.round(ctx, len(rounds)))
        except Exception:       # the run goes on; the round counts failed
            traceback.print_exc()
            rounds.append(Round(time.time(), 0.0, 0, 1, failed=1))
    return rounds


def end_to_end(rounds, setup_s: float, peak_mb: float) -> dict:
    from perfbench.harness import median

    ok = [r for r in rounds if r.seconds > 0]
    secs = [r.seconds for r in ok]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "round_p50_s": (median(secs), "s"),
        "throughput_per_s": (sum(r.items for r in ok) / sum(secs)
                             if secs else 0.0, "1/s"),
        "batch_p50_s": (median(b for r in ok for b in r.batches), "s"),
    }


def save_trace(out_dir: str, work: str, tracer, wl, extra: dict) -> None:
    """Write the traced run's spans, progress and event log next to the
    per-layer metrics, replacing the previous trace of this workload."""
    from perfbench.harness import median

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    calls = {}
    for s in tracer.spans:
        calls.setdefault(s["name"], []).append(s["dur_s"])
    extra["span_medians_s"] = {k: median(v) for k, v in sorted(calls.items())}
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    with open(os.path.join(out_dir, "progress.json"), "w") as fh:
        json.dump(getattr(wl, "progress", []) + [
            p for lst in getattr(wl, "listeners", []) for p in lst.progress],
            fh)
    with open(os.path.join(out_dir, "summary.json"), "w") as fh:
        json.dump(extra, fh, indent=2, sort_keys=True)
    shutil.move(os.path.join(work, "eventlog"),
                os.path.join(out_dir, "eventlog"))


def traced_rounds(args, wl, ctx, work):
    """The traced run: untraced and traced rounds in ABBA order, then the
    layer probes and the gate.
    The event log, on for the whole run, is read once Spark has stopped."""
    from perfbench import gen, harness, layers
    from perfbench.workloads import BACKLOGS, drain_backlog, progress_of

    tracer = harness.Tracer(True)
    rounds = run_rounds(wl, ctx, round_count(args.seconds, TRACE_MIN_ROUNDS),
                        (ctx.tracer, tracer))
    ctx.tracer = tracer
    untraced = [r for i, r in enumerate(rounds) if (i + i // 2) % 2 == 0]
    traced = [r for i, r in enumerate(rounds) if (i + i // 2) % 2 == 1]
    wl.attach_batches(rounds)
    if args.workload == "ingest":
        backlog, progress = wl.backlog.path, wl.progress
        stores = [r.store for r in rounds if r.store]
    else:
        backlog = gen.write_backlog(os.path.join(work, "probe"),
                                    BACKLOGS[args.size], args.seed).path
        with tracer.span("probe.drain"):
            query, store = drain_backlog(
                ctx, backlog, os.path.join(work, "probe_drain"))
        progress, stores = progress_of(query), [store]
    probe = layers.prefix_probe(ctx, backlog)
    drain = layers.drain_metrics(progress, stores, ctx.spark)
    api, api_round, problems = layers.api_probe(ctx)
    problems += wl.gate(ctx, rounds)
    harness.stop_session(ctx.spark)
    ctx.spark = None
    values = layers.layer_metrics(
        ctx, os.path.join(work, "eventlog"), traced, probe, drain, api,
        harness.median(r.seconds for r in untraced))
    save_trace(os.path.join(ROOT, ".perfbench_work", "trace-" + args.workload),
               work, tracer, wl,
               {"per_layer": values, "probe": probe,
                "untraced_rounds_s": [r.seconds for r in untraced],
                "traced_rounds_s": [r.seconds for r in traced]})
    metrics = {k: (v, layers.UNITS[k]) for k, v in values.items()}
    return rounds + [api_round], problems, metrics


def run_once(args) -> int:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS as WL, Ctx

    cpus = harness.usable_cpus()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    rss = harness.RssSampler().start()
    ctx = Ctx(None, work, args.seed, args.size, harness.Tracer(False))
    try:
        spark = ctx.spark = harness.start_session(work, cpus,
                                                  bool(args.trace))
        session_s = time.perf_counter() - T0
        facts = {"cpus": cpus, "master": spark.sparkContext.master,
                 "spark_version": spark.version,
                 "shuffle_partitions": int(
                     spark.conf.get("spark.sql.shuffle.partitions"))}
        wl = WL[args.workload]()
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(ctx, os.path.join(work, f"prep{rep}"))
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm(ctx)
        wl.round(ctx, -1)   # untimed: a session's first round runs slower
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s
        facts.update(session_s=session_s, prep_s=prep, warm_s=warm_s)

        if args.trace:
            rss.stop()
            rounds, problems, metrics = traced_rounds(args, wl, ctx, work)
        else:
            rounds = run_rounds(wl, ctx,
                                round_count(args.seconds, MIN_ROUNDS))
            peak_mb = rss.stop()
            wl.attach_batches(rounds)
            problems = wl.gate(ctx, rounds)
            metrics = end_to_end(rounds, setup_s, peak_mb)
    finally:
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.ops for r in rounds)
    failed = sum(min(r.failed, r.ops) for r in rounds)
    for p in problems:
        print("gate: " + p, file=sys.stderr)
    print(json.dumps({"run": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "rounds": len(rounds),
        "batches": sum(len(r.batches) for r in rounds),
        "round_s": [round(r.seconds, 4) for r in rounds], **facts}}))
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def steadiness(args) -> int:
    """Run the workload ``args.repeat`` times and report, per metric, the
    median, quartiles and spread (interquartile range ÷ median), next to the
    metric's bound from BENCHMARK.json when it has one."""
    bounds = {}
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as fh:
            bounds = {m["name"]: m.get("bound")
                      for m in json.load(fh)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:   # a wrong-output run exits 1
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"run {i} (seed {args.seed + i}) exited "
                  f"{proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        facts = json.loads(lines[-2])["run"] if len(lines) > 1 else {}
        print(f"seed {args.seed + i}: wall {wall:.1f}s correct "
              f"{result['correct']} " + " ".join(
                  f"{k}={m['value']:.4g}"
                  for k, m in result["metrics"].items())
              + f" rounds_s={facts.get('round_s')}", flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else None,
                      "bound": bounds.get(k)}
        print(f"{k:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {summary[k]['spread'] or 0:.3f}  "
              f"bound {bounds.get(k)}")
    print(json.dumps({"workload": args.workload, "runs": args.repeat,
                      "metrics": summary}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.repeat:
        return steadiness(args)
    sys.path.insert(0, ROOT)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
