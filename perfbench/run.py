"""Benchmark of the ER engine: one command, two seeded workloads.

    python3 perfbench/run.py --workload er_corpus --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run starts one Spark driver on
``local[<cores>]``, generates the workload's inputs from ``--seed``
(perfbench/gen.py), warms up with untimed rounds on those inputs,
then repeats rounds (perfbench/workloads.py) until ``--seconds`` have
passed, checking every output. A round that raises is counted as a
failed operation and the run goes on. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` (operations:
pipeline runs, crawl ticks, corpus operator calls) and ``metrics``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: session start, input generation (and, for the crawl, the
  history index build) and the warm-up rounds;
- ``wall_s``: median time of one timed round spent inside the program's
  calls (the benchmark's own staging and checks are left out);
- ``pages_per_s``: input pages (or documents) per round divided by
  ``wall_s``;
- ``latency_p50_s``: median latency of one operation: a pipeline run, a
  crawl tick or a corpus operator call; a run's sample count is too
  small for any higher percentile to have ten samples beyond it;
- ``success_rate``: operations that completed divided by those attempted.

``--trace 1`` reports every per-layer metric instead (a layer the
workload does not exercise reads 0), including ``traced.wall_s``, the
traced run's own ``wall_s``, next to which the untraced ``wall_s``
shows the tracing overhead, and ``process.peak_rss_mb``, the summed
peak RSS of the driver JVM and its Python workers. Spans and counters
are written once, at exit, to ``.bench_out/trace-<workload>-<seed>.json``.

A run whose checks fail prints ``"correct": false`` and exits 1. Every
round must reproduce the digests of the earlier rounds, and of
perfbench/digests.json where it holds the seed. ``--record`` runs one
round, untimed, and adds its digests to that file instead of measuring.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ny_campaign_finance_dedupe_spark"
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")

# inputs per workload. A round takes 8-20 s on 4 cores, so the 5 s
# timed section is one round; set-up (session, inputs, warm-up) takes
# 13-50 s of a run. Sized to keep a whole run near 30 s on an idle
# 4-core host: most of a round is fixed per-call cost, so larger inputs
# would lengthen runs more than they steady them.
SIZES = {
    "er_corpus": {"pages": 3000, "docs": 1000, "vecs": 1000},
    "crawl_ingest": {"history": 600, "batches": 1, "batch_pages": 500},
}

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the seed's output digests; measure nothing")
    return ap.parse_args(argv)


def isolate(work: str) -> dict:
    """Keep every file the run writes under ``work``; returns the extra
    Spark conf that does the same for the driver JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "scratch", "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def phase(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def load_digests() -> dict:
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            return json.load(f)
    return {}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run from a checkout of the repository: {PACKAGE}/ is missing "
              f"under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    sys.path.insert(0, ROOT)

    from ny_campaign_finance_dedupe_spark.session import get_spark
    from perfbench import spans, workloads

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    rec = spans.Recorder(spark, traced=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        spark, rec, work, args.seed, SIZES[args.workload])
    if args.record:
        try:
            record(wl, args)
        finally:
            stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
        return 0
    try:
        phase(f"session {time.perf_counter() - t_start:.2f}s")
        wl.prepare()
        phase(f"inputs {time.perf_counter() - t_start:.2f}s")
        wl.warm_up()
        setup_s = time.perf_counter() - t_start
        phase(f"warm-up {setup_s:.2f}s")
    except Exception:  # nothing to measure: no result
        traceback.print_exc()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    attempted0, failed0 = rec.attempted, rec.failed
    errors: list[str] = []
    rounds = timed_rounds(wl, args.seconds, errors)
    try:
        wl.sample("process.peak_rss_mb", spans.peak_rss_mb())
        wl.final_checks()
    except Exception:
        traceback.print_exc()
        errors.append("final checks raised")
    attempted = rec.attempted - attempted0
    failed = rec.failed - failed0
    errors += wl.errors

    recorded = load_digests().get(args.workload, {}).get(str(args.seed), {})
    for key, value in wl.digests.items():
        if recorded.get(key, value) != value:
            errors.append(f"{key}: digest {value} != recorded {recorded[key]}")

    if rounds:
        wall = statistics.median(rounds)
        if args.trace:
            metrics = per_layer_report(wl, wall)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            rec.write(os.path.join(ROOT, ".bench_out",
                                   f"trace-{args.workload}-{args.seed}.json"),
                      {"rounds_s": rounds, **wl.layer})
        else:
            metrics = end_to_end_report(setup_s, rounds, wl, attempted, failed)
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    if not rounds:
        return 1
    print(f"# {args.workload} seed={args.seed} rounds={len(rounds)} "
          f"ops={len(wl.latencies)} digests={json.dumps(wl.digests)}")
    print(json.dumps({"correct": not errors, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 1 if errors else 0


def timed_rounds(wl, seconds: float, errors: list) -> list[float]:
    """Repeat rounds for ``seconds`` (at least one); returns the program
    time of each round that completed. A round that raises is counted
    (its operation as failed, by the recorder), reported and skipped."""
    rounds: list[float] = []
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        try:
            rounds.append(wl.round(i))
            phase(f"round {i} {rounds[-1]:.2f}s")
        except Exception:
            traceback.print_exc()
            errors.append(f"round {i} raised")
        i += 1
    return rounds


def record(wl, args) -> None:
    """Run one round, which produces every digest of the seed's inputs,
    and store them in perfbench/digests.json; raises if a check fails."""
    wl.prepare()
    wl.round(0)
    wl.final_checks()
    if wl.errors:
        raise RuntimeError(f"checks failed, nothing recorded: {wl.errors}")
    digests = load_digests()
    digests.setdefault(args.workload, {})[str(args.seed)] = wl.digests
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    phase(f"recorded {args.workload} seed {args.seed}: {wl.digests}")


def end_to_end_report(setup_s: float, rounds: list[float], wl, attempted: int,
                      failed: int) -> dict:
    wall = statistics.median(rounds)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "pages_per_s": {"value": wl.items / wall, "unit": "1/s"},
        "latency_p50_s": {"value": statistics.median(wl.latencies), "unit": "s"},
        "success_rate": {"value": (attempted - failed) / max(attempted, 1),
                         "unit": "ratio"},
    }


def per_layer_report(wl, wall: float) -> dict:
    """Every per-layer metric: the median of its samples in the run, 0
    where the workload does not exercise the layer."""
    from perfbench import workloads

    med = wl.layer_medians()
    med["traced.wall_s"] = wall
    return {n: {"value": med.get(n, 0.0), "unit": u}
            for n, u in workloads.per_layer_units().items()}


if __name__ == "__main__":
    sys.exit(main())
