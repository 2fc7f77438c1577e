"""Benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One driver process, ``local[nproc]``, one
client in a closed loop. The run starts a Spark session sized from the host,
makes the workload's inputs from ``--seed`` and writes them, then times
passes until ``--seconds`` have elapsed (at least one). Every pass is
checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones from
the Spark event log. The line before it records the host and the session.
Work files, the spans and the full record of each run go to
``.perfbench/<workload>-s<seed>-t<trace>/`` in the checkout.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# inputs are written SETUP_REPS times and setup_s takes the median
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for a quick end-to-end check")
    return ap.parse_args(argv)


def gc_s(spark) -> float:
    """Collection time of every JVM garbage collector, in seconds (JMX)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def run(args) -> dict:
    """One benchmark run; returns the full record (also written to
    ``.perfbench/<tag>/result.json``)."""
    from host import Clock, RssSampler, host_facts, session_env, stop_session

    tag = f"{args.workload}-s{args.seed}-t{args.trace}" + ("-smoke" * args.smoke)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, tag)
    shutil.rmtree(work, ignore_errors=True)
    events = os.path.join(work, "events")
    os.makedirs(events)
    os.environ.update(session_env(ROOT, work, events if args.trace else None))

    from ontologymatching_spark.session import get_spark
    from spans import Tracer, rollup
    from workloads import WORKLOADS, code_fingerprint, layer_names

    digests_path = os.path.join(base, "digests.json")
    digests = {}
    if os.path.exists(digests_path):
        with open(digests_path) as f:
            digests = json.load(f)
    key = f"{tag.replace(f'-t{args.trace}', '')}@{code_fingerprint(ROOT)}"

    with RssSampler() as rss:
        t0 = time.time()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{os.cpu_count()}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t0
        try:
            host = host_facts(spark)
            tracer = Tracer(spark, tag, job_groups=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke)

            input_s = []
            for k in range(SETUP_REPS):
                with Clock() as c:
                    wl.setup(os.path.join(work, f"input{k}"))
                input_s.append(c.wall_s)
            wl.prepare_check()

            passes, fails, quality = [], [], {}
            start = time.time()
            while not passes or time.time() - start < args.seconds:
                i = len(passes)
                rss.reset()
                gc0 = gc_s(spark)
                with Clock() as c, tracer.span("pass"):
                    result = wl.run_pass(tracer, i)
                passes.append({"wall_s": c.wall_s, "cpu_s": c.cpu_s,
                               "peak_rss_mb": rss.peak / 1e6,
                               "gc_s": gc_s(spark) - gc0,
                               "steal_pct": c.steal_pct})
                f, digest = wl.check(result, digests.get(key))
                fails += [f"pass {i}: {m}" for m in f]
                quality = wl.quality(tracer, c.wall_s)
                if digest is not None:
                    digests.setdefault(key, digest)
            live = wl.live_layers() if args.trace else {}
        finally:
            stop_session(spark)

    with open(digests_path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)

    n = len(passes)
    med = {k: statistics.median(p[k] for p in passes)
           for k in ("wall_s", "cpu_s", "peak_rss_mb")}
    if args.trace:
        groups = rollup(events)
        pass_groups = [g for name, g in groups.items() if name]
        metrics = dict.fromkeys(layer_names(), 0.0)
        metrics.update({
            "trace.wall_s": med["wall_s"],
            "python.boot_s": sum(g["py_boot_s"] for g in pass_groups) / n,
            "spark.task_cpu_s": sum(g["cpu_s"] for g in pass_groups) / n,
            "spark.shuffle_mb": sum(g["shuffle_bytes"] for g in pass_groups) / n / 1e6,
            "spark.spill_mb": sum(g["spill_bytes"] for g in pass_groups) / n / 1e6,
            "jvm.gc_s": statistics.mean(p["gc_s"] for p in passes),
            **live, **quality,
            **wl.layers(tracer, groups, n, host["nproc"]),
        })
    else:
        metrics = {"setup_s": session_s + statistics.median(input_s), **med}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "session_s": session_s, "input_s": input_s,
        "passes": passes, "quality": quality, "failures": fails,
        "attempted": n * wl.attempted(), "metrics": metrics,
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    tracer.write(os.path.join(work, "spans.jsonl"))
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ontologymatching_spark")):
        print(f"perfbench: no engine source under {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, unit_of

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rec = run(args)
    for msg in rec["failures"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"host": rec["host"], "steal_pct":
                      [p["steal_pct"] for p in rec["passes"]],
                      "quality": rec["quality"]}))
    print(json.dumps({
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": len(rec["failures"]),
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in rec["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
