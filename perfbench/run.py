"""Benchmark for solr_spark: query a seeded code-corpus index through the
public API with one of two workloads, and check every answer.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for the reasoning and the metric map):

- search: one closed-loop client, six query shapes (flat, AND, rare
  tail, WAND, four-term k=100, exact and slop-2 phrases).
- serve: three closed-loop clients through QueryBatcher (result cache
  off), a pinned index and a writer committing deletes.

The index is a per-checkout fixture (fixture.py): the first run builds it
in a fresh process, which takes about a minute.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. `--trace 0` reports the end-to-end metrics;
`--trace 1` enables the Spark event log, labels every call, runs the
layer probes and reports the per-layer metrics instead. Run from the
repository root; everything written goes under `.perfbench/`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

import harness


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, harness.ROOT)
    try:
        import pyspark  # noqa: F401

        import solr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {e}", file=sys.stderr)
        return 2
    units = metric_units("per_layer" if trace else "end_to_end")

    import fixture
    from workloads import Run

    fx = fixture.ensure()
    dirs = harness.RunDirs(args.workload, args.seed, trace)
    harness.configure_env(dirs)
    run = Run(args.workload, args.seed, args.seconds, trace, dirs, fx)
    markers = {"before": harness.contention_markers()}
    try:
        with harness.RssSampler() as rss:
            run.setup()
            run.window()
        run.e2e["peak_rss_mb"] = rss.peak_mb
        if trace:
            run.probes()
        run.phrases.close()
        harness.stop_spark(run.spark)
        run.spark = None
        markers["after"] = harness.contention_markers()

        # the latest untraced runs of this workload on this code, the
        # tracing overhead's base
        last = os.path.join(dirs.last, f"{fixture.code_key()}-{args.workload}.json")
        recent = []
        if os.path.exists(last):
            with open(last) as f:
                recent = json.load(f)
        if trace:
            base = {k: harness.median([r[k] for r in recent]) for k in run.e2e} if recent else None
            run.info["trace_overhead_base"] = (
                f"median of {len(recent)} untraced runs" if recent
                else "none: no untraced run of this code and workload, trace.overhead.* read 0"
            )
            values = run.layer_metrics(base, list(units))
            run.tr.dump(os.path.join(dirs.out, f"{dirs.tag}-spans.json"))
        else:
            values = run.e2e
            harness.write_json(last, (recent + [run.e2e])[-10:])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if getattr(run, "spark", None) is not None:
            try:
                harness.stop_spark(run.spark)
            except Exception:
                traceback.print_exc()
        dirs.cleanup()

    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: metrics not produced: {sorted(missing)}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "e2e": run.e2e, "layers": run.layers if trace else None,
        "info": run.info, "markers": markers, "failures": run.failures,
        "latencies_s": run.samples,
    }
    harness.write_json(os.path.join(dirs.out, f"{dirs.tag}.json"), record)
    for name, value in sorted(run.info.items()):
        print(f"info {name} = {value}")
    print(f"info failed_frac = {len(run.failures) / run.attempted}")
    for when, m in markers.items():
        print(f"window {when}: load_1m={m['load_1m']} cal_ms={m['cal_ms']}")
    print(f"window steal_share = {harness.steal_share(markers['before'], markers['after'])}")
    for failure in run.failures[:20]:
        print(f"MISMATCH {failure}")
    for name in sorted(units):
        print(f"metric {name} = {values[name]} {units[name]}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
