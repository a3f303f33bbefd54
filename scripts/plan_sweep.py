"""Round-6 plan sweep over EVERY declared query in __spark_entry__.queries().

For each query at sf0.01: capture the formatted physical plan and count
the structures the optimization guide says to look for (guide §7.2):
Exchange nodes, join strategies, Python-boundary nodes
(BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas,
and Python-list relations, `Scan ExistingRDD`),
CartesianProduct, and scan pushdown markers. Emits one JSON line per
query to stdout and the full sweep to BENCH/r06/plan_sweep.json.

This is an AUDIT (read-only): it proves per-operator plan shapes for
OPTIMIZATION_r06.md without re-running the full oracle harness.

Usage: python scripts/plan_sweep.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from solr_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

PAT = {
    "exchanges": r"\bExchange\b",
    "broadcast_joins": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "py_batch": r"BatchEvalPython",
    "py_arrow": r"ArrowEvalPython",
    "py_map": r"MapInArrow|MapInPandas|FlatMapGroupsInPandas",
    # a Python-list relation (createDataFrame(list)): every broadcast or
    # collect of it is a job with Python workers (session.local_frame)
    "py_rdd": r"Scan ExistingRDD",
    "window": r"\bWindow\b",
    "topk": r"TakeOrderedAndProject",
}


def main() -> None:
    spark = get_spark("plan_sweep", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    qs = E.queries()
    out: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
            row = {k: len(re.findall(rx, p)) for k, rx in PAT.items()}
            row["plan_chars"] = len(p)
            row["build_s"] = round(time.time() - t0, 2)
            out[name] = row
        except Exception as ex:  # noqa: BLE001
            out[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
        print(json.dumps({"q": name, **out[name]}), flush=True)
    os.makedirs("BENCH/r06", exist_ok=True)
    with open("BENCH/r06/plan_sweep.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    # summary of flags worth a look
    flags = {
        n: r for n, r in out.items()
        if r.get("cartesian") or r.get("py_batch") or r.get("smj")
        or r.get("error")
    }
    print(json.dumps({"flagged": list(flags)}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
