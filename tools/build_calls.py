"""Count the py4j calls each query builder makes.

Builds every named query (all registered queries when none is named)
twice on one local[4] session and reports, for the second (warm)
build, the number of ``py4j.clientserver.ClientServerConnection.
send_command`` calls the building thread made and the build seconds.
Eager jobs a builder runs (loop rounds, driver-side collects) are part
of its build and count too. With ``--plans OUT.json`` it also writes each query's optimized
and physical plan text, with expression ids, plan ids and lambda
variable numbers stripped, so two checkouts' plans can be diffed.

Usage: python tools/build_calls.py [--sf DIR] [--plans OUT.json] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402

from rdf_mapreduce_joins_spark import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def normalize_plan(text: str) -> str:
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    return re.sub(r"\b([A-Za-z]+)_\d+\b", r"\1_N", text)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", default=entrymod.SF0001_DIR)
    p.add_argument("--plans", help="write normalized plan text here (JSON)")
    p.add_argument("names", nargs="*")
    args = p.parse_args()

    calls = 0
    send = ClientServerConnection.send_command

    main = threading.get_ident()

    def counted(self, command):
        # py4j's finalizer thread releases freed proxies on its own
        # schedule; counting it would make a build's count depend on
        # what ran before it.
        nonlocal calls
        if threading.get_ident() == main:
            calls += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    spark = get_spark("build-calls", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    plans = {}
    total = 0
    try:
        for name in args.names or sorted(queries):
            queries[name](spark, args.sf)
            calls = 0
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf)
            build_s = time.perf_counter() - t0
            n = calls
            total += n
            print(f"{name} calls={n} build_s={build_s:.3f}", flush=True)
            if args.plans:
                qe = df._jdf.queryExecution()
                plans[name] = {
                    "optimized": normalize_plan(qe.optimizedPlan().toString()),
                    "physical": normalize_plan(qe.executedPlan().toString()),
                }
    finally:
        spark.stop()
    print(f"TOTAL calls={total}")
    if args.plans:
        with open(args.plans, "w") as fh:
            json.dump(plans, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
