"""Find rangepartitioning exchanges over bounded-cardinality outputs
across ALL registered query plans (VERDICT r10 #2).

Round 10 measured the cost of a global ``orderBy`` on a dozen-row
grouped output: the rangepartitioning boundary-sampling pass is a
separate Spark job worth 0.2-0.5 s per query at sf0.1 — pure fixed
overhead when the result is a bounded group spine.
``sources/tables.py::bounded_sort`` (coalesce(1) +
sortWithinPartitions) removes it without changing the total order.

This audit flags candidates mechanically, with a two-scale cardinality
probe standing in for "provably bounded":

* the FINAL (top-most) exchange in the formatted plan is
  ``Exchange rangepartitioning`` (i.e. the query ends in a global
  sort, not a top-k — TakeOrderedAndProject never plans one), AND
* the result row count at sf0.01 and sf0.1 is EQUAL and small
  (<= --max-rows, default 1000): a count that holds flat across a
  10x input is the signature of a group-key-domain-bounded output
  (per-region / per-type / per-decile spines).

Equal-and-small is evidence, not proof — apply bounded_sort only
where the group-key domain is bounded by construction, and re-prove
the hash-match (tools/check_oracle.py) after each edit.

Usage: python tools/audit_bounded_sorts.py [--max-rows N] [name ...]
Output: one line per flagged query + a summary; exit 0 always (audit,
not gate).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_mapreduce_joins_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"


def simple_plan(df) -> str:
    """``simple``-mode physical plan — exchanges appear inline as
    ``Exchange rangepartitioning(...)`` (formatted mode hides the
    partitioning in a separate Arguments section)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def final_exchange_is_range(plan: str) -> bool:
    """True when the first Exchange encountered scanning the operator
    tree top-down (i.e. the LAST one executed) is a rangepartitioning
    exchange — the global-orderBy signature. TakeOrderedAndProject
    (top-k) never plans one."""
    for line in plan.splitlines():
        m = re.search(r"Exchange (\w+)", line)
        if m:
            return m.group(1) == "rangepartitioning"
    return False


def main() -> int:
    args = sys.argv[1:]
    max_rows = 1000
    if "--max-rows" in args:
        i = args.index("--max-rows")
        max_rows = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    only = set(args)
    spark = get_spark("audit-bounded-sorts")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    flagged, skipped = [], 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_SMALL)
            plan = simple_plan(df)
        except Exception as exc:  # audit must not die on one query
            print(f"SKIP {name}: {type(exc).__name__}: {exc}")
            skipped += 1
            continue
        n_range = plan.count("Exchange rangepartitioning")
        if n_range == 0:
            continue
        top_is_range = final_exchange_is_range(plan)
        try:
            n_small = df.count()
            n_big = fn(spark, SF_BIG).count() if n_small <= max_rows else -1
        except Exception as exc:
            print(f"SKIP {name} (count): {type(exc).__name__}: {exc}")
            skipped += 1
            continue
        bounded = 0 <= n_small <= max_rows and n_small == n_big
        print(
            f"{'FLAG' if bounded and top_is_range else 'info'} {name}: "
            f"range_exchanges={n_range} top_is_range={top_is_range} "
            f"rows(sf0.01)={n_small} rows(sf0.1)={n_big}"
        )
        if bounded and top_is_range:
            flagged.append(name)
    print(f"\n{len(flagged)} flagged, {skipped} skipped")
    for n in flagged:
        print(f"  {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
