"""Local replica of the driver's correctness gate.

Runs every declared query on Spark AND its oracle SQL on DuckDB at the
given scale factor, then compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --all-sf [query ...]

``--all-sf`` sweeps sf0.001, sf0.01 AND sf0.1 in one session — the
multi-scale certification (the driver gates only sf0.01; the round-6
sf0.1 sweep is what caught the events_ewma rounding-midpoint trap, so
run this after touching any oracle's float/LIMIT/cap arithmetic)."""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle_env  # noqa: E402

from rdf_mapreduce_joins_spark import get_spark  # noqa: E402
from rdf_mapreduce_joins_spark.sources.tables import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--all-sf":
        only = set(args[1:])
        spark = get_spark("check-oracle")
        total_fail = 0
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            sf_dir = f"/root/testdata/{sf}"
            print(f"=== {sf_dir}")
            p, f = run_sf(spark, sf_dir, only)
            print(f"{sf}: {p} pass, {f} fail\n")
            total_fail += f
        return 1 if total_fail else 0
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("check-oracle")
    n_pass, n_fail = run_sf(spark, sf_dir, only)
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


def run_sf(spark, sf_dir: str, only: set[str]) -> tuple[int, int]:
    # Lazy oracles (data-derived literals, e.g. PCA components) must be
    # resolved against the SAME fixture the DuckDB views read.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    con = duckdb.connect()
    # Bound the oracle side so a big-sf run SPILLS instead of OOMing:
    # DuckDB's default memory_limit is ~80% of RAM, which stacked on
    # the Spark JVM + collected result rows got the whole process
    # kernel-OOM-killed on the first sf3 (30x) pagerank certification
    # attempt (round 9). A fixed limit + temp_directory turns that
    # into out-of-core execution; the env override lets a dedicated
    # box raise it. Clamp policy + per-PID auto-cleaned spill dir are
    # shared with certify_staged.py via oracle_env (ADVICE r9/r10).
    mem_gb = oracle_env.clamped_mem_gb()
    tmp = oracle_env.spill_dir("duckdb_oracle_spill")
    con.execute(f"SET memory_limit='{mem_gb}GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        # Driver fixtures are single files; Spark-written tables (e.g.
        # the replica-scaled sf1 from tools/make_scaled_sf.py) are
        # directories of part files — glob those for DuckDB.
        path = f"{sf_dir}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols} [{spark_s:.1f}s]")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={scols} duck={ocols}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"value-hash spark={sh} duck={oh}")
                sset = {tuple(norm_cell(c) for c in r) for r in srows}
                oset = {tuple(norm_cell(c) for c in r) for r in orows}
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                if so:
                    problems.append(f"spark-only sample: {so}")
                if os_:
                    problems.append(f"duck-only sample: {os_}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{spark_s:.1f}s]")
            n_pass += 1
    con.close()
    return n_pass, n_fail


if __name__ == "__main__":
    sys.exit(main())
