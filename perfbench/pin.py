"""Pin the expected result of each mix query, once, from a run checked
against its DuckDB oracle.

For every query of the mix in ``run.py``: build it on the generated
tables at its scale, compare its collected rows with
``oracle_sql()[name]`` run in DuckDB (the comparison in
``tests/oracle_utils.py``), and only on a match record the scale, row
count and row-hash digest that ``run.observe_noop`` takes. Writes
``perfbench/pins.json``; exits 1 if any query fails its oracle.

    python3 perfbench/pin.py [QUERY ...]

Needs DuckDB; the benchmark runs themselves do not.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run


def main(argv: list[str]) -> int:
    cores = len(os.sched_getaffinity(0))
    spark = run.start_spark(run.Tracer("pin", enabled=False), cores, None)
    import duckdb

    import __spark_entry__
    from tests.oracle_utils import compare

    registry, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    path = os.path.join(run.HERE, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    pins["tables"] = {"seed": run.gen_tables.DATA_SEED}
    failed = []
    for scale in sorted(set(run.MIX.values())):
        wh = run.tables_dir(cores, scale)
        con = duckdb.connect()
        for t in os.listdir(wh):
            if t.endswith(".parquet"):
                con.sql(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{wh}/{t}/*.parquet')"
                )
        for q in [q for q, sf in run.MIX.items() if sf == scale and (not argv or q in argv)]:
            t0 = time.perf_counter()
            ok, msg = compare(registry[q](spark, wh), con, oracles[q])
            if not ok:
                failed.append(q)
                print(f"{q}: oracle mismatch: {msg}", flush=True)
                continue
            pins["queries"][q] = {"scale": scale, **run.observe_noop(registry[q](spark, wh))}
            print(f"{q}: pinned {pins['queries'][q]} ({time.perf_counter() - t0:.1f} s)",
                  flush=True)
            with open(path, "w") as fh:
                json.dump(pins, fh, indent=1, sort_keys=True)
                fh.write("\n")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
