#!/usr/bin/env python
"""Driver-style correctness sweep: every declared query vs its DuckDB
oracle on a PLAIN default SparkSession (ANSI on, 200 shuffle partitions —
the external driver's environment, NOT the tuned engine factory).

    python scripts/oracle_sweep.py [sf_dir] [--shards N]

Default sf_dir /root/testdata/sf0.01; default shards 4 (override with
--shards or ORACLE_SWEEP_SHARDS). Shard i of N checks
``sorted(queries)[i::N]`` — a deterministic shard->query map, same
frozen-list discipline as the bench cohorts — in its OWN subprocess
SparkSession, so the 426-query sweep runs in parallel wall-clock
(round-9 verdict item 8: the serial sweep had grown to ~25 min; the
sharded sweep targets <=15). Shard 0 additionally smoke-runs
``entry()``. Coverage is identical to the serial form: the union of the
shards is exactly sorted(queries), asserted at merge time.

Prints one line per failing query and a final summary; exit 1 on any
mismatch. This is the same gate as tests/test_oracle_parity.py but
runnable standalone at any scale factor.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_shard(sf_dir: str, shard: int, n_shards: int) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from tests.oracle_utils import compare, duckdb_con

    cores = max(2, 32 // n_shards)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_con(sf_dir)
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = sorted(queries)[shard::n_shards]
    fails = []
    for name in names:
        ok, msg = compare(queries[name](spark, sf_dir), con, oracles[name])
        if not ok:
            fails.append(name)
            print(f"FAIL {name}: {msg}")
    entry_rows = entry_mod.entry(spark).count() if shard == 0 else None
    print(
        "SHARD_RESULT "
        + json.dumps(
            {
                "shard": shard,
                "n_shards": n_shards,
                "checked": names,
                "fails": fails,
                "entry_rows": entry_rows,
            }
        ),
        flush=True,
    )
    return 1 if fails else 0


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    if argv and argv[0] == "--shard":  # internal: --shard i N sf_dir
        return run_shard(argv[3], int(argv[1]), int(argv[2]))
    n_shards = int(os.environ.get("ORACLE_SWEEP_SHARDS", "4"))
    sf_dir = "/root/testdata/sf0.01"
    i = 0
    while i < len(argv):
        if argv[i] == "--shards":
            n_shards = int(argv[i + 1])
            i += 2
        else:
            sf_dir = argv[i]
            i += 1

    me = os.path.abspath(__file__)
    import tempfile

    # stderr goes to a FILE per shard, not a pipe: Spark chatters enough
    # on stderr to fill a 64 KB pipe buffer and deadlock an undrained
    # shard, but a dead shard's traceback (query exception, OOM, import
    # error) lives there and must survive for diagnosis
    err_files = [
        tempfile.NamedTemporaryFile(
            mode="w+", prefix=f"sweep_shard{s}_", suffix=".err", delete=False
        )
        for s in range(n_shards)
    ]
    procs = [
        subprocess.Popen(
            [sys.executable, me, "--shard", str(s), str(n_shards), sf_dir],
            stdout=subprocess.PIPE,
            stderr=err_files[s],
            text=True,
        )
        for s in range(n_shards)
    ]
    checked, fails, entry_rows = [], [], None
    for s, p in enumerate(procs):
        out, _ = p.communicate()
        payload = None
        for line in out.splitlines():
            if line.startswith("SHARD_RESULT "):
                payload = json.loads(line[len("SHARD_RESULT "):])
            elif line.startswith("FAIL "):
                print(line)
        if payload is None:
            print(f"FAIL <shard rc={p.returncode}>: no SHARD_RESULT in output")
            err_files[s].flush()
            err_files[s].seek(0)
            tail = err_files[s].read()[-6000:]
            sys.stderr.write(out[-4000:] + "\n" + tail + "\n")
            print(f"(full shard stderr: {err_files[s].name})")
            return 1
        os.unlink(err_files[s].name)
        checked.extend(payload["checked"])
        fails.extend(payload["fails"])
        if payload["entry_rows"] is not None:
            entry_rows = payload["entry_rows"]

    import __spark_entry__ as entry_mod

    expected = sorted(entry_mod.queries())
    if sorted(checked) != expected:
        missed = sorted(set(expected) - set(checked))
        print(f"FAIL <coverage>: shards missed {len(missed)} queries: {missed[:10]}")
        return 1
    print(
        f"checked {len(checked)} queries at {sf_dir}: "
        f"{len(checked) - len(fails)} ok, {len(fails)} failed; "
        f"entry() rows={entry_rows}"
    )
    return 1 if fails or not entry_rows else 0


if __name__ == "__main__":
    sys.exit(main())
