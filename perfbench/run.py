"""The repository's benchmark: closed-loop workloads driven through the
engine's public entry points, one client process on ``local[nproc]``.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each declared one was chosen):

- ``etl_pipeline``: seeded Iowa-shaped CSV pages (``gen_iowa.py``) through
  ``iowa_liquor_sales_spark.__main__.run_pipeline``, the first pipeline in
  a fresh JVM as the command line runs it. Each pipeline's outputs are
  checked against the generator's truth record.
- ``registry_mix``: a seeded permutation per pass of
  ``__spark_entry__.queries()`` callables over synthetic tables
  (``gen_tables.py``): short read-side star queries and iterative corpus
  queries (``MIX``), after one warm-up query on tiny tables of the same
  shape. Each execution is the builder call plus a forced run through the noop
  sink; an ``Observation`` on that same run yields the row count and an
  order-insensitive row-hash sum, compared with ``pins.json`` (made once
  by ``pin.py`` against the DuckDB oracles). A failed or wrong execution
  counts in ``error_rate``.

The run sets up (``get_spark``, registry import, warm-up), then measures
whole operations (pipelines, or whole passes over the mix) until
``--seconds`` have passed; the timed wall is the sum of the operations'
walls, so result checks are not in it. Inputs are generated before the
clock starts, under ``.perfbench/`` in the checkout, where all scratch
files also go.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: spans recorded around the calls into each layer (``spans.py``) and
Spark's uncompressed event log rolled up per job group (``eventlog.py``).
Every declared per-layer metric is printed; one that the workload does
not reach reads 0 and is listed on a ``# not reached`` line, and a layer
the workload must reach that recorded nothing fails the run.
Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed``,
``metrics``. The full record, environment included, is written to
``.perfbench/results/``.
"""

from __future__ import annotations

import _thread
import argparse
import contextlib
import io
import json
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time
from decimal import Decimal

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen_iowa  # noqa: E402
import gen_tables  # noqa: E402
from spans import Tracer, self_times, union_s  # noqa: E402

# One page of the reference's 50,000-row size: run_pipeline's wall is set
# by its ~100 Spark jobs far more than by its row count.
ETL_ROWS = 50_000
# The query mix: each query with the scale of the tables it runs on. The
# short read-side star queries run at sf0.1; the iterative corpus ones,
# whose builders are bound by their eager job count rather than by data
# size, at sf0.01.
MIX = {
    "q_scan_parquet": 0.1, "q_conditional_agg": 0.1, "q_cube": 0.1, "q_topk_pergroup": 0.1,
    "q_star_join": 0.1, "q_shipping_priority": 0.1, "q_hll": 0.1, "q_events_window": 0.1,
    "q_paragraph_neardup": 0.01, "q_token_budget": 0.01, "q_embed_neardup": 0.01,
    "q_dbscan_grid": 0.01,
}
# The fresh JVM's first SQL execution costs several seconds more than any
# later one (class loading, codegen and reader set-up). The mix pays it in
# set-up with this query on tables of this scale, so that it does not land
# on whichever query the seed puts first.
WARMUP_QUERY, WARMUP_SCALE = "q_scan_parquet", 0.001
# Engine modules whose public functions the traced mix records, and the
# ones the mix must reach ("inline" is the builders' own code).
PACKAGE = "iowa_liquor_sales_spark"
TRACED_MODULES = ("operators", "streaming", "multimodal", "caching")
MUST_REACH = {
    "inline", "operators.aggregates", "operators.joins", "operators.sketches",
    "streaming.events", "operators.curation", "operators.ranking", "operators.dedup",
    "operators.similarity", "operators.graph", "operators.clustering", "caching",
}
# The spans run_pipeline's stages are recorded under, by per-layer metric.
ETL_LAYERS = {
    "sources.bronze_s": "sources.bronze",
    "functions.cleansing.silver_s": "functions.cleansing.silver",
    "plans.iowa.build_gold_s": "plans.iowa.build_gold",
    "plans.iowa.validate_gold_s": "plans.iowa.validate_gold",
    "plans.iowa.report_counts_s": "plans.iowa.report_counts",
}
SPARK_FIELDS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "driver_only_s")
RSS_PERIOD_S = 0.2
JVM_EXIT_TIMEOUT_S = 30.0
MB = 1024 * 1024


def descendants(include_self: bool = False) -> list[tuple[int, int]]:
    """``(pid, rss_pages)`` of this process's descendants, from /proc."""
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        rss[int(pid)] = int(fields[21])
    me = os.getpid()
    out = [(me, rss.get(me, 0))] if include_self else []
    for pid in rss:
        p = parent[pid]
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            out.append((pid, rss[pid]))
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        return sum(rss for _, rss in descendants(include_self=True)) * self._page

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._sample())


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    ``(value, percentile, samples)``. Below 20 samples no percentile from
    the median up has 10 beyond it; the maximum (percentile 100) stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


# ------------------------------------------------------------------ inputs


def tables_dir(cores: int, scale: float) -> str:
    path = os.path.join(CACHE, f"tables_sf{scale}_c{cores}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        gen_tables.generate(path, cores, scale)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def iowa_pages(seed: int, rows: int) -> tuple[str, dict]:
    path = os.path.join(CACHE, "iowa", f"seed{seed}_rows{rows}")
    truth = os.path.join(path, "truth.json")
    if not os.path.exists(truth):
        shutil.rmtree(path, ignore_errors=True)
        gen_iowa.generate(path, seed, rows)
    with open(truth) as fh:
        return os.path.join(path, "pages"), json.load(fh)


# ------------------------------------------------------------------- setup


def start_spark(tracer: Tracer, cores: int, event_dir: str | None):
    """The engine's session on ``local[cores]``; scratch files stay in the
    checkout and the engine package is importable by Python workers."""
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from iowa_liquor_sales_spark import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=cores, extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def import_registry(tracer: Tracer) -> dict:
    with tracer.span("registry.import"):
        import __spark_entry__

        return __spark_entry__.queries()


# ------------------------------------------------------------ etl pipeline


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class EtlWorkload:
    def __init__(self, spark, tracer: Tracer, seed: int, cores: int):
        import iowa_liquor_sales_spark.__main__ as entry

        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.entry = entry
        self.input, self.truth = iowa_pages(seed, ETL_ROWS)
        self.work = os.path.join(CACHE, "work", f"etl_{os.getpid()}")
        self.stage_bytes: list[dict] = []
        self.rep = 0

    def install_shims(self) -> None:
        """Wrap the names run_pipeline calls, in its own module namespace."""
        e, t = self.entry, self.tracer
        write = e.write_parquet

        def write_parquet(df, path, *a, **kw):
            stage = path.rstrip("/").split("/")[-1]
            name = {"bronze": "sources.bronze", "silver": "functions.cleansing.silver"}.get(
                stage, "plans.iowa.build_gold"
            )
            with t.span(name), self._group(name):
                return write(df, path, *a, **kw)

        e.write_parquet = write_parquet
        e.read_csv = t.wrap("sources.bronze", e.read_csv)
        e.silver = t.wrap("functions.cleansing.silver", e.silver)
        e.build_gold = t.wrap("plans.iowa.build_gold", e.build_gold)
        validate = e.validate_gold

        def validate_gold(gold):
            with t.span("plans.iowa.validate_gold"), self._group("plans.iowa.validate_gold"):
                return validate(gold)

        e.validate_gold = validate_gold
        e.get_spark = t.wrap("session.get_spark", e.get_spark)
        # The recounts at the end of run_pipeline are its only direct
        # DataFrame.count calls; counts inside validate_gold nest under it.
        frame = type(self.spark.range(1))
        frame.count = t.wrap("plans.iowa.report_counts", frame.count)

    @contextlib.contextmanager
    def _group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{name}#{self.rep}", name)
        try:
            yield
        finally:
            sc.setJobGroup(f"etl_pipeline#{self.rep}", "etl_pipeline")

    def warmup(self) -> None:
        """None: the pipeline is measured as the command line runs it, first
        in a fresh JVM."""

    def run_once(self) -> dict:
        self.rep += 1
        rec = {"op": f"etl_pipeline#{self.rep}"}
        work = os.path.join(self.work, f"rep{self.rep}")
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["op"], "etl_pipeline")
        rec["t0"], t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(rec["op"]), contextlib.redirect_stdout(io.StringIO()):
                out = self.entry.run_pipeline(self.input, work, master=f"local[{self.cores}]")
            rec["latency_s"], rec["t1"] = time.perf_counter() - t0, time.time()
            # The check's own Spark jobs run under a group of their own.
            sc.setJobGroup(f"check#{self.rep}", "check")
            rec["ok"], rec["why"] = self.check(out, work)
            self.stage_bytes.append(
                {s: _du(os.path.join(work, s)) for s in ("bronze", "silver", "gold")}
            )
        except Exception as exc:  # a failed pipeline counts in error_rate
            rec.update(latency_s=time.perf_counter() - t0, t1=time.time(), ok=False,
                       why=repr(exc)[:300])
        if self.tracer.enabled:
            rec.update(cache_state(self.spark))
        shutil.rmtree(work, ignore_errors=True)
        return rec

    def check(self, out: dict, work: str) -> tuple[bool, str]:
        from pyspark.sql import functions as F

        from iowa_liquor_sales_spark.schemas import IOWA_COERCE_COLS

        t = self.truth
        want = {"bronze_rows": t["rows"], "silver_rows": t["rows"],
                "fact_sales_rows": t["fact_rows"],
                **{f"{k}_rows": v for k, v in t["dim_rows"].items()}}
        bad = {k: (out.get(k), v) for k, v in want.items() if out.get(k) != v}
        if not out.get("ok"):
            return False, f"violations {out.get('violations')}"
        if bad:
            return False, f"counts (got, want): {bad}"
        read = self.spark.read.parquet
        dollars = read(f"{work}/gold/fact_sales").agg(
            F.sum(F.col("sale_dollars").cast("decimal(20,2)"))
        ).first()[0]
        if Decimal(dollars) != Decimal(t["sale_dollars_total"]):
            return False, f"sale_dollars {dollars} != {t['sale_dollars_total']}"
        zeros = read(f"{work}/silver").agg(
            sum(F.sum((F.col(c) == 0).cast("long")) for c in IOWA_COERCE_COLS)
        ).first()[0]
        if zeros != t["unparseable_cells"]:
            return False, f"zero cells {zeros} != unparseable {t['unparseable_cells']}"
        return True, ""


# ------------------------------------------------------------ query mixes


class QueryWorkload:
    def __init__(self, spark, tracer: Tracer, registry: dict, cores: int):
        self.spark, self.tracer, self.registry = spark, tracer, registry
        self.wh = {scale: tables_dir(cores, scale) for scale in set(MIX.values())}
        self.cores = cores
        with open(os.path.join(HERE, "pins.json")) as fh:
            self.pins = json.load(fh)["queries"]
        self.rep = 0

    def install_shims(self) -> None:
        """Record the calls into the engine modules the builders use."""
        import importlib
        import pkgutil

        for sub in TRACED_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{sub}")
            for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
                importlib.import_module(f"{PACKAGE}.{sub}.{info.name}")
            self.tracer.wrap_modules(
                mod.__name__, lambda m: m.removeprefix(f"{PACKAGE}.")
            )

    def execute(self, q: str) -> dict:
        """Builder call plus forced noop execution, observed for the pin."""
        self.rep += 1
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{q}#{self.rep}", q)
        t, rec = self.tracer, {"query": q, "rep": self.rep, "op": f"{q}#{self.rep}"}
        rec["t0"], t0 = time.time(), time.perf_counter()
        try:
            with t.span(rec["op"]):
                with t.span("build"):
                    df = self.registry[q](self.spark, self.wh[MIX[q]])
                t1 = time.perf_counter()
                with t.span("exec"):
                    got = observe_noop(df)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0, t1=time.time())
            pin = self.pins.get(q, {})
            rec["ok"] = pin.get("scale") == MIX[q] and got == {
                "rows": pin.get("rows"), "digest": pin.get("digest")
            }
            if not rec["ok"]:
                rec["why"] = f"{q}: got {got} at sf{MIX[q]}, pinned {pin}"
        except Exception as exc:  # a failed query counts in error_rate
            rec.update(latency_s=time.perf_counter() - t0, t1=time.time(), ok=False,
                       why=f"{q}: {exc!r}"[:300])
        if t.enabled:
            rec.update(cache_state(self.spark))
        return rec

    def warmup(self) -> None:
        tiny = tables_dir(self.cores, WARMUP_SCALE)
        observe_noop(self.registry[WARMUP_QUERY](self.spark, tiny))

    def pass_order(self, rng: random.Random) -> list[str]:
        order = list(MIX)
        rng.shuffle(order)
        return order


def observe_noop(df) -> dict:
    """Run ``df`` through the noop sink with an ``Observation`` of its row
    count and the sum of its rows' xxhash64, taken on the same execution.
    The long sum wraps on overflow (the engine's session runs with ANSI
    off), so the digest does not depend on row order."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(len(df.columns))]
    obs = Observation()
    df.toDF(*cols).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols)).alias("digest"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return {"rows": got["rows"], "digest": got["digest"]}


def stop_jvm() -> None:
    """End the JVM that pyspark launched (it exits when its stdin closes)
    and wait until it and the Python workers it forked are gone."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(JVM_EXIT_TIMEOUT_S)
    deadline = time.monotonic() + JVM_EXIT_TIMEOUT_S
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def cache_state(spark) -> dict:
    """What an operation left behind: persisted RDDs and cached relations."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return {
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "cache_entries": cm.cachedData().size(),
    }


# --------------------------------------------------------------- the run


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    env = {
        "cores": cores, "loadavg_before": os.getloadavg(),
        "python": platform.python_version(),
    }
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    if workload not in ("etl_pipeline", "registry_mix"):
        raise SystemExit(f"unknown workload {workload!r}")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit("the engine package is not in this checkout")

    # Inputs first: generation is the benchmark's own work, not set-up.
    gen0 = time.perf_counter()
    if workload == "etl_pipeline":
        iowa_pages(seed, ETL_ROWS)
    else:
        for scale in {WARMUP_SCALE, *MIX.values()}:
            tables_dir(cores, scale)
    gen_s = time.perf_counter() - gen0

    tracer = Tracer(run_id, enabled=trace)
    event_dir = None
    if trace:
        event_dir = os.path.join(CACHE, "eventlog", run_id)
        os.makedirs(event_dir, exist_ok=True)
    rss = RssSampler()
    with rss:
        with tracer.span("setup"):
            spark = start_spark(tracer, cores, event_dir)
            registry = import_registry(tracer)
            if workload == "etl_pipeline":
                wl = EtlWorkload(spark, tracer, seed, cores)
            else:
                wl = QueryWorkload(spark, tracer, registry, cores)
            spark.sparkContext.setJobGroup("warmup", "warmup")
            with tracer.span("warmup"):
                wl.warmup()
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        if trace:
            wl.install_shims()

        rng = random.Random(seed)
        ops: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            if workload == "etl_pipeline":
                ops.append(wl.run_once())
            else:
                ops.extend(wl.execute(q) for q in wl.pass_order(rng))
        import pyspark

        env["pyspark"] = pyspark.__version__
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        env["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        spark.stop()
        stop_jvm()
    env["loadavg_after"] = os.getloadavg()

    lat = [o["latency_s"] for o in ops]
    tail_v, tail_p, n = tail(lat)
    failed = sum(1 for o in ops if not o["ok"])
    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "env": env, "attempted": len(ops), "failed": failed,
        "errors": [o["why"] for o in ops if not o["ok"]][:10],
        "latency_tail_pct": tail_p, "latency_samples": n,
        "end_to_end": {
            "setup_s": setup_s,
            "ops_per_s": (len(ops) - failed) / sum(lat),
            "latency_p50_s": statistics.median(lat),
            "latency_geomean_s": statistics.geometric_mean(lat),
            "latency_tail_s": tail_v,
            "peak_rss_mb": rss.peak / MB,
            "error_rate": failed / len(ops),
        },
        "input_generation_s": gen_s,
        "ops": [{k: o[k] for k in ("op", "latency_s", "build_s", "exec_s", "ok",
                                   "persisted_rdds", "cache_entries") if k in o}
                for o in ops],
    }
    e2e = result["end_to_end"]
    if workload == "etl_pipeline":
        stored = statistics.median(sum(b.values()) for b in wl.stage_bytes)
        e2e.update(
            rows_per_s=wl.truth["rows"] / e2e["latency_p50_s"],
            pipeline_s=e2e["latency_p50_s"],
            stored_bytes_ratio=stored / wl.truth["csv_bytes"],
        )
        shutil.rmtree(wl.work, ignore_errors=True)
    else:
        e2e["queries_per_s"] = e2e["ops_per_s"]
    if trace:
        result["per_layer"] = per_layer(workload, wl, tracer, ops, event_dir)
        tracer.dump(os.path.join(event_dir, "spans.jsonl"))
    if workload == "etl_pipeline":
        shutil.rmtree(os.path.dirname(wl.input), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return result


def per_layer(workload: str, wl, tracer: Tracer, ops: list[dict],
              event_dir: str) -> dict:
    """The per-layer metrics of a traced run. Raises if a layer the
    workload must reach recorded nothing."""
    spans = tracer.spans
    selft = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    layer = {
        "session.get_spark_s": by_name["session.get_spark"][0].duration,
        "registry.import_s": by_name["registry.import"][0].duration,
        "warmup_s": by_name["warmup"][0].duration,
    }
    roots = [s for s in spans if s.parent is None and "#" in s.name]
    # What of each op's wall no child span accounts for.
    unattributed = [selft[s.id] for s in roots]
    coverage = [1.0 - selft[s.id] / s.duration for s in roots if s.duration > 0]
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    if workload == "etl_pipeline":
        must = set(ETL_LAYERS.values())
        for root in roots:
            row: dict[str, float] = {}
            for s in children.get(root.id, []):
                row[s.name] = row.get(s.name, 0.0) + s.duration
            if must - set(row):
                raise SystemExit(f"{root.name}: no span for {sorted(must - set(row))}")
            for metric, name in ETL_LAYERS.items():
                layer.setdefault(metric, []).append(row[name])
        for metric in ETL_LAYERS:
            layer[metric] = statistics.median(layer[metric])
        for stage in ("bronze", "silver", "gold"):
            layer[f"sources.bytes_written.{stage}"] = statistics.median(
                b[stage] for b in wl.stage_bytes
            )
        module_of = {o["op"]: "plans.iowa" for o in ops}
    else:
        # Builder time per module: the self time of the module's spans (its
        # own code and the Spark jobs it runs eagerly); the builder's own
        # self time is "inline". Execution time goes to the module the
        # builder spent most in directly, and is summed per pass.
        passes = len(ops) / len(MIX)
        build: dict[str, float] = {}
        execs: dict[str, float] = {}
        module_of = {}
        for root in roots:
            kids = {c.name: c for c in children.get(root.id, [])}
            b = kids["build"]
            build["inline"] = build.get("inline", 0.0) + selft[b.id]
            direct: dict[str, float] = {}
            for c in children.get(b.id, []):
                direct[c.name] = direct.get(c.name, 0.0) + c.duration
            m = max(direct, key=direct.get) if direct else "inline"
            module_of[root.name] = m
            if "exec" in kids:
                execs[m] = execs.get(m, 0.0) + kids["exec"].duration
        for s in spans:
            if s.name.split(".")[0] in TRACED_MODULES:
                build[s.name] = build.get(s.name, 0.0) + selft[s.id]
        for m, t in build.items():
            layer[f"{m}.build_s"] = t / passes
        for m, t in execs.items():
            layer[f"{m}.exec_s"] = t / passes
        missing = MUST_REACH - set(build)
        if missing:
            raise SystemExit(f"{workload}: no span for {sorted(missing)}")
    layer["caching.persisted_rdds_after_query"] = max(o["persisted_rdds"] for o in ops)
    layer["caching.cache_entries_after_query"] = max(o["cache_entries"] for o in ops)
    layer["trace.child_coverage_min"] = min(coverage)
    layer["trace.unattributed_s"] = statistics.median(unattributed)
    layer["trace.latency_geomean_s"] = statistics.geometric_mean(o["latency_s"] for o in ops)

    # Spark's own account, per op (job group) and rolled up per module.
    logs = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs if f.startswith("events_")
    )
    with contextlib.ExitStack() as stack:
        lines = (ln for path in logs for ln in stack.enter_context(open(path)))
        groups = eventlog.rollup(lines)
    for path in logs:
        os.remove(path)
    etl_groups = {"etl_pipeline", *ETL_LAYERS.values()}
    per_op = {}
    for o in ops:
        op = o["op"]
        # An etl op's jobs run under its stage groups, "<stage>#<rep>".
        rep = op.split("#")[1]
        sub = [g for k, g in groups.items()
               if k == op or (workload == "etl_pipeline" and k in
                              {f"{n}#{rep}" for n in etl_groups})]
        row = {f: sum(g[f] for g in sub) for f in eventlog.FIELDS}
        if not row["jobs"]:
            raise SystemExit(f"{op}: no Spark job in the event log")
        jobs = [(max(a, o["t0"]), min(b, o["t1"])) for g in sub for a, b in g["job_spans"]]
        row["driver_only_s"] = max(0.0, o["latency_s"] - union_s([j for j in jobs if j[1] > j[0]]))
        row["module"] = module_of.get(op, "inline")
        row.update({k: o[k] for k in ("persisted_rdds", "cache_entries") if k in o})
        per_op[op] = row
    for f in SPARK_FIELDS:
        layer[f"spark.{f}"] = statistics.fmean(r[f] for r in per_op.values())
    if workload != "etl_pipeline":
        passes = len(ops) / len(MIX)
        for m in {r["module"] for r in per_op.values()}:
            rows = [r for r in per_op.values() if r["module"] == m]
            for f in ("driver_only_s", "executor_cpu_s", "jobs"):
                layer[f"spark.{m}.{f}"] = sum(r[f] for r in rows) / passes
    with open(os.path.join(event_dir, "per_op.json"), "w") as fh:
        json.dump(per_op, fh, indent=1, sort_keys=True)
    return layer


# ----------------------------------------------------------------- main


def _watchdog(limit: float) -> None:
    """Interrupt the main thread if the run overstays ``limit`` seconds."""
    timer = threading.Timer(limit, _thread.interrupt_main)
    timer.daemon = True
    timer.start()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    _watchdog(170.0)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = result["per_layer"] if a.trace else result["end_to_end"]
    absent = [m["name"] for m in declared if m["name"] not in values]
    result["not_reached"] = absent
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    out = os.path.join(CACHE, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(latency_p50_s="s", latency_tail_s="s", peak_rss_mb="MB",
                 error_rate="ratio", queries_per_s="1/s",
                 rows_per_s="rows/s", pipeline_s="s", stored_bytes_ratio="ratio")
    print(f"# {a.workload} seed={a.seed} cores={result['env']['cores']} "
          f"loadavg={result['env']['loadavg_before'][0]:.2f}->{result['env']['loadavg_after'][0]:.2f}")
    for k, v in sorted(values.items()):
        print(f"{k:48s} {v:16.6g} {units.get(k, '')}")
    if not a.trace:
        print(f"{'latency_tail_pct':48s} {result['latency_tail_pct']:16.4g} % "
              f"of {result['latency_samples']} samples")
    else:
        print("# not reached by this workload, printed as 0:", " ".join(absent) or "-")
    untraced = os.path.join(CACHE, "results", f"{a.workload}-s{a.seed}-t0.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]["latency_geomean_s"]
        print(f"{'tracing_overhead_s':48s} {values['trace.latency_geomean_s'] - base:16.6g} s "
              "(traced minus untraced geometric-mean latency, same seed)")
    for e in result["errors"]:
        print("error:", e)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
