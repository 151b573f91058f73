"""Bounded-state sketch aggregates for the interactive path at corpus
scale.

Exact COUNT(DISTINCT) over 100 TB shuffles every distinct key
(`q_count_distinct` does it exactly when that is affordable). The sketch
alternative here is KMV (k-minimum-values, the bottom-k theta sketch):
keep the k smallest distinct hash values ever seen; the k-th smallest
min estimates the distinct count as ``(k-1) / kth_min_normalized``.
Standard error ~ 1/sqrt(k-2) (~3% at k=1024).

Unlike HLL-style built-ins (``approx_count_distinct``), this sketch is
built on the engine's portable md5 hash (:mod:`..functions.hashing`), so
its output is BIT-IDENTICAL across engines and the driver's DuckDB oracle
can check it exactly — an approximate operator with an exact correctness
gate.

Scale shape: one ``mapInPandas`` pass keeps O(k) state per task and emits
<= k rows per partition (numpy over hashed int64s — no Python-per-row
cost), a single k-row-per-partition shuffle to one task merges, done.
No shuffle of the distinct key domain ever happens. The per-partition
sketches are trivially mergeable — the same combine step serves
partition-parallel, day-over-day incremental, or cross-table union
estimates (:func:`kmv_union_estimate`).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.functions.hashing import hash60

_TWO60 = float(2**60)


def _kmins_pass(k: int):
    """mapInPandas stage: distinct k smallest `h` across the partition."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = np.empty(0, dtype=np.int64)
        for pdf in batches:
            hs = pdf["h"].to_numpy(dtype=np.int64)
            best = np.unique(np.concatenate([best, hs]))[:k]
        yield pd.DataFrame({"h": best})

    return run


def kmv_kmins(df: DataFrame, expr: Column | str, k: int = 1024) -> DataFrame:
    """The sketch itself: k smallest distinct hash60 values of ``expr``
    (fewer if the input has fewer distincts). Mergeable: union two
    sketches and re-take the k smallest."""
    c = F.col(expr) if isinstance(expr, str) else expr
    hashed = df.select(hash60(c.cast("string")).alias("h"))
    partial = hashed.mapInPandas(_kmins_pass(k), "h long")
    return partial.repartition(1).mapInPandas(_kmins_pass(k), "h long")


def _estimate(kmins: DataFrame, k: int) -> DataFrame:
    # Exact when the domain is smaller than k (the sketch saw everything);
    # (k-1) * 2^60 / kth_min otherwise. Both engines evaluate the same
    # double expression tree -> bit-identical.
    return kmins.agg(
        F.count(F.lit(1)).alias("n_mins"), F.max("h").alias("kth_min")
    ).select(
        F.when(F.col("n_mins") < k, F.col("n_mins").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(_TWO60) / F.col("kth_min").cast("double")
        )
        .alias("est_distinct")
    )


def kmv_distinct_estimate(
    df: DataFrame, expr: Column | str, k: int = 1024
) -> DataFrame:
    """1-row DataFrame ``(est_distinct double)``."""
    return _estimate(kmv_kmins(df, expr, k), k)


def kmv_union_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int = 1024
) -> DataFrame:
    """Distinct-count estimate of A ∪ B from the two sketches alone —
    no rescan of either input (the mergeability that makes sketches
    usable as pre-aggregated warehouse columns)."""
    merged = (
        sketch_a.unionByName(sketch_b)
        .repartition(1)
        .mapInPandas(_kmins_pass(k), "h long")
    )
    return _estimate(merged, k)


def theta_anotb_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int = 1024
) -> DataFrame:
    """Theta-sketch A-NOT-B: distinct-count estimate of A \\ B from the two
    KMV sketches alone (Dasgupta et al., "Theta Sketch Framework") — the
    set-difference companion to :func:`kmv_union_estimate` and
    :func:`hll_overlap`. θ = min(θ_A, θ_B) where a sketch that saw its
    whole domain (fewer than k mins) has θ = 2^60; A's retained hashes
    below θ that are absent from B each witness 2^60/θ distinct values,
    so the estimate is ``|{h ∈ A : h < θ, h ∉ B}| · 2^60 / θ`` — exact
    whenever both domains fit in k.

    Scale shape: two 1-row θ aggregates broadcast-crossed onto A's O(k)
    min-set, one O(k) vs O(k) anti-join — never rescans either input.
    hash60 is md5-derived, so the whole computation is engine-portable
    and the DuckDB oracle (:func:`theta_anotb_sql`) checks identical bits.
    """
    two60 = 1 << 60
    theta_a = sketch_a.agg(
        F.when(F.count(F.lit(1)) < k, F.lit(two60).cast("long"))
        .otherwise(F.max("h"))
        .alias("theta_a")
    )
    theta_b = sketch_b.agg(
        F.when(F.count(F.lit(1)) < k, F.lit(two60).cast("long"))
        .otherwise(F.max("h"))
        .alias("theta_b")
    )
    survivors = (
        sketch_a.join(sketch_b, "h", "left_anti")
        .crossJoin(F.broadcast(theta_a))
        .crossJoin(F.broadcast(theta_b))
        .withColumn("theta", F.least("theta_a", "theta_b"))
        .filter(F.col("h") < F.col("theta"))
    )
    return survivors.agg(
        F.count(F.lit(1)).alias("n_surv"),
        F.first("theta").alias("theta"),
    ).select(
        F.when(F.col("n_surv") == 0, F.lit(0.0))
        .otherwise(
            F.col("n_surv").cast("double")
            * F.lit(float(two60))
            / F.col("theta").cast("double")
        )
        .alias("est_anotb")
    )


def theta_anotb_sql(
    expr_a: str, table_a: str, expr_b: str, table_b: str, k: int
) -> str:
    """DuckDB rendering of :func:`theta_anotb_estimate` (exact sorts; the
    oracle needs identical bits, not the bounded-state plan)."""

    def mins(expr: str, table: str) -> str:
        return (
            "SELECT DISTINCT CAST(('0x' || substr(md5(CAST(("
            f"{expr}) AS VARCHAR)), 1, 15)) AS BIGINT) AS h "
            f"FROM {table} ORDER BY h LIMIT {k}"
        )

    two60 = 1 << 60
    return f"""
        WITH mins_a AS ({mins(expr_a, table_a)}),
        mins_b AS ({mins(expr_b, table_b)}),
        thetas AS (
          SELECT
            (SELECT CASE WHEN COUNT(*) < {k} THEN CAST({two60} AS BIGINT)
                         ELSE MAX(h) END FROM mins_a) AS theta_a,
            (SELECT CASE WHEN COUNT(*) < {k} THEN CAST({two60} AS BIGINT)
                         ELSE MAX(h) END FROM mins_b) AS theta_b),
        surv AS (
          SELECT a.h, least(t.theta_a, t.theta_b) AS theta
          FROM mins_a a CROSS JOIN thetas t
          WHERE a.h < least(t.theta_a, t.theta_b)
            AND a.h NOT IN (SELECT h FROM mins_b))
        SELECT CASE WHEN COUNT(*) = 0 THEN 0.0
                    ELSE CAST(COUNT(*) AS DOUBLE)
                         * CAST({float(two60)!r} AS DOUBLE)
                         / CAST(MIN(theta) AS DOUBLE)
               END AS est_anotb
        FROM surv"""


def _cm_cells(key: Column, depth: int, width: int) -> Column:
    """array<struct<depth,bucket>> of the sketch cells a key maps to."""
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("depth"),
                F.pmod(hash60(F.concat(F.lit(f"{d}:"), key)), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def countmin_counters(
    df: DataFrame, expr: Column | str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch counter table ``(depth int, bucket int, cnt long)``.

    Frequency sketch with the same portability contract as KMV: buckets
    come from the md5-based ``hash60`` over a per-row salt ``"{d}:"``, so
    the counter table is bit-identical in any engine and the DuckDB
    oracle checks it exactly (``q_countmin``).

    Scale shape: the explode fans each row out to ``depth`` cells, but the
    following aggregate is map-side combinable, so every task emits at
    most ``depth * width`` rows (1024 by default) regardless of input
    size — the shuffle never carries the key domain, exactly like KMV.
    Counter tables from disjoint inputs merge by summing cells
    (:func:`countmin_merge`), serving incremental day-over-day builds.

    ``explode_outer`` + non-null filter (not plain ``explode``) per the
    InferFiltersFromGenerate engine invariant: the inferred
    ``size(arr) > 0`` filter would re-inline all ``depth`` md5 calls.
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    cells = (
        df.select(c.cast("string").alias("k"))
        .select(F.explode_outer(_cm_cells(F.col("k"), depth, width)).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    return cells.select("s.depth", "s.bucket").groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def countmin_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two counter tables built with the same (depth, width)."""
    return (
        a.unionByName(b)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def countmin_lookup(
    counters: DataFrame,
    keys: DataFrame,
    expr: Column | str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates ``(k string, est long)``: min over the
    key's cells. Never underestimates; overestimates decay as
    ``e * n / width`` with probability ``1 - e^-depth``. The counter
    table is tiny (``depth * width`` rows) and broadcast."""
    c = F.col(expr) if isinstance(expr, str) else expr
    probes = (
        keys.select(c.cast("string").alias("k"))
        .distinct()
        .select(
            "k", F.explode_outer(_cm_cells(F.col("k"), depth, width)).alias("s")
        )
        .filter(F.col("s").isNotNull())
        .select("k", "s.depth", "s.bucket")
    )
    return (
        probes.join(F.broadcast(counters), ["depth", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def countmin_sql(expr: str, table: str, depth: int, width: int) -> str:
    """DuckDB rendering of :func:`countmin_counters` (bit-identical)."""
    return f"""
        WITH st AS (
          SELECT CAST(d.depth AS INTEGER) AS depth,
                 CAST(CAST(('0x' || substr(md5(
                        CAST(d.depth AS VARCHAR) || ':'
                        || CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT)
                      % {width} AS INTEGER) AS bucket
          FROM {table}
          CROSS JOIN (SELECT unnest(range({depth})) AS depth) d)
        SELECT depth, bucket, COUNT(*) AS cnt
        FROM st GROUP BY depth, bucket"""


def _mg_compress(counts, k: int):
    """Compress an exact/partial counter dict (pandas Series) to a valid
    Misra-Gries summary of at most k counters: subtract the (k+1)-th
    largest weight from everything, drop non-positives. Equivalent to
    running the streaming decrements in bulk (Agarwal et al., 'Mergeable
    summaries', PODS'12)."""
    if len(counts) <= k:
        return counts
    cut = counts.nlargest(k + 1).iloc[k]
    out = counts - cut
    return out[out > 0]


def _mg_pass(k: int):
    """mapInPandas stage: Misra-Gries summary of the partition. Per batch
    the exact counts come from vectorized value_counts; batches merge by
    summed counters + compress — never more than ~2k live counters."""
    import pandas as pd

    def run(batches):
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["k"].value_counts()
            acc = _mg_compress(acc.add(vc, fill_value=0).astype("int64"), k)
        if len(acc):
            yield pd.DataFrame({"k": acc.index, "w": acc.to_numpy()})

    return run


def misra_gries(df: DataFrame, expr: Column | str, k: int = 64) -> DataFrame:
    """Misra-Gries heavy-hitter summary ``(k string, w long)``: at most
    ``k`` counters, each undercounting its key's true frequency by at most
    ``n/(k+1)``. Every key with frequency > n/(k+1) is guaranteed present.

    Scale shape: one mapInPandas pass with O(k) state per task emits <= k
    rows per partition; the partial summaries merge by per-key weight sum
    (map-side combinable groupBy) followed by one final compress to k.
    The shuffle carries at most ``partitions * k`` rows, never the key
    domain — the heavy-hitter analog of the KMV/Count-Min contract above.
    When ``k`` >= the true distinct count no decrement ever fires and the
    summary IS the exact frequency table, which is how the driver's
    DuckDB oracle checks it exactly (``q_heavy_hitters``).
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    partial = df.select(c.cast("string").alias("k")).mapInPandas(
        _mg_pass(k), "k string, w long"
    )
    summed = partial.groupBy("k").agg(F.sum("w").alias("w"))
    return summed.repartition(1).mapInPandas(_mg_pass_weighted(k), "k string, w long")


def _mg_pass_weighted(k: int):
    """Final merge: the incoming rows are (key, weight) partials, not raw
    occurrences — aggregate weights then compress once."""
    import pandas as pd

    def run(batches):
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf.groupby("k")["w"].sum()
            acc = acc.add(vc, fill_value=0).astype("int64")
        acc = _mg_compress(acc, k)
        if len(acc):
            yield pd.DataFrame({"k": acc.index, "w": acc.to_numpy()})

    return run


def grid_quantiles(
    df: DataFrame,
    expr: Column | str,
    percentiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Mergeable quantile sketch on an integer grid: bucket every value to
    ``floor(value)``, keep per-bucket counts (the sketch — O(distinct
    buckets) state, merges by summing), finalize with a cumulative-count
    scan. The reported quantile is exact at grid resolution — and being
    pure integer arithmetic, bit-identical to the DuckDB oracle
    (``q_grid_quantiles``), unlike t-digest/GK which are
    implementation-defined.

    Scale shape: the heavy pass is a map-side-combinable groupBy whose
    shuffle is bounded by bucket cardinality — the value domain at grid
    resolution (~130k buckets for sf0.1 order totals), not the row
    count. The finalize window runs over that histogram only (single
    partition BY DESIGN — it is sketch finalization, like KMV's merge
    task, not a data-sized sort; coarsen the grid if the value domain
    itself is huge).
    """
    from pyspark.sql.window import Window

    c = F.col(expr) if isinstance(expr, str) else expr
    hist = (
        df.select(F.floor(c).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    qs = df.sparkSession.createDataFrame(
        [(q,) for q in percentiles], "q int"
    )
    return (
        cum.join(
            F.broadcast(qs), F.col("cum") * 100 >= F.col("q") * F.col("total")
        )
        .groupBy("q")
        .agg(F.min("bucket").alias("bucket"))
        .orderBy("q")
    )


def grid_quantiles_sql(
    expr: str, table: str, percentiles: tuple[int, ...] = (50, 90, 99)
) -> str:
    """DuckDB rendering of :func:`grid_quantiles` (bit-identical)."""
    qvals = " UNION ALL ".join(f"SELECT {q} AS q" for q in percentiles)
    return f"""
        WITH h AS (
          SELECT CAST(FLOOR({expr}) AS BIGINT) AS bucket, COUNT(*) AS cnt
          FROM {table} GROUP BY 1),
        cum AS (
          SELECT bucket,
                 SUM(cnt) OVER (ORDER BY bucket) AS cum,
                 SUM(cnt) OVER () AS total
          FROM h),
        qs AS ({qvals})
        SELECT q, MIN(bucket) AS bucket
        FROM cum JOIN qs ON cum * 100 >= q * total
        GROUP BY q ORDER BY q"""


def _alpha_eff(p: int) -> float:
    """The full HLL constant alpha_m * m^2 * 2^maxrho folded to ONE double
    in Python and injected into BOTH engines as the same literal — an
    in-engine constant ladder risks decimal-vs-double literal typing
    differences (DuckDB parses 0.7213 as DECIMAL(5,4))."""
    m = 1 << p
    maxrho = 61 - p
    return 0.7213 / (1.0 + 1.079 / float(m)) * float(m * m) * float(1 << maxrho)


def hll_registers(df: DataFrame, expr: Column | str, p: int = 8) -> DataFrame:
    """HyperLogLog register table over the portable md5 hash: bucket =
    low ``p`` bits of hash60, rho = leading-zero count of the remaining
    ``60 - p`` bits plus one (so rho in [1, 61 - p]). Output
    ``(bucket int, rho int)``, <= 2^p rows — the sketch itself, mergeable
    by ``GROUP BY bucket -> MAX(rho)`` across partitions, days, or tables.

    Unlike Spark's builtin ``approx_count_distinct`` (whose HLL++ registers
    are engine-private), every bit here reproduces in the DuckDB oracle:
    an approximate operator with an exact correctness gate.

    Scale shape: one scan, map-side partial MAX into at most 2^p groups,
    then a 2^p-row shuffle — state is O(2^p) per task no matter the input
    (the same contract as the KMV/Count-Min sketches above).
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    m = 1 << p
    wbits = 60 - p
    h = hash60(c.cast("string"))
    w = F.shiftright(h, p)
    rho = (
        F.when(w == 0, F.lit(wbits + 1))
        .otherwise(F.lit(wbits + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        df.select(
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(df: DataFrame, expr: Column | str, p: int = 8) -> DataFrame:
    """1-row ``(est_distinct double, n_buckets_used long)`` from the
    register table. The harmonic sum is computed in exact int64
    (``2^(maxrho - rho)`` per register, empty registers contribute
    ``2^maxrho``), so the only floating math is one literal-folded
    constant times one division — bit-identical on any partitioning and
    in the oracle. The raw HLL estimator (no small/large-range
    correction): stderr ~ 1.04/sqrt(2^p), ~6.5% at p=8."""
    m = 1 << p
    maxrho = 61 - p
    regs = hll_registers(df, expr, p)
    s = regs.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.expr(f"shiftleft(1L, {maxrho} - rho)")).alias("hp"),
    )
    hsum = (F.col("hp") + (F.lit(m) - F.col("nb")) * F.lit(1 << maxrho)).cast(
        "double"
    )
    return s.select(
        (F.lit(_alpha_eff(p)) / hsum).alias("est_distinct"),
        F.col("nb").cast("long").alias("n_buckets_used"),
    )


def hll_sql(expr: str, table: str, p: int = 8) -> str:
    """DuckDB rendering of :func:`hll_estimate` (bit-identical: same
    integer harmonic sum, same literal constant expression tree)."""
    m = 1 << p
    maxrho = 61 - p
    big = 1 << maxrho
    return f"""
        WITH h AS (
          SELECT CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM {table}),
        regs AS (
          SELECT h % {m} AS bucket,
                 MAX(CASE WHEN h // {m} = 0 THEN {maxrho}
                          ELSE {maxrho} - length(bin(h // {m})) END) AS rho
          FROM h GROUP BY bucket),
        s AS (
          SELECT COUNT(*) AS nb,
                 CAST(SUM(CAST(1 AS BIGINT) << ({maxrho} - rho)) AS BIGINT) AS hp
          FROM regs)
        SELECT {_alpha_eff(p)!r}
                   / CAST(hp + ({m} - nb) * {big} AS DOUBLE)
               AS est_distinct,
               CAST(nb AS BIGINT) AS n_buckets_used
        FROM s"""


def _hll_estimate_expr(regs: DataFrame, name: str, p: int) -> DataFrame:
    """1-row raw-HLL estimate from a register table (same expression tree
    as :func:`hll_estimate`, kept bit-identical for the SQL oracle)."""
    m = 1 << p
    maxrho = 61 - p
    s = regs.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.expr(f"shiftleft(1L, {maxrho} - rho)")).alias("hp"),
    )
    hsum = (F.col("hp") + (F.lit(m) - F.col("nb")) * F.lit(1 << maxrho)).cast(
        "double"
    )
    return s.select((F.lit(_alpha_eff(p)) / hsum).alias(name))


def hll_overlap(
    df_a: DataFrame,
    expr_a: Column | str,
    df_b: DataFrame,
    expr_b: Column | str,
    p: int = 8,
) -> DataFrame:
    """Set-overlap estimation between two keyed relations WITHOUT joining
    them: |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion-exclusion,
    where est(A∪B) comes from MERGING the two register tables
    (``GROUP BY bucket -> MAX(rho)``) — the defining property of HLL.

    This is the 100 TB way to ask "how much do these two corpora/key
    spaces overlap": each side is one scan producing O(2^p) rows of
    state; the merge and all three estimates are arithmetic over <= 2·2^p
    rows. No shuffle of either input against the other, ever — compare a
    distinct-join which shuffles both sides end to end.

    Returns 1 row ``(est_a, est_b, est_union, est_intersect)``; every
    register bit and constant reproduces in the DuckDB oracle
    (:func:`hll_overlap_sql`). Raw-HLL stderr ~1.04/sqrt(2^p) per term.
    """
    ra = hll_registers(df_a, expr_a, p)
    rb = hll_registers(df_b, expr_b, p)
    ru = ra.unionAll(rb).groupBy("bucket").agg(F.max("rho").alias("rho"))
    ea = _hll_estimate_expr(ra, "est_a", p)
    eb = _hll_estimate_expr(rb, "est_b", p)
    eu = _hll_estimate_expr(ru, "est_union", p)
    out = ea.crossJoin(eb).crossJoin(eu)
    return out.select(
        F.floor(F.col("est_a") * F.lit(1e6)).cast("long").alias("est_a_micro"),
        F.floor(F.col("est_b") * F.lit(1e6)).cast("long").alias("est_b_micro"),
        F.floor(F.col("est_union") * F.lit(1e6))
        .cast("long")
        .alias("est_union_micro"),
        F.floor(
            (F.col("est_a") + F.col("est_b") - F.col("est_union")) * F.lit(1e6)
        )
        .cast("long")
        .alias("est_intersect_micro"),
    )


def hll_overlap_sql(
    expr_a: str, table_a: str, expr_b: str, table_b: str, p: int = 8
) -> str:
    """DuckDB rendering of :func:`hll_overlap` — same registers, same
    harmonic sums, same constant expression tree, rounded identically."""
    m = 1 << p
    maxrho = 61 - p
    big = 1 << maxrho

    def regs(expr: str, table: str) -> str:
        return f"""
          SELECT h % {m} AS bucket,
                 MAX(CASE WHEN h // {m} = 0 THEN {maxrho}
                          ELSE {maxrho} - length(bin(h // {m})) END) AS rho
          FROM (SELECT CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 15))
                            AS BIGINT) AS h FROM {table})
          GROUP BY bucket"""

    def est(src: str, name: str) -> str:
        return f"""
          SELECT {_alpha_eff(p)!r}
                     / CAST(hp + ({m} - nb) * {big} AS DOUBLE) AS {name}
          FROM (SELECT COUNT(*) AS nb,
                       CAST(SUM(CAST(1 AS BIGINT) << ({maxrho} - rho)) AS BIGINT)
                         AS hp FROM {src})"""

    return f"""
        WITH ra AS ({regs(expr_a, table_a)}),
        rb AS ({regs(expr_b, table_b)}),
        ru AS (
          SELECT bucket, MAX(rho) AS rho FROM (
            SELECT * FROM ra UNION ALL SELECT * FROM rb
          ) GROUP BY bucket),
        r3 AS (
          SELECT ea.est_a, eb.est_b, eu.est_union
          FROM ({est('ra', 'est_a')}) ea, ({est('rb', 'est_b')}) eb,
               ({est('ru', 'est_union')}) eu)
        SELECT CAST(floor(est_a * 1000000.0) AS BIGINT) AS est_a_micro,
               CAST(floor(est_b * 1000000.0) AS BIGINT) AS est_b_micro,
               CAST(floor(est_union * 1000000.0) AS BIGINT)
                   AS est_union_micro,
               CAST(floor((est_a + est_b - est_union) * 1000000.0) AS BIGINT)
                   AS est_intersect_micro
        FROM r3"""


def countmin_join_size(
    df_a: DataFrame,
    expr_a: Column | str,
    df_b: DataFrame,
    expr_b: Column | str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Equi-join cardinality estimate WITHOUT executing the join — the
    Count-Min inner product (Cormode & Muthukrishnan '05):
    ``|R ⋈ S| ≈ min_d Σ_b cntR[d][b]·cntS[d][b]``. Never underestimates;
    the overestimate decays as ``|R|·|S|/width`` per collision cell.

    This is the planner-style primitive the optimizer itself wants at
    100 TB: each side reduces to an O(depth·width) counter table (one
    scan, map-side combinable — see :func:`countmin_counters`), and the
    estimate is an equi-join of two ~1k-row sketches. Neither input is
    ever shuffled against the other; sketches from prior days/tables can
    be :func:`countmin_merge`-d and re-estimated for free.

    Returns 1 row ``(est_join_size long)``; bit-exact in the oracle
    (:func:`countmin_join_size_sql`).
    """
    ca = countmin_counters(df_a, expr_a, depth, width)
    cb = countmin_counters(df_b, expr_b, depth, width)
    ip = (
        ca.select("depth", "bucket", F.col("cnt").alias("cnt_a"))
        .join(
            cb.select("depth", "bucket", F.col("cnt").alias("cnt_b")),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip"))
    )
    return ip.agg(F.min("ip").cast("long").alias("est_join_size"))


def countmin_join_size_sql(
    expr_a: str, table_a: str, expr_b: str, table_b: str,
    depth: int = 4, width: int = 256,
) -> str:
    """DuckDB rendering of :func:`countmin_join_size` (bit-identical)."""

    def counters(expr: str, table: str) -> str:
        return f"""
          SELECT depth, bucket, COUNT(*) AS cnt FROM (
            SELECT CAST(d.depth AS INTEGER) AS depth,
                   CAST(CAST(('0x' || substr(md5(
                          CAST(d.depth AS VARCHAR) || ':'
                          || CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT)
                        % {width} AS INTEGER) AS bucket
            FROM {table}
            CROSS JOIN (SELECT unnest(range({depth})) AS depth) d)
          GROUP BY depth, bucket"""

    return f"""
        WITH ca AS ({counters(expr_a, table_a)}),
        cb AS ({counters(expr_b, table_b)}),
        ip AS (
          SELECT ca.depth, SUM(ca.cnt * cb.cnt) AS ip
          FROM ca JOIN cb ON ca.depth = cb.depth AND ca.bucket = cb.bucket
          GROUP BY ca.depth)
        SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip"""


def hll_sliding_distinct(
    df: DataFrame,
    day_col: str,
    expr: Column | str,
    window_days: int = 7,
    p: int = 6,
) -> DataFrame:
    """Trailing-window distinct count from MERGED daily HLL sketches —
    the "7-day active users per day" query that exact COUNT(DISTINCT)
    cannot serve at scale (it would re-scan 7 days of raw facts per
    output day). Here each day folds to a <= 2^p register table ONCE;
    the trailing window is a per-bucket MAX over an integer RANGE frame
    on O(days × 2^p) rows — sketch mergeability doing the heavy lifting,
    with raw-fact cost paid exactly once per day.

    Dataflow: daily registers (map-side MAX into day×2^p groups) →
    dense day×bucket grid (a narrow explode off the distinct-day list;
    needed so buckets silent on day d still window over [d-w+1, d]) →
    one per-bucket RANGE window → per-day harmonic sum in exact int64
    (the :func:`hll_estimate` expression tree, bit-identical in the
    oracle).

    Returns (day, est_distinct, n_buckets_used) per day present.
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    m = 1 << p
    wbits = 60 - p
    maxrho = 61 - p
    h = hash60(c.cast("string"))
    w0 = F.shiftright(h, p)
    rho = (
        F.when(w0 == 0, F.lit(wbits + 1))
        .otherwise(F.lit(wbits + 1) - F.length(F.bin(w0)))
        .cast("int")
    )
    regs = (
        df.select(
            F.col(day_col).alias("day"),
            h.bitwiseAND(F.lit(m - 1)).cast("int").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    grid = (
        regs.select("day")
        .distinct()
        .select(
            "day",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"),
        )
    )
    j = grid.join(regs, ["day", "bucket"], "left")
    win = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rangeBetween(-(window_days - 1), 0)
    )
    merged = j.select(
        "day", "bucket", F.max("rho").over(win).alias("wrho")
    )
    s = merged.groupBy("day").agg(
        F.count("wrho").alias("nb"),
        F.sum(F.expr(f"shiftleft(1L, {maxrho} - wrho)")).alias("hp"),
    )
    hsum = (F.col("hp") + (F.lit(m) - F.col("nb")) * F.lit(1 << maxrho)).cast(
        "double"
    )
    return s.select(
        "day",
        (F.lit(_alpha_eff(p)) / hsum).alias("est_distinct"),
        F.col("nb").cast("long").alias("n_buckets_used"),
    )


def hll_sliding_sql(
    day_expr: str,
    expr: str,
    table: str,
    window_days: int = 7,
    p: int = 6,
) -> str:
    """DuckDB rendering of :func:`hll_sliding_distinct` (bit-identical)."""
    m = 1 << p
    maxrho = 61 - p
    big = 1 << maxrho
    return f"""
        WITH e AS (
          SELECT {day_expr} AS day,
                 CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM {table}),
        regs AS (
          SELECT day, h % {m} AS bucket,
                 MAX(CASE WHEN h // {m} = 0 THEN {maxrho}
                          ELSE {maxrho} - length(bin(h // {m})) END) AS rho
          FROM e GROUP BY day, bucket),
        grid AS (
          SELECT day, unnest(range(0, {m})) AS bucket
          FROM (SELECT DISTINCT day FROM regs)),
        j AS (
          SELECT g.day, g.bucket, r.rho
          FROM grid g LEFT JOIN regs r
            ON g.day = r.day AND g.bucket = r.bucket),
        w AS (
          SELECT day,
                 MAX(rho) OVER (PARTITION BY bucket ORDER BY day
                                RANGE BETWEEN {window_days - 1} PRECEDING
                                AND CURRENT ROW) AS wrho
          FROM j),
        s AS (
          SELECT day, COUNT(wrho) AS nb,
                 CAST(SUM(CAST(1 AS BIGINT) << ({maxrho} - wrho))
                      AS BIGINT) AS hp
          FROM w GROUP BY day)
        SELECT day,
               {_alpha_eff(p)!r}
                   / CAST(hp + ({m} - nb) * {big} AS DOUBLE)
                 AS est_distinct,
               CAST(nb AS BIGINT) AS n_buckets_used
        FROM s"""


def ams_f2(
    df: DataFrame,
    expr: Column | str,
    groups: int = 3,
    per_group: int = 4,
) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch:
    F2 = Σ_key count(key)² — the self-join size / skew gauge — estimated
    WITHOUT shuffling the key domain. Each estimator keeps one running
    integer Z_i = Σ_rows sign_i(key) (sign_i = ±1 from the portable
    md5 hash), so the whole sketch is ``groups × per_group`` map-side-
    combinable SUMs: zero shuffle, O(d) state, mergeable across
    partitions/days by addition. E[Z²] = F2; variance is tamed
    median-of-means style (mean of ``per_group`` estimators per group,
    median across ``groups``).

    Exactness: Z_i, Z_i², the per-group sums, and the median are all
    integers; the group mean is kept SCALED (the 4-sum, never divided),
    so every emitted value is exact and engine-portable. The exact F2
    (one groupBy — the cost the sketch avoids) rides along as the audit
    column, with the relative error on an integral ppm grid.

    Hot-path cost: d md5 evaluations per row (JVM codegen, no Python).

    Returns one row: (f2_exact, ams_med_sum, err_ppm) where
    ams_med_sum is the median per-group sum of Z² (estimate × per_group).
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    key = c.cast("string")
    d = groups * per_group
    signs = [
        (
            F.pmod(hash60(F.concat(F.lit(f"ams{i}:"), key)), F.lit(2)) * 2
            - 1
        ).alias(f"s{i}")
        for i in range(d)
    ]
    z = df.select(*signs).agg(
        *[F.sum(f"s{i}").cast("long").alias(f"z{i}") for i in range(d)]
    )
    gsums = [
        sum(
            (F.col(f"z{g * per_group + j}") * F.col(f"z{g * per_group + j}")
             for j in range(per_group)),
            F.lit(0),
        ).cast("decimal(38,0)").alias(f"gs{g}")
        for g in range(groups)
    ]
    med = z.select(*gsums).select(
        F.array_sort(F.array(*[F.col(f"gs{g}") for g in range(groups)]))[
            groups // 2
        ].alias("ams_med_sum")
    )
    exact = (
        df.select(key.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
            ).alias("f2_exact")
        )
    )
    return exact.crossJoin(F.broadcast(med)).select(
        "f2_exact",
        "ams_med_sum",
        F.expr(
            "CAST((abs(ams_med_sum - 4 * f2_exact) * 1000000) div "
            "(4 * f2_exact) AS BIGINT)"
        ).alias("err_ppm"),
    )


def ams_f2(
    df: DataFrame,
    expr: Column | str,
    n_estimators: int = 9,
) -> DataFrame:
    """AMS (Alon–Matias–Szegedy 1996) second-frequency-moment sketch:
    F2 = Σ_x f_x² — the self-join size of the keyed relation, THE
    planning number for join sizing and skew detection — estimated in
    ONE pass with d independent ±1-hash estimators, each
    Z_i = Σ_rows sign_i(x) with E[Z_i²] = F2; the median of the d
    squares is the classic variance-reduced estimate.

    Everything is exact integers: signs come from the engine-portable
    md5 hash parity (``hash60(i || '|' || x) % 2``), each Z_i is an
    exact int64 sum (|Z| <= n), squares in DECIMAL(38,0), and the
    median of d values is the sort-free house median (rank over d
    rows). The exact F2 (one groupBy) is emitted next to the estimate
    so the query is its own error report.

    One data pass computes all d partial sums map-side (conditional
    sums in a single aggregate); the estimator relation is O(d).

    Returns one row: (n, n_estimators, f2_exact, f2_est, err_ppm).
    """
    c = expr if isinstance(expr, Column) else F.col(expr)
    keyed = df.select(c.cast("string").alias("x"))
    signs = keyed.select(
        "x",
        *[
            (
                1
                - 2
                * (
                    hash60(F.concat(F.lit(f"{i}|"), F.col("x")))
                    % F.lit(2)
                )
            )
            .cast("long")
            .alias(f"s{i}")
            for i in range(int(n_estimators))
        ],
    )
    z = signs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.col(f"s{i}")).cast("decimal(38,0)").alias(f"z{i}")
            for i in range(int(n_estimators))
        ],
    )
    ests = z.select(
        "n",
        F.explode(
            F.array(
                *[
                    (F.col(f"z{i}") * F.col(f"z{i}"))
                    .cast("long")
                    for i in range(int(n_estimators))
                ]
            )
        ).alias("est"),
    )
    # sort-free median over the O(d) estimator relation
    w = Window.orderBy("est", F.monotonically_increasing_id())
    d = int(n_estimators)
    med = (
        ests.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == (d + 1) // 2)
        .select("n", F.col("est").alias("f2_est"))
    )
    exact = keyed.groupBy("x").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("f")
    ).agg(
        F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact")
    )
    return med.crossJoin(F.broadcast(exact)).select(
        "n",
        F.lit(d).cast("int").alias("n_estimators"),
        "f2_exact",
        "f2_est",
        F.expr(
            "CAST(abs(f2_est - f2_exact) * 1000000 div f2_exact"
            " AS BIGINT)"
        ).alias("err_ppm"),
    )
