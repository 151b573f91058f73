"""Aggregation operators (SURVEY §2.5 A1-A5 plus the GROUP BY / window /
top-k surface the reference's star schema exists to serve).

Scale notes baked into each operator:
- groupBy on a DataFrame gets map-side partial aggregation for free (the
  physical plan is HashAggregate(partial) -> shuffle on keys ->
  HashAggregate(final)); low-cardinality keys like (returnflag, linestatus)
  reduce to a handful of rows per partition before the shuffle, so the
  shuffle is O(groups x partitions), not O(rows) — this survives 100 TB.
- window/top-k shuffles once on the partition key; skewed keys are handled
  by AQE skew-join/partition splitting, and top-k avoids a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.caching import pin
from iowa_liquor_sales_spark.functions.sums import davg, dsum


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped rollup — the 'sales by category' analog of the Iowa
    star schema's purpose (SURVEY §2.5 note). One scan, one shuffle of
    pre-aggregated partials; the cutoff predicate is pushed into the
    parquet row-group scan by Catalyst."""
    return (
        lineitem.filter(F.to_date("l_shipdate") <= F.lit(cutoff))
        .withColumn("disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .withColumn("charge", F.col("disc_price") * (1 + F.col("l_tax")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2, "sum_qty"),
            dsum("l_extendedprice", 2, "sum_base_price"),
            dsum("disc_price", 4, "sum_disc_price"),
            dsum("charge", 6, "sum_charge"),
            davg("l_quantity", 2, "avg_qty"),
            davg("l_extendedprice", 2, "avg_price"),
            davg("l_discount", 2, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def distinct_dim(df: DataFrame, cols: list[str]) -> DataFrame:
    """SELECT DISTINCT dimension extraction (reference A1,
    IowaLiquor-RDS.session.sql:85-156). Catalyst rewrites distinct into a
    partial+final hash aggregate — dim cardinality rows cross the wire."""
    return df.select(*cols).distinct()


def count_star(df: DataFrame) -> DataFrame:
    """COUNT(*) verification (reference A3/A4, tests/test_load.py:14)."""
    return df.agg(F.count(F.lit(1)).alias("n"))


def cube_summary(df: DataFrame, keys: list[str], measure: str, scale: int = 2) -> DataFrame:
    """CUBE over the keys with deterministic sums — the multi-grain rollup
    (all subtotal combinations) the star schema's analytics call for.
    Catalyst expands the cube via Expand + one hash aggregate: a single
    shuffle regardless of how many grouping sets."""
    return df.cube(*keys).agg(
        dsum(measure, scale, f"sum_{measure}"),
        F.count(F.lit(1)).alias("n"),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Deterministic top-k per group via row_number (callers must pass a
    total order — include a unique tiebreak column). Spark plans this as a
    single shuffle on ``group_cols`` + per-partition sort; no global sort,
    so it scales with the largest group, not the table."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .withColumn(rank_col, F.col(rank_col).cast("int"))
    )


def running_total(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    measure: str,
    scale: int = 2,
    alias: str = "running_sum",
) -> DataFrame:
    """Cumulative sum with an explicit ROWS frame (deterministic given a
    total order) and exact decimal accumulation cast back to double."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        alias,
        F.sum(F.col(measure).cast(f"decimal(18,{scale})")).over(w).cast("double"),
    )


def skyline_2d(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group 2-D skyline (Pareto frontier, maximize both): keep rows
    no other row in the group weakly dominates (>= in both dims, > in at
    least one).

    Window form, not the O(n²) EXISTS self-join: within each group,
    a row survives iff (a) no row with strictly larger x has y >= ours
    (RANGE frame ending 1 PRECEDING under x DESC gives exactly the
    strictly-larger-x prefix), and (b) no same-x row has strictly larger
    y (a per-(group,x) MAX). Two window passes over one sort order —
    one shuffle by group, O(n log n) per group at any scale.
    """
    from pyspark.sql import Window

    w_higher_x = (
        Window.partitionBy(group_col)
        .orderBy(F.col(x_col).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same_x = Window.partitionBy(group_col, x_col)
    best_y_higher_x = F.max(y_col).over(w_higher_x)
    best_y_same_x = F.max(y_col).over(w_same_x)
    return (
        df.withColumn("_by_hx", best_y_higher_x)
        .withColumn("_by_sx", best_y_same_x)
        .filter(
            (F.col("_by_hx").isNull() | (F.col("_by_hx") < F.col(y_col)))
            & (F.col("_by_sx") <= F.col(y_col))
        )
        .drop("_by_hx", "_by_sx")
    )


def theil_sen_slope(
    series: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust trend estimator per group: the MEDIAN of all
    pairwise slopes (y_j - y_i)/(x_j - x_i), i < j — up to ~29% outlier
    contamination leaves the estimate unmoved, unlike OLS
    (``regr_slope``) which a single bad month drags arbitrarily.

    Pairwise enumeration is O(n²) PER SERIES by definition, so the
    operator expects pre-aggregated series (e.g. monthly rollups —
    bounded by the calendar, not the data volume); the self-join is
    keyed on the group column, never cross-group. Slopes are rounded to
    exact integers (``y`` should arrive integer-scaled, e.g. cents) so
    the median interpolates two ints — exact in any engine.

    Returns (group, n_points, n_pairs, slope_median).
    """
    a = series.select(
        F.col(group_col).alias("g"),
        F.col(x_col).alias("x1"),
        F.col(y_col).alias("y1"),
    )
    b = series.select(
        F.col(group_col).alias("g"),
        F.col(x_col).alias("x2"),
        F.col(y_col).alias("y2"),
    )
    pairs = a.join(b, "g").filter(F.col("x1") < F.col("x2"))
    slope = F.round(
        (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")), 0
    ).cast("long")
    n_points = series.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    med = (
        pairs.withColumn("slope", slope)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.percentile("slope", F.lit(0.5)).alias("slope_median"),
        )
    )
    return med.join(n_points, "g").select(
        F.col("g").alias(group_col), "n_points", "n_pairs", "slope_median"
    )


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col,
    fracs: list[tuple[int, int]],
    tiebreak: list[str],
) -> DataFrame:
    """SQL-standard PERCENTILE_CONT over an exact-integer measure, computed
    as EXPLICIT order statistics with all-integer interpolation — the
    driver-hashable quantile form.

    For each fraction k/q (``fracs`` is a list of (k, q) pairs), the
    continuous-percentile index ``k*(n-1)/q`` is carried as the integer
    pair ``(k*(n-1) div q, k*(n-1) mod q)`` and the interpolation
    ``(q-r)*lo + r*hi`` is evaluated in exact int64, emitting
    ``value * q`` as ``q{k}_{q}_x{q}`` BIGINT. Native ``percentile()``
    over doubles interpolates with an engine-specific float formula —
    non-dyadic fractions (deciles!) are not binary-representable, so
    rounded float outputs can diverge per engine build.

    Scale shape: ONE ranking window pass per call (row_number + count
    over the group partition — hash-partitioned by group, never a global
    sort), then an O(groups * |fracs|) filter-aggregate. For q-grams of
    fractions over the same measure this beats |fracs| separate
    percentile aggregates at any corpus size.
    """
    from pyspark.sql import Window

    c = F.col(value_col) if isinstance(value_col, str) else value_col
    staged = df.select(
        F.col(group_col).alias("_g"), c.alias("_v"), *tiebreak
    ).select(
        "_g",
        "_v",
        F.row_number()
        .over(Window.partitionBy("_g").orderBy("_v", *tiebreak))
        .alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("_g")).alias("_n"),
    )
    keep = None
    aggs = []
    outs = [F.col("_g").alias(group_col)]
    for k, q in fracs:
        lo_rank = F.expr(f"{k} * (_n - 1) div {q}") + 1
        cond = (F.col("_rn") == lo_rank) | (F.col("_rn") == lo_rank + 1)
        keep = cond if keep is None else (keep | cond)
        r = (k * (F.col("_n") - 1)) % q
        name = f"q{k}_{q}"
        aggs += [
            F.max(F.when(F.col("_rn") == lo_rank, F.col("_v"))).alias(
                f"_{name}_lo"
            ),
            F.max(F.when(F.col("_rn") == lo_rank + 1, F.col("_v"))).alias(
                f"_{name}_hi"
            ),
            F.first(r).alias(f"_{name}_r"),
        ]
        outs.append(
            (
                (q - F.col(f"_{name}_r")) * F.col(f"_{name}_lo")
                + F.col(f"_{name}_r")
                * F.coalesce(F.col(f"_{name}_hi"), F.lit(0))
            ).alias(f"{name}_x{q}")
        )
    return staged.filter(keep).groupBy("_g").agg(*aggs).select(*outs)


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_ppm: int = 5000,
) -> DataFrame:
    """Pairwise association rules over baskets — support / confidence /
    lift (Agrawal & Srikant's Apriori measures, VLDB 1994, at rule
    length 2): for each directed item pair (ante → cons) co-occurring
    in a basket, how often the pair appears (support), how often cons
    follows given ante (confidence), and how much MORE often than
    independence predicts (lift). The market-basket / co-recommendation
    primitive; with items = token classes it doubles as a corpus
    co-occurrence-strength report.

    All-exact integer outputs: support/confidence in ppm by integral
    division; lift in 1e-6 units through a DECIMAL(38,0) product so
    ``n_xy · n_baskets · 1e6`` cannot wrap for any int64 counts (the
    DuckDB twin runs the same arithmetic in HUGEINT — engine-identical
    truncation).

    Scale shape: one distinct (basket, item) projection; the pair
    generation is a self-join ON THE BASKET KEY ONLY — fanout is
    Σ k_b·(k_b−1) over basket sizes k_b, the irreducible pair-instance
    count, never items × items — followed by a map-side-combinable
    (ante, cons) count. Before that self-join, the Apriori
    item-frequency prune (the downward-closure property: pair support
    ≤ either item's support, so an item with ``n_item * 1e6 div
    n_baskets < min_support_ppm`` provably cannot appear in any
    surviving rule) drops infrequent items from BOTH sides via one
    broadcast semi-join — lossless, and on a long-tail corpus it caps
    the Σk² fanout to frequent-item co-occurrences only. Item
    frequencies and the 1-row basket total attach as broadcasts. The
    pair-support filter prunes before the measure arithmetic.

    Returns (ante, cons, n_xy, support_ppm, confidence_ppm, lift_e6).
    """
    items = df.select(
        F.col(basket_col).alias("o"), F.col(item_col).alias("item")
    ).distinct()
    n_baskets = items.select(F.countDistinct("o").alias("n_baskets"))
    freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    frequent = (
        freq.join(F.broadcast(n_baskets))
        .filter(
            F.expr(f"n_item * 1000000 div n_baskets >= {int(min_support_ppm)}")
        )
        .select("item")
    )
    items = items.join(F.broadcast(frequent), "item", "left_semi")
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.item") != F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("ante"), F.col("b.item").alias("cons")
        )
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    joined = (
        pairs.join(
            F.broadcast(freq.withColumnsRenamed({"item": "ante", "n_item": "n_x"})),
            "ante",
        )
        .join(
            F.broadcast(freq.withColumnsRenamed({"item": "cons", "n_item": "n_y"})),
            "cons",
        )
        .join(F.broadcast(n_baskets))
        .withColumn("support_ppm", F.expr("n_xy * 1000000 div n_baskets"))
        .filter(F.col("support_ppm") >= min_support_ppm)
    )
    return joined.select(
        "ante",
        "cons",
        F.col("n_xy").cast("long").alias("n_xy"),
        F.col("support_ppm").cast("long").alias("support_ppm"),
        F.expr("n_xy * 1000000 div n_x").cast("long").alias("confidence_ppm"),
        F.expr(
            "CAST(CAST(n_xy AS DECIMAL(38,0)) * n_baskets * 1000000"
            " div (CAST(n_x AS DECIMAL(38,0)) * n_y) AS BIGINT)"
        ).alias("lift_e6"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    robust (monotone-invariant) companion to the exact-decimal Pearson
    aggregate: Pearson over TIE-CORRECTED average ranks.

    The scale trick is in the ranking: no row-level window ever runs,
    and the FACT is consumed exactly once — one map-side-combinable
    aggregate onto the O(distinct (x,y) pairs) count relation, from
    which BOTH columns' marginal count relations derive (optimization
    round 10: the old form re-ran the upstream three times — two rank
    aggregates + the row-level join-back — and shuffled full data rows
    twice to attach ranks; now every join and shuffle after the first
    aggregate is O(distinct), with the pair relation persisted for its
    three consumers). Each column's distinct-value counts get a
    DISTRIBUTED prefix sum in value order (:func:`.ranking.
    global_cumsum` — range shuffle + offsets, never a single-task
    ORDER BY window); the tie-corrected average rank of value v is then
    ``cum_before(v) + (cnt(v)+1)/2``, kept exact-integer by carrying
    DOUBLED ranks ``r2 = 2·cum_before + cnt + 1``. The correlation
    finishes as exact DECIMAL(38,0) moment sums WEIGHTED by the pair
    counts (Σ_rows f(x,y) = Σ_pairs cnt·f(x,y) — identical integers)
    with one double sqrt at the very end, floored to the ppb grid
    (identical IEEE sqrt in any engine given identical integer inputs).

    Returns one row: (n, spearman_ppb).
    """
    from pyspark import StorageLevel

    from .ranking import global_cumsum

    pc = pin(
        df.groupBy(
            F.col(x_col).alias("xv"), F.col(y_col).alias("yv")
        ).agg(F.count(F.lit(1)).cast("long").alias("pc")),
        StorageLevel.MEMORY_AND_DISK,
    )

    def ranks(col):
        cnt = pc.groupBy(F.col(col).alias("v")).agg(
            F.sum("pc").cast("long").alias("cnt")
        )
        cum = global_cumsum(cnt, ["v"], "cnt", out_col="cum")
        return cum.select(
            "v",
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1)
            .cast("long")
            .alias("r2"),
        )

    rx = ranks("xv").withColumnsRenamed({"v": "xv", "r2": "r2x"})
    ry = ranks("yv").withColumnsRenamed({"v": "yv", "r2": "r2y"})
    joined = pc.join(rx, "xv").join(ry, "yv").select(
        F.col("pc").cast("decimal(38,0)").alias("c"),
        F.col("r2x").cast("decimal(38,0)").alias("x"),
        F.col("r2y").cast("decimal(38,0)").alias("y"),
    )
    s = joined.agg(
        # coalesce keeps the empty-input contract of the old COUNT(*)
        # form: n = 0 (not NULL) when no rows exist.
        F.coalesce(
            F.sum("c"), F.lit(0).cast("decimal(38,0)")
        ).alias("n"),
        F.sum(F.col("c") * F.col("x")).alias("sx"),
        F.sum(F.col("c") * F.col("y")).alias("sy"),
        F.sum(F.col("c") * F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("c") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("c") * F.col("y") * F.col("y")).alias("syy"),
    )
    # corr = (nΣxy − ΣxΣy) / sqrt((nΣx²−Σx²)(nΣy²−Σy²)); numerator and
    # variance terms exact integers, ONE sqrt+division in double at the
    # end, floored to ppb.
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            )
            / F.sqrt(
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("spearman_ppb"),
    )


def gini_concentration(df: DataFrame, value_col: str) -> DataFrame:
    """Gini coefficient of a non-negative integer column — the corpus-
    balance scalar ("how concentrated is the token mass across
    documents/sources?") that a mixture designer tracks next to
    per-source caps: 0 = perfectly even, ->1 = one row holds everything.

    Grouped-distinct-value formula, never a row-level sort: with
    distinct values v (count c_v, mass cum-before P_v), the rank-sum
    S = sum_i i*x_i collapses per run of ties to
    v * (c*P + c*(c+1)/2), so the DOUBLED sum S2 = sum_v v*(2cP + c^2
    + c) is exact in DECIMAL(38,0) and G = (S2 - (n+1)*T) / (n*T) with
    T = sum(x). P comes from a DISTRIBUTED prefix sum over the
    O(distinct) count relation (:func:`.ranking.global_cumsum` — range
    shuffle + offsets, no single-task ORDER BY window). Reported on
    the ppm grid via truncating div (matches DuckDB ``//``).

    Note: within a tie run the rank assignment is arbitrary, but S2 is
    rank-assignment invariant (the run contributes v times the SUM of
    its ranks), so ties cost nothing.

    Returns one row: (n, total, gini_ppm).
    """
    from .ranking import global_cumsum

    c = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = global_cumsum(c, ["v"], "cnt", out_col="cum")
    s = cum.select(
        F.col("v").cast("decimal(38,0)").alias("v"),
        F.col("cnt").cast("decimal(38,0)").alias("c"),
        (F.col("cum") - F.col("cnt")).cast("decimal(38,0)").alias("p"),
    ).agg(
        F.sum(F.col("c")).alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("t"),
        F.sum(
            F.col("v")
            * (2 * F.col("c") * F.col("p") + F.col("c") * F.col("c")
               + F.col("c"))
        ).alias("s2"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("total"),
        F.expr("CAST(((s2 - (n + 1) * t) * 1000000) div (n * t) AS BIGINT)")
        .alias("gini_ppm"),
    )


def moments_report(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Higher-moment distribution report per group: mean, variance,
    skewness (g1 = m3/m2^1.5) and excess kurtosis (g2 = m4/m2² − 3)
    from ONE pass of exact raw power sums — the distribution-shape
    fingerprint a data monitor tracks beside the mean ("lengths grew a
    heavy right tail this batch" is a skewness alarm, not a mean
    alarm).

    Determinism: S1..S4 accumulate as exact DECIMAL(38,0); the central
    moment combinations A = n·S2−S1², B = n²·S3−3n·S1·S2+2S1³,
    C = n³·S4−4n²·S1·S3+6n·S1²·S2−3S1⁴ are exact integers; mean and
    variance finish with integral truncating division; skewness and
    kurtosis convert via the hi/lo int64 split (det_double — decimal→
    double casts are not cross-engine correctly rounded) and a
    fixed-shape ``+ - * / sqrt`` double formula, floor-scaled to 1e6
    (never ROUND of a double). One map-side-combinable aggregate;
    everything after is O(groups).
    """
    from ..functions.sums import det_double

    x = F.col(value_col).cast("decimal(38,0)")
    keys = [group_col] if group_col else []
    m = (df.groupBy(*keys) if keys else df.groupBy()).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m = m.select(
        *keys,
        "n",
        "s1",
        F.expr("n*s2 - s1*s1").alias("a"),
        F.expr("n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1").alias("b"),
        F.expr(
            "n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - s1*s1*s1*s1*3"
        ).alias("c"),
    )
    ad = det_double("a")
    return m.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((s1 * 1000) div n AS BIGINT)").alias("mean_milli"),
        F.expr("CAST((a * 1000) div (n * n) AS BIGINT)").alias(
            "var_milli"
        ),
        F.when(F.col("a") <= 0, F.lit(0))
        .otherwise(
            F.floor(
                det_double("b") / (F.sqrt(ad) * ad) * F.lit(1e6)
            ).cast("long")
        )
        .alias("skew_e6"),
        F.when(F.col("a") <= 0, F.lit(0))
        .otherwise(
            F.floor(
                (det_double("c") / ad / ad - F.lit(3.0)) * F.lit(1e6)
            ).cast("long")
        )
        .alias("kurt_e6"),
    )


def lorenz_deciles(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Lorenz curve by decile: rank rows by value ASCENDING, cut into
    ``n_bins`` equal-count bins, report each prefix's cumulative share
    of the total mass — the drill-down behind the Gini coefficient
    ("the bottom half of documents carries 12% of the tokens"), the
    concentration view a mixing dashboard shows beside the one-number
    Gini.

    The global rank rides the distributed ranker
    (:func:`~.ranking.global_row_number`); everything after is
    O(n_bins), and shares are exact via DECIMAL(38,0) cross-multiplied
    truncating division.

    Returns per bin: (bin, n, mass, cum_mass, cum_share_ppm).
    """
    from pyspark.sql import Window

    from .ranking import global_row_number

    d = df.select(
        F.col(value_col).cast("long").alias("_v"),
        F.col(id_col).alias("_id"),
    )
    rn = global_row_number(d, ["_v", "_id"], out_col="_rn")
    tot = rn.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_v").cast("decimal(38,0)").alias("_mass"),
    )
    binned = (
        rn.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"CAST((_rn - 1) * {n_bins} div _n AS INT)").alias(
                "bin"
            ),
            "_v",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").cast("decimal(38,0)").alias("mass"),
        )
    )
    wb = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        binned.select(
            "bin", "n", "mass", F.sum("mass").over(wb).alias("cum_mass")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            F.col("mass").cast("long").alias("mass"),
            F.col("cum_mass").cast("long").alias("cum_mass"),
            F.expr(
                "CAST(CASE WHEN _mass = 0 THEN 0"
                " ELSE (cum_mass * 1000000) div _mass END AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall rank correlation (tau-b, tie-corrected) between two
    columns of BOUNDED distinct cardinality — the O(n log n)-free,
    shuffle-once companion to :func:`spearman_corr`.

    Scale contract: the pair counting NEVER touches row pairs. One
    map-side-combinable ``groupBy(x, y)`` collapses the data to the
    O(|X|·|Y|) contingency-cell relation; concordant/discordant mass is
    then a quadrant sum over CELL pairs (broadcast nested-loop over the
    tiny cell relation — cells², not rows²), and every product is an
    exact DECIMAL(38,0). Quantize continuous columns first (the same
    precondition the engine's AUC/reliability ops declare): tau over a
    quantized grid is exact tau of the quantized variables.

    tau_b = (C − D) / sqrt((n0 − tx)(n0 − ty)) with n0 = n(n−1)/2 and
    tx/ty the tied-pair counts per marginal; one double sqrt per factor
    at the very end (spearman convention), floored to the ppb grid.

    Returns one row: (n, concordant, discordant, tau_b_ppb).
    """
    cells = pin(
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    # Quadrant sum over cell pairs: x strictly increases; classify by y.
    # The cell relation is small by contract, so broadcast the build
    # side and let the nested-loop run cells x cells, never rows x rows.
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.x") < F.col("b.x")) & (F.col("a.y") != F.col("b.y")),
    ).agg(
        F.sum(
            F.when(
                F.col("a.y") < F.col("b.y"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("c"),
        F.sum(
            F.when(
                F.col("a.y") > F.col("b.y"),
                F.col("a.cnt") * F.col("b.cnt"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("d"),
    )
    marg_x = (
        cells.groupBy("x")
        .agg(F.sum("cnt").alias("cx"))
        .agg(
            F.sum(F.col("cx") * (F.col("cx") - 1)).alias("tx2"),
            F.sum("cx").cast("decimal(38,0)").alias("n"),
        )
    )
    marg_y = (
        cells.groupBy("y")
        .agg(F.sum("cnt").alias("cy"))
        .agg(F.sum(F.col("cy") * (F.col("cy") - 1)).alias("ty2"))
    )
    out = (
        pairs.crossJoin(F.broadcast(marg_x))
        .crossJoin(F.broadcast(marg_y))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
            # doubled tie counts keep everything integer: n0_2 = n(n-1),
            # tau_b = (C-D) / sqrt((n0_2-tx2)/2) / sqrt((n0_2-ty2)/2)
            F.floor(
                (F.col("c") - F.col("d")).cast("double")
                / F.sqrt(
                    (
                        F.col("n") * (F.col("n") - 1) - F.col("tx2")
                    ).cast("double")
                    / 2.0
                )
                / F.sqrt(
                    (
                        F.col("n") * (F.col("n") - 1) - F.col("ty2")
                    ).cast("double")
                    / 2.0
                )
                * 1e9
            )
            .cast("long")
            .alias("tau_b_ppb"),
        )
    )
    return out


def quadratic_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Closed-form degree-2 OLS fit y ~ b0 + b1·x + b2·x² — curvature
    detection for trend series (is growth accelerating or saturating?),
    the one question :func:`theil_sen_slope` and the rolling linear
    slopes can't answer. Callers pass integer-gridded columns (day
    index, cents) per the house quantize contract.

    One combinable aggregate pass collects the seven exact
    DECIMAL(38,0) moments (n, Σx..Σx⁴, Σy, Σxy, Σx²y); the 3×3 normal
    equations are solved by Cramer's rule in DOUBLE (the determinant
    products overflow any fixed decimal; identical integer inputs →
    identical IEEE arithmetic in any engine), coefficients on the ppm
    floor grid.

    Returns one row: (n, b0_ppm, b1_ppm, b2_ppm).
    """
    d = df.select(
        F.col(x_col).cast("decimal(38,0)").alias("x"),
        F.col(y_col).cast("decimal(38,0)").alias("y"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("sx3"),
        F.sum(
            F.col("x") * F.col("x") * F.col("x") * F.col("x")
        ).alias("sx4"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x") * F.col("y")).alias("sx2y"),
    )
    # Cramer's rule on [[n,sx,sx2],[sx,sx2,sx3],[sx2,sx3,sx4]] — every
    # 2x2 minor and the final det in double, same shape both engines.
    md = m.select(
        *[F.col(c).cast("double").alias(c) for c in
          ("n", "sx", "sx2", "sx3", "sx4", "sy", "sxy", "sx2y")]
    )
    det = (
        F.col("n") * (F.col("sx2") * F.col("sx4") - F.col("sx3") * F.col("sx3"))
        - F.col("sx") * (F.col("sx") * F.col("sx4") - F.col("sx3") * F.col("sx2"))
        + F.col("sx2") * (F.col("sx") * F.col("sx3") - F.col("sx2") * F.col("sx2"))
    )
    det0 = (
        F.col("sy") * (F.col("sx2") * F.col("sx4") - F.col("sx3") * F.col("sx3"))
        - F.col("sx") * (F.col("sxy") * F.col("sx4") - F.col("sx3") * F.col("sx2y"))
        + F.col("sx2") * (F.col("sxy") * F.col("sx3") - F.col("sx2") * F.col("sx2y"))
    )
    det1 = (
        F.col("n") * (F.col("sxy") * F.col("sx4") - F.col("sx2y") * F.col("sx3"))
        - F.col("sy") * (F.col("sx") * F.col("sx4") - F.col("sx3") * F.col("sx2"))
        + F.col("sx2") * (F.col("sx") * F.col("sx2y") - F.col("sxy") * F.col("sx2"))
    )
    det2 = (
        F.col("n") * (F.col("sx2") * F.col("sx2y") - F.col("sxy") * F.col("sx3"))
        - F.col("sx") * (F.col("sx") * F.col("sx2y") - F.col("sxy") * F.col("sx2"))
        + F.col("sy") * (F.col("sx") * F.col("sx3") - F.col("sx2") * F.col("sx2"))
    )
    return md.select(
        F.col("n").cast("long").alias("n"),
        F.floor(det0 / det * 1e6).cast("long").alias("b0_ppm"),
        F.floor(det1 / det * 1e6).cast("long").alias("b1_ppm"),
        F.floor(det2 / det * 1e6).cast("long").alias("b2_ppm"),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-k order
    statistics: alpha_hat = k / Σ_{i<=k} ln(x_(i) / x_(k)) — the
    heavy-tail diagnostic (finite variance? finite mean?) for degree,
    revenue, or token-frequency distributions; the quantitative
    companion to the Zipf-slope fit (alpha relates to the Zipf
    exponent on the same data).

    Scale shape: the ONLY global structure needed is the top-k, which
    Spark executes as TakeOrderedAndProject (per-partition prune, no
    global sort); the log-ratio sum then runs over k rows with each
    ln floored to the 1e-6 grid before the exact integer sum (zipf
    convention — one libm ln per row, wobble absorbed by the grid).

    Returns one row: (k, x_k, alpha_ppm).
    """
    from pyspark.sql import Window

    top = df.select(
        F.col(value_col).cast("long").alias("x")
    ).orderBy(F.col("x").desc()).limit(int(k))
    wall = Window.orderBy(F.col("x").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_min = top.select(
        "x", F.min("x").over(wall).alias("xk")
    )
    s = with_min.select(
        "xk",
        F.floor(
            (
                F.log(F.col("x").cast("double"))
                - F.log(F.col("xk").cast("double"))
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_e6"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("xk").cast("long").alias("x_k"),
        F.sum("lr_e6").cast("decimal(38,0)").alias("slr"),
    )
    return s.select(
        "k",
        "x_k",
        F.expr(
            "CASE WHEN slr > 0 THEN"
            " CAST((CAST(k AS DECIMAL(38,0)) * 1000000 * 1000000)"
            " div slr AS BIGINT) ELSE NULL END"
        ).alias("alpha_ppm"),
    )


def knee_point(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kneedle-style knee/elbow detection (Satopää et al. 2011,
    difference-curve form) over a small monotone curve relation — the
    "where does the curve stop paying" picker for every tuning curve
    this engine emits (recall-vs-nprobe, Lorenz share, dup-rate vs
    shingle size, cluster-count scree): normalize x and y to [0, 1]
    and take the point maximizing y_norm − x_norm.

    Exact integers via cross-multiplication: with spans dx = x_max −
    x_min and dy = y_max − y_min, the difference at point i is
    ((y_i − y_min)·dx − (x_i − x_min)·dy) — compared WITHOUT division
    in DECIMAL(38,0); ties break to the smaller x. The curve relation
    is O(points) by contract (it is itself an aggregate), so the two
    windows are trivial.

    Returns one row: (knee_x, knee_y, score_e6) where score_e6 is the
    normalized difference floored to 1e-6.
    """
    from pyspark.sql import Window

    wall = Window.partitionBy()
    d = df.select(
        F.col(x_col).cast("decimal(38,0)").alias("x"),
        F.col(y_col).cast("decimal(38,0)").alias("y"),
    ).select(
        "x",
        "y",
        F.min("x").over(wall).alias("xmin"),
        F.max("x").over(wall).alias("xmax"),
        F.min("y").over(wall).alias("ymin"),
        F.max("y").over(wall).alias("ymax"),
    )
    scored = d.select(
        "x",
        "y",
        (
            (F.col("y") - F.col("ymin")) * (F.col("xmax") - F.col("xmin"))
            - (F.col("x") - F.col("xmin"))
            * (F.col("ymax") - F.col("ymin"))
        ).alias("num"),
        ((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin")))
        .alias("den"),
    )
    w = Window.orderBy(F.col("num").desc(), F.col("x").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("x").cast("long").alias("knee_x"),
            F.col("y").cast("long").alias("knee_y"),
            F.expr(
                "CASE WHEN den = 0 THEN 0"
                " ELSE CAST((num * 1000000) div den AS BIGINT) END"
            ).alias("score_e6"),
        )
    )
