"""Quality operators + property-based checks (hypothesis) — the rigor the
reference lacks (SURVEY §5: no property tests anywhere in the repo)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from iowa_liquor_sales_spark.operators.joins import fk_violations, pk_duplicates
from iowa_liquor_sales_spark.operators.quality import not_null, rule_counts
from iowa_liquor_sales_spark.schemas import read_table

SF = "/root/testdata/sf0.001"

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_rule_counts_single_pass(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, -1.0, "X"), (3, None, "N")],
        ["id", "v", "flag"],
    )
    row = rule_counts(
        df,
        {
            "v_notnull": not_null("v"),
            "v_pos": F.col("v") > 0,
            "flag_domain": F.col("flag").isin("A", "N", "R"),
        },
    ).head()
    assert row["n_rows"] == 3
    assert row["viol_v_notnull"] == 1
    assert row["viol_v_pos"] == 2  # -1.0 fails, NULL counts as violation
    assert row["viol_flag_domain"] == 1
    # Single scan: exactly one aggregate over one FileScan/LocalScan.
    plan = rule_counts(df, {"v_pos": F.col("v") > 0})._jdf.queryExecution()
    assert plan.executedPlan().toString().count("Scan") <= 2  # partial+final


def test_unique_and_referential(spark):
    li = read_table(spark, SF, "lineitem")
    o = read_table(spark, SF, "orders")
    assert pk_duplicates(o, ["o_orderkey"]).count() == 0
    assert fk_violations(li, o, "l_orderkey", "o_orderkey").count() == 0


# ---- property-based: engine semantics hold for arbitrary inputs


@given(
    st.lists(
        st.one_of(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ).map(lambda x: round(x, 2)),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_decimal_sum_matches_exact_arithmetic(spark, xs):
    """dsum (decimal-exact sum cast to double) equals Python's exact
    Fraction arithmetic on 2-decimal inputs, for any partitioning."""
    from fractions import Fraction

    from iowa_liquor_sales_spark.functions.sums import dsum

    df = spark.createDataFrame([(x,) for x in xs], "v double").repartition(7)
    got = df.agg(dsum("v", 2, "s")).head()["s"]
    vals = [Fraction(round(x * 100)) / 100 for x in xs if x is not None]
    want = float(sum(vals)) if vals else None
    assert got == want


@given(st.text(alphabet="ab ", max_size=40))
@_settings
def test_shingles_match_python_reference(spark, text):
    """Spark shingling equals a trivial Python implementation for any
    space-separated text (incl. empty/short/degenerate runs)."""
    from iowa_liquor_sales_spark.operators.dedup import shingles

    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {r["shingle"] for r in shingles(df, "text", "doc_id", 3).collect()}
    ws = text.split(" ")
    want = {
        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
    } if len(ws) >= 3 else set()
    assert got == want


@given(
    st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=5),
)
@_settings
def test_topk_matches_sorted_prefix(spark, xs, k):
    from iowa_liquor_sales_spark.operators.aggregates import topk_per_group

    df = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate(xs)], ["g", "v", "id"]
    )
    got = [
        (r["v"], r["id"])
        for r in topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k)
        .orderBy("rnk")
        .collect()
    ]
    want = sorted(((v, i) for i, v in enumerate(xs)), key=lambda t: (-t[0], t[1]))[:k]
    assert got == want


@given(st.floats(min_value=-1e3, max_value=1e3, allow_nan=False))
@_settings
def test_try_cast_roundtrip(spark, x):
    """String round-trip of any double through try_cast is lossless."""
    df = spark.createDataFrame([(repr(x),)], ["s"])
    got = df.select(F.col("s").try_cast("double").alias("v")).head()["v"]
    assert got == x or (math.isnan(x) and math.isnan(got))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=20000),  # seconds offset
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@_settings
def test_sessionize_matches_python_reference(spark, events):
    """The batch sessionizer (lag + cumulative window) equals a direct
    Python implementation for arbitrary event layouts."""
    from pyspark.sql import Window

    gap = 1800
    df = spark.createDataFrame(
        [(u, i, 1_700_000_000_000_000 + s * 1_000_000) for i, (u, s) in enumerate(events)],
        "user_id long, event_id long, ts_us long",
    ).select("user_id", "event_id", F.timestamp_micros("ts_us").alias("ts"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = df.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap * 1_000_000),
            1,
        ).otherwise(0),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = {
        (r["user_id"], r["session_id"], r["n"])
        for r in flagged.withColumn("session_id", F.sum("new_session").over(wc))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    # Python reference.
    want = set()
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, s) in enumerate(events):
        by_user.setdefault(u, []).append((s * 1_000_000, i))
    for u, ts_list in by_user.items():
        ts_list.sort()
        sid, n, prev = 0, 0, None
        for t, _ in ts_list:
            if prev is None or t - prev > gap * 1_000_000:
                if n:
                    want.add((u, sid, n))
                sid, n = sid + 1, 1
            else:
                n += 1
            prev = t
        want.add((u, sid, n))
    assert got == want


@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False).map(
            lambda x: round(x, 2)
        ),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_running_total_matches_prefix_sums(spark, xs):
    from fractions import Fraction

    from iowa_liquor_sales_spark.operators.aggregates import running_total

    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "g string, i long, v double"
    )
    got = [
        r["running_sum"]
        for r in running_total(df, ["g"], ["i"], "v").orderBy("i").collect()
    ]
    acc, want = Fraction(0), []
    for x in xs:
        acc += Fraction(round(x * 100)) / 100
        want.append(float(acc))
    assert got == want


@given(
    keys=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    parts=st.integers(min_value=1, max_value=7),
)
@_settings
def test_global_row_number_matches_sorted_position(spark, keys, parts):
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    out = global_row_number(df, ["k"], num_partitions=parts).collect()
    expected = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert {r["k"]: r["rn"] for r in out} == expected


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_skyline_matches_brute_force(spark, pts):
    from iowa_liquor_sales_spark.operators.aggregates import skyline_2d

    df = spark.createDataFrame(
        [("g", x, float(y)) for x, y in pts], ["grp", "x", "y"]
    )
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "grp", "x", "y").collect())

    def dominated(p, q):
        return q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1])

    expected = sorted(
        (x, float(y))
        for x, y in pts
        if not any(dominated((x, y), q) for q in pts)
    )
    assert got == expected


@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),           # key
            st.sampled_from(["I", "U", "D"]),                # op
            st.integers(min_value=0, max_value=20),          # seq
            st.integers(min_value=0, max_value=99),          # payload
        ),
        max_size=30,
    )
)
@_settings
def test_apply_cdc_matches_python_reference(spark, changes):
    from pyspark.sql import types as T

    from iowa_liquor_sales_spark.operators.upsert import apply_cdc

    # unique (key, seq) so "last change wins" is well-defined
    seen = set()
    uniq = []
    for k, op, seq, v in changes:
        if (k, seq) not in seen:
            seen.add((k, seq))
            uniq.append((k, op, seq, v))
    snap_rows = [(k, -1) for k in range(3)]  # keys 0..2 pre-exist
    snap = spark.createDataFrame(snap_rows, ["k", "v"])
    ch_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    ch = spark.createDataFrame(
        [(k, v, op, seq) for k, op, seq, v in uniq], ch_schema
    )
    out = {r["k"]: r["v"] for r in apply_cdc(snap, ch, ["k"], "seq").collect()}

    expected = {k: v for k, v in snap_rows}
    heads: dict = {}
    for k, op, seq, v in uniq:
        if k not in heads or seq > heads[k][0]:
            heads[k] = (seq, op, v)
    for k, (seq, op, v) in heads.items():
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v
    assert out == expected


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=12,
    ),
    t=st.sampled_from([0.3, 0.5, 0.7, 0.8]),
)
@_settings
def test_allpairs_prefix_filter_equals_uncapped_jaccard(spark, docs, t):
    from iowa_liquor_sales_spark.operators.dedup import (
        allpairs_jaccard,
        jaccard_pairs,
        shingles,
    )

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    sh = shingles(df, "text", "doc_id", n=2)
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in allpairs_jaccard(sh, min_jaccard=t).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(sh, min_jaccard=t, max_df=None).collect()
    }
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(1, 500), st.integers(1, 9)),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_python_reference(spark, vw):
    # Reference: least value whose doubled cumulative weight (in value
    # order) reaches the total — the exact cut q_weighted_median uses.
    from pyspark.sql import Window

    rows = [(i, float(v), w) for i, (v, w) in enumerate(vw)]
    df = spark.createDataFrame(rows, "id long, v double, w long")
    wspec = (
        Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = df.withColumn("cum", F.sum("w").over(wspec)).withColumn(
        "tot", F.sum("w").over(Window.partitionBy())
    )
    got = (
        staged.filter(2 * F.col("cum") >= F.col("tot"))
        .agg(F.min("v"))
        .first()[0]
    )
    pairs = sorted(((float(v), w) for v, w in vw))
    tot = sum(w for _, w in pairs)
    cum = 0
    for v, w in pairs:
        cum += w
        if 2 * cum >= tot:
            expect = v
            break
    assert got == expect


def test_gini_known_distributions(spark):
    # Equal incomes -> G = 0; a single earner among n -> G = (n-1)/n.
    from iowa_liquor_sales_spark.operators.ranking import global_row_number

    def gini_of(values):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "id long, x long"
        )
        ranked = global_row_number(df, ["x", "id"], out_col="i")
        r = ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("i") * F.col("x")).alias("six"),
        ).first()
        return (2 * r["six"]) / (r["n"] * r["sx"]) - (r["n"] + 1) / r["n"]

    assert abs(gini_of([7] * 10)) < 1e-12
    assert abs(gini_of([0] * 9 + [100]) - 0.9) < 1e-12


def test_countmin_point_estimates_never_undercount(spark):
    from iowa_liquor_sales_spark.operators.sketches import (
        countmin_counters,
        countmin_lookup,
    )

    df = spark.createDataFrame(
        [(i % 7,) for i in range(700)] + [(99,)], ["k"]
    )
    counters = countmin_counters(df, "k", depth=4, width=64)
    est = {
        r["k"]: r["est"]
        for r in countmin_lookup(counters, df, "k", depth=4, width=64).collect()
    }
    # true counts: keys 0..6 -> 100 each, 99 -> 1
    for k in range(7):
        assert est[str(k)] >= 100
    assert est["99"] >= 1


def test_k_anonymity_audit_counts(spark):
    from iowa_liquor_sales_spark.operators.quality import k_anonymity_audit

    # Group (a,1): 5 rows (safe at k=5); (a,2): 2 rows; (b,1): 1 row.
    rows = [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)]
    df = spark.createDataFrame(rows, ["qa", "qb"])
    out = k_anonymity_audit(df, ["qa", "qb"], k=5).collect()[0]
    assert out["n_groups"] == 3
    assert out["n_violating_groups"] == 2
    assert out["n_rows_at_risk"] == 3
    assert out["risk_ppm"] == 1_000_000 * 3 // 8


def test_l_diversity_audit_homogeneous_group(spark):
    from iowa_liquor_sales_spark.operators.quality import l_diversity_audit

    # Group (a): 4 rows but only ONE sensitive value -> exposed even
    # though it is k-anonymous at k=4; group (b): 3 distinct -> safe.
    rows = [("a", 1)] * 4 + [("b", 1), ("b", 2), ("b", 3)]
    df = spark.createDataFrame(rows, ["qa", "s"])
    out = l_diversity_audit(df, ["qa"], "s", l=3).collect()[0]
    assert out["n_groups"] == 2
    assert out["n_low_diversity"] == 1
    assert out["n_rows_exposed"] == 4
    assert out["exposed_ppm"] == 1_000_000 * 4 // 7


def test_det_double_three_renderings_agree_bitwise(spark):
    """functions/sums.det_double (Spark), det_double_sql (DuckDB) and
    det_double_py (driver-side kernels) must produce bit-identical
    doubles on adversarial integers: negatives (div-vs-floor-div
    semantics), exact 2^53 boundaries (where correctly-rounded direct
    conversion diverges from the hi/lo reconstruction), divisor
    boundaries, and sums past 2^53 * 1e9."""
    import struct

    import duckdb

    from iowa_liquor_sales_spark.functions.sums import (
        det_double,
        det_double_py,
        det_double_sql,
    )

    vals = [
        0, 1, -1, 999_999_999, 1_000_000_000, -1_000_000_001,
        2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1,
        9_007_199_254_740_993_123_456_789,
        -9_007_199_254_740_993_123_456_789,
        10**24 + 7, -(10**24) - 7,
    ]

    def bits(x: float) -> int:
        return struct.unpack("<q", struct.pack("<d", float(x)))[0]

    sdf = spark.createDataFrame(
        [(str(v),) for v in vals], ["s"]
    ).selectExpr("CAST(s AS DECIMAL(38,0)) AS v")
    got_spark = [r[0] for r in sdf.select(det_double("v")).collect()]

    con = duckdb.connect()
    got_duck = [
        con.sql(
            f"SELECT {det_double_sql('v')} FROM "
            f"(SELECT CAST('{v}' AS HUGEINT) AS v)"
        ).fetchone()[0]
        for v in vals
    ]
    got_py = [det_double_py(v) for v in vals]

    for v, a, b, c in zip(vals, got_spark, got_duck, got_py):
        assert bits(a) == bits(b) == bits(c), (
            f"det_double divergence at {v}: spark={a!r} duck={b!r} py={c!r}"
        )


@given(
    base=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=14),
        min_size=2,
        max_size=7,
        unique=True,
    ),
    data=st.data(),
)
@_settings
def test_fuzzy_pairs_passjoin_completeness_property(spark, base, data):
    """Property form of the PassJoin pigeonhole proof: on random small-
    alphabet dictionaries (maximal segment collision pressure) plus a
    randomly edited variant of one entry, the segment-blocked result
    must equal the exact all-pairs answer — no admissible pair may be
    lost to the blocking."""
    from iowa_liquor_sales_spark.operators.joins import fuzzy_pairs

    # plant a <=3-edit mutation of one base string so true matches exist
    src = data.draw(st.sampled_from(base))
    edited = src
    for _ in range(data.draw(st.integers(0, 3))):
        op = data.draw(st.sampled_from(["ins", "del", "sub"]))
        i = data.draw(st.integers(0, max(len(edited) - 1, 0)))
        ch = data.draw(st.sampled_from("abcx"))
        if op == "ins":
            edited = edited[:i] + ch + edited[i:]
        elif op == "del" and edited:
            edited = edited[:i] + edited[i + 1 :]
        elif edited:
            edited = edited[:i] + ch + edited[i + 1 :]
    names = sorted(set(base) | {edited})
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {
        (r["name_a"], r["name_b"])
        for r in fuzzy_pairs(df, "name", max_dist=3).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    import itertools

    want = set()
    for x, y in itertools.combinations(names, 2):
        a, b = (x, y) if (len(x), x) < (len(y), y) else (y, x)
        if lev(a, b) <= 3:
            want.add((a, b))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_auc_exact_matches_pairwise_definition_property(spark, rows):
    """auc_exact's grouped Mann-Whitney form must equal the O(n²)
    pairwise definition — wins + half-ties over pos×neg pairs — on
    arbitrary small integer scores (heavy ties on purpose)."""
    from iowa_liquor_sales_spark.operators.quality import auc_exact

    df = spark.createDataFrame(rows, ["s", "y"])
    got = auc_exact(df, "s", "y").head()
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    if not pos or not neg:
        assert got["auc_ppm"] is None
        return
    num2 = sum(
        2 if p > n_ else (1 if p == n_ else 0) for p in pos for n_ in neg
    )
    assert got["auc_ppm"] == num2 * 1_000_000 // (2 * len(pos) * len(neg))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_coreness_hindex_property_vs_exact_peeling(spark, edges):
    """On random 10-node graphs, coreness_hindex with enough rounds must
    equal the exact core number from textbook peeling (repeatedly delete
    min-degree nodes below k)."""
    from iowa_liquor_sales_spark.operators.graph import coreness_hindex

    simple = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not simple:
        return
    df = spark.createDataFrame(sorted(simple), ["src", "dst"])
    # 10 rounds >> convergence on 10 nodes
    got = {
        r["node"]: r["coreness"]
        for r in coreness_hindex(df, rounds=10).collect()
    }

    # exact coreness by iterative peeling
    adj: dict[int, set[int]] = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    live = dict(adj)
    k = 0
    while live:
        k += 1
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in live.items() if len(ns) < k]:
                core[v] = k - 1
                for u in live[v]:
                    live[u].discard(v)
                del live[v]
                changed = True
    assert got == core
