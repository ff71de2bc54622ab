"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark DataFrame program exercising one or
more operators from SURVEY.md §2 (IDs cited per query); the matching
``oracle_sql()`` entry is ANSI SQL that DuckDB runs over the same
parquet tables. Column names and float rounding are aligned on both
sides so the driver's order-insensitive value-hash matches.

Determinism notes:
- money sums go through DECIMAL(18,4) (exact) then cast to double;
- derived float stats are rounded (5-6 dp) on BOTH sides, far above
  fp-reassociation noise (~1e-12) and far below data resolution;
- every hash-based operator (fingerprint/minhash/simhash) uses
  md5-derived 60-bit ints, identical in Spark
  (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
  (``('0x'||substr(md5(x),1,15))::BIGINT``).

The synthetic ``meth`` view (a long methylation-style fact table
derived from lineitem) lets the methylation operators (SURVEY §2.2,
§2.4, §2.10) be oracle-checked on the driver's star schema: probe =
part, sample = supplier mod 8 (with one planted bad-detP sample), run =
supplier mod 2, beta = scaled discount.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window

SF_SMOKE = "/root/testdata/sf0.001"

# Test hook (tests/test_contract_registry.py): a relative perturbation
# applied to the float inputs of moderated_f's mval / outlier_mad's
# value BEFORE their grid-align rounds. The ulp-insensitivity property
# test sets this to ±1e-13 and asserts the emitted integers do not
# move — proof that a libm/FMA-level environment difference cannot
# flip the outputs. HISTORICAL NOTE (r9): the r4-r8 driver hash-reds
# on these queries were NEVER a float problem — the actual cause was
# DuckDB typing one output column HUGEINT (uncast SUM over integers)
# against Spark's BIGINT, which a type-sensitive hash rejects even
# with every value equal (fixed with CASTs; tools/audit_oracle_types.py
# now forbids the class). The property test stays because the
# invariant it pins — integer channels insensitive to input ulps — is
# real and cheap, but it was not the fix-in-waiting r6/r7 hoped.
_ULP_EPS = 0.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to Spark TimestampType
    (micros), whatever the generator wrote this round: TIMESTAMP(NANOS)
    (Spark rejects by default — read as long, truncate to micros, which
    is what DuckDB does implicitly), TIMESTAMP_NTZ / TIMESTAMP(MICROS)
    (cast; session TZ is pinned UTC so the instant is unchanged), or
    already-correct epoch handling. Schema-adaptive so a testdata
    regeneration can't break every events query at once."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type != "timestamp":  # timestamp_ntz etc.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _r(col, digits: int = 6):
    """Cross-engine reproducible rounding: +1e-9 nudges values that sit
    exactly on a decimal half-boundary (common here: the synthetic data
    lives on decimal grids) off the tie, where Spark's string-based
    HALF_UP and DuckDB's numeric rounding disagree. The trailing +0.0
    folds -0.0 (DuckDB's numeric round of tiny negatives) into +0.0;
    the SQL side gets the same treatment in ``oracle_sql`` via
    ``_normalize_round_sql``."""
    return F.round(col + F.lit(1e-9), digits) + F.lit(0.0)


def _ri(col, scale: int = 1_000_000):
    """Hash-SAFE float output: scaled-integer (micro-unit) encoding of
    a float column. ``_r``'s ROUND(float, d) still emits a double, and
    a cross-environment ulp in an upstream sum can land the value on
    the other side of the rounding boundary (CORRECTNESS_r04/r05:
    ``moderated_f`` et al were bit-identical locally yet hash-red on
    the driver). Emitting ``CAST(ROUND((x + 1e-9) * scale) AS BIGINT)``
    on BOTH engines removes float FORMATTING and -0.0 ambiguity from
    the hash channel — but NOT upstream ulp sensitivity: ROUND still
    rounds a double, so an input sitting within an ulp of a .5/scale
    boundary can flip the emitted BIGINT across environments. The 1e-9
    nudge protects only grid-aligned values; real robustness comes
    from pre-rounding the upstream aggregates to a decimal grid before
    they reach ``_ri`` (moderated_f does this via moment_round=9 and
    the other float queries now pre-round their aggregate inputs the
    same way). Mirror in SQL with
    ``CAST(ROUND((x + 1e-9) * scale) AS BIGINT)``."""
    return F.round((col + F.lit(1e-9)) * F.lit(float(scale))).cast("long")


# --------------------------------------------------------------------------
# Shared derived views
# --------------------------------------------------------------------------

# session-lifetime cache of the derived meth fact table: every meth_*
# query stages the same aggregate, so persist it once per (session,
# sf_dir) — the real deployment's equivalent is the meth table simply
# BEING the stored fact table (bucketed parquet), not a derived view.
# Bounded LRU (VERDICT r9 #5): a long-lived session sweeping many
# fixture dirs used to accumulate one persisted frame per dir forever;
# now the least-recently-used entry is unpersisted once more than
# _METH_CACHE_CAP dirs are live. Cap 2, not 1: the oracle battery and
# bench legitimately alternate between a data fixture and a NULL/warm
# fixture inside one session, and evict-on-every-switch would recompute
# the aggregate per query.
from collections import OrderedDict

_METH_CACHE: OrderedDict = OrderedDict()
_METH_CACHE_CAP = 2


def clear_meth_cache() -> None:
    """Unpersist and drop every cached meth frame (test/bench hook for
    hard storage resets between fixture sweeps)."""
    while _METH_CACHE:
        _, df = _METH_CACHE.popitem(last=False)
        df.unpersist()


def _meth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long methylation-style fact table derived from lineitem
    (model.METH_SCHEMA shape). Mirrors the SQL CTE ``METH_CTE``."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _METH_CACHE.get(key)
    if cached is not None:
        _METH_CACHE.move_to_end(key)
        return cached
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.select(
            F.concat(F.lit("cg"), F.lpad(F.col("l_partkey").cast("string"), 8, "0")).alias(
                "probe_id"
            ),
            F.concat(F.lit("S"), (F.col("l_suppkey") % 8).cast("string")).alias("sample_id"),
            F.concat(F.lit("R"), (F.col("l_suppkey") % 2).cast("string")).alias("run"),
            (F.col("l_discount") * 9 + 0.05).alias("b"),
            (
                F.col("l_tax") / 10
                + F.when(F.col("l_suppkey") % 8 == 7, 0.05).otherwise(0.0)
            ).alias("d"),
        )
        .groupBy("probe_id", "sample_id", "run")
        # 9-dp rounding makes the aggregated values BIT-IDENTICAL across
        # engines (summation order shifts doubles by ~1e-16, which flips
        # downstream threshold comparisons and ECDF tie groups; the
        # decimal-grid data cannot land on a 9-dp half-boundary, so both
        # engines' round implementations agree)
        .agg(
            F.round(F.avg("b"), 9).alias("beta"),
            F.round(F.avg("d"), 9).alias("det_p"),
        )
    ).persist()
    _METH_CACHE[key] = out
    while len(_METH_CACHE) > _METH_CACHE_CAP:
        _, evicted = _METH_CACHE.popitem(last=False)
        evicted.unpersist()
    return out


METH_CTE = """
meth AS (
  SELECT 'cg' || lpad(CAST(l_partkey AS VARCHAR), 8, '0') AS probe_id,
         'S' || CAST(l_suppkey % 8 AS VARCHAR)             AS sample_id,
         'R' || CAST(l_suppkey % 2 AS VARCHAR)             AS run,
         ROUND(avg(l_discount * 9 + 0.05), 9)              AS beta,
         ROUND(avg(l_tax / 10 + CASE WHEN l_suppkey % 8 = 7 THEN 0.05 ELSE 0.0 END), 9)
                                                           AS det_p
  FROM lineitem
  GROUP BY 1, 2, 3
)
"""


def _dec_sum(col, alias):
    """Exact money sum: decimal aggregation, double output."""
    return F.sum(col.cast("decimal(18,4)")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# Relational core (SURVEY §2.1-2.9 over the star schema)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped agg: A2/A4/A5, F8, sorts O1. One shuffle, all
    aggregates map-side partial."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
            _r(F.avg("l_quantity")).alias("avg_qty"),
            _r(F.avg("l_discount")).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                                                                   AS sum_disc_price,
       COUNT(*)                                                    AS count_order,
       ROUND(AVG(l_quantity) + 1e-9, 6)                                   AS avg_qty,
       ROUND(AVG(l_discount) + 1e-9, 6)                                   AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (J3 broadcast dims) + agg + deterministic top-k (O1)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_TOP_REVENUE = """
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way full-outer combine (J1) — the reference's run-matrix merge
    shape: per-status order counts outer-joined on customer."""
    orders = _t(spark, sf_dir, "orders")

    def side(status: str, alias: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderstatus") == status)
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    a = side("O", "n_open")
    b = side("F", "n_finished")
    return a.join(b, "o_custkey", "full_outer").orderBy("o_custkey")


SQL_JOIN_FULL_OUTER = """
WITH a AS (SELECT o_custkey, COUNT(*) AS n_open     FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
     b AS (SELECT o_custkey, COUNT(*) AS n_finished FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey, n_open, n_finished
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
ORDER BY o_custkey
"""


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti membership (P10/P11/J6): customers with vs without
    orders, per market segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        with_orders.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with"))
        .join(
            without.groupBy("c_mktsegment").agg(F.count("*").alias("n_without")),
            "c_mktsegment",
            "full_outer",
        )
        .select(
            "c_mktsegment",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
        .orderBy("c_mktsegment")
    )


SQL_SEMI_ANTI = """
WITH w AS (SELECT c_mktsegment, COUNT(*) AS n_with
           FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
           GROUP BY 1),
     -- NOT EXISTS, not NOT IN: matches Spark anti-join NULL
     -- semantics (one NULL o_custkey would empty a NOT IN result)
     wo AS (SELECT c_mktsegment, COUNT(*) AS n_without
            FROM customer c WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY 1)
SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
       COALESCE(n_with, 0) AS n_with, COALESCE(n_without, 0) AS n_without
FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
ORDER BY c_mktsegment
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (T1-T3): nations with customers vs with suppliers."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = cust.intersect(supp).withColumn("which", F.lit("both"))
    cust_only = cust.distinct().exceptAll(supp.distinct()).withColumn(
        "which", F.lit("customer_only")
    )
    return both.unionByName(cust_only).orderBy("which", "nationkey")


SQL_SET_OPS = """
SELECT nationkey, 'both' AS which FROM
  (SELECT c_nationkey AS nationkey FROM customer
   INTERSECT
   SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS which FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   EXCEPT
   SELECT DISTINCT s_nationkey FROM supplier)
ORDER BY which, nationkey
"""


def q_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row dedup (P12): distinct projection."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    )


SQL_DEDUP_DISTINCT = """
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
ORDER BY c_nationkey, c_mktsegment
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (R3) with explicit value list (no discovery pass)."""
    ev = _events(spark, sf_dir)
    kinds = ["click", "view", "purchase", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.round(F.avg("value") + 1e-9, 6))
    )
    return out.orderBy("user_id")


SQL_PIVOT = """
SELECT user_id,
       ROUND(AVG(CASE WHEN event_type = 'click'    THEN value END) + 1e-9, 6) AS click,
       ROUND(AVG(CASE WHEN event_type = 'view'     THEN value END) + 1e-9, 6) AS view,
       ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 6) AS purchase,
       ROUND(AVG(CASE WHEN event_type = 'error'    THEN value END) + 1e-9, 6) AS error
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (R2)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot(
            ids=["p_partkey"],
            values=["p_size", "p_retailprice"],
            variableColumnName="attr",
            valueColumnName="val",
        )
        .orderBy("p_partkey", "attr")
    )


SQL_MELT = """
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
ORDER BY p_partkey, attr
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions (F1-F8): extract/split/concat/case/cast."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), r"(\d+)", 1).cast("long").alias("name_num"),
        F.split(F.col("c_name"), "#")[0].alias("name_prefix"),
        F.concat_ws("_", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_key"
        ),
        F.lower(F.trim(F.col("c_mktsegment"))).alias("seg_lower"),
        F.substring(F.col("c_name"), -3, 3).alias("name_tail"),
    ).orderBy("c_custkey")


SQL_STRING_FUNCS = """
SELECT c_custkey,
       CAST(regexp_extract(c_name, '(\\d+)', 1) AS BIGINT) AS name_num,
       string_split(c_name, '#')[1]                         AS name_prefix,
       c_mktsegment || '_' || CAST(c_nationkey AS VARCHAR)  AS seg_key,
       lower(trim(c_mktsegment))                            AS seg_lower,
       CASE WHEN length(c_name) >= 3
            THEN substr(c_name, length(c_name) - 2, 3) ELSE c_name END AS name_tail
FROM customer ORDER BY c_custkey
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via row_number window (W1 grouped)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) t
WHERE rank <= 5 ORDER BY o_orderpriority, rank
"""


def q_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user cumulative sum over event time (window frame).
    NULL-ts rows sort LAST explicitly — Spark's asc default is NULLS
    FIRST, DuckDB's NULLS LAST, so an unpinned order diverges on any
    timeless event (caught by the NULL-events fixture)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("running_value", _r(F.sum("value").over(w)))
        .select("event_id", "user_id", "running_value")
        .orderBy("event_id")
    )


SQL_RUNNING_WINDOW = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id
                              ORDER BY ts NULLS LAST, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6)
         AS running_value
FROM events ORDER BY event_id
"""


# --------------------------------------------------------------------------
# Methylation operator suite over the derived meth view
# --------------------------------------------------------------------------

def q_meth_qc_detp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection-p QC (P8 sample filter + P9 probe filter): per-run
    surviving probe/row counts."""
    from methyl_data_pipeline_spark.operators import qc

    meth = _meth(spark, sf_dir)
    good_samples = qc.filter_samples_by_detp(meth, threshold=0.02)
    n_samples = good_samples.select("sample_id").distinct().count()
    good = qc.filter_probes_by_detp(good_samples, 0.006, n_samples)
    return (
        good.groupBy("run")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("probe_id").alias("n_probes"),
        )
        .orderBy("run")
    )


SQL_METH_QC_DETP = f"""
WITH {METH_CTE},
good_samples AS (
  SELECT sample_id FROM meth GROUP BY sample_id HAVING avg(det_p) < 0.02
),
filtered AS (
  SELECT m.* FROM meth m JOIN good_samples g ON m.sample_id = g.sample_id
),
n AS (SELECT COUNT(*) AS n_samples FROM good_samples),
good_probes AS (
  SELECT probe_id FROM filtered GROUP BY probe_id
  HAVING SUM(CASE WHEN det_p >= 0.006 THEN 1 ELSE 0 END) = 0
     AND COUNT(*) = (SELECT n_samples FROM n)
)
SELECT run, COUNT(*) AS n_rows, COUNT(DISTINCT probe_id) AS n_probes
FROM filtered WHERE probe_id IN (SELECT probe_id FROM good_probes)
GROUP BY run ORDER BY run
"""


def q_meth_complete_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-any-missing completeness (P3): probes observed in every
    sample — count-vs-expected semantics, not null-scan."""
    from methyl_data_pipeline_spark.operators import qc

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    return (
        qc.drop_incomplete_probes(meth, n_samples)
        .select("probe_id")
        .distinct()
        .orderBy("probe_id")
    )


SQL_METH_COMPLETE = f"""
WITH {METH_CTE},
n AS (SELECT COUNT(DISTINCT sample_id) AS n_samples FROM meth)
SELECT probe_id FROM meth GROUP BY probe_id
HAVING COUNT(beta) = (SELECT n_samples FROM n)
ORDER BY probe_id
"""


def q_meth_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe M-value variance + deterministic top-k (A1, W1/O1,
    F9/P13)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.feature_selection import per_probe_variance

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    var = per_probe_variance(meth, "mval")
    return (
        var.withColumn("variance", _r(F.col("variance")))
        .orderBy(F.col("variance").desc(), F.col("probe_id").asc())
        .limit(100)
    )


SQL_METH_VARIANCE_TOPK = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth
)
SELECT probe_id, ROUND(var_samp(mval) + 1e-9, 6) AS variance
FROM m GROUP BY probe_id
ORDER BY variance DESC, probe_id ASC LIMIT 100
"""


def q_meth_group_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group mean betas + delta (A2/A11): run group R0 vs R1."""
    from methyl_data_pipeline_spark.stats.limma import group_mean_deltas

    meth = _meth(spark, sf_dir)
    out = group_mean_deltas(meth, "run", "R0", "R1", value_col="beta")
    return out.select(
        "probe_id",
        _r(F.col("mean_a")).alias("mean_a"),
        _r(F.col("mean_b")).alias("mean_b"),
        _r(F.col("delta")).alias("delta"),
    ).orderBy("probe_id")


SQL_METH_GROUP_DELTA = f"""
WITH {METH_CTE}
SELECT probe_id,
       ROUND(AVG(CASE WHEN run = 'R0' THEN beta END) + 1e-9, 6) AS mean_a,
       ROUND(AVG(CASE WHEN run = 'R1' THEN beta END) + 1e-9, 6) AS mean_b,
       ROUND(AVG(CASE WHEN run = 'R0' THEN beta END)
             - AVG(CASE WHEN run = 'R1' THEN beta END) + 1e-9, 6) AS delta
FROM meth WHERE run IN ('R0', 'R1') GROUP BY probe_id
ORDER BY probe_id
"""


def q_meth_moderated_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limma-style moderated t (A13/M5): closed-form EB, fully
    SQL-checkable. The flagship stats query."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.limma import moderated_t_two_group

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    out = moderated_t_two_group(meth, "run", "R0", "R1", value_col="mval")
    return out.select(
        "probe_id",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        _r(F.col("logFC"), 5).alias("logfc"),
        _r(F.col("t_mod"), 4).alias("t_mod"),
    ).orderBy("probe_id")


SQL_METH_MODERATED_T = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id, run,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth WHERE run IN ('R0', 'R1')
),
per_key AS (
  SELECT probe_id,
         COUNT(CASE WHEN run = 'R0' THEN mval END)    AS n1,
         AVG(CASE WHEN run = 'R0' THEN mval END)      AS mean1,
         VAR_SAMP(CASE WHEN run = 'R0' THEN mval END) AS var1,
         COUNT(CASE WHEN run = 'R1' THEN mval END)    AS n2,
         AVG(CASE WHEN run = 'R1' THEN mval END)      AS mean2,
         VAR_SAMP(CASE WHEN run = 'R1' THEN mval END) AS var2
  FROM m GROUP BY probe_id
  HAVING n1 >= 2 AND n2 >= 2
),
stats AS (
  SELECT *, n1 + n2 - 2 AS df,
         ((n1 - 1) * var1 + (n2 - 1) * var2) / (n1 + n2 - 2) AS s2,
         mean1 - mean2 AS logfc
  FROM per_key
),
prior AS (
  SELECT AVG(s2) AS s0_sq,
         2.0 * AVG(s2) * AVG(s2) / VAR_SAMP(s2) AS d0
  FROM stats
)
SELECT probe_id, n1, n2, ROUND(logfc + 1e-9, 5) AS logfc,
       ROUND(logfc / sqrt(((d0 * s0_sq + df * s2) / (d0 + df))
                          * (1.0 / n1 + 1.0 / n2)) + 1e-9, 4) AS t_mod
FROM stats, prior ORDER BY probe_id
"""


def q_meth_contrasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-group pairwise moderated contrasts with shared pooled
    variance (M6/A13: limma's makeContrasts model,
    Mouse_Microarray_General_Workflow.R:125-143)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.limma import moderated_t_contrasts

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    grouped = meth.withColumn(
        "grp",
        F.concat(
            F.lit("G"),
            (F.substring("sample_id", 2, 10).cast("int") % 4).cast("string"),
        ),
    )
    out = moderated_t_contrasts(
        grouped, "grp", [("G0", "G1"), ("G0", "G2"), ("G1", "G3")]
    )
    return out.select(
        "probe_id",
        "contrast",
        _r(F.col("logFC"), 5).alias("logfc"),
        _r(F.col("t_mod"), 4).alias("t_mod"),
    ).orderBy("probe_id", "contrast")


def _sql_meth_contrasts() -> str:
    stats = ",\n         ".join(
        f"COUNT(CASE WHEN grp = 'G{g}' THEN mval END) AS n_{g},\n"
        f"         AVG(CASE WHEN grp = 'G{g}' THEN mval END) AS mean_{g},\n"
        f"         VAR_SAMP(CASE WHEN grp = 'G{g}' THEN mval END) AS var_{g}"
        for g in range(4)
    )
    # NULLIF(n,0)-style presence: a group with <2 samples is dropped
    # from the probe's stats entirely (matching the Spark n>=2 filter)
    presence = " + ".join(f"(CASE WHEN n_{g} >= 2 THEN 1 ELSE 0 END)" for g in range(4))
    n_tot = " + ".join(f"(CASE WHEN n_{g} >= 2 THEN n_{g} ELSE 0 END)" for g in range(4))
    ss = " + ".join(
        f"(CASE WHEN n_{g} >= 2 THEN (n_{g} - 1) * var_{g} ELSE 0 END)" for g in range(4)
    )
    pair_sel = "\nUNION ALL\n".join(
        f"""SELECT probe_id, 'G{a}_vs_G{b}' AS contrast,
       ROUND(mean_{a} - mean_{b} + 1e-9, 5) AS logfc,
       ROUND((mean_{a} - mean_{b})
             / sqrt(s2_post * (1.0 / n_{a} + 1.0 / n_{b})) + 1e-9, 4) AS t_mod
FROM based WHERE n_{a} >= 2 AND n_{b} >= 2"""
        for a, b in [(0, 1), (0, 2), (1, 3)]
    )
    return f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id,
         'G' || CAST(CAST(substr(sample_id, 2, 10) AS INT) % 4 AS VARCHAR) AS grp,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth
),
per_key AS (
  SELECT probe_id,
         {stats}
  FROM m GROUP BY probe_id
),
with_df AS (
  SELECT *, ({n_tot}) - ({presence}) AS df, ({ss}) AS ss
  FROM per_key
),
keyed AS (
  SELECT *, ss / df AS s2 FROM with_df WHERE df >= 1
),
prior AS (
  SELECT AVG(s2) AS s0_sq, 2.0 * AVG(s2) * AVG(s2) / VAR_SAMP(s2) AS d0 FROM keyed
),
based AS (
  SELECT k.*, (d0 * s0_sq + df * s2) / (d0 + df) AS s2_post
  FROM keyed k, prior
)
{pair_sel}
ORDER BY probe_id, contrast"""


def q_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grand health metrics in one agg pass (A10: health_check.py)."""
    from methyl_data_pipeline_spark.operators.qc import health_report

    meth = _meth(spark, sf_dir)
    out = health_report(meth)
    return out.select(
        "n_rows", "n_null_values", "n_probes", "n_samples",
        _r(F.col("min_value")).alias("min_value"),
        _r(F.col("max_value")).alias("max_value"),
    )


SQL_HEALTH = f"""
WITH {METH_CTE}
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN beta IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_values,
       COUNT(DISTINCT probe_id) AS n_probes,
       COUNT(DISTINCT sample_id) AS n_samples,
       ROUND(MIN(beta) + 1e-9, 6) AS min_value,
       ROUND(MAX(beta) + 1e-9, 6) AS max_value
FROM meth
"""


def q_poobah_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pOOBAH-style empirical detection p (M4): per-sample ECDF of a
    background set via a single RANGE-framed window pass. Background =
    every 5th probe (deterministic stand-in for OOB controls)."""
    from methyl_data_pipeline_spark.stats.detection import ecdf_detection_p

    meth = _meth(spark, sf_dir).withColumn(
        "is_oob", F.substring("probe_id", 3, 10).cast("int") % 5 == 0
    )
    out = ecdf_detection_p(meth, value_col="beta", oob_col="is_oob")
    return out.select(
        "probe_id", "sample_id", _r(F.col("det_p_emp")).alias("det_p_emp")
    ).orderBy("probe_id", "sample_id")


SQL_POOBAH = f"""
WITH {METH_CTE},
t AS (
  SELECT probe_id, sample_id, beta,
         CASE WHEN CAST(substr(probe_id, 3, 10) AS INT) % 5 = 0 THEN 1 ELSE 0 END AS oob
  FROM meth
),
w AS (
  SELECT probe_id, sample_id,
         SUM(oob) OVER (PARTITION BY sample_id ORDER BY beta
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS oob_le,
         SUM(oob) OVER (PARTITION BY sample_id) AS oob_n
  FROM t
)
SELECT probe_id, sample_id,
       ROUND(CASE WHEN oob_n > 0 THEN 1.0 - oob_le * 1.0 / oob_n END + 1e-9, 6)
         AS det_p_emp
FROM w ORDER BY probe_id, sample_id
"""


def q_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table join chain: revenue per nation for one
    region, customer and supplier in the same nation (broadcast dims +
    one fact shuffle)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


SQL_JOIN_CHAIN = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_bh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH FDR step-up (A14/W2) over per-probe pseudo p-values."""
    from methyl_data_pipeline_spark.stats.bh import bh_adjust

    meth = _meth(spark, sf_dir)
    pseudo = meth.groupBy("probe_id").agg(
        F.round(F.avg("beta") * 0.9 + 0.05 + 1e-9, 6).alias("p_value")
    )
    out = bh_adjust(pseudo, "p_value", "adj_p")
    return out.select(
        "probe_id", "p_value", _r(F.col("adj_p"), 8).alias("adj_p")
    ).orderBy("probe_id")


def q_bh_adjust_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH FDR, distributed formulation (no single global window):
    range-partitioned sort + per-partition windows + O(num_partitions)
    scalar exchanges. Same math, same oracle as bh_adjust."""
    from methyl_data_pipeline_spark.stats.bh import bh_adjust_scalable

    meth = _meth(spark, sf_dir)
    pseudo = meth.groupBy("probe_id").agg(
        F.round(F.avg("beta") * 0.9 + 0.05 + 1e-9, 6).alias("p_value")
    )
    out = bh_adjust_scalable(pseudo, "p_value", "adj_p", num_partitions=8)
    return out.select(
        "probe_id", "p_value", _r(F.col("adj_p"), 8).alias("adj_p")
    ).orderBy("probe_id")


def q_bh_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH FDR via the distinct-p table (stats.bh.bh_adjust_grouped):
    exact step-up for bounded-cardinality (rounded) p-values — windows
    over the tiny distinct frame + broadcast map-back, zero fact-table
    shuffles. Same math, same oracle as bh_adjust."""
    from methyl_data_pipeline_spark.stats.bh import bh_adjust_grouped

    meth = _meth(spark, sf_dir)
    pseudo = meth.groupBy("probe_id").agg(
        F.round(F.avg("beta") * 0.9 + 0.05 + 1e-9, 6).alias("p_value")
    )
    out = bh_adjust_grouped(pseudo, "p_value", "adj_p")
    return out.select(
        "probe_id", "p_value", _r(F.col("adj_p"), 8).alias("adj_p")
    ).orderBy("probe_id")


SQL_BH_ADJUST = f"""
WITH {METH_CTE},
p AS (
  SELECT probe_id, ROUND(AVG(beta) * 0.9 + 0.05 + 1e-9, 6) AS p_value
  FROM meth GROUP BY probe_id
),
ranked AS (
  SELECT probe_id, p_value,
         ROW_NUMBER() OVER (ORDER BY p_value ASC) AS rk,
         COUNT(*) OVER () AS n
  FROM p
),
q AS (
  SELECT probe_id, p_value,
         p_value * n / rk AS q_raw,
         MIN(p_value * n / rk) OVER (ORDER BY rk DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cummin
  FROM ranked
)
SELECT probe_id, p_value, ROUND(LEAST(cummin, 1.0) + 1e-9, 8) AS adj_p
FROM q ORDER BY probe_id
"""


# --------------------------------------------------------------------------
# Extension suite (dedup / similarity / text / multimodal / streaming twin)
# --------------------------------------------------------------------------

def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (text analysis): whitespace + 4-chars/token
    estimate."""
    from methyl_data_pipeline_spark.ext.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    return (
        tokenize(docs)
        .select(
            "doc_id", "n_tokens", "n_tokens_est", "n_tokens_bpe",
            F.length(F.trim("text")).alias("n_chars_t"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_TOKENS = r"""
SELECT doc_id,
       len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
       CAST(ceil(length(trim(text)) / 4.0) AS BIGINT)       AS n_tokens_est,
       CAST(len(regexp_extract_all(trim(text),
            '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT)
                                                            AS n_tokens_bpe,
       length(trim(text))                                   AS n_chars_t
FROM documents ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation/stopword/word-length ratios."""
    from methyl_data_pipeline_spark.ext.text import text_quality

    docs = _t(spark, sf_dir, "documents")
    return (
        text_quality(docs)
        .select(
            "doc_id",
            "n_words",
            _r(F.col("mean_word_len")).alias("mean_word_len"),
            _r(F.col("punct_ratio")).alias("punct_ratio"),
            _r(F.col("stopword_ratio")).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, trim(text) AS txt,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM documents
)
SELECT doc_id,
       len(ws) AS n_words,
       ROUND(length(regexp_replace(txt, '\s+', '', 'g')) * 1.0 / len(ws) + 1e-9, 6)
         AS mean_word_len,
       ROUND((length(txt) - length(regexp_replace(txt, '[^\w\s]', '', 'g')))
             * 1.0 / length(txt) + 1e-9, 6) AS punct_ratio,
       ROUND(len(list_filter(ws, w -> list_contains(
               ['the','and','of','to','a','in','is','that','it','for'], w)))
             * 1.0 / len(ws) + 1e-9, 6) AS stopword_ratio
FROM t ORDER BY doc_id
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF."""
    from methyl_data_pipeline_spark.ext.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", _r(F.col("tfidf")).alias("tfidf")
    ).orderBy("doc_id", "rank")


SQL_TFIDF = r"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, ROUND(tfidf + 1e-9, 6) AS tfidf
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprints by winnowing (MOSS): min hash per
    sliding window over char-8-gram hashes, window 4."""
    from methyl_data_pipeline_spark.ext.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, window=4).orderBy("doc_id", "fingerprint")


SQL_WINNOWING = r"""
WITH t AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(s) - 8 + 1, 1)),
                        i -> ('0x' || substr(md5(substr(s, i, 8)), 1, 15))::BIGINT) AS hs
  FROM t
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(hs) - 4 + 1, 1)),
                                      j -> list_min(hs[j:j+3]))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint
FROM w ORDER BY doc_id, fingerprint
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucket expansion (operators.rangejoin): customer
    account balances matched to overlapping nation-derived bands —
    hash equi-join on the bucket key instead of an O(n*m) theta join."""
    from methyl_data_pipeline_spark.operators.rangejoin import range_join

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    bands = nat.select(
        "n_nationkey",
        (F.col("n_nationkey") * 400.0 - 1000.0).alias("lo"),
        (F.col("n_nationkey") * 400.0 + 200.0).alias("hi"),
    )
    out = range_join(
        cust.select("c_custkey", "c_acctbal"), bands, "c_acctbal", "lo", "hi", 400.0
    )
    return (
        out.groupBy("n_nationkey")
        .agg(F.count("*").alias("n_matches"), F.min("c_custkey").alias("min_cust"))
        .orderBy("n_nationkey")
    )


SQL_RANGE_JOIN = """
WITH bands AS (
  SELECT n_nationkey,
         n_nationkey * 400.0 - 1000.0 AS lo,
         n_nationkey * 400.0 + 200.0  AS hi
  FROM nation
)
SELECT b.n_nationkey,
       COUNT(*)       AS n_matches,
       MIN(c_custkey) AS min_cust
FROM customer c JOIN bands b
  ON c.c_acctbal >= b.lo AND c.c_acctbal <= b.hi
GROUP BY b.n_nationkey ORDER BY b.n_nationkey
"""


def q_kde_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian KDE of beta values on a 101-point grid (A12: the
    density() estimator behind QC plots and BMIQ mode-finding)."""
    from methyl_data_pipeline_spark.stats.density import kde_density

    meth = _meth(spark, sf_dir)
    out = kde_density(meth, "beta", bandwidth=0.05, grid_points=101)
    return out.select(
        _r(F.col("x")).alias("x"), _r(F.col("density"), 5).alias("density")
    ).orderBy("x")


SQL_KDE_DENSITY = f"""
WITH {METH_CTE},
grid AS (
  SELECT 0.0 + i * (1.0 / 100) AS x
  FROM (SELECT unnest(generate_series(0, 100)) AS i)
),
kern AS (
  SELECT g.x,
         AVG(exp(-0.5 * pow((g.x - m.beta) / 0.05, 2))) AS avg_k
  FROM grid g CROSS JOIN meth m
  WHERE m.beta IS NOT NULL
  GROUP BY g.x
)
SELECT ROUND(x + 1e-9, 6) AS x,
       ROUND(avg_k / (0.05 * sqrt(2 * pi())) + 1e-9, 5) AS density
FROM kern ORDER BY x
"""


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 fingerprint of normalized text, min-id winner."""
    from methyl_data_pipeline_spark.ext.dedup import dedup_exact

    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id").orderBy("doc_id")


SQL_FINGERPRINT_DEDUP = r"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                         1, 15))::BIGINT AS fp
  FROM documents
)
SELECT k.doc_id FROM keyed k
JOIN (SELECT fp, MIN(doc_id) AS m FROM keyed GROUP BY fp) w
  ON k.fp = w.fp AND k.doc_id = w.m
ORDER BY k.doc_id
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 salted hash mins over 3-word shingles)."""
    from methyl_data_pipeline_spark.ext.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, num_hashes=8).orderBy("doc_id")


def _minhash_mins_sql(num_hashes: int = 8) -> str:
    from methyl_data_pipeline_spark.ext.dedup import minhash_mix_params

    return ",\n       ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % 2147483647)) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_mix_params(num_hashes))
    )


def _sql_minhash_cte(src: str = "documents") -> str:
    """Shared shingle->hash CTE prefix (`WITH w, sh, hsh`) composed by
    the minhash-family oracles (`_sql_minhash_sigs`,
    `_sql_minhash_pairs`, `_sql_incremental_neardup`,
    `_sql_minhash_recall`). A dedicated helper, NOT string surgery on a
    sibling's output: rsplit-ing on a literal 'SELECT doc_id' silently
    corrupts the dependent oracle the day the shared text is reworded
    (ADVICE r8). ``src`` lets a caller prepend its own corpus CTE
    (``_sql_minhash_recall``'s planted-suffix fixture) — when it does,
    the returned text starts at the ``w`` member, NOT ``WITH``."""
    prefix = "WITH " if src == "documents" else ""
    return rf"""
{prefix}w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM {src}
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(0, len(ws) - 3),
                                  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              ELSE [array_to_string(ws, ' ')] END AS shingles
  FROM w
),
hsh AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
                        s -> (('0x' || substr(md5(s), 1, 15))::BIGINT) % 1073741824) AS hs
  FROM sh
)
"""


def _sql_minhash_sigs() -> str:
    return (
        f"{_sql_minhash_cte()}\n"
        f"SELECT doc_id,\n       {_minhash_mins_sql(8)}\nFROM hsh ORDER BY doc_id"
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate pairs (8 hashes, 4 bands)."""
    from methyl_data_pipeline_spark.ext.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, num_hashes=8, bands=4).orderBy(
        "id_a", "id_b"
    )


def _sql_minhash_pairs() -> str:
    base = _sql_minhash_cte()
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, md5(CAST(mh_{2*b} AS VARCHAR) || '_' || CAST(mh_{2*b+1} AS VARCHAR)) AS band_hash FROM sigs"
        for b in range(4)
    )
    return f"""{base}, sigs AS (SELECT doc_id, {_minhash_mins_sql(8)} FROM hsh),
banded AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY id_a, id_b"""


_BANDREC_SHORT = " ".join(f"zq{i}" for i in range(1, 13))
_BANDREC_LONG = " ".join(f"zl{i}" for i in range(1, 41))


def _q_minhash_recall(spark: SparkSession, sf_dir: str, mix: str) -> DataFrame:
    from methyl_data_pipeline_spark.ext.dedup import minhash_band_recall

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    short = docs.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + _BANDREC_SHORT)).alias("text"),
    )
    long_ = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + _BANDREC_LONG)).alias("text"),
    )
    corpus = docs.unionByName(short).unionByName(long_)
    out = minhash_band_recall(
        corpus, num_hashes=8, bands=4, min_jaccard=0.1, mix=mix
    )
    return out.orderBy("jacc_bin")


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall certificate (ext.dedup.minhash_band_recall,
    VERDICT r10 #3): per Jaccard decile, the fraction of exact
    n-gram-Jaccard >= 0.1 pairs the (8 hashes, 4 bands) candidates
    recover, beside the theoretical 1-(1-j^2)^4 S-curve at the bin
    midpoint. Mid-similarity pairs are planted engine-neutrally by
    suffix-append: doc_id < 200 re-enters as id+100000 with 12 novel
    tokens appended, doc_id < 100 as id+200000 with 40 — Jaccard vs the
    original ~w/(w+m) varies with each doc's length w, spreading pairs
    across bins. Oracle: full DuckDB replay (hashed shingle sets,
    brute-force exact Jaccard, banding candidates, per-bin recall)."""
    return _q_minhash_recall(spark, sf_dir, "linear")


def q_minhash_recall_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same banding recall certificate over the SALTED (independent
    per-function md5) signature family — the measured counterpart to
    the default linear-mix family, whose systematic correlation the
    linear certificate exposed (mid-bin candidate rates 78-92% vs the
    23-76% theory). Salted restores mid-bin selectivity to the
    theory's neighborhood (19-66% at bins 2-5); what deviation remains
    is single-hash-draw fluctuation on the fixture's small shingle
    universe, not family structure (see minhash_signatures docstring
    for the per-function probe). Recall at dedup-relevant bins (>=0.7)
    is ~100% in both families."""
    return _q_minhash_recall(spark, sf_dir, "salted")


def _sql_minhash_recall(mix: str = "linear") -> str:
    body = _sql_minhash_cte("corpus")
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, md5(CAST(mh_{2*b} AS VARCHAR) || '_' || CAST(mh_{2*b+1} AS VARCHAR)) AS band_hash FROM sigs"
        for b in range(4)
    )
    if mix == "salted":
        # independent per-function salted md5 mins (no linear mixing)
        mins = ",\n       ".join(
            f"list_min(list_transform(shingles,"
            f" s -> ('0x' || substr(md5('mh{i}|' || s), 1, 15))::BIGINT)) AS mh_{i}"
            for i in range(8)
        )
        sigs_from = f"SELECT doc_id, {mins} FROM hsh"
    else:
        sigs_from = f"SELECT doc_id, {_minhash_mins_sql(8)} FROM hsh"
    # theory chain mirrors the Spark side op-for-op: j clamped at the
    # bin midpoint, j*j, then ((q*q)*q)*q — no pow()
    jm = "LEAST((jacc_bin + 0.5) / 10.0, 1.0)"
    theory = f"(1.0 - (1.0 - ({jm} * {jm})) * (1.0 - ({jm} * {jm})) * (1.0 - ({jm} * {jm})) * (1.0 - ({jm} * {jm})))"
    return rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 100000, text || ' {_BANDREC_SHORT}' FROM documents
  WHERE doc_id < 200 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 200000, text || ' {_BANDREC_LONG}' FROM documents
  WHERE doc_id < 100 AND text IS NOT NULL
),
{body},
sets AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles,
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS st
  FROM sh
),
exact AS (
  SELECT pa, pb, inter, un
  FROM (
    SELECT a.doc_id AS pa, b.doc_id AS pb,
           len(list_intersect(a.st, b.st)) AS inter,
           len(list_distinct(list_concat(a.st, b.st))) AS un
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  )
  WHERE CAST(inter AS DOUBLE) / un >= 0.1
),
sigs AS ({sigs_from}),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
binned AS (
  SELECT CAST(FLOOR((10.0 * inter) / un) AS INTEGER) AS jacc_bin,
         COUNT(*) AS n_pairs,
         SUM(CASE WHEN c.pa IS NOT NULL THEN 1 ELSE 0 END) AS n_recovered
  FROM exact e LEFT JOIN cand c USING (pa, pb)
  GROUP BY 1
)
SELECT jacc_bin,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_recovered AS BIGINT) AS n_recovered,
       CAST(ROUND((n_recovered * 1.0 / n_pairs + 1e-9) * 1000000) AS BIGINT) AS recall_ri,
       CAST(ROUND(({theory} + 1e-9) * 1000000) AS BIGINT) AS theory_ri
FROM binned ORDER BY jacc_bin"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document."""
    from methyl_data_pipeline_spark.ext.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, bits=32).orderBy("doc_id")


def _sql_simhash() -> str:
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN {2**b} ELSE 0 END)"
        for b in range(32)
    )
    return rf"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash
FROM h GROUP BY doc_id ORDER BY doc_id"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming near-dup pairs (ext.dedup.simhash_hamming_pairs):
    pairs whose 32-bit signatures differ in <= 3 bits, found via the
    LOSSLESS pigeonhole banding (4 bands of 8 bits — any <=3-bit pair
    agrees exactly on some band), pair-expanded in-bucket with zero
    joins and verified by bit_count(xor)."""
    from methyl_data_pipeline_spark.ext.dedup import simhash_hamming_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_hamming_pairs(docs, bits=32, bands=4, max_hamming=3)
    return out.orderBy("id_a", "id_b")


def _sql_simhash_pairs() -> str:
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN {2**b} ELSE 0 END)"
        for b in range(32)
    )
    return rf"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM w),
sims AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h GROUP BY doc_id),
m AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (band_idx * 8)) & 255 AS band_val
  FROM sims, (VALUES (0), (1), (2), (3)) b(band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM m a JOIN m b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY id_a, id_b"""


def q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the SCALE configuration (new r8):
    64-bit signatures (Manku et al. WWW'07 width; bit 63 packs as the
    BIGINT sign bit, bits 60-63 vote from a second md5 slice) banded
    into 4 x 16-bit bands — 65536 band values stay candidate-sparse at
    corpus size where the 32-bit/8-bit-band toy config overflows every
    bucket (measured: >600 s vs 38 s at 100x sf0.1; README probe
    table). Same lossless pigeonhole guarantee, same bucket_pair_expand
    kernel."""
    from methyl_data_pipeline_spark.ext.dedup import simhash_hamming_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_hamming_pairs(docs, bits=64, bands=4, max_hamming=3)
    return out.orderBy("id_a", "id_b")


def _sql_simhash64_pairs() -> str:
    def term(b: int) -> str:
        src = "lo" if b < 60 else "hi"
        shift = b if b < 60 else b - 60
        val = -(2 ** 63) if b == 63 else 2 ** b
        return (
            f"(CASE WHEN SUM(CASE WHEN (({src} >> {shift}) & 1) = 1"
            f" THEN 1 ELSE -1 END) >= 0 THEN ({val})::BIGINT ELSE 0 END)"
        )

    terms = " + ".join(term(b) for b in range(64))
    return rf"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
  FROM documents
),
h AS (SELECT doc_id,
             ('0x' || substr(md5(word), 1, 15))::BIGINT AS lo,
             ('0x' || substr(md5(word), 16, 15))::BIGINT AS hi
      FROM w),
sims AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h GROUP BY doc_id),
m AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (band_idx * 16)) & 65535 AS band_val
  FROM sims, (VALUES (0), (1), (2), (3)) b(band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM m a JOIN m b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY id_a, id_b"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (ext.text.vocab_coverage): top-200
    words by corpus occurrence count with running cumulative count vs
    the corpus token total — integer channels only, the word-level
    step before BPE merges."""
    from methyl_data_pipeline_spark.ext.text import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, top_k=200).orderBy("rank")


SQL_VOCAB_COVERAGE = r"""
WITH w AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
  FROM documents WHERE text IS NOT NULL
),
c AS (SELECT word, COUNT(*) AS n_occ FROM w GROUP BY word),
tot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS total_tokens FROM c),
top AS (SELECT word, n_occ FROM c ORDER BY n_occ DESC, word ASC LIMIT 200)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, word ASC) AS BIGINT) AS rank,
       word,
       CAST(n_occ AS BIGINT) AS n_occ,
       CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, word ASC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ,
       total_tokens
FROM top, tot ORDER BY rank
"""


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors."""
    from methyl_data_pipeline_spark.ext.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "rank", "neighbor_id", _r(F.col("cosine")).alias("cosine")
    ).orderBy("query_id", "rank")


# the similarity family's pinned vector-validity contract (mirrors
# ext.similarity.valid_vector): non-NULL, non-empty, finite, nonzero
# norm — NaN must be DROPPED, not compared (DuckDB sorts NaN greatest,
# Spark does not propagate it through >=)
def _sql_valid_vec(c: str) -> str:
    return (
        f"{c} IS NOT NULL AND len({c}) > 0"
        f" AND len(list_filter({c}, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
        f" AND len(list_filter({c}, x -> x <> 0)) > 0"
    )


SQL_EMBEDDING_COSINE = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20 AND {_sql_valid_vec('embedding')}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
      WHERE {_sql_valid_vec('embedding')}),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.qv)),
                                 i -> q.qv[i] * e.ev[i]))
           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.ev, x -> x * x)))) AS cos_raw
  FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, ROUND(cos_raw + 1e-9, 6) AS cosine
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization certificate (new r9,
    ext.similarity.quantize_embeddings): per vector the max-abs scale
    and a stable scalar projection of the quantized codes (first four
    components + L1 norm) — the storage scale path that quarters
    ANN scan/shuffle bytes at 100 TB. Round-half-up via floor is the
    engine-stable rounding; the oracle replays it exactly."""
    from methyl_data_pipeline_spark.ext.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    # F.get, not qvec[i]: GetArrayItem throws INVALID_ARRAY_INDEX under
    # ANSI for a valid vector shorter than 4 dims, where the oracle's
    # qv[4] returns NULL — get() matches the NULL semantics
    return q.select(
        "vec_id",
        _r(F.col("scale")).alias("scale_r"),
        F.get(F.col("qvec"), 0).cast("long").alias("q0"),
        F.get(F.col("qvec"), 1).cast("long").alias("q1"),
        F.get(F.col("qvec"), 2).cast("long").alias("q2"),
        F.get(F.col("qvec"), 3).cast("long").alias("q3"),
        F.aggregate(
            F.col("qvec"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.abs(x).cast("long"),
        ).alias("q_l1"),
    ).orderBy("vec_id")


SQL_QUANTIZE_EMBEDDINGS = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE {_sql_valid_vec('embedding')}
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, scale,
         list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
  FROM s WHERE scale > 0
)
SELECT vec_id, ROUND(scale + 1e-9, 6) AS scale_r,
       qv[1] AS q0, qv[2] AS q1, qv[3] AS q2, qv[4] AS q3,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
FROM q ORDER BY vec_id
"""


def q_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization recall@10 (new r9,
    ext.similarity.quantization_recall): for 20 sampled query vectors,
    how many exact float top-10 cosine neighbors survive in the top-10
    over the int8-quantized codes (scales cancel for cosine, so this
    isolates pure quantization error). Integer channels only."""
    from methyl_data_pipeline_spark.ext.similarity import quantization_recall

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return quantization_recall(emb, queries, k=10).orderBy("query_id")


SQL_QUANT_RECALL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  WHERE {_sql_valid_vec('embedding')}
),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 25 = 0),
xp AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.qv)),
                                 i -> q.qv[i] * e.ev[i]))
           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.ev, x -> x * x)))) AS c
  FROM q CROSS JOIN e WHERE e.vec_id != q.query_id
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY c DESC, neighbor_id ASC) AS rank
    FROM xp
  ) WHERE rank <= 10
),
zs AS (
  -- scale hoisted out of the per-element lambda (recomputing the
  -- max-abs scan per element is O(d^2)/row; mirrors the s CTE in
  -- SQL_QUANTIZE_EMBEDDINGS)
  SELECT vec_id, ev,
         list_max(list_transform(ev, y -> abs(y))) / 127.0 AS scale
  FROM e
),
z AS (
  SELECT vec_id,
         list_transform(ev, x -> CAST(floor(x / scale + 0.5) AS DOUBLE)) AS zv
  FROM zs WHERE scale > 0
),
zq AS (SELECT vec_id AS query_id, zv AS qzv FROM z WHERE vec_id % 25 = 0),
zp AS (
  SELECT zq.query_id, z.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(zq.qzv)),
                                 i -> zq.qzv[i] * z.zv[i]))
           / (sqrt(list_sum(list_transform(zq.qzv, x -> x * x)))
              * sqrt(list_sum(list_transform(z.zv, x -> x * x)))) AS c
  FROM zq CROSS JOIN z WHERE z.vec_id != zq.query_id
),
aprx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY c DESC, neighbor_id ASC) AS rank
    FROM zp
  ) WHERE rank <= 10
)
SELECT ex.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(ROUND((SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*) + 1e-9) * 1000000) AS BIGINT) AS recall_ri
FROM exact ex
LEFT JOIN aprx ap
  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
GROUP BY ex.query_id ORDER BY ex.query_id
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor (new r9, ext.similarity.embedding_drift):
    per dimension, the two-snapshot (even vs odd vec_id) count / mean
    and the two-sample z statistic — "did the embedder change under
    us?" for a continuously re-embedded corpus. Map-side partial
    aggregation collapses the exploded n x d stream to d rows per
    partition before the one shuffle."""
    from methyl_data_pipeline_spark.ext.similarity import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    d = embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )
    return d.select(
        "dim",
        "n_old",
        "n_new",
        _r(F.col("mean_old")).alias("mean_old_r"),
        _r(F.col("mean_new")).alias("mean_new_r"),
        _r(F.col("drift_z")).alias("drift_z_r"),
    ).orderBy("dim")


SQL_EMBEDDING_DRIFT = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  WHERE {_sql_valid_vec('embedding')}
),
x AS (
  SELECT vec_id % 2 = 0 AS is_old,
         unnest(generate_series(1, len(ev))) - 1 AS dim,
         unnest(ev) AS v
  FROM e
),
o AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_old, AVG(v) AS mean_old,
         VAR_SAMP(v) AS var_old
  FROM x WHERE is_old GROUP BY dim
),
n AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_new, AVG(v) AS mean_new,
         VAR_SAMP(v) AS var_new
  FROM x WHERE NOT is_old GROUP BY dim
),
j AS (
  -- COALESCE, not o.dim: with ragged snapshots (a dim present only in
  -- the new side) a FULL JOIN's o.dim is NULL while the Spark twin's
  -- USING-style full join emits the real dim
  SELECT COALESCE(o.dim, n.dim) AS dim, n_old, n_new, mean_old, mean_new,
         sqrt(var_old / n_old + var_new / n_new) AS se
  FROM o FULL JOIN n ON o.dim = n.dim
)
SELECT dim, n_old, n_new,
       ROUND(mean_old + 1e-9, 6) AS mean_old_r,
       ROUND(mean_new + 1e-9, 6) AS mean_new_r,
       ROUND(CASE WHEN se > 0 THEN abs(mean_new - mean_old) / se END
             + 1e-9, 6) AS drift_z_r
FROM j ORDER BY dim
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup dedup: MinHash-LSH band candidates verified
    with exact word-3-gram Jaccard >= 0.8 (ext.dedup.ngram_jaccard_pairs)."""
    from methyl_data_pipeline_spark.ext.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, num_hashes=8, bands=4, threshold=0.8)
    return out.select(
        "id_a", "id_b", _r(F.col("jaccard")).alias("jaccard")
    ).orderBy("id_a", "id_b")


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly: concat-and-chunk packing of documents
    into 512-token context windows, per source shard (ext.pack).
    Emits each doc's window index, offset, and whether the chunker
    splits it across a boundary."""
    from methyl_data_pipeline_spark.ext.pack import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
        ).cast("long").alias("n_tokens"),
    )
    out = pack_sequences(toks, "n_tokens", 512, shard_col="source")
    return out.orderBy("source", "doc_id")


SQL_SEQUENCE_PACKING = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
              AS BIGINT) AS n_tokens
  FROM documents
),
placed AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS s
  FROM toks
)
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(s / 512.0) AS BIGINT)                 AS bin_idx,
       s % 512                                          AS bin_offset,
       CAST(FLOOR(s / 512.0) AS BIGINT)
         <> CAST(FLOOR((s + n_tokens - 1) / 512.0) AS BIGINT) AS spans_boundary
FROM placed ORDER BY source, doc_id
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 docs per language,
    chosen by md5-hash order of doc_id (seed-free, engine-reproducible
    shuffle — ext.pack.sample_stratified)."""
    from methyl_data_pipeline_spark.ext.pack import sample_stratified

    docs = _t(spark, sf_dir, "documents")
    out = sample_stratified(docs.select("doc_id", "lang"), "lang", 20)
    return out.orderBy("lang", "doc_id")


SQL_SAMPLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rk <= 20 ORDER BY lang, doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (train/eval overlap): docs with
    doc_id < 10 stand in for the eval set; every other doc is flagged
    if it shares any word-5-gram with it (ext.text.decontaminate —
    broadcast semi-join on shingle strings, no doc×doc compare)."""
    from methyl_data_pipeline_spark.ext.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return decontaminate(corpus, bench, ngram_n=5).orderBy("doc_id")


SQL_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 5
              THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
                          ws[i+4] || ' ' || ws[i+5]))
              ELSE [array_to_string(ws, ' ')] END AS s
  FROM w
),
bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 10),
hits AS (
  SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_overlap_shingles
  FROM corp c JOIN bench b ON c.g = b.g
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_overlap_shingles, 0)     AS n_overlap_shingles,
       COALESCE(h.n_overlap_shingles, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-word fraction,
    top-bigram fraction, type-token ratio per document
    (ext.text.repetition_signals_scan — ZERO-shuffle: mode
    multiplicities via longest-run-in-sorted-array HOFs; row-for-row
    parity with the explode+groupBy twin is pytest-proven; the
    boilerplate/spam filter of pretraining pipelines)."""
    from methyl_data_pipeline_spark.ext.text import repetition_signals_scan

    docs = _t(spark, sf_dir, "documents")
    out = repetition_signals_scan(docs)
    return out.select(
        "doc_id",
        "n_words",
        _r(F.col("top_word_frac")).alias("top_word_frac"),
        _r(F.col("type_token_ratio")).alias("type_token_ratio"),
        _r(F.col("top_bigram_frac")).alias("top_bigram_frac"),
    ).orderBy("doc_id")


SQL_REPETITION = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, 1 AS n, unnest(ws) AS gr FROM t
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(2, len(ws)),
                               i -> ws[i-1] || ' ' || ws[i])) AS gr
  FROM t
),
c AS (
  SELECT doc_id, n, gr, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, gr
),
s AS (
  SELECT doc_id, n, MAX(cnt) AS top_cnt,
         CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM c GROUP BY doc_id, n
)
SELECT doc_id,
       MAX(CASE WHEN n = 1 THEN total END) AS n_words,
       ROUND(MAX(CASE WHEN n = 1 THEN top_cnt END) * 1.0
             / MAX(CASE WHEN n = 1 THEN total END) + 1e-9, 6) AS top_word_frac,
       ROUND(MAX(CASE WHEN n = 1 THEN n_distinct END) * 1.0
             / MAX(CASE WHEN n = 1 THEN total END) + 1e-9, 6) AS type_token_ratio,
       ROUND(COALESCE(MAX(CASE WHEN n = 2 THEN top_cnt END) * 1.0
             / MAX(CASE WHEN n = 2 THEN total END), 0.0) + 1e-9, 6) AS top_bigram_frac
FROM s GROUP BY doc_id ORDER BY doc_id
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/IPv4/phones -> typed tokens) with per-doc
    match counts and an md5 witness of the redacted text
    (ext.text.pii_redact — zero-shuffle codegen scan)."""
    from methyl_data_pipeline_spark.ext.text import pii_redact

    docs = _t(spark, sf_dir, "documents")
    return pii_redact(docs).orderBy("doc_id")


SQL_PII_REDACT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)         AS n_ip,
       CAST(len(regexp_extract_all(text,
            '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS BIGINT)                     AS n_phone,
       length(red) AS redacted_len,
       substr(md5(red), 1, 16) AS redacted_sig
FROM (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS red,
         text
  FROM documents
)
ORDER BY doc_id
"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting + uniform-rebalance sampling weights
    (ext.text.domain_mix — one map-combined agg, broadcast total)."""
    from methyl_data_pipeline_spark.ext.text import domain_mix

    docs = _t(spark, sf_dir, "documents")
    out = domain_mix(docs)
    return out.select(
        "domain",
        "n_docs",
        "n_tokens",
        _r(F.col("token_share")).alias("token_share"),
        _r(F.col("target_share")).alias("target_share"),
        _r(F.col("weight")).alias("weight"),
    ).orderBy("domain")


SQL_DOMAIN_MIX = r"""
WITH per AS (
  SELECT source AS domain,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS k FROM per)
SELECT domain, n_docs, n_tokens,
       ROUND(n_tokens * 1.0 / t + 1e-9, 6)            AS token_share,
       ROUND(1.0 / k + 1e-9, 6)                       AS target_share,
       ROUND((1.0 / k) / (n_tokens * 1.0 / t) + 1e-9, 6) AS weight
FROM per, tot ORDER BY domain
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composite quality verdict with reject reasons
    (ext.text.quality_filter_scan — ZERO-shuffle formulation: the
    top-word count is the longest equal-run in the sorted token array,
    a linear HOF; 3x faster than the explode+groupBy twin at sf0.1 and
    a pure scan at 100 TB; tests prove row-for-row parity of the two)."""
    from methyl_data_pipeline_spark.ext.text import quality_filter_scan

    docs = _t(spark, sf_dir, "documents")
    return quality_filter_scan(docs).orderBy("doc_id")


SQL_QUALITY_FILTER = r"""
WITH t AS (
  SELECT doc_id, trim(text) AS txt,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
         text IS NULL AS no_text
  FROM documents
),
scan AS (
  SELECT doc_id, no_text, len(ws) AS nw,
         length(regexp_replace(txt, '\s+', '', 'g')) * 1.0 / len(ws) AS mwl,
         len(list_filter(ws, w -> list_contains(
             ['the','and','of','to','a','in','is','that','it','for'], w))) AS stp
  FROM t
),
c AS (
  SELECT doc_id, gr, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(ws) AS gr FROM t) GROUP BY doc_id, gr
),
s AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_words,
         MAX(cnt) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS twf,
         COUNT(*) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS ttr
  FROM c GROUP BY doc_id
)
SELECT scan.doc_id, s.n_words,
       CASE WHEN no_text THEN 'null_text' ELSE concat_ws(',',
         CASE WHEN nw < 10 THEN 'too_short' END,
         CASE WHEN nw > 100000 THEN 'too_long' END,
         CASE WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len' END,
         CASE WHEN twf > 0.30 THEN 'repetitive' END,
         CASE WHEN ttr < 0.30 THEN 'low_diversity' END,
         CASE WHEN stp < 1 THEN 'no_stopwords' END) END AS reject_reasons,
       CASE WHEN no_text THEN 'null_text' ELSE concat_ws(',',
         CASE WHEN nw < 10 THEN 'too_short' END,
         CASE WHEN nw > 100000 THEN 'too_long' END,
         CASE WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len' END,
         CASE WHEN twf > 0.30 THEN 'repetitive' END,
         CASE WHEN ttr < 0.30 THEN 'low_diversity' END,
         CASE WHEN stp < 1 THEN 'no_stopwords' END) END = '' AS keep
FROM scan LEFT JOIN s USING (doc_id) ORDER BY doc_id
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (plans.curation.curate): quality gate
    -> PII redaction -> decontamination vs the doc_id<10 eval set (a
    semi-join on 5-gram strings) -> exact dedup -> 512-token packing.
    Every stage is deterministic, so the DuckDB oracle replays the FULL
    five-stage chain."""
    from methyl_data_pipeline_spark.plans.curation import curate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return curate(corpus, bench, window_tokens=512).orderBy("source", "doc_id")


# Shared CTE chain for the curation family: quality gate -> PII
# redaction -> exact 5-gram decontamination -> min-id dedup -> 512-token
# packing. SQL_CURATION appends the placement SELECT; SQL_CORPUS_PIPELINE
# appends placement + the hash-split assignment.
_CURATION_CTES = r"""
WITH bench_w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents WHERE doc_id < 10
),
bench_sh AS (
  SELECT DISTINCT unnest(CASE WHEN len(ws) >= 5
    THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
              ws[i+4] || ' ' || ws[i+5]))
    ELSE [array_to_string(ws, ' ')] END) AS g
  FROM bench_w
),
base AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 10),
qt AS (
  SELECT doc_id, trim(text) AS txt,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM base
),
qscan AS (
  SELECT doc_id, len(ws) AS nw,
         length(regexp_replace(txt, '\s+', '', 'g')) * 1.0 / len(ws) AS mwl,
         len(list_filter(ws, w -> list_contains(
             ['the','and','of','to','a','in','is','that','it','for'], w))) AS stp
  FROM qt
),
qcnt AS (
  SELECT doc_id, gr, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(ws) AS gr FROM qt) GROUP BY doc_id, gr
),
qrep AS (
  SELECT doc_id, MAX(cnt) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS twf,
         COUNT(*) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS ttr
  FROM qcnt GROUP BY doc_id
),
kept AS (
  SELECT q.doc_id FROM qscan q JOIN qrep USING (doc_id)
  WHERE q.nw >= 10 AND q.nw <= 100000
    AND q.mwl >= 2.0 AND q.mwl <= 12.0
    AND qrep.twf <= 0.30 AND qrep.ttr >= 0.30 AND q.stp >= 1
),
red AS (
  SELECT b.doc_id, b.source,
         regexp_replace(regexp_replace(regexp_replace(b.text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS text
  FROM base b JOIN kept USING (doc_id)
),
rw AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM red
),
rsh AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 5
    THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
              ws[i+4] || ' ' || ws[i+5]))
    ELSE [array_to_string(ws, ' ')] END) AS g
  FROM rw
),
contaminated AS (SELECT DISTINCT r.doc_id FROM rsh r JOIN bench_sh b USING (g)),
clean AS (
  SELECT doc_id, source, array_to_string(ws, ' ') AS norm FROM rw
  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = rw.doc_id)
),
fp AS (SELECT doc_id, source, norm, md5(norm) AS f FROM clean),
winners AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f),
uniq AS (
  SELECT fp.doc_id, fp.source,
         CAST(len(string_split(fp.norm, ' ')) AS BIGINT) AS n_tokens
  FROM fp JOIN winners ON fp.f = winners.f AND fp.doc_id = winners.doc_id
),
placed AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS s
  FROM uniq
)
"""

SQL_CURATION = _CURATION_CTES + r"""
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(s / 512.0) AS BIGINT) AS bin_idx,
       s % 512 AS bin_offset,
       CAST(FLOOR(s / 512.0) AS BIGINT)
         <> CAST(FLOOR((s + n_tokens - 1) / 512.0) AS BIGINT) AS spans_boundary
FROM placed ORDER BY source, doc_id
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus materialization (plans.corpus.run_corpus_pipeline,
    VERDICT r5 #3): the curation chain composed with the deterministic
    md5 train/val/test split — the placement frame a training job reads
    (curate -> hash_split -> pack). Everything is deterministic (md5
    keys/splits, min-id winners, id-ordered packing), so the oracle
    replays the full composition as one CTE chain. The clustered-write
    leg is certified separately by ``layout_cert``."""
    from methyl_data_pipeline_spark.plans.corpus import run_corpus_pipeline

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    res = run_corpus_pipeline(corpus, bench, window_tokens=512)
    return res.placements.select(
        "source",
        "doc_id",
        "n_tokens",
        "bin_idx",
        "bin_offset",
        "spans_boundary",
        "split",
    ).orderBy("source", "doc_id")


SQL_CORPUS_PIPELINE = _CURATION_CTES + r"""
SELECT source, doc_id, n_tokens,
       CAST(FLOOR(s / 512.0) AS BIGINT) AS bin_idx,
       s % 512 AS bin_offset,
       CAST(FLOOR(s / 512.0) AS BIGINT)
         <> CAST(FLOOR((s + n_tokens - 1) / 512.0) AS BIGINT) AS spans_boundary,
       CASE WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT / 1152921504606846976.0 < 0.9  THEN 'train'
            WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT / 1152921504606846976.0 < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM placed ORDER BY source, doc_id
"""


def q_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-curation semantics, driver-certified (VERDICT r5 #4):
    runs ``streaming.events.curate_batch_twin`` — the batch twin that
    shares ``stream_curate``'s stateless stage chain verbatim (quality
    gate -> PII redact+normalize -> BLOOM decontamination -> body
    fingerprint) and swaps the stream's first-arrival dedup for the
    deterministic min-id winner. The stream/batch parity pytest binds
    the actual stream to this exact frame, so a green oracle row here
    certifies the streaming chain's semantics too. Reference semantics:
    the dataset.py:41 / bmiq/DoBMIQ.R:57-63 membership gates, lifted to
    continuous ingest."""
    return _stream_curate_probe(
        spark, sf_dir, _stream_curate_build(spark, sf_dir)
    )


def _stream_curate_build(spark: SparkSession, sf_dir: str) -> list[int]:
    """BUILD phase of q_stream_curate: benchmark shingles -> Bloom
    word list (one scan + constant-size bit_or collect). Split out so
    bench.py can time build and probe separately (VERDICT r6 #9)."""
    from methyl_data_pipeline_spark.ext.dedup import bloom_build, shingles
    from methyl_data_pipeline_spark.ext.text import md5_long

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    bench_hashes = bench.select(
        F.explode(F.array_distinct(shingles("text", 5))).alias("_s")
    ).select(md5_long(F.col("_s")).alias("_h"))
    return bloom_build(bench_hashes, "_h")


def _stream_curate_probe(
    spark: SparkSession, sf_dir: str, words: list[int]
) -> DataFrame:
    """PROBE phase of q_stream_curate: the stateless curation chain
    (quality gate -> PII redact -> Bloom probe -> fingerprint dedup)
    against a prebuilt Bloom word list."""
    from methyl_data_pipeline_spark.streaming.events import curate_batch_twin

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 10)
    return curate_batch_twin(corpus, bloom_words=words).orderBy("doc_id")


# quality gate + redaction CTEs mirror _CURATION_CTES; decontamination
# replays the Bloom membership as exact position-set algebra (all 5
# double-hash positions of a shingle present in the benchmark position
# set), exactly as SQL_BLOOM_DECONTAMINATE — but over the REDACTED
# normalized body, which is what stream_curate shingles.
SQL_STREAM_CURATE = r"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
qt AS (
  SELECT doc_id, trim(text) AS txt,
         regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM base
),
qscan AS (
  SELECT doc_id, len(ws) AS nw,
         length(regexp_replace(txt, '\s+', '', 'g')) * 1.0 / len(ws) AS mwl,
         len(list_filter(ws, w -> list_contains(
             ['the','and','of','to','a','in','is','that','it','for'], w))) AS stp
  FROM qt
),
qcnt AS (
  SELECT doc_id, gr, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(ws) AS gr FROM qt) GROUP BY doc_id, gr
),
qrep AS (
  SELECT doc_id, MAX(cnt) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS twf,
         COUNT(*) * 1.0 / CAST(SUM(cnt) AS BIGINT) AS ttr
  FROM qcnt GROUP BY doc_id
),
kept AS (
  SELECT q.doc_id FROM qscan q JOIN qrep USING (doc_id)
  WHERE q.nw >= 10 AND q.nw <= 100000
    AND q.mwl >= 2.0 AND q.mwl <= 12.0
    AND qrep.twf <= 0.30 AND qrep.ttr >= 0.30 AND q.stp >= 1
),
red AS (
  SELECT b.doc_id,
         regexp_replace(regexp_replace(regexp_replace(b.text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS text
  FROM base b JOIN kept USING (doc_id)
),
rw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM red
),
rsh AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 5
    THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
              ws[i+4] || ' ' || ws[i+5]))
    ELSE [array_to_string(ws, ' ')] END) AS g
  FROM rw
),
ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
       FROM rsh),
bw AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents WHERE doc_id < 10
),
bsh AS (
  SELECT unnest(CASE WHEN len(ws) >= 5
    THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
              ws[i+4] || ' ' || ws[i+5]))
    ELSE [array_to_string(ws, ' ')] END) AS g
  FROM bw
),
bh AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
       FROM bsh WHERE g IS NOT NULL),
js AS (SELECT unnest(generate_series(0, 4)) AS j),
bench_pos AS (
  SELECT DISTINCT ((h % 262144) + j * (1 + ((h >> 18) % 262143))) % 262144 AS p
  FROM bh CROSS JOIN js
),
corp_pos AS (
  SELECT doc_id, h,
         ((h % 262144) + j * (1 + ((h >> 18) % 262143))) % 262144 AS p
  FROM ch CROSS JOIN js
),
miss AS (
  SELECT DISTINCT doc_id, h FROM corp_pos
  WHERE p NOT IN (SELECT p FROM bench_pos)
),
contaminated AS (
  SELECT DISTINCT c.doc_id FROM ch c
  WHERE NOT EXISTS (SELECT 1 FROM miss m
                    WHERE m.doc_id = c.doc_id AND m.h = c.h)
),
clean AS (
  SELECT doc_id, array_to_string(ws, ' ') AS norm,
         CAST(len(ws) AS BIGINT) AS n_tokens
  FROM rw WHERE NOT EXISTS
    (SELECT 1 FROM contaminated c WHERE c.doc_id = rw.doc_id)
),
fp AS (
  SELECT doc_id, ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fingerprint,
         n_tokens
  FROM clean
),
winners AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint)
SELECT f.doc_id, f.fingerprint, f.n_tokens
FROM fp f JOIN winners w
  ON f.fingerprint = w.fingerprint AND f.doc_id = w.doc_id
ORDER BY f.doc_id
"""


def q_layout_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping layout certificate (VERDICT r5 #6,
    operators.scale.layout_sorted_write): range-cluster the documents
    table on doc_id into 4 parquet files, then read the per-file
    min/max back FROM THE PARQUET FOOTERS and certify (a) the files'
    key ranges are pairwise DISJOINT — the property that lets a
    point/range predicate prune to O(1) files at 100 TB — and (b) the
    written rows reconcile with the source (count and global key
    range). The footer stats are driver-side metadata (4 structs), not
    data; the oracle recomputes the reconciliation side from the source
    table and pins the disjointness flags to true."""
    import glob
    import os

    import pyarrow.parquet as pq

    from methyl_data_pipeline_spark.operators.scale import layout_sorted_write

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # output dir keyed by the scale factor (ADVICE r6): runs at
    # different SFs (or concurrent driver + local runs) must not share
    # and race on one directory
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join("/root/repo/spark-warehouse", f"_layout_cert_{sf_tag}")
    layout_sorted_write(docs, path, ["doc_id"], n_files=4)

    stats = []
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        if md.num_row_groups == 0:
            # an empty range partition at tiny SF writes a footer with
            # no row groups — nothing to certify, and min([]) crashes
            continue
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "doc_id"
        ]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        stats.append((min(mins), max(maxs), md.num_rows))
    stats.sort()
    disjoint = all(
        stats[i + 1][0] > stats[i][1] for i in range(len(stats) - 1)
    )
    cert = [
        (
            len(stats),
            bool(disjoint),
            int(sum(s[2] for s in stats)),
            int(stats[0][0]),
            int(max(s[1] for s in stats)),
        )
    ]
    return spark.createDataFrame(
        cert,
        "n_files long, ranges_disjoint boolean, n_rows long, "
        "min_doc_id long, max_doc_id long",
    )


SQL_LAYOUT_CERT = """
SELECT CAST(4 AS BIGINT) AS n_files,
       true               AS ranges_disjoint,
       COUNT(*)           AS n_rows,
       MIN(doc_id)        AS min_doc_id,
       MAX(doc_id)        AS max_doc_id
FROM documents
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: verified LSH pairs → distributed
    connected components (min-label propagation, ext.graph) → every
    document mapped to its cluster canonical (min id). The transitive
    closure matters: A~B~C collapse together even when A,C never share
    a bucket. Oracle: DuckDB recursive-CTE reachability."""
    from methyl_data_pipeline_spark.ext.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    out = dedup_clusters(docs, num_hashes=8, bands=4, threshold=0.8)
    return out.orderBy("doc_id")


def _sql_dedup_clusters() -> str:
    # reuse the verified-pairs CTE chain, then close it transitively
    base = _sql_ngram_jaccard().rsplit("SELECT id_a, id_b,", 1)[0]
    sql = f"""{base},
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified WHERE j >= 0.8
  UNION
  SELECT id_b, id_a FROM verified WHERE j >= 0.8
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       COALESCE(c.component, d.doc_id) <> d.doc_id AS is_duplicate
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY doc_id"""
    # the recursive reach() CTE needs the RECURSIVE marker on the list
    return sql.replace("WITH w AS (", "WITH RECURSIVE w AS (", 1)


def _sql_ngram_jaccard() -> str:
    base = _sql_minhash_pairs().rsplit("SELECT DISTINCT", 1)[0]
    return f"""{base},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
shd AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.s, sb.s))) AS j
  FROM cands c
  JOIN shd sa ON sa.doc_id = c.id_a
  JOIN shd sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, ROUND(j + 1e-9, 6) AS jaccard
FROM verified WHERE j >= 0.8 ORDER BY id_a, id_b"""


_NEARDUP_PLANES = 6
# embeddings are unit-norm: a +0.1 shift on one component gives
# cosine ~= 1 - 0.005 = 0.995 — above threshold with stable margin
_NEARDUP_PERTURB = 0.1
_NEARDUP_THRESHOLD = 0.98


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via md5-derived-hyperplane LSH
    buckets + exact cosine verify (ext.similarity.cosine_neardup_pairs).
    The synthetic embeddings are mutually far (max cosine ~0.51), so the
    query plants near-dups: vectors with id < 50 re-enter the corpus as
    id+100000 with the first component shifted by +0.25 — an identical,
    engine-neutral construction on the oracle side."""
    from methyl_data_pipeline_spark.ext.similarity import (
        cosine_neardup_pairs,
        valid_vector,
    )

    # the validity filter must run BEFORE the perturbation: the
    # construction itself indexes embedding[0] (crashes on an empty
    # array under ANSI); the oracle's base CTE carries the same clause
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(valid_vector(F.col("embedding")))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    # F.get (NULL on out-of-bounds), NOT embedding[0]: Catalyst pushes
    # the operator's internal validity predicate through this Project
    # and does not order combined filters, so the indexing expression
    # can evaluate on a not-yet-filtered empty array — under ANSI,
    # [0] aborts the job where get() yields NULL (and the NULL-bearing
    # vector then drops at the validity gate, same final result)
    perturbed = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.get(F.col("embedding"), 0) + F.lit(_NEARDUP_PERTURB)),
            F.expr("slice(embedding, 2, greatest(size(embedding) - 1, 0))"),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(perturbed)
    out = cosine_neardup_pairs(
        corpus, threshold=_NEARDUP_THRESHOLD, n_planes=_NEARDUP_PLANES
    )
    return out.select(
        "id_a", "id_b", _r(F.col("cosine")).alias("cosine")
    ).orderBy("id_a", "id_b")


def _sql_embedding_neardup() -> str:
    from methyl_data_pipeline_spark.ext.similarity import md5_planes

    planes = md5_planes(_NEARDUP_PLANES, 64)
    bits = " || ".join(
        "(CASE WHEN list_sum(list_transform(generate_series(1, len(v)), "
        f"i -> v[i] * ([{', '.join(repr(x) for x in p)}])[i])) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE {_sql_valid_vec('embedding')}),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000,
         list_concat([v[1] + {_NEARDUP_PERTURB!r}], v[2:]) FROM base
  WHERE vec_id < 50
),
keyed AS (SELECT vec_id, v, {bits} AS bucket FROM corpus),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(generate_series(1, len(a.v)),
                                 i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS c
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(c + 1e-9, 6) AS cosine
FROM pairs WHERE c >= {_NEARDUP_THRESHOLD!r} ORDER BY id_a, id_b"""


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (ext.similarity.ivf_topk): seeded-KMeans coarse
    quantizer, cell-keyed search join, exact cosine rerank. Run with
    n_probe == n_centroids, where IVF provably degrades to exact brute
    force — so the DuckDB brute-force oracle checks the whole IVF
    machinery (cell assignment, probe ranking, rerank) bit-for-bit.
    The approximate path (n_probe < n_centroids) is recall-tested in
    tests/test_ext.py."""
    from methyl_data_pipeline_spark.ext.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8)
    return out.select(
        "query_id", "rank", "neighbor_id", _r(F.col("cosine")).alias("cosine")
    ).orderBy("query_id", "rank")


def q_ivf_ann_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, approximate path (n_probe=2 of 8 cells): each query
    reranks ~1/4 of the corpus. Rows-only (recall-vs-exact is asserted
    in tests/test_ext.py); the oracle-exact twin is ivf_ann."""
    from methyl_data_pipeline_spark.ext.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2)
    return out.select(
        "query_id", "rank", "neighbor_id", _r(F.col("cosine")).alias("cosine")
    ).orderBy("query_id", "rank")


_SEMDEDUP_CELLS = 32
_SEMDEDUP_THRESHOLD = 0.95


def _semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared planted-dup embedding fixture for `semantic_dedup` and
    `two_level_recall`: validity BEFORE construction (the perturbation
    indexes embedding components — same reasoning as
    q_embedding_neardup); ids < 50 re-enter as id+100000 with dim 0
    shifted +0.1, ids < 25 again as id+200000 with dim 1 shifted +0.1
    — transitive triples that exercise the cluster closure."""
    from methyl_data_pipeline_spark.ext.similarity import valid_vector

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(valid_vector(F.col("embedding")))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    c1 = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.get(F.col("embedding"), 0) + F.lit(_NEARDUP_PERTURB)),
            F.expr("slice(embedding, 2, greatest(size(embedding) - 1, 0))"),
        ).alias("embedding"),
    )
    c2 = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(
            F.array(F.get(F.col("embedding"), 0)),
            F.array(F.get(F.col("embedding"), 1) + F.lit(_NEARDUP_PERTURB)),
            F.expr("slice(embedding, 3, greatest(size(embedding) - 2, 0))"),
        ).alias("embedding"),
    )
    return emb.unionByName(c1).unionByName(c2)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (ext.similarity.semantic_dedup,
    Abbas et al. 2023): md5-derived unit centroids → IVF cell
    assignment (JVM argmin over ONE broadcast centroid literal) →
    within-cell cosine >= 0.95 pairs via bucket_pair_expand →
    connected-components closure → keep the member FARTHEST from its
    cell centroid (the paper's low-density keep policy; ties to min
    id). Near-dups are planted engine-neutrally: ids < 50 re-enter as
    id+100000 with dim 0 shifted +0.1, ids < 25 again as id+200000
    with dim 1 shifted +0.1 — transitive triples that exercise the
    cluster closure beyond single pairs. Integer/boolean output
    channels only. Oracle: full DuckDB replay — assignment argmin,
    within-cell pair algebra, recursive-CTE reachability, dist-ranked
    representative election."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        semantic_dedup,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    out = semantic_dedup(
        corpus,
        centroids=md5_centroids(_SEMDEDUP_CELLS, 64),
        threshold=_SEMDEDUP_THRESHOLD,
        keep="far",
    )
    return out.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "is_duplicate",
    ).orderBy("vec_id")


def _sql_semantic_dedup() -> str:
    from methyl_data_pipeline_spark.ext.similarity import md5_centroids

    cents = md5_centroids(_SEMDEDUP_CELLS, 64)

    def lit(c: list) -> str:
        return "[" + ", ".join(repr(x) for x in c) + "]"

    # centroids go in as a VALUES relation, NOT as array literals
    # inside the lambda: DuckDB rebuilds a constant list literal per
    # lambda-element evaluation (575 rows x 32 cells x 64 dims x 2
    # refs ≈ 4.7M 64-element list builds — measured 147 s), where a
    # cross-joined column reference is just an index access (~2 s).
    # The distance folds as (a-b)*(a-b) — the SAME FP ops, in the
    # SAME order, as the Spark side's zip_with fold (a pow() or a
    # norm-expansion |v|^2 - 2v.c + |c|^2 rewrite would diverge in
    # the last ulp and could flip the argmin on near-ties); argmin =
    # ORDER BY d, ci == Spark's array_min over (d, i) structs.
    cent_rows = ",\n    ".join(
        f"({ci}, CAST({lit(c)} AS DOUBLE[]))" for ci, c in enumerate(cents)
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {_sql_valid_vec('embedding')}
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, list_concat([v[1] + {_NEARDUP_PERTURB!r}], v[2:])
  FROM base WHERE vec_id < 50
  UNION ALL
  SELECT vec_id + 200000, list_concat([v[1], v[2] + {_NEARDUP_PERTURB!r}], v[3:])
  FROM base WHERE vec_id < 25
),
cent(ci, cv) AS (
  VALUES
    {cent_rows}
),
scored AS MATERIALIZED (
  SELECT vec_id, v, ci,
         list_sum(list_transform(generate_series(1, len(v)),
                                 i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
  FROM (SELECT vec_id, v FROM corpus WHERE {_sql_valid_vec('v')})
  CROSS JOIN cent
),
assigned AS MATERIALIZED (
  SELECT vec_id, v, CAST(ci AS INTEGER) AS cell, d AS dist
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, ci ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(generate_series(1, len(a.v)),
                                i -> a.v[i] * b.v[i]))
          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             * sqrt(list_sum(list_transform(b.v, x -> x * x))))
        >= {_SEMDEDUP_THRESHOLD!r}
),
edges AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, w) AS (
  SELECT u, w FROM edges
  UNION
  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u
),
comp AS (SELECT u AS vec_id, LEAST(u, MIN(w)) AS component FROM reach GROUP BY u),
members AS (
  SELECT a.vec_id, a.cell, a.dist,
         COALESCE(c.component, a.vec_id) AS comp
  FROM assigned a LEFT JOIN comp c USING (vec_id)
),
rep AS (
  SELECT comp, vec_id AS rep_id,
         ROW_NUMBER() OVER (PARTITION BY comp
                            ORDER BY dist DESC, vec_id ASC) AS rn
  FROM members
)
SELECT m.vec_id,
       m.cell,
       CAST(r.rep_id AS BIGINT) AS canonical_id,
       r.rep_id <> m.vec_id AS is_duplicate
FROM members m JOIN rep r ON r.comp = m.comp AND r.rn = 1
ORDER BY m.vec_id"""


def q_two_level_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two_level recall certificate (ext.similarity.two_level_recall,
    VERDICT r10 #3): run semantic_dedup's exact flat assignment and
    the hierarchical two_level approximation on the same planted-dup
    fixture as `semantic_dedup` and report, in one row, how many
    vectors change fine cell and what fraction of the flat path's
    is_duplicate verdicts the two_level path keeps. Oracle: full
    DuckDB replay of BOTH paths — flat argmin, coarse argmin + owned
    refine (coarse centroids and ownership embedded from the SAME
    two_level_plan the operator routes through), two pair/closure/
    representative elections."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        two_level_recall,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    return two_level_recall(
        corpus,
        md5_centroids(_SEMDEDUP_CELLS, 64),
        threshold=_SEMDEDUP_THRESHOLD,
    )


def _sql_list_lit(c: list) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


def _sql_two_level_literal_plan() -> str:
    """cent/coarse CTEs for the md5-coarse (non-adapted) two_level
    oracle: the plan is data-independent, so it embeds as VALUES
    literals from the SAME two_level_plan the operator routes
    through."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        two_level_plan,
    )

    cents = md5_centroids(_SEMDEDUP_CELLS, 64)
    coarse_kept, owner = two_level_plan(cents)
    cent_rows = ",\n    ".join(
        f"({ci}, CAST({_sql_list_lit(c)} AS DOUBLE[]), {int(o)})"
        for ci, (c, o) in enumerate(zip(cents, owner))
    )
    coarse_rows = ",\n    ".join(
        f"({ki}, CAST({_sql_list_lit(c)} AS DOUBLE[]))"
        for ki, c in enumerate(coarse_kept)
    )
    return f"""cent(ci, cv, owner) AS (
  VALUES
    {cent_rows}
),
coarse(ki, kv) AS (
  VALUES
    {coarse_rows}
)"""


def _sql_two_level_body(plan_ctes: str, probe: int = 1) -> str:
    """Shared two_level-certificate oracle skeleton: corpus + validity,
    ``plan_ctes`` (must define cent(ci, cv, owner) and coarse(ki, kv);
    may reference val), flat + two_level assignment replays, two
    closure replays, and the one-row summary. ``probe`` widens asg_c
    to the nearest ``probe`` coarse cells (IVF nprobe; rn <= probe),
    matching semantic_dedup's coarse_probe fan-out — join_refine's
    groupBy collapse on the Spark side is the rn = 1 pick in asg_t
    here."""

    def closure(tag: str) -> str:
        """Pair -> reachability -> component -> dup-flag replay of
        _sql_semantic_dedup's closure, parameterized by assignment."""
        return f"""
pairs_{tag} AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg_{tag} a JOIN asg_{tag} b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(generate_series(1, len(a.v)),
                                i -> a.v[i] * b.v[i]))
          / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             * sqrt(list_sum(list_transform(b.v, x -> x * x))))
        >= {_SEMDEDUP_THRESHOLD!r}
),
edges_{tag} AS (
  SELECT id_a AS u, id_b AS w FROM pairs_{tag}
  UNION
  SELECT id_b, id_a FROM pairs_{tag}
),
reach_{tag}(u, w) AS (
  SELECT u, w FROM edges_{tag}
  UNION
  SELECT r.u, e.w FROM reach_{tag} r JOIN edges_{tag} e ON r.w = e.u
),
comp_{tag} AS (
  SELECT u AS vec_id, LEAST(u, MIN(w)) AS component FROM reach_{tag} GROUP BY u
),
members_{tag} AS (
  SELECT a.vec_id, a.cell, a.dist,
         COALESCE(c.component, a.vec_id) AS comp
  FROM asg_{tag} a LEFT JOIN comp_{tag} c USING (vec_id)
),
dup_{tag} AS (
  SELECT m.vec_id, m.cell,
         m.vec_id <> first_value(m.vec_id) OVER (
           PARTITION BY m.comp ORDER BY m.dist DESC, m.vec_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS is_dup
  FROM members_{tag} m
)"""

    return f"""
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {_sql_valid_vec('embedding')}
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, list_concat([v[1] + {_NEARDUP_PERTURB!r}], v[2:])
  FROM base WHERE vec_id < 50
  UNION ALL
  SELECT vec_id + 200000, list_concat([v[1], v[2] + {_NEARDUP_PERTURB!r}], v[3:])
  FROM base WHERE vec_id < 25
),
val AS (SELECT vec_id, v FROM corpus WHERE {_sql_valid_vec('v')}),
{plan_ctes},
scored_f AS MATERIALIZED (
  SELECT vec_id, v, ci,
         list_sum(list_transform(generate_series(1, len(v)),
                                 i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d
  FROM val CROSS JOIN cent
),
asg_f AS MATERIALIZED (
  SELECT vec_id, v, CAST(ci AS INTEGER) AS cell, d AS dist
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, ci ASC) AS rn
        FROM scored_f)
  WHERE rn = 1
),
scored_c AS (
  SELECT vec_id, v, ki,
         list_sum(list_transform(generate_series(1, len(v)),
                                 i -> (v[i] - kv[i]) * (v[i] - kv[i]))) AS d
  FROM val CROSS JOIN coarse
),
asg_c AS MATERIALIZED (
  SELECT vec_id, v, ki AS c1
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, ki ASC) AS rn
        FROM scored_c)
  WHERE rn <= {probe}
),
scored_t AS (
  SELECT a.vec_id, a.v, c.ci,
         list_sum(list_transform(generate_series(1, len(a.v)),
                                 i -> (a.v[i] - c.cv[i]) * (a.v[i] - c.cv[i]))) AS d
  FROM asg_c a JOIN cent c ON c.owner = a.c1
),
asg_t AS MATERIALIZED (
  SELECT vec_id, v, CAST(ci AS INTEGER) AS cell, d AS dist
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, ci ASC) AS rn
        FROM scored_t)
  WHERE rn = 1
),
{closure('f')},
{closure('t')},
joined AS (
  SELECT f.vec_id, f.cell AS cf, t.cell AS ct, f.is_dup AS df, t.is_dup AS dt
  FROM dup_f f JOIN dup_t t USING (vec_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN cf <> ct THEN 1 ELSE 0 END) AS BIGINT) AS n_cell_moved,
       CAST(SUM(CASE WHEN df THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_flat,
       CAST(SUM(CASE WHEN df AND dt THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_kept,
       CAST(ROUND(((COUNT(*) - SUM(CASE WHEN cf <> ct THEN 1 ELSE 0 END))
                   * 1.0 / COUNT(*) + 1e-9) * 1000000) AS BIGINT) AS cell_agree_ri,
       CASE WHEN SUM(CASE WHEN df THEN 1 ELSE 0 END) > 0
            THEN CAST(ROUND((SUM(CASE WHEN df AND dt THEN 1 ELSE 0 END)
                             * 1.0 / SUM(CASE WHEN df THEN 1 ELSE 0 END)
                             + 1e-9) * 1000000) AS BIGINT)
       END AS dup_recall_ri
FROM joined"""


def _sql_two_level_recall() -> str:
    return _sql_two_level_body(_sql_two_level_literal_plan(), probe=1)


_TWO_LEVEL_PROBE = 2
_TWO_LEVEL_SAMPLE = 256


def q_two_level_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two_level multi-probe recall certificate (VERDICT r11 #3,
    ext.similarity coarse_probe): the same certificate as
    `two_level_recall` but routing each vector through its 2 nearest
    coarse cells (IVF nprobe) before the owned-fine refine. Measured
    at sf0.01: dup recall 82.4% -> 92.6% (probe=2) -> 97.1% (probe=3)
    vs the exact flat path, at probe x refine fan-out — the knob that
    actually raises two_level recall (the data-adapted coarse fit,
    `two_level_adapted`, measurably LOWERS it under md5 fine
    centroids). Holds at scale: on the 10x replica shape (20,500
    vectors, k=320 -> 17 coarse cells) probe=2 lifts dup recall
    81.1% -> 85.0% (396/466) and cell agreement 26.7% -> 42.4%.
    Oracle: the literal-plan replay with rn <= 2 in the coarse
    assignment."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        two_level_recall,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    return two_level_recall(
        corpus,
        md5_centroids(_SEMDEDUP_CELLS, 64),
        threshold=_SEMDEDUP_THRESHOLD,
        coarse_probe=_TWO_LEVEL_PROBE,
    )


def _sql_two_level_probe() -> str:
    return _sql_two_level_body(
        _sql_two_level_literal_plan(), probe=_TWO_LEVEL_PROBE
    )


def q_two_level_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two_level DATA-ADAPTED-coarse certificate (VERDICT r11 #3,
    ext.similarity coarse_sample): the coarse level is fit by
    exact-integer Lloyd (quantized_lloyd: floor(x*1e6+0.5) coords,
    first-k init, floor(sum/count) updates, 4 rounds) on the first 256
    corpus vectors by vec_id, instead of clustering the fine-centroid
    points. MEASURED FINDING at sf0.01: dup recall DROPS 82.4% ->
    76.5% (and cell agreement 54.8% -> 33.4%) — with md5 (random)
    fine centroids the coarse level must tile the FINE-CENTROID set
    the routing predicts, not the data manifold, so the data-adapted
    fit is the wrong default here and stays opt-in; multi-probe
    (`two_level_probe`) is the recall raiser. Oracle: the ENTIRE
    adapted plan — quantization, all 4 integer-Lloyd rounds,
    ownership argmin — is recomputed IN SQL from the same sample rows
    (integer arithmetic end-to-end makes the replay bit-exact), then
    the same two-path certificate replay runs on top."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        two_level_recall,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    return two_level_recall(
        corpus,
        md5_centroids(_SEMDEDUP_CELLS, 64),
        threshold=_SEMDEDUP_THRESHOLD,
        coarse_sample=_TWO_LEVEL_SAMPLE,
    )


def _sql_int_kmeans(pfx: str, k: int, iters: int) -> str:
    """Unrolled exact-integer Lloyd over the quantized sample CTE
    ``sq`` — one CTE block per round: ``{pfx}d`` (exact int
    distances), ``{pfx}a`` (argmin, ties to lowest cell), ``{pfx}m``
    (floor(sum/count) update), ``{pfx}{t}`` (empty cells carry the
    previous centroid forward). Init = the first ``k`` sample rows in
    vec_id order. The final table is ``{pfx}{iters}(ki, dim, q)`` —
    group to arrays at the call site. Mirrors
    ``similarity.quantized_lloyd`` bit-for-bit."""
    parts = [f"""{pfx}0 AS (
  SELECT rnk - 1 AS ki, dim, q
  FROM (SELECT dim, q, DENSE_RANK() OVER (ORDER BY vec_id) AS rnk FROM sq)
  WHERE rnk <= {k}
)"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""{pfx}d{t} AS (
  SELECT s.vec_id, c.ki, SUM((s.q - c.q) * (s.q - c.q)) AS d2
  FROM sq s JOIN {pfx}{p} c USING (dim) GROUP BY 1, 2
),
{pfx}a{t} AS (
  SELECT vec_id, ki
  FROM (SELECT vec_id, ki, ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY d2 ASC, ki ASC) AS rn
        FROM {pfx}d{t})
  WHERE rn = 1
),
{pfx}m{t} AS (
  SELECT a.ki, s.dim, CAST(FLOOR(SUM(s.q) * 1.0 / COUNT(*)) AS BIGINT) AS q
  FROM {pfx}a{t} a JOIN sq s USING (vec_id) GROUP BY 1, 2
),
{pfx}{t} AS (
  SELECT p.ki, p.dim, COALESCE(m.q, p.q) AS q
  FROM {pfx}{p} p LEFT JOIN {pfx}m{t} m USING (ki, dim)
)""")
    return ",\n".join(parts)


def _sql_quantized_sample() -> str:
    """samp + sq CTEs: the ordered 256-row corpus sample and its
    quantized (vec_id, dim, q) unnest — the shared fit input of every
    in-SQL integer-kmeans plan."""
    from methyl_data_pipeline_spark.ext.similarity import _COARSE_Q_SCALE

    return f"""samp AS (SELECT vec_id, v FROM val ORDER BY vec_id LIMIT {_TWO_LEVEL_SAMPLE}),
sq AS MATERIALIZED (
  SELECT vec_id, i AS dim, CAST(FLOOR(v[i] * {float(_COARSE_Q_SCALE)!r} + 0.5) AS BIGINT) AS q
  FROM samp, UNNEST(generate_series(1, len(v))) AS t(i)
)"""


def _sql_two_level_adapted() -> str:
    import math

    from methyl_data_pipeline_spark.ext.similarity import (
        _COARSE_LLOYD_ITERS,
        _COARSE_Q_SCALE,
        _quantize_int,
        md5_centroids,
    )

    cents = md5_centroids(_SEMDEDUP_CELLS, 64)
    k1 = max(2, int(math.isqrt(len(cents))))
    fq = _quantize_int(cents)
    fine_rows = ",\n    ".join(
        f"({ci}, CAST({_sql_list_lit(c)} AS DOUBLE[]),"
        f" CAST({_sql_list_lit([int(v) for v in q])} AS BIGINT[]))"
        for ci, (c, q) in enumerate(zip(cents, fq))
    )
    plan = f"""{_sql_quantized_sample()},
{_sql_int_kmeans("c", k1, _COARSE_LLOYD_ITERS)},
coarseq AS (SELECT ki, list(q ORDER BY dim) AS qv
            FROM c{_COARSE_LLOYD_ITERS} GROUP BY ki),
fineq(ci, cv, qv) AS (
  VALUES
    {fine_rows}
),
ownd AS (
  SELECT f.ci, c.ki,
         list_sum(list_transform(generate_series(1, len(f.qv)),
                                 i -> (f.qv[i] - c.qv[i]) * (f.qv[i] - c.qv[i]))) AS d2
  FROM fineq f CROSS JOIN coarseq c
),
own AS (
  SELECT ci, ki
  FROM (SELECT ci, ki, ROW_NUMBER() OVER (PARTITION BY ci
                                          ORDER BY d2 ASC, ki ASC) AS rn
        FROM ownd)
  WHERE rn = 1
),
cent AS (SELECT f.ci, f.cv, o.ki AS owner FROM fineq f JOIN own o USING (ci)),
coarse AS (
  SELECT ki, list_transform(qv, x -> x / {float(_COARSE_Q_SCALE)!r}) AS kv
  FROM coarseq WHERE ki IN (SELECT DISTINCT ki FROM own)
)"""
    return _sql_two_level_body(plan, probe=1)


def q_two_level_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two_level with DATA-FITTED fine centroids (r12, the strongest
    form of VERDICT r11 #3's conjecture — which lands at the FINE
    level, not the coarse): fine cells come from
    quantized_kmeans_centroids (exact-integer Lloyd over the ordered
    256-row corpus sample), coarse from the same integer fit
    (coarse_sample) so the ENTIRE plan — both kmeans fits, ownership,
    routing — is integer-derived and the oracle recomputes all of it
    in SQL. MEASURED at sf0.01 vs the md5-fine certificate: dup
    recall 82.4% -> 94.7% at probe=1 (97.3% with probe=2), cell
    agreement 54.8% -> 50.4% (adapted coarse), and the exact flat
    baseline itself finds MORE true dup verdicts (75 vs 68) —
    data-adapted fine cells are where SemDeDup recall lives; IVF
    practice confirmed by certificate."""
    from methyl_data_pipeline_spark.ext.similarity import (
        quantized_kmeans_centroids,
        two_level_recall,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    fine = quantized_kmeans_centroids(
        corpus, _SEMDEDUP_CELLS, sample_n=_TWO_LEVEL_SAMPLE
    )
    return two_level_recall(
        corpus,
        fine,
        threshold=_SEMDEDUP_THRESHOLD,
        coarse_sample=_TWO_LEVEL_SAMPLE,
    )


def _sql_two_level_fitted() -> str:
    import math

    from methyl_data_pipeline_spark.ext.similarity import (
        _COARSE_LLOYD_ITERS,
        _COARSE_Q_SCALE,
    )

    k = _SEMDEDUP_CELLS
    k1 = max(2, int(math.isqrt(k)))
    it = _COARSE_LLOYD_ITERS
    scale = float(_COARSE_Q_SCALE)
    plan = f"""{_sql_quantized_sample()},
{_sql_int_kmeans("f", k, it)},
fineq AS (SELECT ki AS ci, list(q ORDER BY dim) AS qv
          FROM f{it} GROUP BY ki),
{_sql_int_kmeans("c", k1, it)},
coarseq AS (SELECT ki, list(q ORDER BY dim) AS qv
            FROM c{it} GROUP BY ki),
ownd AS (
  SELECT f.ci, c.ki,
         list_sum(list_transform(generate_series(1, len(f.qv)),
                                 i -> (f.qv[i] - c.qv[i]) * (f.qv[i] - c.qv[i]))) AS d2
  FROM fineq f CROSS JOIN coarseq c
),
own AS (
  SELECT ci, ki
  FROM (SELECT ci, ki, ROW_NUMBER() OVER (PARTITION BY ci
                                          ORDER BY d2 ASC, ki ASC) AS rn
        FROM ownd)
  WHERE rn = 1
),
cent AS (
  SELECT f.ci, list_transform(f.qv, x -> x / {scale!r}) AS cv,
         o.ki AS owner
  FROM fineq f JOIN own o USING (ci)
),
coarse AS (
  SELECT ki, list_transform(qv, x -> x / {scale!r}) AS kv
  FROM coarseq WHERE ki IN (SELECT DISTINCT ki FROM own)
)"""
    return _sql_two_level_body(plan, probe=1)


_DSIR_BUCKETS = 1024
_DSIR_K = 100
_DSIR_SMOOTH = 1.0


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (ext.text.dsir_select, Xie et al.
    2023): English docs with doc_id % 7 == 0 form the target
    distribution; every other doc is raw. Each raw doc scores
    sum_b count[b] * (log p_target[b] - log q_raw[b]) over 1024
    md5-hashed unigram+bigram buckets (Laplace 1.0, log-ratio table
    pre-rounded to 9 dp), and the top 100 by deterministic Gumbel key
    (md5-derived noise, 6-dp rounded, ties to min id) are kept —
    sampling ∝ w without an RNG. Oracle: full DuckDB replay of the
    hashing, distributions, scoring, and Gumbel ranking."""
    from methyl_data_pipeline_spark.ext.text import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 7 == 0))
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    # stage=False (VERDICT r14 #7 — the r14 stage=True opt-in measured
    # SLOWER on the driver, 2.63 -> 3.40 s, and the r15 interleaved
    # quiet-session A/B confirmed it in all 4 pairs: lazy 2.45-3.48 s
    # vs staged 3.26-4.06 s at sf0.1. The staged persist's fill
    # barrier costs more wall than the second raw-corpus pass it
    # saves at bench scale; the operator keeps the opt-in for cluster
    # callers where the raw re-scan dominates.)
    out = dsir_select(
        raw,
        target,
        k=_DSIR_K,
        buckets=_DSIR_BUCKETS,
        smoothing=_DSIR_SMOOTH,
    )
    return out.select(
        "doc_id",
        "n_grams",
        _ri(F.col("log_weight")).alias("logw_micro"),
        F.col("sel_rank").cast("int").alias("sel_rank"),
    ).orderBy("sel_rank")


def _sql_dsir_select() -> str:
    b, k, a = _DSIR_BUCKETS, _DSIR_K, _DSIR_SMOOTH
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    return rf"""
WITH wf_tgt AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE lang = 'en' AND doc_id % 7 = 0 AND text IS NOT NULL
),
wf_raw AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL
),
g_tgt AS (SELECT doc_id, unnest({grams}) AS gram FROM wf_tgt),
g_raw AS (SELECT doc_id, unnest({grams}) AS gram FROM wf_raw),
db_raw AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g_raw GROUP BY 1, 2
),
db_tgt AS (SELECT {h} % {b} AS bk, COUNT(*) AS np FROM g_tgt GROUP BY 1),
qd AS (SELECT bk, SUM(c) AS nq FROM db_raw GROUP BY bk),
dist AS (
  SELECT bk, COALESCE(np, 0) AS np, COALESCE(nq, 0) AS nq
  FROM db_tgt FULL JOIN qd USING (bk)
),
ratio AS (
  SELECT bk,
         ROUND(ln((np + {a!r}) / ((SELECT SUM(np) FROM dist) + {a * b!r}))
             - ln((nq + {a!r}) / ((SELECT SUM(nq) FROM dist) + {a * b!r}))
             + 1e-12,
               9) AS lr
  FROM dist
),
w AS (
  SELECT r.doc_id,
         CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
         COALESCE(s.lw, 0.0) AS log_weight
  FROM (SELECT doc_id FROM documents
        WHERE doc_id % 7 <> 0 AND text IS NOT NULL) r
  LEFT JOIN (
    SELECT d.doc_id, SUM(d.c) AS n_grams,
           SUM(d.c * COALESCE(rt.lr, 0.0)) AS lw
    FROM db_raw d LEFT JOIN ratio rt USING (bk) GROUP BY d.doc_id
  ) s USING (doc_id)
),
keyed AS (
  SELECT doc_id, n_grams, log_weight,
         ROUND(log_weight
               - ln(-ln(((('0x'||substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
                           1, 15))::BIGINT % 1048576) + 0.5) / 1048576.0))
               + 1e-9, 6) AS key
  FROM w
),
sel AS (
  SELECT doc_id, n_grams, log_weight,
         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS sel_rank
  FROM keyed
)
SELECT doc_id, n_grams,
       CAST(ROUND((log_weight + 1e-9) * 1000000) AS BIGINT) AS logw_micro,
       CAST(sel_rank AS INTEGER) AS sel_rank
FROM sel WHERE sel_rank <= {k} ORDER BY sel_rank"""


_LINEDEDUP_FOOTER = "subscribe to our newsletter for updates"


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup (ext.dedup.line_dedup,
    Wenzek et al. 2020): lines whose normalized content appears in
    >= 2 distinct documents are removed from every document.
    Multi-line structure is planted engine-neutrally: docs with
    doc_id % 3 == 0 gain a shared boilerplate footer line (removed
    everywhere, df ~ corpus/3), and the testdata's planted duplicate
    documents lose their whole (single-line) body, leaving empty
    text. Oracle: full DuckDB replay — newline split, normalize+md5
    line keys, distinct-doc df, ordered reassembly."""
    from methyl_data_pipeline_spark.ext.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n" + _LINEDEDUP_FOOTER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return line_dedup(docs).orderBy("doc_id")


def _sql_line_dedup() -> str:
    norm = r"regexp_replace(lower(trim(ln)), '\s+', ' ', 'g')"
    return rf"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || '{_LINEDEDUP_FOOTER}'
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i, ws[i] AS ln
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ws
        FROM corpus WHERE text IS NOT NULL),
       UNNEST(generate_series(1, len(ws))) AS t(i)
),
keyed AS (
  SELECT doc_id, i, ln,
         CASE WHEN trim(ln) <> ''
              THEN ('0x' || substr(md5({norm}), 1, 15))::BIGINT END AS k
  FROM lines
),
dupk AS (
  SELECT k
  FROM (SELECT k, COUNT(DISTINCT doc_id) AS dfc
        FROM keyed WHERE k IS NOT NULL GROUP BY k)
  WHERE dfc >= 2
),
marked AS (
  SELECT ky.doc_id, ky.i, ky.ln, d.k IS NOT NULL AS dup
  FROM keyed ky LEFT JOIN dupk d USING (k)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(list(ln ORDER BY i) FILTER (WHERE NOT dup),
                                chr(10)), '') AS text
FROM marked GROUP BY doc_id ORDER BY doc_id"""


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization scrub (ext.text.normalize_text, VERDICT
    r11 #4): confusable map (NBSP/figure-space/narrow-NBSP -> space,
    zero-widths/BOM -> deleted, one JVM translate) then NFC
    composition (Arrow-batched). Confusable variants are planted
    engine-neutrally: docs with doc_id % 11 == 2 gain an NBSP tail,
    % 13 == 3 a zero-width-space tail, % 17 == 5 a decomposed-accent
    (e + U+0301) tail — so `changed` is exercised by all three
    mechanisms. Oracle: DuckDB nfc_normalize(translate(...)) over the
    same planted corpus — an independent Unicode NFC implementation
    (utf8proc vs Python unicodedata)."""
    from methyl_data_pipeline_spark.ext.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 2,
            F.concat(F.col("text"), F.lit(" nb\u00a0sp tail")),
        )
        .when(
            F.col("doc_id") % 13 == 3,
            F.concat(F.col("text"), F.lit(" zw\u200bsp tail")),
        )
        .when(
            F.col("doc_id") % 17 == 5,
            F.concat(F.col("text"), F.lit(" cafe\u0301 tail")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    norm = normalize_text(F.col("text"))
    return (
        corpus.select(
            "doc_id",
            norm.alias("norm_text"),
            (norm != F.col("text")).alias("changed"),
        )
        .orderBy("doc_id")
    )


def _sql_normalize_text() -> str:
    src = "chr(160)||chr(8199)||chr(8239)||chr(8203)||chr(8204)||chr(8205)||chr(8288)||chr(65279)"
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 2 THEN text || ' nb' || chr(160) || 'sp tail'
              WHEN doc_id % 13 = 3 THEN text || ' zw' || chr(8203) || 'sp tail'
              WHEN doc_id % 17 = 5 THEN text || ' cafe' || chr(769) || ' tail'
              ELSE text END AS text
  FROM documents
),
normed AS (
  SELECT doc_id, text,
         nfc_normalize(translate(text, {src}, '   ')) AS norm_text
  FROM corpus
)
SELECT doc_id, norm_text, norm_text <> text AS changed
FROM normed ORDER BY doc_id"""


def q_line_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup with unicode-normalized keys (normalize=True,
    VERDICT r11 #4): two planted footer PAIRS that the un-normalized
    path cannot dedup — doc 7 gains an NBSP-spaced footer and doc 11
    its plain-space twin; doc 13 a decomposed-accent (e+U+0301)
    notice and doc 19 its precomposed (U+00E9) twin. Normalized
    keying maps each pair to one line key (df=2 >= min_df), so all
    four planted lines are removed; a pytest pins that
    normalize=False keeps them. Oracle: the line_dedup replay with
    nfc_normalize(translate(...)) applied before the key-normalize,
    blank test on the normalized form."""
    from methyl_data_pipeline_spark.ext.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    tails = {
        7: "\nNorm\u00a0Footer Line",
        11: "\nNorm Footer Line",
        13: "\nCafe\u0301 Notice",
        19: "\nCaf\u00e9 Notice",
    }
    col = F.col("text")
    for did, tail in tails.items():
        col = F.when(
            F.col("doc_id") == did, F.concat(F.col("text"), F.lit(tail))
        ).otherwise(col)
    corpus = docs.select("doc_id", col.alias("text"))
    return line_dedup(corpus, normalize=True).orderBy("doc_id")


def _sql_line_dedup_norm() -> str:
    src = "chr(160)||chr(8199)||chr(8239)||chr(8203)||chr(8204)||chr(8205)||chr(8288)||chr(65279)"
    nt = f"nfc_normalize(translate(ln, {src}, '   '))"
    norm = rf"regexp_replace(lower(trim({nt})), '\s+', ' ', 'g')"
    return rf"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id = 7  THEN text || chr(10) || 'Norm' || chr(160) || 'Footer Line'
              WHEN doc_id = 11 THEN text || chr(10) || 'Norm Footer Line'
              WHEN doc_id = 13 THEN text || chr(10) || 'Cafe' || chr(769) || ' Notice'
              WHEN doc_id = 19 THEN text || chr(10) || 'Caf' || chr(233) || ' Notice'
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i, ws[i] AS ln
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ws
        FROM corpus WHERE text IS NOT NULL),
       UNNEST(generate_series(1, len(ws))) AS t(i)
),
keyed AS (
  SELECT doc_id, i, ln,
         CASE WHEN trim({nt}) <> ''
              THEN ('0x' || substr(md5({norm}), 1, 15))::BIGINT END AS k
  FROM lines
),
dupk AS (
  SELECT k
  FROM (SELECT k, COUNT(DISTINCT doc_id) AS dfc
        FROM keyed WHERE k IS NOT NULL GROUP BY k)
  WHERE dfc >= 2
),
marked AS (
  SELECT ky.doc_id, ky.i, ky.ln, d.k IS NOT NULL AS dup
  FROM keyed ky LEFT JOIN dupk d USING (k)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(list(ln ORDER BY i) FILTER (WHERE NOT dup),
                                chr(10)), '') AS text
FROM marked GROUP BY doc_id ORDER BY doc_id"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup on canonical URLs (ext.dedup.url_dedup +
    ext.text.canonicalize_url, VERDICT r11 #5 — CCNet stage 0;
    r12 #5 added port/percent/whitespace normalization). URLs are
    synthesized engine-neutrally from doc_id: 6 variants per path id
    (scheme case, www, trailing slash, query-param order, fragment,
    default ``:443``/``:80`` ports, ``%44``/``%61`` unreserved
    escapes, a trailing newline) that all canonicalize to the same
    `example.com/Docs/<m>?a=1&b=2`, plus a NULL-url stripe
    (doc_id % 97 == 7) pinning the NULL-drop contract and a junk
    stripe (doc_id % 89 == 11: ``'https://'`` / ``'   '`` /
    ``'#frag'``) pinning the empty-canonical drop (ADVICE r12 — junk
    must never form one duplicate family). One fact shuffle keyed on
    the canonical URL (min-id window). Oracle: full DuckDB replay of
    the whitespace scrub ('g' flag), the %-escape split/decode, the
    regex peel (fragment/scheme/host/www/port/path-slash/query-sort),
    the empty-canonical filter, and the min-per-group election."""
    from methyl_data_pipeline_spark.ext.dedup import url_dedup

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 6
    j = F.col("doc_id") % 3
    url = (
        F.when(F.col("doc_id") % 97 == 7, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 89 == 11,
            F.when(j == 0, F.lit("https://"))
            .when(j == 1, F.lit("   "))
            .otherwise(F.lit("#frag")),
        )
        .when(
            v == 0,
            F.concat(F.lit("https://www.example.com/Docs/"), m, F.lit("?a=1&b=2")),
        )
        .when(
            v == 1,
            F.concat(F.lit("http://example.com/Docs/"), m, F.lit("/?b=2&a=1")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("HTTPS://Example.COM/Docs/"), m, F.lit("?b=2&a=1#frag")
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://www.example.com/Docs/"), m, F.lit("/?a=1&b=2#sec")
            ),
        )
        .when(
            v == 4,
            F.concat(
                F.lit("https://example.com:443/%44ocs/"), m, F.lit("?b=2&%61=1")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTP://WWW.Example.com:80/Docs/"), m, F.lit("?a=1&b=2\n")
            )
        )
    )
    corpus = docs.select("doc_id", url.alias("url"))
    return url_dedup(corpus).orderBy("doc_id")


def _sql_url_dedup() -> str:
    return r"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 7 THEN NULL
              WHEN doc_id % 89 = 11 THEN
                   CASE WHEN doc_id % 3 = 0 THEN 'https://'
                        WHEN doc_id % 3 = 1 THEN '   '
                        ELSE '#frag' END
              WHEN doc_id % 6 = 0 THEN 'https://www.example.com/Docs/' || (doc_id % 50) || '?a=1&b=2'
              WHEN doc_id % 6 = 1 THEN 'http://example.com/Docs/' || (doc_id % 50) || '/?b=2&a=1'
              WHEN doc_id % 6 = 2 THEN 'HTTPS://Example.COM/Docs/' || (doc_id % 50) || '?b=2&a=1#frag'
              WHEN doc_id % 6 = 3 THEN 'https://www.example.com/Docs/' || (doc_id % 50) || '/?a=1&b=2#sec'
              WHEN doc_id % 6 = 4 THEN 'https://example.com:443/%44ocs/' || (doc_id % 50) || '?b=2&%61=1'
              ELSE 'HTTP://WWW.Example.com:80/Docs/' || (doc_id % 50) || '?a=1&b=2' || chr(10) END AS url
  FROM documents
),
ws AS (
  SELECT doc_id, regexp_replace(url, '\s', '', 'g') AS u0
  FROM corpus WHERE url IS NOT NULL
),
dec AS (
  SELECT doc_id,
         parts[1] || COALESCE(array_to_string(list_transform(parts[2:], t ->
           CASE WHEN regexp_matches(upper(substr(t,1,2)), '^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$')
                THEN decode(unhex(upper(substr(t,1,2)))) || substr(t,3)
                WHEN regexp_matches(upper(substr(t,1,2)), '^[0-9A-F]{2}$')
                THEN '%' || upper(substr(t,1,2)) || substr(t,3)
                ELSE '%' || t END), ''), '') AS u
  FROM (SELECT doc_id, string_split(u0, '%') AS parts FROM ws)
),
peel AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, '#.*$', ''),
                        '(?i)^https?://', '') AS u
  FROM dec
),
parts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(regexp_extract(u, '^[^/?]*')),
                                       '^www\.', ''), ':(80|443)$', '') AS host,
         regexp_replace(u, '^[^/?]*', '') AS rest
  FROM peel
),
canon AS (
  SELECT doc_id,
         host || regexp_replace(regexp_extract(rest, '^[^?]*'), '/+$', '')
              || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM (SELECT doc_id, host, rest,
               array_to_string(
                 list_sort(list_filter(
                   string_split(regexp_replace(rest, '^[^?]*\??', ''), '&'),
                   x -> x <> '')), '&') AS qs
        FROM parts)
)
SELECT doc_id, canonical_url,
       MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_duplicate
FROM canon WHERE canonical_url <> '' ORDER BY doc_id"""


_QSL_BUCKETS = 1024
_QSL_THRESHOLD = 0.05


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier
    (ext.text.quality_score_linear, VERDICT r11 #8): mean-pooled
    md5-hashed unigram+bigram bucket features through a broadcast
    (bucket, weight) table — logit = sum(count*w)/n_grams, pass iff
    logit >= 0.05. Weights are the deterministic md5-derived table
    (hashed_weight_table: grid-aligned 3-dp doubles in [-1, 1]) so
    both engines derive them independently; quality_pass compares on
    the MICRO-ROUNDED logit (the repo's hash-stable channel), not the
    raw double. Oracle: full DuckDB replay — grams, buckets, weight
    derivation, mean-pool, threshold."""
    from methyl_data_pipeline_spark.ext.text import (
        hashed_weight_table,
        quality_score_linear,
    )

    docs = _t(spark, sf_dir, "documents")
    w = hashed_weight_table(spark, _QSL_BUCKETS)
    out = quality_score_linear(
        docs, w, buckets=_QSL_BUCKETS, threshold=_QSL_THRESHOLD
    )
    lm = _ri(F.col("logit"))
    thr_micro = int(round(_QSL_THRESHOLD * 1_000_000))
    return out.select(
        "doc_id",
        "n_grams",
        lm.alias("logit_micro"),
        (lm >= F.lit(thr_micro)).alias("quality_pass"),
    ).orderBy("doc_id")


def _sql_quality_classifier() -> str:
    b = _QSL_BUCKETS
    thr_micro = int(round(_QSL_THRESHOLD * 1_000_000))
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    wexpr = (
        "((('0x'||substr(md5('qw|' || bk),1,15))::BIGINT % 2001 - 1000)"
        " / 1000.0)"
    )
    return rf"""
WITH docs0 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
sc AS (
  SELECT doc_id, SUM(c) AS n_grams, SUM(c * {wexpr}) AS dot
  FROM db GROUP BY doc_id
),
fin AS (
  SELECT d.doc_id,
         CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 1000000) AS BIGINT) AS logit_micro
  FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
  LEFT JOIN sc USING (doc_id)
)
SELECT doc_id, n_grams, logit_micro,
       logit_micro >= {thr_micro} AS quality_pass
FROM fin ORDER BY doc_id"""


def q_classifier_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based curation calibration — the composition a real
    pipeline runs: quality_score_linear's logits (md5 weight table,
    centi-grid discretized — the sweep's bounded-cardinality
    contract) swept through threshold_sweep against the lang=='en'
    pseudo-gold, yielding the precision/recall curve that picks the
    classifier's keep-cutoff. NULL-lang docs drop (unevaluable
    contract). Integer channels only. Oracle: the quality scoring
    replay feeding the cumulative per-score window replay."""
    from methyl_data_pipeline_spark.ext.text import (
        hashed_weight_table,
        quality_score_linear,
        threshold_sweep,
    )

    docs = _t(spark, sf_dir, "documents")
    w = hashed_weight_table(spark, _QSL_BUCKETS)
    scored = quality_score_linear(docs, w, buckets=_QSL_BUCKETS)
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("gold")),
        "doc_id",
    ).select(
        _ri(F.col("logit"), scale=100).alias("score_c"),
        "gold",
    )
    return threshold_sweep(labeled, "score_c", "gold").orderBy(
        F.col("threshold").desc()
    )


def _sql_classifier_sweep() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    wexpr = (
        "((('0x'||substr(md5('qw|' || bk),1,15))::BIGINT % 2001 - 1000)"
        " / 1000.0)"
    )
    return rf"""
WITH docs0 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
sc AS (
  SELECT doc_id, SUM(c) AS n_grams, SUM(c * {wexpr}) AS dot
  FROM db GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 100) AS BIGINT) AS score_c
  FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
  LEFT JOIN sc USING (doc_id)
),
labeled AS (
  SELECT s.score_c AS threshold,
         CASE WHEN dd.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents dd USING (doc_id)
  WHERE dd.lang IS NOT NULL
),
per AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS np
  FROM labeled GROUP BY threshold
)
SELECT threshold,
       CAST(SUM(n) OVER w AS BIGINT) AS n_kept,
       CAST(SUM(np) OVER w AS BIGINT) AS n_true_pos,
       CAST(SUM(n) OVER w - SUM(np) OVER w AS BIGINT) AS n_false_pos,
       CAST(SUM(np) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_pos_total
FROM per
WINDOW w AS (ORDER BY threshold DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY threshold DESC"""


def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-classifier training (VERDICT r12 #4,
    ext.text.train_quality_weights): closed-form Naive-Bayes log-odds
    weights over the shared hashed unigram+bigram bucket features,
    fit against the lang=='en' pseudo-gold — one bucket-keyed
    aggregate + a broadcast totals row, fully lazy (no driver
    round-trips, unlike the gradient-descent LR that was measured
    degenerate at oracle-replayable iteration budgets; see the
    operator docstring). Output: nonzero micro-grid weights plus the
    bucket=-1 class-prior row. Oracle: full DuckDB replay of the fit
    (per-class bucket counts, class totals, smoothed log-odds,
    prior) — every ln input is an exact integer ratio."""
    from methyl_data_pipeline_spark.ext.text import train_quality_weights

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn("_gold", (F.col("lang") == "en").cast("int"))
    w = train_quality_weights(labeled, "_gold", buckets=_QSL_BUCKETS)
    wm = _ri(F.col("weight"))
    return (
        w.select(F.col("bucket").cast("int").alias("bucket"), wm.alias("weight_micro"))
        .filter((F.col("weight_micro") != 0) | (F.col("bucket") == -1))
        .orderBy("bucket")
    )


def _sql_classifier_train() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    # two-step rounding mirroring the operator (6-dp grid) then the
    # _ri micro channel
    w_micro = (
        "CAST(ROUND((ROUND(ln((c1 + 1.0)/(t1 + {b}.0))"
        " - ln((c0 + 1.0)/(t0 + {b}.0)) + 1e-9, 6) + 0.0 + 1e-9)"
        " * 1000000) AS BIGINT)"
    ).format(b=b)
    bias_micro = (
        "CAST(ROUND((ROUND(ln(n1 * 1.0) - ln(n0 * 1.0) + 1e-9, 6)"
        " + 0.0 + 1e-9) * 1000000) AS BIGINT)"
    )
    return rf"""
WITH docs0 AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
g AS (SELECT doc_id, y, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, y, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
),
pb AS (
  SELECT bk, SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS c1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS c0
  FROM db GROUP BY bk
),
tot AS (
  SELECT SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS t1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS t0
  FROM db
),
nd AS (
  -- prior counts labeled non-NULL-text docs (zero-gram docs
  -- included): the label is prior evidence even without grams
  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n0
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
w AS (
  SELECT CAST(bk AS INT) AS bucket, {w_micro} AS weight_micro
  FROM pb, tot
  UNION ALL
  SELECT -1, {bias_micro} FROM nd
)
SELECT bucket, weight_micro FROM w
WHERE weight_micro <> 0 OR bucket = -1 ORDER BY bucket"""


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-vs-md5 classifier comparison at the SAME cutoff
    (VERDICT r12 #4's done-gate): both weight tables scored by
    quality_score_linear (mean-pooled, bias 0) over the same docs,
    confusion counts + precision/recall/F1 at the micro-logit >= 0
    cut, plus each model's best sweep F1 (threshold_sweep over the
    centi-logit channel). MEASURED sf0.01: trained P .798 / R .798 /
    F1 .798 vs md5 P .440 / R .931 / F1 .598 — the md5 table at
    cutoff 0 is a near-pass-all gate; training separates. Integer
    channels only. Oracle: full replay of both scorings, the NB fit,
    the confusion algebra, and both sweeps."""
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        hashed_weight_table,
        quality_score_linear,
        threshold_sweep,
        train_quality_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    gold = docs.filter(F.col("lang").isNotNull()).select(
        "doc_id", (F.col("lang") == "en").alias("_gold")
    )
    labeled = docs.withColumn("_gold", (F.col("lang") == "en").cast("int"))
    # ONE corpus featurize shared by the trainer and all four scoring
    # consumers (2 models x {confusion agg, sweep}) — uncached, each
    # consumer re-ran the gram explode + (id, bucket) collapse (guide
    # §2.4/§5; r14 A/B below). The frame is (id, bucket, count) —
    # corpus-row-bounded, narrow, spillable.
    dbc = cache.track(_doc_bucket_counts(docs, "text", "doc_id", _QSL_BUCKETS))
    tables = {
        "md5": hashed_weight_table(spark, _QSL_BUCKETS),
        # trained table persisted (<= buckets+1 rows): it is broadcast
        # into the scoring join of BOTH consumers below — uncached,
        # each broadcast re-runs the training aggregates
        "trained": train_quality_weights(
            labeled, "_gold", buckets=_QSL_BUCKETS, features=dbc
        ).filter(F.col("bucket") >= 0),
    }
    rows = []
    for model, wtab in tables.items():
        scored = quality_score_linear(
            docs, wtab, buckets=_QSL_BUCKETS, features=dbc
        )
        # NO persist of the scored frame, on measurement (VERDICT r14
        # #5 suggested it; the r15 A/B said no — medians of 5, sf0.1:
        # 4.52 s lazy vs 4.58 s with a per-model (logit, _gold) cache.
        # The two consumers are a 1-row agg and the sweep — both cheap
        # map+agg pipelines over the already-persisted dbc, and the
        # cache fill serializes them behind a materialization barrier,
        # the same trade r14 measured on lang_id_nb's wrapper).
        j = scored.join(gold, "doc_id")
        lm = _ri(F.col("logit"))
        passed = lm >= 0
        fixed = j.agg(
            F.lit(model).alias("model"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(passed.cast("long")).cast("long").alias("n_pass"),
            F.sum((passed & F.col("_gold")).cast("long")).cast("long").alias("tp"),
            F.sum((passed & ~F.col("_gold")).cast("long")).cast("long").alias("fp"),
            F.sum((~passed & F.col("_gold")).cast("long")).cast("long").alias("fn"),
        )
        fixed = fixed.select(
            "*",
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.round(
                    F.col("tp") * 1000.0 / (F.col("tp") + F.col("fp")) + 1e-9
                ),
            )
            .otherwise(0.0)
            .cast("long")
            .alias("precision_milli"),
            F.when(
                F.col("tp") + F.col("fn") > 0,
                F.round(
                    F.col("tp") * 1000.0 / (F.col("tp") + F.col("fn")) + 1e-9
                ),
            )
            .otherwise(0.0)
            .cast("long")
            .alias("recall_milli"),
        )
        sweep = threshold_sweep(
            j.select(_ri(F.col("logit"), scale=100).alias("score_c"), "_gold"),
            "score_c",
            "_gold",
        )
        best = sweep.agg(
            F.max(
                F.round(
                    F.col("n_true_pos")
                    * 2000.0
                    / (F.col("n_kept") + F.col("n_pos_total"))
                    + 1e-9
                ).cast("long")
            ).alias("best_f1_milli")
        )
        rows.append(fixed.crossJoin(F.broadcast(best)))
    out = rows[0].unionByName(rows[1])
    return out.orderBy("model")


def _sql_classifier_eval() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    md5_w = (
        "((('0x'||substr(md5('qw|' || bk),1,15))::BIGINT % 2001 - 1000)"
        " / 1000.0)"
    )
    nb_w = (
        "ROUND(ln((c1 + 1.0)/(t1 + {b}.0))"
        " - ln((c0 + 1.0)/(t0 + {b}.0)) + 1e-9, 6) + 0.0"
    ).format(b=b)
    return rf"""
WITH docs0 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
gold AS (
  SELECT doc_id, lang = 'en' AS _gold FROM documents WHERE lang IS NOT NULL
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE lang IS NOT NULL
),
dbl AS (SELECT db.*, y FROM db JOIN lab USING (doc_id)),
pb AS (
  SELECT bk, SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS c1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS c0
  FROM dbl GROUP BY bk
),
tot AS (
  SELECT SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS t1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS t0
  FROM dbl
),
wt AS (SELECT bk, {nb_w} AS w FROM pb, tot),
sc_md5 AS (
  SELECT doc_id, SUM(c) AS n_grams, SUM(c * {md5_w}) AS dot
  FROM db GROUP BY doc_id
),
sc_tr AS (
  SELECT doc_id, SUM(c) AS n_grams, SUM(c * COALESCE(w, 0.0)) AS dot
  FROM db LEFT JOIN wt USING (bk) GROUP BY doc_id
),
all_docs AS (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL),
per_doc AS (
  SELECT 'md5' AS model, d.doc_id,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 1000000) AS BIGINT) AS lm,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 100) AS BIGINT) AS score_c
  FROM all_docs d LEFT JOIN sc_md5 USING (doc_id)
  UNION ALL
  SELECT 'trained', d.doc_id,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 1000000) AS BIGINT),
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 100) AS BIGINT)
  FROM all_docs d LEFT JOIN sc_tr USING (doc_id)
),
jj AS (SELECT p.*, g._gold FROM per_doc p JOIN gold g USING (doc_id)),
fixed AS (
  SELECT model,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN lm >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         CAST(SUM(CASE WHEN lm >= 0 AND _gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN lm >= 0 AND NOT _gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN lm < 0 AND _gold THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM jj GROUP BY model
),
per_score AS (
  SELECT model, score_c, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN _gold THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM jj GROUP BY model, score_c
),
sweep AS (
  SELECT model,
         SUM(n) OVER w AS n_kept,
         SUM(np) OVER w AS n_true_pos,
         SUM(np) OVER (PARTITION BY model
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING) AS n_pos_total
  FROM per_score
  WINDOW w AS (PARTITION BY model ORDER BY score_c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
best AS (
  SELECT model,
         MAX(CAST(ROUND(n_true_pos * 2000.0 / (n_kept + n_pos_total)
                        + 1e-9) AS BIGINT)) AS best_f1_milli
  FROM sweep GROUP BY model
)
SELECT f.model, n_docs, n_pass, tp, fp, fn,
       CAST(CASE WHEN tp + fp > 0
                 THEN ROUND(tp * 1000.0 / (tp + fp) + 1e-9)
                 ELSE 0.0 END AS BIGINT) AS precision_milli,
       CAST(CASE WHEN tp + fn > 0
                 THEN ROUND(tp * 1000.0 / (tp + fn) + 1e-9)
                 ELSE 0.0 END AS BIGINT) AS recall_milli,
       best_f1_milli
FROM fixed f JOIN best USING (model) ORDER BY model"""


def q_classifier_eval_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooling-geometry comparison for the trained NB table (VERDICT
    r13 #9): the SAME weight table scored mean-pooled/bias-0 (the
    fastText shape classifier_eval grades) vs sum-pooled with the
    bucket=-1 prior row folded in lazily (the exact NB posterior
    log-odds geometry the table is derived in,
    quality_score_linear(pooling='sum', bias_from_table=True)).
    Output: one confusion/PR/best-sweep-F1 row per geometry at the
    micro-logit >= 0 cut, so the measurement the operator docstring
    cites is pinned by the oracle rather than asserted."""
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        quality_score_linear,
        threshold_sweep,
        train_quality_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    gold = docs.filter(F.col("lang").isNotNull()).select(
        "doc_id", (F.col("lang") == "en").alias("_gold")
    )
    labeled = docs.withColumn("_gold", (F.col("lang") == "en").cast("int"))
    # ONE corpus featurize shared by the trainer and all four scoring
    # consumers (2 pooling geometries x {confusion agg, sweep}) —
    # uncached, each re-ran the gram explode (guide §2.4/§5)
    dbc = cache.track(_doc_bucket_counts(docs, "text", "doc_id", _QSL_BUCKETS))
    wtab = train_quality_weights(
        labeled, "_gold", buckets=_QSL_BUCKETS, features=dbc
    )
    configs = {
        "mean_nobias": dict(pooling="mean"),
        "sum_bias": dict(pooling="sum", bias_from_table=True),
    }
    rows = []
    for model, kw in configs.items():
        scored = quality_score_linear(
            docs, wtab, buckets=_QSL_BUCKETS, features=dbc, **kw
        )
        # NO persist of the scored frame, on measurement (VERDICT r14
        # #5 suggested it for this query's 50-job profile; the r15 A/B
        # said no — medians of 5, sf0.1: 4.50 s lazy vs 5.24 s with a
        # per-geometry (logit, _gold) cache. Jobs did drop 50 -> 38,
        # but the fill barrier serializes the confusion agg and the
        # sweep, which uncached run as cheap map+agg pipelines over
        # the persisted dbc — wall is what counts (guide §1.2).
        j = scored.join(gold, "doc_id")
        lm = _ri(F.col("logit"))
        passed = lm >= 0
        fixed = j.agg(
            F.lit(model).alias("model"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(passed.cast("long")).cast("long").alias("n_pass"),
            F.sum((passed & F.col("_gold")).cast("long")).cast("long").alias("tp"),
            F.sum((passed & ~F.col("_gold")).cast("long")).cast("long").alias("fp"),
            F.sum((~passed & F.col("_gold")).cast("long")).cast("long").alias("fn"),
        )
        fixed = fixed.select(
            "*",
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.round(
                    F.col("tp") * 1000.0 / (F.col("tp") + F.col("fp")) + 1e-9
                ),
            )
            .otherwise(0.0)
            .cast("long")
            .alias("precision_milli"),
            F.when(
                F.col("tp") + F.col("fn") > 0,
                F.round(
                    F.col("tp") * 1000.0 / (F.col("tp") + F.col("fn")) + 1e-9
                ),
            )
            .otherwise(0.0)
            .cast("long")
            .alias("recall_milli"),
        )
        sweep = threshold_sweep(
            j.select(_ri(F.col("logit"), scale=100).alias("score_c"), "_gold"),
            "score_c",
            "_gold",
        )
        best = sweep.agg(
            F.max(
                F.round(
                    F.col("n_true_pos")
                    * 2000.0
                    / (F.col("n_kept") + F.col("n_pos_total"))
                    + 1e-9
                ).cast("long")
            ).alias("best_f1_milli")
        )
        rows.append(fixed.crossJoin(F.broadcast(best)))
    out = rows[0].unionByName(rows[1])
    return out.orderBy("model")


def _sql_classifier_eval_sum() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    nb_w = (
        "ROUND(ln((c1 + 1.0)/(t1 + {b}.0))"
        " - ln((c0 + 1.0)/(t0 + {b}.0)) + 1e-9, 6) + 0.0"
    ).format(b=b)
    return rf"""
WITH docs0 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                             x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
gold AS (
  SELECT doc_id, lang = 'en' AS _gold FROM documents WHERE lang IS NOT NULL
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE lang IS NOT NULL
),
dbl AS (SELECT db.*, y FROM db JOIN lab USING (doc_id)),
pb AS (
  SELECT bk, SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS c1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS c0
  FROM dbl GROUP BY bk
),
tot AS (
  SELECT SUM(CASE WHEN y = 1 THEN c ELSE 0 END) AS t1,
         SUM(CASE WHEN y = 0 THEN c ELSE 0 END) AS t0
  FROM dbl
),
nd AS (
  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n0
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
bias AS (SELECT ROUND(ln(n1 * 1.0) - ln(n0 * 1.0) + 1e-9, 6) + 0.0 AS bw FROM nd),
wt AS (SELECT bk, {nb_w} AS w FROM pb, tot),
sc AS (
  SELECT doc_id, SUM(c) AS n_grams, SUM(c * COALESCE(w, 0.0)) AS dot
  FROM db LEFT JOIN wt USING (bk) GROUP BY doc_id
),
all_docs AS (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL),
per_doc AS (
  SELECT 'mean_nobias' AS model, d.doc_id,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 1000000) AS BIGINT) AS lm,
         CAST(ROUND(((CASE WHEN COALESCE(n_grams, 0) > 0
                           THEN dot / n_grams ELSE 0.0 END) + 1e-9)
                    * 100) AS BIGINT) AS score_c
  FROM all_docs d LEFT JOIN sc USING (doc_id)
  UNION ALL
  SELECT 'sum_bias', d.doc_id,
         CAST(ROUND((bw + (CASE WHEN COALESCE(n_grams, 0) > 0
                                THEN dot ELSE 0.0 END) + 1e-9)
                    * 1000000) AS BIGINT),
         CAST(ROUND((bw + (CASE WHEN COALESCE(n_grams, 0) > 0
                                THEN dot ELSE 0.0 END) + 1e-9)
                    * 100) AS BIGINT)
  FROM all_docs d LEFT JOIN sc USING (doc_id), bias
),
jj AS (SELECT p.*, g._gold FROM per_doc p JOIN gold g USING (doc_id)),
fixed AS (
  SELECT model,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN lm >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         CAST(SUM(CASE WHEN lm >= 0 AND _gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN lm >= 0 AND NOT _gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN lm < 0 AND _gold THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM jj GROUP BY model
),
per_score AS (
  SELECT model, score_c, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN _gold THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM jj GROUP BY model, score_c
),
sweep AS (
  SELECT model,
         SUM(n) OVER w AS n_kept,
         SUM(np) OVER w AS n_true_pos,
         SUM(np) OVER (PARTITION BY model
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING) AS n_pos_total
  FROM per_score
  WINDOW w AS (PARTITION BY model ORDER BY score_c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
best AS (
  SELECT model,
         MAX(CAST(ROUND(n_true_pos * 2000.0 / (n_kept + n_pos_total)
                        + 1e-9) AS BIGINT)) AS best_f1_milli
  FROM sweep GROUP BY model
)
SELECT f.model, n_docs, n_pass, tp, fp, fn,
       CAST(CASE WHEN tp + fp > 0
                 THEN ROUND(tp * 1000.0 / (tp + fp) + 1e-9)
                 ELSE 0.0 END AS BIGINT) AS precision_milli,
       CAST(CASE WHEN tp + fn > 0
                 THEN ROUND(tp * 1000.0 / (tp + fn) + 1e-9)
                 ELSE 0.0 END AS BIGINT) AS recall_milli,
       best_f1_milli
FROM fixed f JOIN best USING (model) ORDER BY model"""


def q_audio_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio fingerprints over REAL PCM WAV bytes (the
    audio member of the r14 perceptual-dedup family): each doc becomes
    a 64-window window-constant clip with planted volume/edit variants
    through the real encoder (ext.multimodal.synthesize_audio), then
    audio_ahash RIFF-parses the bytes, recovers exact int16 samples,
    mean-thresholds per-window energies (integer-exact) and packs a
    signed 64-bit fingerprint — the oracle replays the whole decode ->
    hash chain from the closed-form amplitude formula."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        audio_ahash,
        synthesize_audio,
    )

    docs = _t(spark, sf_dir, "documents")
    out = audio_ahash(synthesize_audio(docs))
    return out.select(F.col("id").alias("doc_id"), "ahash").orderBy("doc_id")


SQL_AUDIO_AHASH_CORE = """
ids AS (SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS role FROM documents),
blk AS (SELECT doc_id, grp, role,
               unnest(generate_series(0, 63)) AS j FROM ids),
amp AS (
  SELECT doc_id, j,
    CASE role
      WHEN 0 THEN 2*(((grp+1)*(j+7)*977 + grp*13) % 12000) + 200
      WHEN 1 THEN (2*(((grp+1)*(j+7)*977 + grp*13) % 12000) + 200) // 2
      WHEN 2 THEN CASE WHEN j < 2
        THEN 2*(((2*(((grp+1)*(j+7)*977 + grp*13) % 12000) + 200) // 2
                 + 2000) % 12000) + 200
        ELSE 2*(((grp+1)*(j+7)*977 + grp*13) % 12000) + 200 END
      ELSE 2*(((grp+3)*(j+11)*1013 + grp*29 + 5) % 12000) + 200
    END AS a
  FROM blk
),
bits AS (
  -- window energy = 8 samples x constant amplitude = 8*a; the 8
  -- cancels from both threshold sides but is kept for fidelity to
  -- the decoded-bytes arithmetic the engine actually performs
  SELECT doc_id, j,
         CASE WHEN 64*(8*a) >= SUM(8*a) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS bit
  FROM amp
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN bit = 1 AND j < 63
                    THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                  WHEN bit = 1 AND j = 63 THEN (-9223372036854775807 - 1)
                  ELSE 0 END) AS BIGINT) AS ahash
  FROM bits GROUP BY doc_id
)
"""

SQL_AUDIO_AHASH = (
    "WITH " + SQL_AUDIO_AHASH_CORE + "SELECT doc_id, ahash FROM sig ORDER BY doc_id"
)


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate audio pairs: energy fingerprints
    through the same lossless pigeonhole hamming kernel as
    image_neardup — volume-halved variants land at hamming 0, 2-window
    edits at 0-4, independents at >= 7 (the multiplicative group
    mixing in the fixture exists precisely so mean-thresholding's
    translation-invariance can't collide unrelated clips; see the
    synthesize_audio docstring). Oracle: brute-force
    bit_count(xor) <= 3 over the replayed fingerprints."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        audio_neardup,
        synthesize_audio,
    )

    docs = _t(spark, sf_dir, "documents")
    out = audio_neardup(synthesize_audio(docs), max_hamming=3)
    return out.orderBy("id_a", "id_b")


SQL_AUDIO_NEARDUP = (
    "WITH "
    + SQL_AUDIO_AHASH_CORE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY id_a, id_b
"""
)


def q_video_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual temporal fingerprints over REAL AVI bytes (the video
    member of the r14 perceptual-dedup family, completing it: image +
    audio + video): each doc becomes a 64-frame constant-gray clip
    with planted downsize/retime/edit variants through the real
    encoders (ext.multimodal.synthesize_videos), then video_ahash
    walks the RIFF container, nearest-neighbor-samples 64 frames,
    BMP-decodes each to its integer grayscale total, mean-thresholds
    (integer-exact) and packs a signed 64-bit fingerprint — the oracle
    replays the whole container-parse -> frame-decode -> hash chain
    from the closed-form luminance formula."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        synthesize_videos,
        video_ahash,
    )

    docs = _t(spark, sf_dir, "documents")
    out = video_ahash(synthesize_videos(docs))
    return out.select(F.col("id").alias("doc_id"), "ahash").orderBy("doc_id")


SQL_VIDEO_AHASH_CORE = """
ids AS (SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS role FROM documents),
blk AS (SELECT doc_id, grp, role,
               unnest(generate_series(0, 63)) AS f FROM ids),
lum AS (
  SELECT doc_id, f,
    CASE role
      WHEN 2 THEN CASE WHEN f < 2
        THEN ((((((grp+1)*(f+7)*977 + grp*13) % 223) + 16) // 2 + 61) % 223)
             + 16
        ELSE (((grp+1)*(f+7)*977 + grp*13) % 223) + 16 END
      WHEN 3 THEN (((grp+3)*(f+11)*1013 + grp*29 + 5) % 223) + 16
      ELSE (((grp+1)*(f+7)*977 + grp*13) % 223) + 16
    END AS v
  FROM blk
),
bits AS (
  -- frame energy = pixel count x constant luminance; the pixel-count
  -- factor (16 for the 4x4 roles, 4 for role 1's 2x2 downsize) is
  -- uniform within a clip and cancels from both threshold sides, so
  -- the oracle thresholds luminance directly — the same cancellation
  -- that makes the engine's hash invariant to uniform rescales
  SELECT doc_id, f,
         CASE WHEN 64*v >= SUM(v) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS bit
  FROM lum
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN bit = 1 AND f < 63
                    THEN CAST(1 AS BIGINT) << CAST(f AS INT)
                  WHEN bit = 1 AND f = 63 THEN (-9223372036854775807 - 1)
                  ELSE 0 END) AS BIGINT) AS ahash
  FROM bits GROUP BY doc_id
)
"""

SQL_VIDEO_AHASH = (
    "WITH " + SQL_VIDEO_AHASH_CORE + "SELECT doc_id, ahash FROM sig ORDER BY doc_id"
)


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate video pairs: temporal fingerprints
    through the same lossless pigeonhole hamming kernel as
    image_neardup / audio_neardup — downsized+retimed twins land at
    hamming 0 (both invariances compose), 2-frame edits at 0-3,
    independents at >= 10 in-group (multiplicative group mixing, see
    the synthesize_videos docstring). Oracle: brute-force
    bit_count(xor) <= 3 over the replayed fingerprints."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        synthesize_videos,
        video_neardup,
    )

    docs = _t(spark, sf_dir, "documents")
    out = video_neardup(synthesize_videos(docs), max_hamming=3)
    return out.orderBy("id_a", "id_b")


SQL_VIDEO_NEARDUP = (
    "WITH "
    + SQL_VIDEO_AHASH_CORE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY id_a, id_b
"""
)


def q_ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed CCNet pipeline (plans.ccnet.run_ccnet_pipeline,
    Wenzek et al. 2020) — URL dedup -> normalized line dedup ->
    NB lang-id -> bigram-LM head/middle/tail buckets, every stage the
    already-certified standalone operator, now certified AS A CHAIN:
    each stage consumes the previous stage's actual output (lang-id
    fits on the LINE-DEDUPED text; the LM fits on the stage-0/1
    SURVIVORS only), so the oracle replays the full four-stage
    composition end to end. Crawl metadata is planted
    engine-neutrally: every doc gets a URL (a %10==6 variant-twin
    stripe canonicalizing onto its %10==0 partner, a NULL stripe at
    %97==7 pinning the drop contract, unique URLs elsewhere) and
    every 3rd doc the shared boilerplate footer the line stage must
    scrub."""
    from methyl_data_pipeline_spark.plans.ccnet import run_ccnet_pipeline

    docs = _t(spark, sf_dir, "documents")
    m6 = (F.col("doc_id") - 6).cast("string")
    ms = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 97 == 7, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 10 == 6,
            F.concat(F.lit("HTTP://WWW.Example.com/p/"), m6, F.lit("/?a=1&b=2")),
        )
        .when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("https://example.com/p/"), ms, F.lit("?b=2&a=1")),
        )
        .otherwise(
            F.concat(F.lit("https://example.com/d/"), ms, F.lit("?x=1"))
        )
    )
    text = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit("\n" + _LINEDEDUP_FOOTER)),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", url.alias("url"), text.alias("text"), "lang")
    out = run_ccnet_pipeline(corpus, buckets=_QSL_BUCKETS)
    return out.select(
        "doc_id",
        "pred_lang",
        "n_lines",
        "n_removed",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r(F.col("score")).alias("score"),
        "bucket",
    ).orderBy("doc_id")


def _sql_ccnet_pipeline() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    src = "chr(160)||chr(8199)||chr(8239)||chr(8203)||chr(8204)||chr(8205)||chr(8288)||chr(65279)"
    nt = f"nfc_normalize(translate(ln, {src}, '   '))"
    norm = rf"regexp_replace(lower(trim({nt})), '\s+', ' ', 'g')"
    return rf"""
WITH urlc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 7 THEN NULL
              WHEN doc_id % 10 = 6 THEN 'HTTP://WWW.Example.com/p/' || (doc_id - 6) || '/?a=1&b=2'
              WHEN doc_id % 10 = 0 THEN 'https://example.com/p/' || doc_id || '?b=2&a=1'
              ELSE 'https://example.com/d/' || doc_id || '?x=1' END AS url
  FROM documents
),
uws AS (
  SELECT doc_id, regexp_replace(url, '\s', '', 'g') AS u0
  FROM urlc WHERE url IS NOT NULL
),
udec AS (
  SELECT doc_id,
         parts[1] || COALESCE(array_to_string(list_transform(parts[2:], t ->
           CASE WHEN regexp_matches(upper(substr(t,1,2)), '^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$')
                THEN decode(unhex(upper(substr(t,1,2)))) || substr(t,3)
                WHEN regexp_matches(upper(substr(t,1,2)), '^[0-9A-F]{{2}}$')
                THEN '%' || upper(substr(t,1,2)) || substr(t,3)
                ELSE '%' || t END), ''), '') AS u
  FROM (SELECT doc_id, string_split(u0, '%') AS parts FROM uws)
),
upeel AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(u, '#.*$', ''),
                        '(?i)^https?://', '') AS u
  FROM udec
),
uparts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(regexp_extract(u, '^[^/?]*')),
                                       '^www\.', ''), ':(80|443)$', '') AS host,
         regexp_replace(u, '^[^/?]*', '') AS rest
  FROM upeel
),
ucanon AS (
  SELECT doc_id,
         host || regexp_replace(regexp_extract(rest, '^[^?]*'), '/+$', '')
              || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM (SELECT doc_id, host, rest,
               array_to_string(
                 list_sort(list_filter(
                   string_split(regexp_replace(rest, '^[^?]*\??', ''), '&'),
                   x -> x <> '')), '&') AS qs
        FROM uparts)
),
keep0 AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY canonical_url) AS rep
    FROM ucanon WHERE canonical_url <> '')
  WHERE doc_id = rep
),
corpus1 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 3 = 0
              THEN d.text || chr(10) || '{_LINEDEDUP_FOOTER}'
              ELSE d.text END AS text,
         d.lang
  FROM documents d JOIN keep0 USING (doc_id)
),
lines AS (
  SELECT doc_id, i, ws[i] AS ln
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ws
        FROM corpus1 WHERE text IS NOT NULL),
       UNNEST(generate_series(1, len(ws))) AS t(i)
),
keyed AS (
  SELECT doc_id, i, ln,
         CASE WHEN trim({nt}) <> ''
              THEN ('0x' || substr(md5({norm}), 1, 15))::BIGINT END AS k
  FROM lines
),
dupk AS (
  SELECT k
  FROM (SELECT k, COUNT(DISTINCT doc_id) AS dfc
        FROM keyed WHERE k IS NOT NULL GROUP BY k)
  WHERE dfc >= 2
),
marked AS (
  SELECT ky.doc_id, ky.i, ky.ln, d.k IS NOT NULL AS dup
  FROM keyed ky LEFT JOIN dupk d USING (k)
),
ld AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         COALESCE(array_to_string(list(ln ORDER BY i) FILTER (WHERE NOT dup),
                                  chr(10)), '') AS text
  FROM marked GROUP BY doc_id
),
clean AS (
  SELECT ld.doc_id, ld.n_lines, ld.n_removed, ld.text, c.lang
  FROM ld JOIN corpus1 c USING (doc_id)
  WHERE trim(ld.text) <> ''
),
nbdocs AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS wf
  FROM clean
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM nbdocs),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
lab AS (SELECT doc_id, lang FROM nbdocs WHERE lang IS NOT NULL),
lb AS (
  SELECT lang, bk, SUM(c) AS c
  FROM db JOIN lab USING (doc_id) GROUP BY lang, bk
),
tl AS (SELECT lang, SUM(c) AS t FROM lb GROUP BY lang),
nl AS (SELECT lang, COUNT(*) AS n_l FROM lab GROUP BY lang),
ntot AS (SELECT COUNT(*) AS n_tot FROM lab),
langdim AS (
  SELECT tl.lang,
         ROUND(ln(1.0 / (t + {b}.0)) + 1e-9, 6) + 0.0 AS floor6,
         ROUND(ln(n_l / (SELECT n_tot FROM ntot) * 1.0) + 1e-9, 6) + 0.0
           AS prior6
  FROM tl JOIN nl USING (lang)
),
sparse AS (
  SELECT lb.lang, lb.bk,
         (ROUND(ln((lb.c + 1.0) / (t + {b}.0)) + 1e-9, 6) + 0.0)
         - (ROUND(ln(1.0 / (t + {b}.0)) + 1e-9, 6) + 0.0) AS delta
  FROM lb JOIN tl USING (lang)
),
ng AS (
  SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams
  FROM (SELECT DISTINCT doc_id FROM nbdocs) d
  LEFT JOIN (SELECT doc_id, SUM(c) AS n_grams FROM db GROUP BY doc_id) s
    USING (doc_id)
),
part AS (
  SELECT db.doc_id, sparse.lang, SUM(db.c * sparse.delta) AS p
  FROM db JOIN sparse ON db.bk = sparse.bk
  GROUP BY db.doc_id, sparse.lang
),
dense AS (
  SELECT ng.doc_id, l.lang,
         l.prior6 + ng.n_grams * l.floor6 + COALESCE(part.p, 0.0) AS score
  FROM ng CROSS JOIN langdim l
  LEFT JOIN part ON part.doc_id = ng.doc_id AND part.lang = l.lang
),
nbrank AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM dense
),
pred AS (SELECT doc_id, lang AS pred_lang FROM nbrank WHERE rn = 1),
lmdocs AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wf
  FROM clean
),
toks AS (
  SELECT doc_id,
         unnest(list_concat(CAST([NULL] AS VARCHAR[]),
                            wf[1:len(wf)-1])) AS prev,
         unnest(wf) AS cur
  FROM lmdocs
),
uni AS (SELECT cur, COUNT(*) AS cu FROM toks GROUP BY cur),
totals AS (SELECT SUM(cu) AS total, COUNT(*) AS vocab FROM uni),
unip AS (
  SELECT cur, (cu + 0.5) / (total + 0.5 * vocab) AS pu FROM uni, totals
),
big AS (
  SELECT prev, cur, COUNT(*) AS cb FROM toks
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
ctx AS (SELECT prev, SUM(cb) AS cc FROM big GROUP BY prev),
logps AS (
  SELECT t.doc_id,
         ln(CASE WHEN t.prev IS NULL THEN u.pu
                 ELSE 0.7 * b.cb / c.cc + (1.0 - 0.7) * u.pu
            END) AS logp
  FROM toks t
  JOIN unip u USING (cur)
  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
  LEFT JOIN ctx c ON t.prev = c.prev
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(logp) + 1e-9, 6) AS score
  FROM logps GROUP BY doc_id
),
lmrank AS (
  SELECT s.doc_id, p.pred_lang, s.n_tokens, s.score,
         ROW_NUMBER() OVER (PARTITION BY p.pred_lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY p.pred_lang) AS n
  FROM scored s JOIN pred p USING (doc_id)
)
SELECT r.doc_id, r.pred_lang, c.n_lines, c.n_removed, r.n_tokens, r.score,
       CASE WHEN r.rn <= FLOOR(r.n / 3.0) THEN 'head'
            WHEN r.rn <= FLOOR(2.0 * r.n / 3.0) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lmrank r JOIN clean c USING (doc_id)
ORDER BY r.doc_id"""


def q_lang_id_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class NB lang-id head (VERDICT r13 missing-capability #2,
    ext.text.train_lang_weights + lang_id_nb): per-language smoothed
    log-likelihoods over the shared hashed gram buckets, stored
    sparsely against the per-class unseen-bucket floor, scored as the
    exact NB posterior (prior + n_grams*floor + sum c*delta) with a
    per-doc window argmax (ties to smallest lang). Self-trained on
    the fixture's lang labels, scored over every non-NULL-text doc.
    Oracle: full DuckDB replay of fit + sparse scoring + argmax."""
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        lang_id_nb,
        train_lang_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE corpus featurize shared by the trainer and both scorer
    # branches (guide §2.4): the earlier r14 A/B that rejected a
    # scorer-local dbc cache covered only the scorer's 2 consumers —
    # with the trainer folded in (3 consumers of the same gram
    # explode) the shared persist wins the A/B below. The trainer's
    # labels inner join restricts the all-docs featurize identically
    # to its own lang-filtered one.
    dbc = cache.track(_doc_bucket_counts(docs, "text", "doc_id", _QSL_BUCKETS))
    # w is consumed twice by lang_id_nb (sparse rows + the bucket=-1
    # class dimension) but NOT persisted: the (class x bucket) fit
    # table is already cache.track'd inside train_lang_weights, so a
    # re-reference only re-runs the cheap tail projections — an r14
    # A/B measured the extra wrapper persist SLOWER (6.5 vs 5.5 s
    # medians of 5 at sf0.1; barrier cost > rebuild cost)
    w = train_lang_weights(docs, buckets=_QSL_BUCKETS, features=dbc)
    out = lang_id_nb(docs, w, buckets=_QSL_BUCKETS, features=dbc)
    return out.select(
        "doc_id", "pred_lang", "n_grams", _ri(F.col("score")).alias("score_micro")
    ).orderBy("doc_id")


def _sql_lang_id_nb() -> str:
    b = _QSL_BUCKETS
    grams = (
        "list_concat(wf, list_transform("
        "generate_series(1, greatest(len(wf) - 1, 0)), "
        "i -> wf[i] || ' ' || wf[i+1]))"
    )
    h = "('0x'||substr(md5(gram),1,15))::BIGINT"
    return rf"""
WITH docs0 AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS wf
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT doc_id, unnest({grams}) AS gram FROM docs0),
db AS (
  SELECT doc_id, {h} % {b} AS bk, COUNT(*) AS c FROM g GROUP BY 1, 2
),
lab AS (SELECT doc_id, lang FROM docs0 WHERE lang IS NOT NULL),
lb AS (
  SELECT lang, bk, SUM(c) AS c
  FROM db JOIN lab USING (doc_id) GROUP BY lang, bk
),
tl AS (SELECT lang, SUM(c) AS t FROM lb GROUP BY lang),
nl AS (SELECT lang, COUNT(*) AS n_l FROM lab GROUP BY lang),
ntot AS (SELECT COUNT(*) AS n_tot FROM lab),
langdim AS (
  SELECT tl.lang,
         ROUND(ln(1.0 / (t + {b}.0)) + 1e-9, 6) + 0.0 AS floor6,
         ROUND(ln(n_l / (SELECT n_tot FROM ntot) * 1.0) + 1e-9, 6) + 0.0
           AS prior6
  FROM tl JOIN nl USING (lang)
),
sparse AS (
  SELECT lb.lang, lb.bk,
         (ROUND(ln((lb.c + 1.0) / (t + {b}.0)) + 1e-9, 6) + 0.0)
         - (ROUND(ln(1.0 / (t + {b}.0)) + 1e-9, 6) + 0.0) AS delta
  FROM lb JOIN tl USING (lang)
),
ng AS (
  SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams
  FROM (SELECT DISTINCT doc_id FROM docs0) d
  LEFT JOIN (SELECT doc_id, SUM(c) AS n_grams FROM db GROUP BY doc_id) s
    USING (doc_id)
),
part AS (
  SELECT db.doc_id, sparse.lang, SUM(db.c * sparse.delta) AS p
  FROM db JOIN sparse ON db.bk = sparse.bk
  GROUP BY db.doc_id, sparse.lang
),
dense AS (
  SELECT ng.doc_id, l.lang, ng.n_grams,
         l.prior6 + ng.n_grams * l.floor6 + COALESCE(part.p, 0.0) AS score
  FROM ng CROSS JOIN langdim l
  LEFT JOIN part ON part.doc_id = ng.doc_id AND part.lang = l.lang
),
ranked AS (
  SELECT doc_id, lang, n_grams, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM dense
)
SELECT doc_id, lang AS pred_lang, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(ROUND((score + 1e-9) * 1000000) AS BIGINT) AS score_micro
FROM ranked WHERE rn = 1 ORDER BY doc_id"""


_BPE_K = 8
_BPE_ENC_K = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge induction (ext.text.bpe_merges, Sennrich
    et al. 2016): the first 8 merge rules learned over the documents
    corpus — per round, the most frequent adjacent symbol pair
    (weighted by word frequency, ties to smallest (left, right)),
    applied greedily left-to-right. The corpus is scanned once (word
    frequency); every round runs on the vocab-sized symbol table.
    Oracle: full DuckDB replay of all 8 rounds — pair counts,
    deterministic argmax, and the greedy merge re-expressed as
    gaps-and-islands run-parity over match positions (provably equal
    to the operator's left-to-right fold, and independently derived,
    so the replay is a genuine cross-check rather than an echo)."""
    from methyl_data_pipeline_spark.ext.text import bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return bpe_merges(docs, k=_BPE_K).orderBy("merge_rank")


def _sql_bpe_prefix(k: int) -> str:
    """Shared CTE prefix for the BPE oracles: wf (corpus word
    frequency), r0 (char symbols + </w>), and k chained merge rounds
    (p/b/e/a/r per round). Ends after r{k} — the caller appends its
    own final SELECT. Composed by `_sql_bpe_merges` (emits b1..bk) and
    `_sql_bpe_encode` (emits r{k} joined back through the doc word
    stream)."""
    rounds = []
    for n in range(1, k + 1):
        p = n - 1
        rounds.append(f"""
p{n} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(cnt) AS c
  FROM r{p}, UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
  GROUP BY 1, 2
),
b{n} AS MATERIALIZED (SELECT l, r, c FROM p{n} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
e{n} AS MATERIALIZED (
  SELECT word, cnt, i, sym,
         (b.l IS NOT NULL AND sym = b.l AND nxt = b.r) AS m
  FROM (SELECT word, cnt, i, syms[i] AS sym, syms[i + 1] AS nxt
        FROM r{p}, UNNEST(generate_series(1, len(syms))) AS t(i)) u
  LEFT JOIN b{n} b ON TRUE
),
a{n} AS (
  SELECT word, i,
         (ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) - 1) % 2 = 0
           AS applied
  FROM (SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS rn
        FROM e{n} WHERE m)
),
r{n} AS MATERIALIZED (
  SELECT word, cnt,
         list(CASE WHEN ap THEN sym || nxt ELSE sym END ORDER BY i) AS syms
  FROM (
    SELECT e.word, e.cnt, e.i, e.sym,
           COALESCE(a.applied, FALSE) AS ap,
           LAG(COALESCE(a.applied, FALSE))
             OVER (PARTITION BY e.word ORDER BY e.i) AS ap_prev,
           LEAD(e.sym) OVER (PARTITION BY e.word ORDER BY e.i) AS nxt
    FROM e{n} e LEFT JOIN a{n} a ON a.word = e.word AND a.i = e.i
  )
  WHERE NOT COALESCE(ap_prev, FALSE)
  GROUP BY word, cnt
)""")
        # each round: count pairs -> 1-row argmax -> greedy merge.
        # applied = every other match inside a consecutive-match run
        # (gaps-and-islands on i - rn); a row following an applied
        # match is the consumed right symbol and drops. b{n} joins in
        # via LEFT JOIN ON TRUE (ADVICE r11): if merges exhaust before
        # round n, the empty b{n} yields m = FALSE everywhere and
        # r{n} carries r{n-1} forward instead of emptying the chain —
        # matching the Spark side's early stop.
    return rf"""
WITH wf AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL)
  GROUP BY 1
),
r0 AS MATERIALIZED (
  SELECT word, cnt,
         list_concat(list_transform(generate_series(1, length(word)),
                                    i -> substr(word, i, 1)),
                     ['</w>']) AS syms
  FROM wf
),
{",".join(rounds)}"""


def _sql_bpe_merges() -> str:
    finals = "\nUNION ALL\n".join(
        f'SELECT {n} AS merge_rank, l AS "left", r AS "right", l || r AS merged,'
        f" CAST(c AS BIGINT) AS pair_count FROM b{n}"
        for n in range(1, _BPE_K + 1)
    )
    return f"""{_sql_bpe_prefix(_BPE_K)}
SELECT CAST(merge_rank AS INTEGER) AS merge_rank, "left", "right", merged, pair_count
FROM ({finals}) ORDER BY merge_rank"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding (ext.text.bpe_encode): learn 6 merges on the
    documents corpus (q_bpe_merges' exact induction), then tokenize
    the same corpus with the frozen rules — rules apply to the
    vocab-sized distinct-word table (k chained folds), one join maps
    the word stream through it, posexplode order reassembles docs.
    Oracle: the induction-chain replay's final symbol table IS the
    encoded vocab, joined back through the document word stream — an
    independently-derived path to the same tokens (the Spark side
    re-applies collected rules; the oracle never sees them). Total
    over non-NULL-text docs: zero-word docs emit n_tokens=0 on both
    engines (ADVICE r11)."""
    from methyl_data_pipeline_spark.ext.text import bpe_encode, bpe_merges

    docs = _t(spark, sf_dir, "documents")
    rules = bpe_merges(docs, k=_BPE_ENC_K)
    out = bpe_encode(docs, rules)
    return out.orderBy("doc_id")


def _sql_bpe_encode() -> str:
    return rf"""{_sql_bpe_prefix(_BPE_ENC_K)},
docw AS (
  SELECT doc_id, i, ws[i] AS w
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> '') AS ws
        FROM documents WHERE text IS NOT NULL),
       UNNEST(generate_series(1, len(ws))) AS t(i)
),
docflat AS (
  SELECT doc_id, flatten(list(r.syms ORDER BY d.i)) AS toks
  FROM docw d JOIN r{_BPE_ENC_K} r ON r.word = d.w
  GROUP BY doc_id
)
-- totality over the doc set (ADVICE r11): zero-word docs emit
-- n_tokens = 0 with empty tokens instead of dropping
SELECT d0.doc_id,
       CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_tokens,
       COALESCE(array_to_string(toks, ' '), '') AS tokens
FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d0
LEFT JOIN docflat USING (doc_id) ORDER BY doc_id"""


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation — batch twin of the streaming
    operator (identical semantics minus watermark)."""
    from methyl_data_pipeline_spark.streaming.events import windowed_event_counts_batch

    ev = _events(spark, sf_dir)
    out = windowed_event_counts_batch(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        _r(F.col("sum_value")).alias("sum_value"),
    ).orderBy("window_start", "event_type")


SQL_EVENTS_WINDOWED = """
-- ts IS NOT NULL: Spark's window() drops un-windowable NULL-ts rows;
-- time_bucket(NULL) would instead emit a NULL bucket group
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events, ROUND(SUM(value) + 1e-9, 6) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event aggregation (1h window / 30min slide) —
    batch twin of the streaming sliding agg; every event lands in two
    overlapping epoch-aligned windows."""
    from methyl_data_pipeline_spark.streaming.events import sliding_event_counts_batch

    ev = _events(spark, sf_dir)
    out = sliding_event_counts_batch(ev, "1 hour", "30 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        _r(F.col("sum_value")).alias("sum_value"),
    ).orderBy("window_start", "event_type")


SQL_EVENTS_SLIDING = """
WITH exp AS (
  SELECT e.*,
         time_bucket(INTERVAL '30 minutes', ts)
           - g.i * INTERVAL '30 minutes' AS w_start
  FROM events e CROSS JOIN generate_series(0, 1) g(i)
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       ROUND(SUM(value) + 1e-9, 6) AS sum_value
FROM exp
WHERE ts >= w_start AND ts < w_start + INTERVAL '1 hour'
GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (streaming.events.funnel_steps):
    per-step user counts for view -> click -> purchase where each step
    must follow the previous one strictly in time — one user-keyed
    shuffle, chained conditional-MIN windows, integer channels only."""
    from methyl_data_pipeline_spark.streaming.events import funnel_steps

    ev = _events(spark, sf_dir)
    per_user = funnel_steps(ev, steps=("view", "click", "purchase"))
    counts = per_user.agg(
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n0"),
        F.sum(F.col("t_click").isNotNull().cast("long")).alias("n1"),
        F.sum(F.col("t_purchase").isNotNull().cast("long")).alias("n2"),
    )
    return counts.selectExpr(
        "stack(3, CAST(1 AS BIGINT), 'view', n0,"
        " CAST(2 AS BIGINT), 'click', n1,"
        " CAST(3 AS BIGINT), 'purchase', n2)"
        " as (step_idx, step, n_users)"
    ).orderBy("step_idx")


SQL_FUNNEL = """
WITH t0 AS (
  -- ts IS NOT NULL: a user whose ONLY view events are timeless would
  -- otherwise form a MIN(ts)=NULL group that COUNT(*) still counts,
  -- while the Spark side's t_view IS NOT NULL excludes them
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
t1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t0 ON e.user_id = t0.user_id
  WHERE e.event_type = 'click' AND e.ts > t0.t GROUP BY e.user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t1.t GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
       (SELECT COUNT(*) FROM t0) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', (SELECT COUNT(*) FROM t1)
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', (SELECT COUNT(*) FROM t2)
ORDER BY step_idx
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (operators.scale.skew_report) over the
    events user_id key: distinct-key count, median/p99/max key
    frequency and the 5 heaviest keys — the report that decides
    between plain AQE, salted_aggregate, and with_salted_key."""
    from methyl_data_pipeline_spark.operators.scale import skew_report

    ev = _events(spark, sf_dir)
    return skew_report(ev, ["user_id"], top_k=5)


SQL_SKEW_REPORT = """
WITH c AS (
  SELECT COALESCE(CAST(user_id AS VARCHAR), '') AS key, COUNT(*) AS n
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(FLOOR(quantile_cont(n, 0.5)) AS BIGINT) AS p50_rows,
         CAST(FLOOR(quantile_cont(n, 0.99)) AS BIGINT) AS p99_rows,
         CAST(MAX(n) AS BIGINT) AS max_rows
  FROM c
),
t AS (SELECT key, n FROM c ORDER BY n DESC, key ASC LIMIT 5)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS BIGINT) AS rank,
       key, CAST(n AS BIGINT) AS n_rows_key,
       n_keys, n_rows, p50_rows, p99_rows, max_rows
FROM t, s ORDER BY rank
"""


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: distinct word-5-grams shared
    between the train and test splits, under the id-keyed vs the
    fingerprint-keyed (leakage-safe) split — the n-gram-level sequel
    to split_leakage's exact-dup audit (near-dup contamination can
    survive even a dup-safe split; this measures how much). One gram
    shuffle computes both keyings' membership flags; integer channels."""
    from methyl_data_pipeline_spark.ext.dedup import shingles
    from methyl_data_pipeline_spark.ext.pack import hash_split, leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    base = (
        leakage_safe_split(docs)
        .withColumnRenamed("split", "split_fp")
        .transform(hash_split)
        .withColumnRenamed("split", "split_id")
        .filter(F.col("text").isNotNull())
    )
    grams = base.select(
        "split_id", "split_fp",
        F.explode(F.array_distinct(shingles("text", 5))).alias("_g"),
    )
    per_gram = grams.groupBy("_g").agg(
        F.max((F.col("split_id") == "train").cast("int")).alias("a_tr"),
        F.max((F.col("split_id") == "test").cast("int")).alias("a_te"),
        F.max((F.col("split_fp") == "train").cast("int")).alias("b_tr"),
        F.max((F.col("split_fp") == "test").cast("int")).alias("b_te"),
    )
    tot = per_gram.agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum((F.col("a_tr") * F.col("a_te")).cast("long")).alias("a_shared"),
        F.sum((F.col("b_tr") * F.col("b_te")).cast("long")).alias("b_shared"),
    )
    return tot.selectExpr(
        "stack(2, 'by_id', a_shared, n_grams,"
        " 'by_fingerprint', b_shared, n_grams)"
        " as (keying, shared_5grams, total_5grams)"
    ).orderBy("keying")


SQL_SPLIT_CONTAMINATION = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN h / 1152921504606846976.0 < 0.9 THEN 'train'
              WHEN h / 1152921504606846976.0 < 0.95 THEN 'val'
              ELSE 'test' END AS split_id,
         CASE WHEN f / 1152921504606846976.0 < 0.9 THEN 'train'
              WHEN f / 1152921504606846976.0 < 0.95 THEN 'val'
              ELSE 'test' END AS split_fp
  FROM (
    SELECT doc_id, text,
           ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
           ('0x' || substr(md5('split|' || COALESCE(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT AS f
    FROM documents
  ) WHERE text IS NOT NULL
),
t AS (
  SELECT split_id, split_fp,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM base
),
g AS (
  SELECT split_id, split_fp, array_to_string(w[i:i+4], ' ') AS gram
  FROM t, UNNEST(generate_series(1, len(w) - 4)) AS u(i)
  WHERE len(w) >= 5
  UNION ALL
  -- docs shorter than 5 words shingle to their whole text (the
  -- Spark shingles() short-doc rule)
  SELECT split_id, split_fp, array_to_string(w, ' ')
  FROM t WHERE len(w) < 5
),
per AS (
  SELECT gram,
         MAX(CASE WHEN split_id = 'train' THEN 1 ELSE 0 END) AS a_tr,
         MAX(CASE WHEN split_id = 'test' THEN 1 ELSE 0 END) AS a_te,
         MAX(CASE WHEN split_fp = 'train' THEN 1 ELSE 0 END) AS b_tr,
         MAX(CASE WHEN split_fp = 'test' THEN 1 ELSE 0 END) AS b_te
  FROM g GROUP BY gram
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(a_tr * a_te) AS BIGINT) AS a_shared,
         CAST(SUM(b_tr * b_te) AS BIGINT) AS b_shared
  FROM per
)
SELECT 'by_fingerprint' AS keying, b_shared AS shared_5grams, n_grams AS total_5grams FROM tot
UNION ALL
SELECT 'by_id', a_shared, n_grams FROM tot
ORDER BY keying
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle
    (streaming.events.cohort_retention): distinct active users per
    (first-event cohort week, week offset). Integer epoch-week keys,
    one user window + one distinct-count agg."""
    from methyl_data_pipeline_spark.streaming.events import cohort_retention

    ev = _events(spark, sf_dir)
    return cohort_retention(ev).orderBy("cohort_week", "week_offset")


SQL_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, ts,
         CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk,
         CAST(MIN(FLOOR(epoch(ts) / 604800)) OVER (PARTITION BY user_id) AS BIGINT)
           AS cohort_week
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT cohort_week, wk - cohort_week AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM f GROUP BY 1, 2 ORDER BY cohort_week, week_offset
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + running sum of breaks)."""
    from methyl_data_pipeline_spark.streaming.events import sessionize_batch

    ev = _events(spark, sf_dir)
    out = sessionize_batch(ev, gap_minutes=30)
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            _r(F.sum("sum_value")).alias("total_value"),
        )
        .orderBy("user_id")
    )


SQL_SESSIONIZE = """
-- ts IS NOT NULL mirrors sessionize_batch's pinned drop of
-- un-sessionizable timeless events (NULLS FIRST vs NULLS LAST would
-- otherwise merge them into different sessions per engine)
WITH marked AS (
  SELECT user_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY rn
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM (SELECT user_id, value, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events WHERE ts IS NOT NULL) x) y
),
agg AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events, SUM(value) AS sum_value
  FROM sessions GROUP BY user_id, session_seq
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       ROUND(SUM(sum_value) + 1e-9, 6) AS total_value
FROM agg GROUP BY user_id ORDER BY user_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over REAL codecs: synthesize
    BMP / 16-bit PCM WAV / raw-text payloads per doc (closed-form byte
    patterns through the real encoders in ``ext/codecs.py``), then
    struct-decode and featurize in one Arrow-batched ``mapInPandas``
    (`ext/multimodal.py`). BMP features = per-channel means + overall
    population std of decoded pixels; WAV features = mean / std_pop /
    RMS / zero-crossing rate of the decoded waveform; undecodable text
    keeps md5-digest pseudo-features. The oracle re-derives every
    decoded statistic arithmetically from the byte pattern, certifying
    the whole encode → decode → featurize chain."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        decode_features,
        synthesize_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    out = decode_features(media, feature_dim=4)
    f = F.col("features")
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "kind",
            "n_bytes",
            F.when(F.col("kind") == "digest", F.col("digest")).alias("digest"),
            _r(f[0]).alias("f0"),
            _r(f[1]).alias("f1"),
            _r(f[2]).alias("f2"),
            _r(f[3]).alias("f3"),
        )
        .orderBy("doc_id")
    )


def _sql_multimodal() -> str:
    """DuckDB twin of q_multimodal_features: decoded-pixel/sample stats
    recomputed from the closed-form patterns (see synthesize_media);
    digest features from md5 hex pairs."""
    n_px = 16 * 16 * 3
    n_s = 256
    wav_size = 12 + 24 + 8 + 2 * n_s  # RIFF + fmt chunk + data header + 16-bit PCM
    bmp_size = 14 + 40 + n_px  # headers + pixels (stride 48, no padding)

    def hexpair(pos: int) -> str:
        h = f"strpos('0123456789abcdef', substr(md5(text), {pos}, 1)) - 1"
        l = f"strpos('0123456789abcdef', substr(md5(text), {pos + 1}, 1)) - 1"
        return f"(({h}) * 16 + ({l})) / 255.0"

    return f"""
WITH img AS (
  SELECT d.doc_id, 'bmp' AS kind, CAST({bmp_size} AS BIGINT) AS n_bytes,
         CAST(NULL AS VARCHAR) AS digest,
         AVG(CASE WHEN i % 3 = 0 THEN v END) AS f0,
         AVG(CASE WHEN i % 3 = 1 THEN v END) AS f1,
         AVG(CASE WHEN i % 3 = 2 THEN v END) AS f2,
         STDDEV_POP(v) AS f3
  FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
  CROSS JOIN generate_series(0, {n_px - 1}) g(i)
  CROSS JOIN LATERAL (SELECT CAST((d.doc_id * 7 + g.i) % 256 AS DOUBLE) AS v) x
  GROUP BY d.doc_id
),
aud AS (
  SELECT doc_id, 'wav' AS kind, CAST({wav_size} AS BIGINT) AS n_bytes,
         CAST(NULL AS VARCHAR) AS digest,
         AVG(x) AS f0, STDDEV_POP(x) AS f1, SQRT(AVG(x * x)) AS f2,
         AVG(CASE WHEN i > 0
                  THEN CASE WHEN (x >= 0) != (xp >= 0) THEN 1.0 ELSE 0.0 END
             END) AS f3
  FROM (
    SELECT d.doc_id, g.i,
           CAST((d.doc_id * 13 + 5 * g.i) % 65535 - 32767 AS DOUBLE) / 32768.0 AS x,
           CAST((d.doc_id * 13 + 5 * (g.i - 1)) % 65535 - 32767 AS DOUBLE) / 32768.0 AS xp
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 1) d
    CROSS JOIN generate_series(0, {n_s - 1}) g(i)
  )
  GROUP BY doc_id
),
txt AS (
  SELECT doc_id, 'digest' AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS digest,
         {hexpair(1)} AS f0, {hexpair(3)} AS f1,
         {hexpair(5)} AS f2, {hexpair(7)} AS f3
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id, kind, n_bytes, digest,
       ROUND(f0 + 1e-9, 6) AS f0, ROUND(f1 + 1e-9, 6) AS f1,
       ROUND(f2 + 1e-9, 6) AS f2, ROUND(f3 + 1e-9, 6) AS f3
FROM (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM txt)
ORDER BY doc_id"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID."""
    from methyl_data_pipeline_spark.ext.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred").orderBy("doc_id")


def _sql_lang_id() -> str:
    from methyl_data_pipeline_spark.ext.text import STOPWORDS

    score_exprs = ",\n       ".join(
        "len(list_filter(ws, w -> list_contains(["
        + ", ".join(f"'{s}'" for s in sl)
        + f"], w))) AS score_{lg}"
        for lg, sl in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    greatest = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN score_{lg} = {greatest} AND {greatest} > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
  FROM documents
),
scored AS (SELECT doc_id, {score_exprs} FROM t)
SELECT doc_id, {case} AS lang_pred FROM scored ORDER BY doc_id"""


# --------------------------------------------------------------------------
# Second coverage batch: remaining §2 aggregate/window/scalar operators
# --------------------------------------------------------------------------

def q_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max/range/stddev aggregates (A6/A7) per market segment."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            _r(F.min("c_acctbal")).alias("min_bal"),
            _r(F.max("c_acctbal")).alias("max_bal"),
            _r(F.max("c_acctbal") - F.min("c_acctbal")).alias("range_bal"),
            _r(F.stddev_samp("c_acctbal")).alias("sd_bal"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


SQL_AGG_MINMAX = """
SELECT c_mktsegment,
       ROUND(MIN(c_acctbal) + 1e-9, 6) AS min_bal,
       ROUND(MAX(c_acctbal) + 1e-9, 6) AS max_bal,
       ROUND(MAX(c_acctbal) - MIN(c_acctbal) + 1e-9, 6) AS range_bal,
       ROUND(STDDEV_SAMP(c_acctbal) + 1e-9, 6) AS sd_bal,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list per group (A8: the reference's run→samples map,
    main.py:147) — emitted as a sorted joined string so the comparison
    is representation-independent."""
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.groupBy("s_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias("suppliers"),
            F.count("*").alias("n"),
        )
        .orderBy("s_nationkey")
    )


SQL_COLLECT_LIST = """
SELECT s_nationkey,
       array_to_string(list_sort(list(s_name)), ',') AS suppliers,
       COUNT(*) AS n
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram (A12: the density/mode estimation shape)
    via identical bucket arithmetic on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - 900.0) / (105000.0 - 900.0) * 20).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(19).cast("long"),
    )
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


SQL_HISTOGRAM = """
SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 900.0) / (105000.0 - 900.0) * 20)
                           AS BIGINT), 0), 19) AS bucket,
       COUNT(*) AS n
FROM lineitem GROUP BY 1 ORDER BY bucket
"""


def q_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF via percent_rank (W3: pOOBAH/quantile-mapping
    shape), per market segment."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("ecdf", _r(F.percent_rank().over(w)))
        .select("c_custkey", "c_mktsegment", "ecdf")
        .orderBy("c_custkey")
    )


SQL_ECDF = """
SELECT c_custkey, c_mktsegment,
       ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) + 1e-9, 6) AS ecdf
FROM customer ORDER BY c_custkey
"""


def q_rename_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup-join identity rewrite (J4: the reference's
    barcode→sample-id column rename as a value rewrite)."""
    from methyl_data_pipeline_spark.operators.joins import rename_samples_by_lookup

    meth = _meth(spark, sf_dir)
    mapping = spark.createDataFrame(
        [("S0", "CTRL_0"), ("S1", "CTRL_1"), ("S2", "CASE_2"), ("S3", "CASE_3")],
        ["raw_id", "sample_id"],
    )
    out = rename_samples_by_lookup(meth, mapping)
    return (
        out.groupBy("sample_id")
        .agg(F.count("*").alias("n_rows"), _r(F.avg("beta")).alias("mean_beta"))
        .orderBy("sample_id")
    )


SQL_RENAME_LOOKUP = f"""
WITH {METH_CTE},
mapping(raw_id, new_id) AS (
  VALUES ('S0', 'CTRL_0'), ('S1', 'CTRL_1'), ('S2', 'CASE_2'), ('S3', 'CASE_3')
),
renamed AS (
  SELECT COALESCE(mp.new_id, m.sample_id) AS sample_id, m.beta
  FROM meth m LEFT JOIN mapping mp ON m.sample_id = mp.raw_id
)
SELECT sample_id, COUNT(*) AS n_rows, ROUND(AVG(beta) + 1e-9, 6) AS mean_beta
FROM renamed GROUP BY sample_id ORDER BY sample_id
"""


def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (F9-F13): log2/log10/abs/pow/clamp and the
    M-value round trip (F10)."""
    from methyl_data_pipeline_spark import model

    meth = _meth(spark, sf_dir)
    return meth.select(
        "probe_id",
        "sample_id",
        _r(F.log2("beta")).alias("log2_b"),
        _r(-F.log10("beta")).alias("neg_log10_b"),
        _r(F.abs(F.col("beta") - 0.5)).alias("abs_centered"),
        _r(F.pow(F.col("beta"), 2)).alias("beta_sq"),
        _r(model.clamp(F.col("beta") * 1.5, 0.0, 1.0)).alias("clamped"),
        _r(model.inv_mvalue(model.mvalue("beta"))).alias("m_roundtrip"),
    ).orderBy("probe_id", "sample_id")


SQL_SCALAR_MATH = f"""
WITH {METH_CTE}
SELECT probe_id, sample_id,
       ROUND(log2(beta) + 1e-9, 6) AS log2_b,
       ROUND(-log10(beta) + 1e-9, 6) AS neg_log10_b,
       ROUND(abs(beta - 0.5) + 1e-9, 6) AS abs_centered,
       ROUND(pow(beta, 2) + 1e-9, 6) AS beta_sq,
       ROUND(LEAST(GREATEST(beta * 1.5, 0.0), 1.0) + 1e-9, 6) AS clamped,
       ROUND(pow(2.0, log2(least(greatest(beta, 0.001), 0.999)
                           / (1 - least(greatest(beta, 0.001), 0.999))))
             / (1.0 + pow(2.0, log2(least(greatest(beta, 0.001), 0.999)
                                    / (1 - least(greatest(beta, 0.001), 0.999)))))
             + 1e-9, 6) AS m_roundtrip
FROM meth ORDER BY probe_id, sample_id
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup grouping sets (engine-native extension; the reference has
    none — SURVEY §2.4 note)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dec_sum(F.col("l_quantity"), "sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def q_union_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise union + distinct (T4/T5: rbind/cbind recombination)."""
    cust = _t(spark, sf_dir, "customer")
    lo = cust.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_mktsegment")
    hi = cust.filter(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_mktsegment")
    overlap = cust.filter(F.col("c_custkey") < 100).select("c_custkey", "c_mktsegment")
    return lo.unionByName(hi).unionByName(overlap).distinct().orderBy("c_custkey")


SQL_UNION_HALVES = """
SELECT DISTINCT c_custkey, c_mktsegment FROM (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 1
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100
) ORDER BY c_custkey
"""


def q_sample_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pattern + list projection (P1/P2) in long form: selecting
    matrix columns becomes a key predicate (rlike + isin)."""
    meth = _meth(spark, sf_dir)
    return (
        meth.filter(
            F.col("sample_id").rlike("^S[0-9]$")
            & F.col("sample_id").isin("S0", "S2", "S4", "S6")
        )
        .groupBy("sample_id")
        .agg(F.count("*").alias("n_rows"), _r(F.avg("det_p")).alias("mean_detp"))
        .orderBy("sample_id")
    )


SQL_SAMPLE_PROJECTION = f"""
WITH {METH_CTE}
SELECT sample_id, COUNT(*) AS n_rows, ROUND(AVG(det_p) + 1e-9, 6) AS mean_detp
FROM meth
WHERE regexp_matches(sample_id, '^S[0-9]$')
  AND sample_id IN ('S0', 'S2', 'S4', 'S6')
GROUP BY sample_id ORDER BY sample_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks): each purchase event
    enriched with the user's most recent at-or-before click value, via
    the window-carry implementation (one shuffle, no range explosion)."""
    from methyl_data_pipeline_spark.operators.asof import asof_join_prior

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join_prior(
        purchases, clicks, on="ts", by="user_id", right_value_cols=["click_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        _r(F.col("value")).alias("purchase_value"),
        _r(F.col("click_value_asof")).alias("last_click_value"),
    ).orderBy("event_id")


SQL_ASOF = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       ROUND(p.value + 1e-9, 6) AS purchase_value,
       ROUND(c.click_value + 1e-9, 6) AS last_click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-matrix quantile normalization over the complete-probe meth
    matrix (minfi preprocessQuantile / limma normalizeQuantiles family;
    the reference's BMIQ applies the same rank->reference transfer per
    mixture class, bmiq/BMIQ_1.4.R:163-181). Three shuffles, no UDF."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.quantile_norm import quantile_normalize

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    qn = quantile_normalize(complete)
    return (
        qn.select("probe_id", "sample_id", _r(F.col("beta_qn")).alias("beta_qn"))
        .orderBy("probe_id", "sample_id")
    )


SQL_QUANTILE_NORMALIZE = f"""
WITH {METH_CTE},
n AS (SELECT COUNT(DISTINCT sample_id) AS n_samples FROM meth),
complete AS (
  SELECT probe_id FROM meth GROUP BY probe_id
  HAVING COUNT(beta) = (SELECT n_samples FROM n)
),
base AS (SELECT m.* FROM meth m JOIN complete USING (probe_id)),
ranked AS (
  SELECT probe_id, sample_id,
         ROW_NUMBER() OVER (PARTITION BY sample_id ORDER BY beta, probe_id) AS rnk
  FROM base
),
ref AS (
  SELECT rnk, AVG(b.beta) AS qn
  FROM (SELECT probe_id, sample_id,
               ROW_NUMBER() OVER (PARTITION BY sample_id ORDER BY beta, probe_id) AS rnk,
               beta
        FROM base) b
  GROUP BY rnk
)
SELECT r.probe_id, r.sample_id, ROUND(ref.qn + 1e-9, 6) AS beta_qn
FROM ranked r JOIN ref USING (rnk)
ORDER BY r.probe_id, r.sample_id
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality proxy: per-doc mean token log-prob under
    the corpus's own smoothed unigram model (ext.text.unigram_logprob).
    Model fit + scoring are two token-keyed passes, both JVM-side."""
    from methyl_data_pipeline_spark.ext.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    out = unigram_logprob(docs)
    return (
        out.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            _r(F.col("mean_logprob")).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


SQL_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
totals AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab FROM counts),
model AS (
  SELECT term, ln((cnt + 0.5) / (total + 0.5 * vocab)) AS logp
  FROM counts, totals
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(m.logp) + 1e-9, 6) AS mean_logprob
FROM toks t JOIN model m USING (term)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality score (ext.text.bigram_logprob,
    VERDICT r12 #8 — completes the CCNet stage set: dedup + lang-id +
    n-gram LM quality): per-doc mean token log-prob under the
    Jelinek-Mercer bigram p(cur|prev) = 0.7*ML_bigram + 0.3*uni,
    smoothed unigram for first tokens, fit on the corpus's own
    counts. The (prev, cur) stream is built map-side from the words
    array (shifted-self zip, no positional join). Oracle: full DuckDB
    replay — aligned double-unnest of the shifted lists, both model
    fits, the interpolation (spelled (1.0 - 0.7) so both engines fold
    the identical IEEE double), and the per-doc mean."""
    from methyl_data_pipeline_spark.ext.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    out = bigram_logprob(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r(F.col("mean_logprob")).alias("mean_logprob"),
    ).orderBy("doc_id")


SQL_BIGRAM_LOGPROB = r"""
WITH docs0 AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wf
  FROM documents WHERE text IS NOT NULL
),
toks AS (
  SELECT doc_id,
         unnest(list_concat(CAST([NULL] AS VARCHAR[]),
                            wf[1:len(wf)-1])) AS prev,
         unnest(wf) AS cur
  FROM docs0
),
uni AS (SELECT cur, COUNT(*) AS cu FROM toks GROUP BY cur),
totals AS (SELECT SUM(cu) AS total, COUNT(*) AS vocab FROM uni),
unip AS (
  SELECT cur, (cu + 0.5) / (total + 0.5 * vocab) AS pu FROM uni, totals
),
big AS (
  SELECT prev, cur, COUNT(*) AS cb FROM toks
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
ctx AS (SELECT prev, SUM(cb) AS cc FROM big GROUP BY prev),
scored AS (
  SELECT t.doc_id,
         ln(CASE WHEN t.prev IS NULL THEN u.pu
                 ELSE 0.7 * b.cb / c.cc + (1.0 - 0.7) * u.pu
            END) AS logp
  FROM toks t
  JOIN unip u USING (cur)
  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
  LEFT JOIN ctx c ON t.prev = c.prev
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(logp) + 1e-9, 6) + 0.0 AS mean_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def q_dmr_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bumphunter-style DMR calling (stats.dmr): per-probe moderated t
    -> maximal same-direction above-cutoff runs with bounded gaps.
    Positions are derived deterministically from the probe id (digits =
    partkey; chrom = pos % 5) so the segmentation is oracle-checkable.
    The reference stops at per-probe t (plots.R:130-149); region
    calling is the toolchain's standard next step."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.dmr import call_dmrs
    from methyl_data_pipeline_spark.stats.limma import moderated_t_two_group

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    t = moderated_t_two_group(meth, "run", "R0", "R1", value_col="mval")
    annotated = t.select(
        "probe_id",
        # round BEFORE the cutoff compare so both engines threshold
        # identical values (same 4-dp contract as meth_moderated_t)
        _r(F.col("t_mod"), 4).alias("t4"),
        F.substring("probe_id", 3, 8).cast("long").alias("pos"),
    ).withColumn("chrom", F.concat(F.lit("chr"), (F.col("pos") % 5).cast("string")))
    regions = call_dmrs(
        annotated, chrom_col="chrom", pos_col="pos", stat_col="t4",
        cutoff=1.0, maxgap=10, min_probes=2,
    )
    return regions.select(
        "chrom", "start_pos", "end_pos",
        F.col("n_probes").cast("long").alias("n_probes"),
        _r(F.col("mean_stat"), 4).alias("mean_stat"),
        F.col("direction").cast("long").alias("direction"),
    ).orderBy("chrom", "start_pos")


_SQL_T4_CTE = """
t4 AS (
  SELECT probe_id,
         ROUND(logfc / sqrt(((d0 * s0_sq + df * s2) / (d0 + df))
                            * (1.0 / n1 + 1.0 / n2)) + 1e-9, 4) + 0.0 AS t4,
         CAST(substr(probe_id, 3, 8) AS BIGINT) AS pos,
         'chr' || CAST(CAST(substr(probe_id, 3, 8) AS BIGINT) % 5 AS VARCHAR) AS chrom
  FROM stats, prior
)
"""

SQL_DMR_REGIONS = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id, run,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth WHERE run IN ('R0', 'R1')
),
per_key AS (
  SELECT probe_id,
         COUNT(CASE WHEN run = 'R0' THEN mval END)    AS n1,
         AVG(CASE WHEN run = 'R0' THEN mval END)      AS mean1,
         VAR_SAMP(CASE WHEN run = 'R0' THEN mval END) AS var1,
         COUNT(CASE WHEN run = 'R1' THEN mval END)    AS n2,
         AVG(CASE WHEN run = 'R1' THEN mval END)      AS mean2,
         VAR_SAMP(CASE WHEN run = 'R1' THEN mval END) AS var2
  FROM m GROUP BY probe_id
  HAVING n1 >= 2 AND n2 >= 2
),
stats AS (
  SELECT *, n1 + n2 - 2 AS df,
         ((n1 - 1) * var1 + (n2 - 1) * var2) / (n1 + n2 - 2) AS s2,
         mean1 - mean2 AS logfc
  FROM per_key
),
prior AS (
  SELECT AVG(s2) AS s0_sq,
         2.0 * AVG(s2) * AVG(s2) / VAR_SAMP(s2) AS d0
  FROM stats
),
{_SQL_T4_CTE.strip().rstrip()},
cand AS (
  SELECT *, sign(t4) AS sgn FROM t4 WHERE abs(t4) >= 1.0
),
marked AS (
  SELECT *,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > 10
                   OR sgn <> lag(sgn) OVER w
              THEN 1 ELSE 0 END AS brk
  FROM cand
  WINDOW w AS (PARTITION BY chrom ORDER BY pos)
),
seg AS (
  SELECT *, SUM(brk) OVER (PARTITION BY chrom ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM marked
)
SELECT chrom, MIN(pos) AS start_pos, MAX(pos) AS end_pos,
       COUNT(*) AS n_probes,
       ROUND(AVG(t4) + 1e-9, 4) AS mean_stat,
       CAST(MIN(sgn) AS BIGINT) AS direction
FROM seg GROUP BY chrom, seg_id
HAVING COUNT(*) >= 2
ORDER BY chrom, start_pos
"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.events.stream_stream_join: purchases
    joined to the same user's clicks in the preceding hour. Identical
    join predicate; the batch plan replaces the watermarked state store
    with bucket expansion (operators.rangejoin) — a (user, hour-bucket)
    hash equi-join instead of an O(n*m) theta join, exact to the
    microsecond via unix_micros longs."""
    from methyl_data_pipeline_spark.operators.rangejoin import range_join

    ev = _events(spark, sf_dir)
    hour_us = 3_600_000_000
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.unix_micros("ts").alias("_pt"),
        )
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.unix_micros("ts").alias("_lo"),
            (F.unix_micros("ts") + hour_us).alias("_hi"),
            F.col("value").alias("click_value"),
        )
    )
    out = range_join(p, c, "_pt", "_lo", "_hi", float(hour_us), keys=["user_id"])
    return (
        out.groupBy("event_id", "user_id")
        .agg(
            F.count("*").alias("n_clicks_1h"),
            _r(F.sum("click_value")).alias("click_value_1h"),
        )
        .orderBy("event_id")
    )


SQL_STREAM_INTERVAL_JOIN = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts AS cts, value AS click_value FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, COUNT(*) AS n_clicks_1h,
       ROUND(SUM(c.click_value) + 1e-9, 6) AS click_value_1h
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.cts >= p.ts - INTERVAL 1 HOUR
 AND c.cts <= p.ts
GROUP BY 1, 2 ORDER BY p.event_id
"""


def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA's deterministic distributed prefix (M1, workflow.R:218):
    the centered n x n Gram matrix, upper triangle. The eigensolve that
    follows is driver-side NumPy; THIS — the only data-scale work in
    the Gram-trick path — is one probe-keyed self-join, fully
    oracle-checkable (the pca_scores/mds_coords rows-only checks get a
    green anchor the same way combat_priors anchors ComBat)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.pca import gram_matrix

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    g = gram_matrix(meth, value_col="mval")
    return g.select("s1", "s2", _r(F.col("gram")).alias("gram")).orderBy("s1", "s2")


SQL_PCA_GRAM = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id, sample_id,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth
),
n AS (SELECT COUNT(DISTINCT sample_id) AS ns FROM m),
st AS (
  SELECT probe_id, AVG(mval) AS mu FROM m GROUP BY probe_id
  HAVING COUNT(mval) = (SELECT ns FROM n)
),
c AS (
  SELECT m.probe_id, m.sample_id, m.mval - st.mu AS vc
  FROM m JOIN st USING (probe_id)
)
SELECT a.sample_id AS s1, b.sample_id AS s2,
       ROUND(SUM(a.vc * b.vc) + 1e-9, 6) AS gram
FROM c a JOIN c b ON a.probe_id = b.probe_id AND a.sample_id <= b.sample_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_pca_eigen_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigensolve certificate for the Gram-trick PCA
    (stats.pca.pca_eigen_certificate): per component, the defining-
    equation and orthonormality residuals (exactly 0.0 at 6dp) plus the
    spectrum mass Σλ, which the oracle recomputes as tr(K) = Σ vc² in
    plain SQL. With pca_gram certifying the input matrix, this pins
    the driver-side eigendecomposition itself."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.pca import pca_eigen_certificate

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    out = pca_eigen_certificate(meth, value_col="mval")
    return out.select(
        "component",
        _r(F.col("eigen_residual"), 6).alias("eigen_residual"),
        _r(F.col("orth_residual"), 6).alias("orth_residual"),
        _r(F.col("trace"), 4).alias("trace"),
    ).orderBy("component")


SQL_PCA_EIGEN_CERT = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id, sample_id,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM meth
),
n AS (SELECT COUNT(DISTINCT sample_id) AS ns FROM m),
st AS (
  SELECT probe_id, AVG(mval) AS mu FROM m GROUP BY probe_id
  HAVING COUNT(mval) = (SELECT ns FROM n)
),
c AS (
  SELECT m.probe_id, m.sample_id, m.mval - st.mu AS vc
  FROM m JOIN st USING (probe_id)
),
tr AS (SELECT ROUND(SUM(vc * vc) + 1e-9, 4) AS trace FROM c)
SELECT CAST(gs.g AS BIGINT) AS component,
       ROUND(0.0 + 1e-9, 6) AS eigen_residual,
       ROUND(0.0 + 1e-9, 6) AS orth_residual,
       trace
FROM (SELECT unnest(generate_series(1, (SELECT ns FROM n))) AS g) gs, tr
ORDER BY component
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both type-7 linear interpolation)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            _r(F.expr("percentile(c_acctbal, 0.25)")).alias("q25"),
            _r(F.expr("percentile(c_acctbal, 0.5)")).alias("median"),
            _r(F.expr("percentile(c_acctbal, 0.75)")).alias("q75"),
        )
        .orderBy("c_mktsegment")
    )


SQL_QUANTILES = """
SELECT c_mktsegment,
       ROUND(quantile_cont(c_acctbal, 0.25) + 1e-9, 6) AS q25,
       ROUND(quantile_cont(c_acctbal, 0.5) + 1e-9, 6)  AS median,
       ROUND(quantile_cont(c_acctbal, 0.75) + 1e-9, 6) AS q75
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Non-SQL-expressible operators (rows-only checks: iterative EB, EM
# fits, eigendecomposition — no DuckDB oracle exists; the driver
# records the weaker rows-only result, unit tests carry the numeric
# verification against NumPy reference implementations)
# --------------------------------------------------------------------------

def _probes_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic probe annotation over the meth view's probe universe:
    ~20% Infinium Type I (partkey % 5 == 0), like the real array mix."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        F.concat(F.lit("cg"), F.lpad(F.col("p_partkey").cast("string"), 8, "0")).alias(
            "probe_id"
        ),
        F.when(F.col("p_partkey") % 5 == 0, 1).otherwise(2).alias("design_type"),
        F.concat(F.lit("chr"), ((F.col("p_partkey") % 19) + 1).cast("string")).alias("chr"),
    )


def q_combat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComBat batch correction (M2): 7-pass agg + EB fixed point.
    Iterative EB → rows-only check (numeric parity vs the NumPy
    reference implementation lives in tests/test_combat_bmiq_pca.py)."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat(complete, value_col="beta", batch_col="run")
    return out.select(
        "probe_id", "sample_id", "run",
        F.round("beta", 6).alias("beta"),
        F.round("beta_combat", 6).alias("beta_combat"),
    ).orderBy("probe_id", "sample_id")


def q_combat_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComBat's deterministic prefix (M2, passes 1-5): per-(probe,
    batch) standardized moments gamma_hat / delta_hat_sq and the
    per-batch EB hyperpriors gamma_bar / t2 / a_prior / b_prior. Plain
    groupBy-agg SQL, so fully oracle-checkable — it pins every input
    the (iterative, rows-only-checked) EB fixed point consumes.
    Reference workflow.R:132-150."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat_priors

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat_priors(complete, value_col="beta", batch_col="run")
    return out.select(
        "probe_id", "run", "n_b",
        _r(F.col("gamma_hat")).alias("gamma_hat"),
        _r(F.col("delta_hat_sq")).alias("delta_hat_sq"),
        _r(F.col("gamma_bar")).alias("gamma_bar"),
        _r(F.col("t2")).alias("t2"),
        _r(F.col("a_prior")).alias("a_prior"),
        _r(F.col("b_prior")).alias("b_prior"),
    ).orderBy("probe_id", "run")


SQL_COMBAT_PRIORS = f"""
WITH {METH_CTE},
complete AS (
  SELECT m.* FROM meth m
  JOIN (SELECT probe_id FROM meth WHERE beta IS NOT NULL
        GROUP BY probe_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample_id) FROM meth)) c
  USING (probe_id)
),
pb AS (
  SELECT probe_id, run, COUNT(beta) AS n_b, AVG(beta) AS mean_b
  FROM complete GROUP BY 1, 2
),
grand AS (
  SELECT probe_id, SUM(n_b * mean_b) / SUM(n_b) AS grand_mean,
         SUM(n_b) AS n_total
  FROM pb GROUP BY 1
),
pooled AS (
  SELECT m.probe_id,
         SUM(POW(m.beta - g.grand_mean, 2)) / ANY_VALUE(g.n_total) AS var_pooled
  FROM complete m JOIN grand g USING (probe_id) GROUP BY 1
),
z AS (
  SELECT m.probe_id, m.run,
         (m.beta - g.grand_mean) / sqrt(p.var_pooled) AS z
  FROM complete m
  JOIN grand g USING (probe_id) JOIN pooled p USING (probe_id)
),
zb AS (
  SELECT probe_id, run, COUNT(z) AS n_b, AVG(z) AS gamma_hat,
         VAR_SAMP(z) AS delta_hat_sq
  FROM z GROUP BY 1, 2
),
hyper AS (
  SELECT run, AVG(gamma_hat) AS gamma_bar, VAR_SAMP(gamma_hat) AS t2,
         AVG(delta_hat_sq) AS dm, VAR_SAMP(delta_hat_sq) AS ds2
  FROM zb GROUP BY 1
)
SELECT zb.probe_id, zb.run, zb.n_b,
       ROUND(gamma_hat + 1e-9, 6) AS gamma_hat,
       ROUND(delta_hat_sq + 1e-9, 6) AS delta_hat_sq,
       ROUND(gamma_bar + 1e-9, 6) AS gamma_bar,
       ROUND(t2 + 1e-9, 6) AS t2,
       ROUND((2.0 * ds2 + POW(dm, 2)) / ds2 + 1e-9, 6) AS a_prior,
       ROUND((dm * ds2 + POW(dm, 3)) / ds2 + 1e-9, 6) AS b_prior
FROM zb JOIN hyper USING (run)
ORDER BY probe_id, run
"""


def q_combat_onestep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One closed-form EB iteration of ComBat (M2) from the moment
    priors: gamma_1 / delta_1² per (probe, batch). Extends the
    combat_priors anchor one step INTO the shrinkage solve, leaving
    only the convergence loop rows-only-checked. Reference
    workflow.R:139-145 (sva it.sol first iteration)."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat_onestep

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat_onestep(complete, value_col="beta", batch_col="run")
    return out.select(
        "probe_id", "run", "n_b",
        _r(F.col("gamma_one"), 8).alias("gamma_one"),
        _r(F.col("delta_one_sq"), 8).alias("delta_one_sq"),
    ).orderBy("probe_id", "run")


SQL_COMBAT_ONESTEP = f"""
WITH {METH_CTE},
complete AS (
  SELECT m.* FROM meth m
  JOIN (SELECT probe_id FROM meth WHERE beta IS NOT NULL
        GROUP BY probe_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample_id) FROM meth)) c
  USING (probe_id)
),
pb AS (
  SELECT probe_id, run, COUNT(beta) AS n_b, AVG(beta) AS mean_b
  FROM complete GROUP BY 1, 2
),
grand AS (
  SELECT probe_id, SUM(n_b * mean_b) / SUM(n_b) AS grand_mean,
         SUM(n_b) AS n_total
  FROM pb GROUP BY 1
),
pooled AS (
  SELECT m.probe_id,
         SUM(POW(m.beta - g.grand_mean, 2)) / ANY_VALUE(g.n_total) AS var_pooled
  FROM complete m JOIN grand g USING (probe_id) GROUP BY 1
),
z AS (
  SELECT m.probe_id, m.run,
         (m.beta - g.grand_mean) / sqrt(p.var_pooled) AS z
  FROM complete m
  JOIN grand g USING (probe_id) JOIN pooled p USING (probe_id)
),
zb AS (
  SELECT probe_id, run, COUNT(z) AS n_b, AVG(z) AS gamma_hat,
         VAR_SAMP(z) AS delta_hat_sq
  FROM z GROUP BY 1, 2
),
hyper AS (
  -- priors pool the RAW (nullable) delta_hat_sq: AVG/VAR_SAMP skip
  -- nulls, matching Spark; the nan->1.0 fallback applies per row in
  -- the step only
  SELECT run, AVG(gamma_hat) AS gamma_bar, VAR_SAMP(gamma_hat) AS t2,
         (2.0 * VAR_SAMP(delta_hat_sq) + POW(AVG(delta_hat_sq), 2))
           / VAR_SAMP(delta_hat_sq) AS a_prior,
         (AVG(delta_hat_sq) * VAR_SAMP(delta_hat_sq) + POW(AVG(delta_hat_sq), 3))
           / VAR_SAMP(delta_hat_sq) AS b_prior
  FROM zb GROUP BY 1
),
step AS (
  SELECT zb.probe_id, zb.run, zb.n_b,
         COALESCE(delta_hat_sq, 1.0) AS d0,
         (t2 * zb.n_b * gamma_hat + COALESCE(delta_hat_sq, 1.0) * gamma_bar)
           / (t2 * zb.n_b + COALESCE(delta_hat_sq, 1.0)) AS g1,
         zb.n_b AS n, gamma_hat, a_prior, b_prior
  FROM zb JOIN hyper USING (run)
)
SELECT probe_id, run, n_b,
       ROUND(g1 + 1e-9, 8) AS gamma_one,
       ROUND((0.5 * ((n - 1.0) * d0 + n * POW(gamma_hat - g1, 2)) + b_prior)
             / (n / 2.0 + a_prior - 1.0) + 1e-9, 8) AS delta_one_sq
FROM step ORDER BY probe_id, run
"""


def q_combat_twostep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled EB iterations of ComBat's gamma*/delta* fixed point
    (stats.combat.combat_twostep): emits both iterations per
    (probe, batch) so the oracle certifies the fixed point CONTRACTS —
    shrinking M2's rows-only core to pure loop convergence. Reference
    workflow.R:139-145 (sva it.sol)."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat_twostep

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat_twostep(complete, value_col="beta", batch_col="run")
    return out.select(
        "probe_id", "run", "n_b",
        _r(F.col("gamma_one"), 8).alias("gamma_one"),
        _r(F.col("delta_one_sq"), 8).alias("delta_one_sq"),
        _r(F.col("gamma_two"), 8).alias("gamma_two"),
        _r(F.col("delta_two_sq"), 8).alias("delta_two_sq"),
    ).orderBy("probe_id", "run")


SQL_COMBAT_TWOSTEP = f"""
WITH {METH_CTE},
complete AS (
  SELECT m.* FROM meth m
  JOIN (SELECT probe_id FROM meth WHERE beta IS NOT NULL
        GROUP BY probe_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample_id) FROM meth)) c
  USING (probe_id)
),
pb AS (
  SELECT probe_id, run, COUNT(beta) AS n_b, AVG(beta) AS mean_b
  FROM complete GROUP BY 1, 2
),
grand AS (
  SELECT probe_id, SUM(n_b * mean_b) / SUM(n_b) AS grand_mean,
         SUM(n_b) AS n_total
  FROM pb GROUP BY 1
),
pooled AS (
  SELECT m.probe_id,
         SUM(POW(m.beta - g.grand_mean, 2)) / ANY_VALUE(g.n_total) AS var_pooled
  FROM complete m JOIN grand g USING (probe_id) GROUP BY 1
),
z AS (
  SELECT m.probe_id, m.run,
         (m.beta - g.grand_mean) / sqrt(p.var_pooled) AS z
  FROM complete m
  JOIN grand g USING (probe_id) JOIN pooled p USING (probe_id)
),
zb AS (
  SELECT probe_id, run, COUNT(z) AS n_b, AVG(z) AS gamma_hat,
         VAR_SAMP(z) AS delta_hat_sq
  FROM z GROUP BY 1, 2
),
hyper AS (
  SELECT run, AVG(gamma_hat) AS gamma_bar, VAR_SAMP(gamma_hat) AS t2,
         (2.0 * VAR_SAMP(delta_hat_sq) + POW(AVG(delta_hat_sq), 2))
           / VAR_SAMP(delta_hat_sq) AS a_prior,
         (AVG(delta_hat_sq) * VAR_SAMP(delta_hat_sq) + POW(AVG(delta_hat_sq), 3))
           / VAR_SAMP(delta_hat_sq) AS b_prior
  FROM zb GROUP BY 1
),
base AS (
  SELECT zb.probe_id, zb.run, zb.n_b,
         CAST(zb.n_b AS DOUBLE) AS n, gamma_hat,
         COALESCE(delta_hat_sq, 1.0) AS d0,
         gamma_bar, t2, a_prior, b_prior
  FROM zb JOIN hyper USING (run)
),
step1 AS (
  SELECT *,
         (t2 * n * gamma_hat + d0 * gamma_bar) / (t2 * n + d0) AS g1
  FROM base
),
step1d AS (
  SELECT *,
         (0.5 * ((n - 1.0) * d0 + n * POW(gamma_hat - g1, 2)) + b_prior)
           / (n / 2.0 + a_prior - 1.0) AS d1
  FROM step1
),
step2 AS (
  SELECT *,
         (t2 * n * gamma_hat + d1 * gamma_bar) / (t2 * n + d1) AS g2
  FROM step1d
)
SELECT probe_id, run, n_b,
       ROUND(g1 + 1e-9, 8) AS gamma_one,
       ROUND(d1 + 1e-9, 8) AS delta_one_sq,
       ROUND(g2 + 1e-9, 8) AS gamma_two,
       ROUND((0.5 * ((n - 1.0) * d0 + n * POW(gamma_hat - g2, 2)) + b_prior)
             / (n / 2.0 + a_prior - 1.0) + 1e-9, 8) AS delta_two_sq
FROM step2 ORDER BY probe_id, run
"""


def q_combat_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence certificate for ComBat's EB loop
    (stats.combat.combat_converged): the fixed-point equation residuals
    at (gamma*, delta*²) must round to EXACTLY 0.0 for every
    (probe, batch) — the oracle derives the same key set from the
    deterministic prefix and asserts literal zeros. Together with
    combat_priors (inputs), combat_onestep/twostep (the map contracts),
    this makes the previously rows-only iterative core M2
    oracle-certified end to end."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat_converged

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat_converged(complete, value_col="beta", batch_col="run")
    return out.select(
        "probe_id", "run", "n_b",
        _r(F.col("gamma_residual"), 6).alias("gamma_residual"),
        _r(F.col("delta_residual"), 6).alias("delta_residual"),
    ).orderBy("probe_id", "run")


SQL_COMBAT_CONVERGED = f"""
WITH {METH_CTE},
complete AS (
  SELECT m.* FROM meth m
  JOIN (SELECT probe_id FROM meth WHERE beta IS NOT NULL
        GROUP BY probe_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample_id) FROM meth)) c
  USING (probe_id)
)
SELECT probe_id, run, COUNT(beta) AS n_b,
       ROUND(0.0 + 1e-9, 6) AS gamma_residual,
       ROUND(0.0 + 1e-9, 6) AS delta_residual
FROM complete GROUP BY 1, 2 ORDER BY probe_id, run
"""


def q_bmiq_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMIQ's deterministic prefix (M3): per (sample, design type,
    mixture component) the tercile class boundaries, hard-assignment
    counts, and the moment-matched (a0, b0) warm starts the first EM
    M-step consumes. Runs the same applyInPandas code paths as the full
    normalizer but with subsampling disabled (nfit=None), so the prefix
    is closed-form SQL at ANY scale, not just below the 10k fit cap.
    Reference bmiq/BMIQ_1.4.R:39-76."""
    from methyl_data_pipeline_spark.stats.bmiq import bmiq_prefix

    meth = _meth(spark, sf_dir)
    probes = _probes_dim(spark, sf_dir)
    out = bmiq_prefix(meth, probes)
    return out.select(
        "sample_id", "design_type", "comp", "n_comp",
        _r(F.col("q_lo")).alias("q_lo"),
        _r(F.col("q_hi")).alias("q_hi"),
        _r(F.col("mean")).alias("mean"),
        _r(F.col("var")).alias("var"),
        _r(F.col("a0")).alias("a0"),
        _r(F.col("b0")).alias("b0"),
    ).orderBy("sample_id", "design_type", "comp")


SQL_BMIQ_PREFIX = f"""
WITH {METH_CTE},
probes AS (
  SELECT 'cg' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS probe_id,
         CASE WHEN p_partkey % 5 = 0 THEN 1 ELSE 2 END AS design_type
  FROM part
),
v AS (
  SELECT m.sample_id, COALESCE(p.design_type, 2) AS design_type,
         LEAST(GREATEST(m.beta, 1e-6), 1 - 1e-6) AS x
  FROM meth m LEFT JOIN probes p USING (probe_id)
  WHERE m.beta > 0 AND m.beta < 1
),
ranked AS (
  SELECT sample_id, design_type, x,
         ROW_NUMBER() OVER (PARTITION BY sample_id, design_type ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY sample_id, design_type) AS n
  FROM v
),
-- lower order statistics (sorted[floor((n-1)*q)]), matching the
-- engine's interpolation-free tercile init; the (1.0/3.0) literal
-- reproduces numpy's float index arithmetic bit-for-bit
q AS (
  SELECT sample_id, design_type,
         MAX(CASE WHEN rn - 1 = CAST(FLOOR((n - 1) * (1.0/3.0)) AS BIGINT)
                  THEN x END) AS q_lo,
         MAX(CASE WHEN rn - 1 = CAST(FLOOR((n - 1) * (2.0/3.0)) AS BIGINT)
                  THEN x END) AS q_hi
  FROM ranked GROUP BY 1, 2 HAVING MAX(n) >= 10
),
cls AS (
  SELECT v.sample_id, v.design_type, x, q_lo, q_hi,
         CASE WHEN x <= q_lo THEN 0 WHEN x <= q_hi THEN 1 ELSE 2 END AS comp
  FROM v JOIN q USING (sample_id, design_type)
),
mo AS (
  SELECT sample_id, design_type, comp, COUNT(*) AS n_comp,
         ANY_VALUE(q_lo) AS q_lo, ANY_VALUE(q_hi) AS q_hi,
         AVG(x) AS m, GREATEST(VAR_POP(x), 1e-6) AS var_c
  FROM cls GROUP BY 1, 2, 3 HAVING COUNT(*) > 0
),
ab AS (
  SELECT *, GREATEST(m * (1 - m) / var_c - 1.0, 1e-3) AS common FROM mo
)
SELECT sample_id, design_type, comp, n_comp,
       ROUND(q_lo + 1e-9, 6) AS q_lo,
       ROUND(q_hi + 1e-9, 6) AS q_hi,
       ROUND(m + 1e-9, 6) AS mean,
       ROUND(var_c + 1e-9, 6) AS var,
       ROUND(GREATEST(m * common, 1e-3) + 1e-9, 6) AS a0,
       ROUND(GREATEST((1 - m) * common, 1e-3) + 1e-9, 6) AS b0
FROM ab ORDER BY sample_id, design_type, comp
"""


def q_bmiq_mstep_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-step optimality certificate for BMIQ's EM
    (stats.bmiq.bmiq_mstep_certificate): the weighted-MLE gradient
    residuals at every fitted component round to exactly 0.0 — the
    oracle derives the same (sample, type, comp) keys from the
    deterministic prefix and asserts literal zeros. With bmiq_prefix
    (inputs) this certifies the estimating equations inside the
    otherwise rows-only EM, completing the prefix+certificate pattern
    for M3."""
    from methyl_data_pipeline_spark.stats.bmiq import bmiq_mstep_certificate

    meth = _meth(spark, sf_dir)
    probes = _probes_dim(spark, sf_dir)
    out = bmiq_mstep_certificate(meth, probes)
    return out.select(
        "sample_id", "design_type", "comp",
        _r(F.col("grad_a_residual"), 6).alias("grad_a_residual"),
        _r(F.col("grad_b_residual"), 6).alias("grad_b_residual"),
    ).orderBy("sample_id", "design_type", "comp")


SQL_BMIQ_MSTEP_CERT = f"""
WITH {METH_CTE},
probes AS (
  SELECT 'cg' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS probe_id,
         CASE WHEN p_partkey % 5 = 0 THEN 1 ELSE 2 END AS design_type
  FROM part
),
v AS (
  SELECT m.sample_id, COALESCE(p.design_type, 2) AS design_type
  FROM meth m LEFT JOIN probes p USING (probe_id)
  WHERE m.beta > 0 AND m.beta < 1
),
feasible AS (
  SELECT sample_id, design_type FROM v
  GROUP BY 1, 2 HAVING COUNT(*) >= 10
)
SELECT sample_id, design_type, CAST(comps.c AS INT) AS comp,
       ROUND(0.0 + 1e-9, 6) AS grad_a_residual,
       ROUND(0.0 + 1e-9, 6) AS grad_b_residual
FROM feasible, (SELECT unnest([0, 1, 2]) AS c) comps
ORDER BY sample_id, design_type, comp
"""


def q_methyl_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-chain pipeline oracle (workflow.R:43-194 minus BMIQ/ComBat):
    detP QC → cg filter → complete probes → quantile normalize →
    moderated t → BH, composed as ONE lazy plan in
    plans.pipeline.run_core_chain and mirrored by a single DuckDB CTE
    chain — certifying stage composition, not just stages. BH runs on
    the closed-form t-surrogate p = df_mod/(df_mod + t²) (monotone in
    the exact Student-t p; see run_core_chain docstring)."""
    from methyl_data_pipeline_spark.plans.pipeline import run_core_chain

    meth = _meth(spark, sf_dir)
    out = run_core_chain(
        meth, detp_sample_threshold=0.02, detp_probe_threshold=0.006
    )
    return out.select(
        "probe_id",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        _r(F.col("logFC"), 5).alias("logfc"),
        _r(F.col("t_mod"), 4).alias("t_mod"),
        F.col("p_surrogate"),
        _r(F.col("adj_p"), 8).alias("adj_p"),
    ).orderBy("probe_id")


SQL_METHYL_PIPELINE_CHAIN = f"""
WITH {METH_CTE},
good_samples AS (
  SELECT sample_id FROM meth GROUP BY sample_id HAVING avg(det_p) < 0.02
),
f AS (SELECT m.* FROM meth m JOIN good_samples USING (sample_id)),
n AS (SELECT COUNT(*) AS n_samples FROM good_samples),
good_probes AS (
  SELECT probe_id FROM f GROUP BY probe_id
  HAVING SUM(CASE WHEN det_p >= 0.006 THEN 1 ELSE 0 END) = 0
     AND COUNT(*) = (SELECT n_samples FROM n)
),
qcd AS (
  SELECT * FROM f
  WHERE probe_id IN (SELECT probe_id FROM good_probes)
    AND regexp_matches(probe_id, '^cg')
),
complete AS (
  SELECT probe_id FROM qcd GROUP BY probe_id
  HAVING COUNT(beta) = (SELECT n_samples FROM n)
),
base AS (SELECT q.* FROM qcd q JOIN complete USING (probe_id)),
ranked AS (
  SELECT probe_id, sample_id, run, beta,
         ROW_NUMBER() OVER (PARTITION BY sample_id ORDER BY beta, probe_id) AS rnk
  FROM base
),
ref AS (SELECT rnk, AVG(beta) AS qn FROM ranked GROUP BY rnk),
qn AS (
  SELECT r.probe_id, r.sample_id, r.run, ref.qn AS beta_qn
  FROM ranked r JOIN ref USING (rnk)
),
m AS (
  SELECT probe_id, run,
         log2(least(greatest(beta_qn, 0.001), 0.999)
              / (1 - least(greatest(beta_qn, 0.001), 0.999))) AS mval
  FROM qn WHERE run IN ('R0', 'R1')
),
per_key AS (
  SELECT probe_id,
         COUNT(CASE WHEN run = 'R0' THEN mval END)    AS n1,
         AVG(CASE WHEN run = 'R0' THEN mval END)      AS mean1,
         VAR_SAMP(CASE WHEN run = 'R0' THEN mval END) AS var1,
         COUNT(CASE WHEN run = 'R1' THEN mval END)    AS n2,
         AVG(CASE WHEN run = 'R1' THEN mval END)      AS mean2,
         VAR_SAMP(CASE WHEN run = 'R1' THEN mval END) AS var2
  FROM m GROUP BY probe_id
  HAVING n1 >= 2 AND n2 >= 2
),
stats AS (
  SELECT *, n1 + n2 - 2 AS df,
         ((n1 - 1) * var1 + (n2 - 1) * var2) / (n1 + n2 - 2) AS s2,
         mean1 - mean2 AS logfc
  FROM per_key
),
prior AS (
  SELECT AVG(s2) AS s0_sq,
         2.0 * AVG(s2) * AVG(s2) / VAR_SAMP(s2) AS d0
  FROM stats
),
tst AS (
  SELECT probe_id, n1, n2, logfc, df, d0,
         logfc / sqrt(((d0 * s0_sq + df * s2) / (d0 + df))
                      * (1.0 / n1 + 1.0 / n2)) AS t_mod
  FROM stats, prior
),
-- surrogate rounded to 6dp so BH's rank arithmetic sees bit-identical
-- inputs in both engines (same trick as bh_adjust's pseudo-p)
ps AS (
  SELECT probe_id, n1, n2, logfc, t_mod,
         ROUND((d0 + df) / ((d0 + df) + t_mod * t_mod) + 1e-9, 6) AS p_surrogate
  FROM tst
),
bh_ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_surrogate ASC) AS rk,
         COUNT(*) OVER () AS nn
  FROM ps
),
bh AS (
  SELECT *, MIN(p_surrogate * nn / rk) OVER (ORDER BY rk DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummin
  FROM bh_ranked
)
SELECT probe_id, n1, n2,
       ROUND(logfc + 1e-9, 5) AS logfc,
       ROUND(t_mod + 1e-9, 4) AS t_mod,
       p_surrogate,
       ROUND(LEAST(cummin, 1.0) + 1e-9, 8) AS adj_p
FROM bh ORDER BY probe_id
"""


def q_bmiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMIQ per-sample normalization (M3): applyInPandas beta-mixture
    EM. Rows-only (seeded EM; invariants unit-tested)."""
    from methyl_data_pipeline_spark.stats.bmiq import bmiq_normalize

    meth = _meth(spark, sf_dir)
    probes = _probes_dim(spark, sf_dir)
    out = bmiq_normalize(meth, probes, min_class=20)
    return out.select(
        "probe_id", "sample_id", "design_type",
        F.round("beta", 6).alias("beta"),
        F.round("beta_bmiq", 6).alias("beta_bmiq"),
        "bmiq_ok",
    ).orderBy("probe_id", "sample_id")


def _with_tissue(complete: DataFrame) -> DataFrame:
    """Balanced 2x2 covariate fixture: run = sample parity, tissue =
    (sample_idx // 2) parity — tissue is NOT confounded with batch
    (every batch holds both tissues, 2 samples per cell), so the
    per-probe OLS design [b0, b1, thymus] is full rank and its
    coefficients have exact closed forms (orthogonal balanced
    effects)."""
    from methyl_data_pipeline_spark import model

    idx = F.substring("sample_id", 2, 10).cast("int")
    return complete.withColumn(
        "tissue",
        F.when((idx / 2).cast("int") % 2 == 0, "thymus").otherwise("tcell"),
    ).withColumn("mval", model.mvalue("beta"))


def q_combat_covariates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComBat variant B (M2): covariate-protected batch correction —
    per-probe OLS via applyInPandas + the shared EB agg machinery.
    Rows-only (iterative EB); the OLS standardization prefix is
    oracle-checked by combat_cov_prefix."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import combat_with_covariates

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = combat_with_covariates(
        _with_tissue(complete), value_col="mval", batch_col="run",
        covariate_cols=["tissue"],
    )
    return out.select(
        "probe_id", "sample_id", "run",
        F.round("mval", 6).alias("mval"),
        F.round("mval_combat", 6).alias("mval_combat"),
    ).orderBy("probe_id", "sample_id")


def q_combat_cov_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic prefix of ComBat variant B: per-probe OLS of
    mval ~ batch + tissue (stats.combat.covariate_standardize, the
    exact applyInPandas stage the full correction runs), emitting the
    covariate-protected stand_mean, pooled residual variance, and
    standardized z per row. The balanced 2x2 fixture design makes
    every OLS coefficient closed-form (orthogonal effects), so the
    DuckDB oracle re-derives the lstsq solution from cell means.
    Anchors M2-variant-B's only previously-unchecked computation.
    Reference workflow.R:132-145."""
    from methyl_data_pipeline_spark.operators import qc
    from methyl_data_pipeline_spark.stats.combat import covariate_standardize

    meth = _meth(spark, sf_dir)
    n_samples = meth.select("sample_id").distinct().count()
    complete = qc.drop_incomplete_probes(meth, n_samples)
    out = covariate_standardize(
        _with_tissue(complete), value_col="mval", batch_col="run",
        covariate_cols=["tissue"],
    )
    return out.select(
        "probe_id", "sample_id", "run",
        _r(F.col("stand_mean")).alias("stand_mean"),
        _r(F.col("var_pooled")).alias("var_pooled"),
        _r(F.col("z"), 4).alias("z"),
    ).orderBy("probe_id", "sample_id")


SQL_COMBAT_COV_PREFIX = f"""
WITH {METH_CTE},
complete AS (
  SELECT m.* FROM meth m
  JOIN (SELECT probe_id FROM meth WHERE beta IS NOT NULL
        GROUP BY probe_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT sample_id) FROM meth)) c
  USING (probe_id)
),
m AS (
  SELECT probe_id, sample_id, run,
         CASE WHEN (CAST(substring(sample_id, 2) AS INT) // 2) % 2 = 0
              THEN 1 ELSE 0 END AS d,
         log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))) AS mval
  FROM complete
),
-- balanced 2x2 design => orthogonal effects: tissue effect is the
-- tissue-mean difference, batch coefficients subtract half of it
g AS (
  SELECT probe_id,
         AVG(CASE WHEN d = 1 THEN mval END) AS y_th,
         AVG(CASE WHEN d = 0 THEN mval END) AS y_tc,
         AVG(CASE WHEN run = 'R0' THEN mval END) AS y_b0,
         AVG(CASE WHEN run = 'R1' THEN mval END) AS y_b1,
         COUNT(*) AS n
  FROM m GROUP BY 1
),
coef AS (
  SELECT probe_id, n, y_th - y_tc AS tau,
         y_b0 - 0.5 * (y_th - y_tc) AS c0,
         y_b1 - 0.5 * (y_th - y_tc) AS c1
  FROM g
),
r AS (
  SELECT m.probe_id, m.sample_id, m.run, m.d, m.mval, coef.n,
         (CASE WHEN m.run = 'R0' THEN c0 ELSE c1 END) + m.d * tau AS fit,
         0.5 * (c0 + c1) + m.d * tau AS stand_mean
  FROM m JOIN coef USING (probe_id)
),
vp AS (
  SELECT probe_id, SUM(POW(mval - fit, 2)) / ANY_VALUE(n) AS var_pooled
  FROM r GROUP BY 1
)
SELECT r.probe_id, r.sample_id, r.run,
       ROUND(stand_mean + 1e-9, 6) AS stand_mean,
       ROUND(var_pooled + 1e-9, 6) AS var_pooled,
       ROUND((mval - stand_mean) / sqrt(var_pooled) + 1e-9, 4) AS z
FROM r JOIN vp USING (probe_id)
ORDER BY probe_id, sample_id
"""


def q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA sample scores (M1): vector assembly + ml.feature.PCA.
    Rows-only (eigenvector sign is implementation-defined)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.pca import pca_scores

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    scores, _ = pca_scores(meth, k=3, value_col="mval")
    return scores.select(
        "sample_id",
        F.round("PC1", 4).alias("pc1"),
        F.round("PC2", 4).alias("pc2"),
        F.round("PC3", 4).alias("pc3"),
    ).orderBy("sample_id")


def q_mds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA variant C (M1: Mouse_Microarray_General_Workflow.R:69-73 —
    limma plotMDS on top-1000-variance probes): classical MDS via one
    probe-keyed self-join producing the n×n distance matrix.
    Rows-only (eigendecomposition isn't SQL-expressible)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.pca import mds_coords

    meth = _meth(spark, sf_dir).withColumn("mval", model.mvalue("beta"))
    coords = mds_coords(meth, k=2, ntop=1000, value_col="mval")
    return coords.select(
        "sample_id",
        F.round("MDS1", 4).alias("mds1"),
        F.round("MDS2", 4).alias("mds2"),
    ).orderBy("sample_id")


def q_heatmap_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap prep (M7): per-probe z-scores (oracle-checkable part;
    the clustering assignment is covered by tests — eigen/kmeans isn't
    SQL)."""
    from methyl_data_pipeline_spark.stats.cluster import zscore_rows

    meth = _meth(spark, sf_dir)
    out = zscore_rows(meth)
    return out.select(
        "probe_id", "sample_id", _r(F.col("z")).alias("z")
    ).orderBy("probe_id", "sample_id")


SQL_HEATMAP_PREP = f"""
WITH {METH_CTE},
stats AS (
  SELECT probe_id, AVG(beta) AS m, STDDEV_SAMP(beta) AS sd
  FROM meth GROUP BY probe_id
)
SELECT m2.probe_id, m2.sample_id,
       ROUND(CASE WHEN s.sd > 0 THEN (m2.beta - s.m) / s.sd ELSE 0.0 END + 1e-9, 6)
         AS z
FROM meth m2 JOIN stats s ON m2.probe_id = s.probe_id
ORDER BY m2.probe_id, m2.sample_id
"""


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH buckets (scale path of
    embedding_cosine_topk). The hyperplanes are seeded and deterministic,
    so even the *approximate* result is exactly reproducible — the
    DuckDB oracle replays the same planes (embedded as SQL literals)."""
    from methyl_data_pipeline_spark.ext.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    out = lsh_bucketed_topk(emb, queries_df, k=5, n_planes=6)
    return out.select(
        "query_id", "rank", "neighbor_id", _r(F.col("cosine")).alias("cosine")
    ).orderBy("query_id", "rank")


def _sql_similarity_lsh(dim: int = 64, n_planes: int = 6, seed: int = 42) -> str:
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))

    def bucket_expr(vec: str) -> str:
        bits = []
        for p in range(n_planes):
            terms = " + ".join(
                f"{vec}[{i + 1}] * ({planes[p][i]!r})" for i in range(dim)
            )
            bits.append(f"(CASE WHEN {terms} >= 0 THEN '1' ELSE '0' END)")
        return " || ".join(bits)

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE {_sql_valid_vec('embedding')}),
b AS (SELECT vec_id, v, {bucket_expr('v')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.qv)),
                                 i -> q.qv[i] * c.v[i]))
           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos_raw
  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, ROUND(cos_raw + 1e-9, 6) AS cosine
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""


def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline (SURVEY §3.2): QC → BMIQ → ComBat →
    top-k → DMP, composed lazily. Rows-only smoke of the composition."""
    from methyl_data_pipeline_spark.plans.pipeline import run_methylation_pipeline

    meth = _meth(spark, sf_dir)
    probes = _probes_dim(spark, sf_dir)
    samples = meth.select("sample_id", "run").distinct()
    res = run_methylation_pipeline(
        meth, probes, samples,
        detp_sample_threshold=0.02, detp_probe_threshold=0.006,
        top_k=500, pca_k=0, run_bmiq=False, run_combat=True,
        dmp_groups=("run", "R0", "R1"),
    )
    # volcano-table shape (P14/F11: plots.R:165, volcano.R:166) — the
    # tidy result the reference renders; significance flag + -log10.
    from methyl_data_pipeline_spark.functions.scalar import (
        neg_log10,
        significance_flag,
    )

    dmp = res.dmp
    return dmp.select(
        "probe_id",
        F.round("logFC", 4).alias("logfc"),
        F.round("t_mod", 3).alias("t_mod"),
        F.round("p_value", 4).alias("p_value"),
        F.round("adj_p", 4).alias("adj_p"),
        F.round(neg_log10("adj_p"), 4).alias("neg_log10_fdr"),
        significance_flag("adj_p", "logFC").alias("significant"),
    ).orderBy("probe_id")


def q_sample_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise sample-sample Pearson correlation over shared probes
    (operators.qc.sample_correlation) — the methylation QC outlier
    diagnostic. Probe-keyed self-join + one pair-keyed groupBy, all
    JVM-side."""
    from methyl_data_pipeline_spark.operators.qc import sample_correlation

    meth = _meth(spark, sf_dir)
    out = sample_correlation(meth)
    return out.select(
        "s1", "s2", _r(F.col("corr")).alias("corr"), "n_probes"
    ).orderBy("s1", "s2")


SQL_SAMPLE_CORR = f"""
WITH {METH_CTE}
SELECT a.sample_id AS s1, b.sample_id AS s2,
       ROUND(corr(a.beta, b.beta) + 1e-9, 6) AS corr,
       COUNT(*) AS n_probes
FROM meth a JOIN meth b
  ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_moderated_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moderated one-way ANOVA F (limma topTableF omnibus test,
    stats.limma.moderated_f_anova) across the 4 synthetic sample
    groups — completes the limma family: t (two-group), contrasts
    (pairwise), F (any-group)."""
    from methyl_data_pipeline_spark import model
    from methyl_data_pipeline_spark.stats.limma import moderated_f_anova

    # ROUND(mval, 9) BEFORE any aggregation (VERDICT r6 #7): the JVM's
    # Math.log and DuckDB's C libm can disagree by an ulp on the same
    # machine, and unrounded log2 values feed per-group AVG/VAR and a
    # GLOBAL EB prior, where one ulp shifts every f_mod. Grid-aligned
    # inputs make both engines aggregate the SAME doubles; the
    # moment_round=9 and 1e4-scale f_mod gates absorb what remains.
    # (This hardening did NOT cause the r4-r8 driver reds — that was
    # the oracle's HUGEINT df2 column, cast to BIGINT in r9 — but it
    # stays: same-doubles aggregation is the correct parity posture.)
    meth = _meth(spark, sf_dir).withColumn(
        "mval",
        F.round(model.mvalue("beta") * F.lit(1.0 + _ULP_EPS), 9),
    )
    grouped = meth.withColumn(
        "grp",
        F.concat(
            F.lit("G"),
            (F.substring("sample_id", 2, 10).cast("int") % 4).cast("string"),
        ),
    )
    # moment_round=9: both engines aggregate the SAME 9-dp per-group
    # moments, so second-level sums can't drift apart. Outputs are
    # scaled-integer (_ri) — r4/r5 were bit-identical to DuckDB locally
    # yet hash-red on the driver, so floats leave the hash channel.
    out = moderated_f_anova(grouped, "grp", moment_round=9)
    return out.select(
        "probe_id",
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("df1").cast("long").alias("df1"),
        F.col("df2").cast("long").alias("df2"),
        _ri(F.col("s2")).alias("s2"),
        _ri(F.col("ms_between")).alias("ms_between"),
        _ri(F.col("f_mod"), 10_000).alias("f_mod"),
    ).orderBy("probe_id")


SQL_MODERATED_F = f"""
WITH {METH_CTE},
m AS (
  SELECT probe_id,
         'G' || CAST(CAST(substring(sample_id, 2) AS INT) % 4 AS VARCHAR) AS grp,
         -- ROUND 9dp before ANY aggregation: JVM Math.log vs C libm
         -- can differ by an ulp; both engines must aggregate the SAME
         -- grid-aligned doubles (mirrors the Spark-side ROUND(mval,9))
         ROUND(log2(least(greatest(beta, 0.001), 0.999)
              / (1 - least(greatest(beta, 0.001), 0.999))), 9) AS mval
  FROM meth
),
per_group AS (
  SELECT probe_id, grp, COUNT(mval) AS n,
         ROUND(AVG(mval) + 1e-9, 9) AS mean,
         ROUND(VAR_SAMP(mval) + 1e-9, 9) AS var
  FROM m GROUP BY 1, 2
),
pg AS (
  SELECT *,
         SUM(n * mean) OVER (PARTITION BY probe_id)
           / SUM(n) OVER (PARTITION BY probe_id) AS grand
  FROM per_group
),
per_key AS (
  SELECT probe_id, COUNT(*) AS n_groups, SUM(n) AS n_total,
         MIN(n) AS min_n,
         MAX(grand) AS grand,
         SUM((n - 1) * var) AS ss_within,
         SUM(n * (mean - grand) * (mean - grand)) AS ss_between
  FROM pg GROUP BY 1
  HAVING n_groups >= 2 AND min_n >= 2 AND SUM(n) - COUNT(*) >= 1
),
stats AS (
  SELECT *, n_total - n_groups AS df2,
         ss_within / (n_total - n_groups) AS s2,
         ss_between / (n_groups - 1) AS ms_between
  FROM per_key
),
prior AS (
  SELECT AVG(s2) AS s0_sq, 2.0 * AVG(s2) * AVG(s2) / VAR_SAMP(s2) AS d0
  FROM stats
)
SELECT probe_id, n_groups, n_groups - 1 AS df1,
       CAST(df2 AS BIGINT) AS df2,
       CAST(ROUND((s2 + 1e-9) * 1000000) AS BIGINT) AS s2,
       CAST(ROUND((ms_between + 1e-9) * 1000000) AS BIGINT) AS ms_between,
       CAST(ROUND((ms_between / ((d0 * s0_sq + df2 * s2) / (d0 + df2))
                   + 1e-9) * 10000) AS BIGINT) AS f_mod
FROM stats, prior ORDER BY probe_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through a REAL container parse: each doc
    becomes an AVI (struct codec, ext/codecs.py) holding deterministic
    ASCII frame payloads; frame_sample walks the RIFF tree, recovers
    fps + frames, and digests every 2nd frame's actual bytes. The
    oracle recomputes digests/timestamps from the payload formula,
    certifying the container round trip."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        frame_sample,
        synthesize_video,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synthesize_video(docs)
    out = frame_sample(media, every_n=2)
    return out.select(
        F.col("id").alias("doc_id"),
        "frame_idx",
        _r(F.col("t_offset")).alias("t_offset"),
        "frame_digest",
    ).orderBy("doc_id", "frame_idx")


SQL_FRAME_SAMPLE = """
WITH n AS (SELECT doc_id, 3 + doc_id % 5 AS n_frames FROM documents),
f AS (
  SELECT doc_id, unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS i
  FROM n
)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       ROUND(i / 10.0 + 1e-9, 6) AS t_offset,
       md5('frame|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR))
         AS frame_digest
FROM f WHERE i % 2 = 0 ORDER BY doc_id, frame_idx
"""


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash fingerprints over REAL BMP bytes
    (VERDICT r13 #5 — extends the dedup layer beyond text): each doc
    becomes a block-constant BMP with planted brightness/resize/edit
    variants (ext.multimodal.synthesize_images), then image_ahash
    decodes the real pixel buffer, grayscales, 8x8 nearest-neighbor
    downsamples, mean-thresholds, and packs a signed 64-bit
    fingerprint — all integer arithmetic, so the oracle replays the
    whole decode -> hash chain from the closed-form block formula."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        image_ahash,
        synthesize_images,
    )

    docs = _t(spark, sf_dir, "documents")
    out = image_ahash(synthesize_images(docs))
    return out.select(F.col("id").alias("doc_id"), "ahash").orderBy("doc_id")


# Block values replayed from the synthesize_images closed-form (role =
# doc_id % 4: base / +40 brightness / 2-block edit / independent); bit
# k set iff 64*v_k >= sum(v) (integer-exact mean threshold); signed
# 64-bit packing with an explicit bit-63 sign term.
SQL_IMAGE_AHASH_CORE = """
ids AS (SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS role FROM documents),
blk AS (SELECT doc_id, grp, role,
               unnest(generate_series(0, 63)) AS j FROM ids),
val AS (
  SELECT doc_id, j,
    CASE role
      WHEN 0 THEN (grp*37 + j*11) % 200
      WHEN 1 THEN (grp*37 + j*11) % 200 + 40
      WHEN 2 THEN CASE WHEN j < 2 THEN ((grp*37 + j*11) % 200 + 100) % 200
                       ELSE (grp*37 + j*11) % 200 END
      ELSE (grp*101 + j*53 + 7) % 200
    END AS v
  FROM blk
),
bits AS (
  SELECT doc_id, j,
         CASE WHEN 64*v >= SUM(v) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS bit
  FROM val
),
sig AS (
  -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the comparator
  -- renders as a float; the fingerprint must stay a signed 64-bit int
  SELECT doc_id,
         CAST(SUM(CASE WHEN bit = 1 AND j < 63
                    THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                  WHEN bit = 1 AND j = 63 THEN (-9223372036854775807 - 1)
                  ELSE 0 END) AS BIGINT) AS ahash
  FROM bits GROUP BY doc_id
)
"""

SQL_IMAGE_AHASH = (
    "WITH " + SQL_IMAGE_AHASH_CORE + "SELECT doc_id, ahash FROM sig ORDER BY doc_id"
)


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs (VERDICT r13 #5):
    average-hash fingerprints through the LOSSLESS pigeonhole hamming
    banding (the simhash_hamming_pairs kernel, generalized) — planted
    brightness variants land at hamming 0, resize+edit variants at
    1-3, independents near 32. The oracle brute-forces all pairs with
    bit_count(xor) <= 3, which the banded plan must reproduce exactly
    (losslessness is the certificate, same as minhash_recall)."""
    from methyl_data_pipeline_spark.ext.multimodal import (
        image_neardup,
        synthesize_images,
    )

    docs = _t(spark, sf_dir, "documents")
    out = image_neardup(synthesize_images(docs), max_hamming=3)
    return out.orderBy("id_a", "id_b")


SQL_IMAGE_NEARDUP = (
    "WITH "
    + SQL_IMAGE_AHASH_CORE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY id_a, id_b
"""
)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (ext.pack.chunk_documents,
    window=32/stride=24): the RAG / long-doc splitter as a pure 1:N
    scan-side projection."""
    from methyl_data_pipeline_spark.ext.pack import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, window=32, stride=24)
    return out.select(
        "doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_text"
    ).orderBy("doc_id", "chunk_idx")


SQL_CHUNK_DOCUMENTS = r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
n AS (
  SELECT doc_id, w, len(w) AS nt,
         CASE WHEN len(w) <= 32 THEN 1
              ELSE CAST(CEIL((len(w) - 32) / 24.0) AS BIGINT) + 1 END AS nc
  FROM ws
),
c AS (
  SELECT doc_id, w, nt, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       chunk_idx * 24 AS start_tok,
       LEAST(32, nt - chunk_idx * 24) AS n_chunk_tokens,
       array_to_string(w[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)], ' ')
         AS chunk_text
FROM c ORDER BY doc_id, chunk_idx
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning per language
    (ext.text.perplexity_buckets): rank terciles of the 6-dp-rounded
    unigram LM score — the bucket CCNet feeds downstream sampling."""
    from methyl_data_pipeline_spark.ext.text import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    out = perplexity_buckets(docs, part_col="lang")
    return out.select(
        "doc_id", "lang", _r(F.col("score")).alias("score"), "bucket"
    ).orderBy("doc_id")


SQL_PERPLEXITY_BUCKETS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
totals AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab FROM counts),
model AS (
  SELECT term, ln((cnt + 0.5) / (total + 0.5 * vocab)) AS logp
  FROM counts, totals
),
scored AS (
  SELECT t.doc_id, ROUND(AVG(m.logp) + 1e-9, 6) AS score
  FROM toks t JOIN model m USING (term)
  GROUP BY t.doc_id
),
ranked AS (
  SELECT s.doc_id, d.lang, s.score,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, score,
       CASE WHEN rn <= FLOOR(n / 3.0) THEN 'head'
            WHEN rn <= FLOOR(2.0 * n / 3.0) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""


def q_perplexity_buckets_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning per language with the
    BIGRAM LM scorer (perplexity_buckets(model='bigram'), r13 —
    closer to CCNet's actual KenLM n-gram filter than the unigram
    proxy; word-order-scrambled boilerplate now ranks into the tail).
    Oracle: the bigram_logprob replay feeding the same tercile window
    replay as perplexity_buckets."""
    from methyl_data_pipeline_spark.ext.text import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    out = perplexity_buckets(docs, part_col="lang", model="bigram")
    return out.select(
        "doc_id", "lang", _r(F.col("score")).alias("score"), "bucket"
    ).orderBy("doc_id")


SQL_PERPLEXITY_BUCKETS_BIGRAM = r"""
WITH docs0 AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS wf
  FROM documents WHERE text IS NOT NULL
),
toks AS (
  SELECT doc_id,
         unnest(list_concat(CAST([NULL] AS VARCHAR[]),
                            wf[1:len(wf)-1])) AS prev,
         unnest(wf) AS cur
  FROM docs0
),
uni AS (SELECT cur, COUNT(*) AS cu FROM toks GROUP BY cur),
totals AS (SELECT SUM(cu) AS total, COUNT(*) AS vocab FROM uni),
unip AS (
  SELECT cur, (cu + 0.5) / (total + 0.5 * vocab) AS pu FROM uni, totals
),
big AS (
  SELECT prev, cur, COUNT(*) AS cb FROM toks
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
ctx AS (SELECT prev, SUM(cb) AS cc FROM big GROUP BY prev),
logps AS (
  SELECT t.doc_id,
         ln(CASE WHEN t.prev IS NULL THEN u.pu
                 ELSE 0.7 * b.cb / c.cc + (1.0 - 0.7) * u.pu
            END) AS logp
  FROM toks t
  JOIN unip u USING (cur)
  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
  LEFT JOIN ctx c ON t.prev = c.prev
),
scored AS (
  SELECT doc_id, ROUND(AVG(logp) + 1e-9, 6) AS score
  FROM logps GROUP BY doc_id
),
ranked AS (
  SELECT s.doc_id, d.lang, s.score,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, score,
       CASE WHEN rn <= FLOOR(n / 3.0) THEN 'head'
            WHEN rn <= FLOOR(2.0 * n / 3.0) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest dedup (ext.dedup.incremental_dedup): a new shard
    (doc_id >= 200) is deduped against the fingerprint ledger of the
    already-ingested corpus (doc_id < 250) — overlap docs drop as
    already-seen, within-shard dups elect a min-id winner, and only
    novel documents survive. The idempotent building block of a
    continuously-growing corpus."""
    from methyl_data_pipeline_spark.ext.dedup import incremental_dedup
    from methyl_data_pipeline_spark.ext.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    seen = (
        fingerprint(docs.filter(F.col("doc_id") < 250))
        .select("fingerprint")
        .distinct()
    )
    shard = docs.filter(F.col("doc_id") >= 200)
    novel, updated = incremental_dedup(shard, seen)
    return novel.select("doc_id").orderBy("doc_id")


SQL_INCREMENTAL_DEDUP = r"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                         1, 15))::BIGINT AS fp
  FROM documents
  WHERE text IS NOT NULL
),
seen AS (SELECT DISTINCT fp FROM keyed WHERE doc_id < 250),
shard AS (SELECT * FROM keyed WHERE doc_id >= 200),
winners AS (SELECT fp, MIN(doc_id) AS doc_id FROM shard GROUP BY fp)
SELECT w.doc_id FROM winners w
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = w.fp)
ORDER BY w.doc_id
"""


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter calibration (new r8, ext.text.threshold_sweep):
    per distinct stopword-hit score taken as the keep-cutoff, the kept
    / true-positive / false-positive counts against a gold label
    (lang = 'en'), cumulated over the tiny per-score frame — the
    precision/recall sweep that picks a curation threshold without a
    global corpus sort. Integer channels only."""
    from methyl_data_pipeline_spark.ext.text import STOPWORDS, threshold_sweep, words

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    scored = docs.select(
        F.size(F.filter(words("text"), lambda w: F.array_contains(en, w)))
        .cast("long")
        .alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return threshold_sweep(scored, "score", "label").orderBy(
        F.col("threshold").desc()
    )


def _sql_threshold_sweep() -> str:
    from methyl_data_pipeline_spark.ext.text import STOPWORDS

    stops = ", ".join("'%s'" % w for w in STOPWORDS["en"])
    return rf"""
WITH scored AS (
  SELECT CAST(len(list_filter(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
             w -> list_contains([{stops}], w))) AS BIGINT) AS threshold,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS _pos
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
per_score AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS _n,
         CAST(SUM(_pos) AS BIGINT) AS _np
  FROM scored GROUP BY threshold
)
SELECT threshold,
       CAST(SUM(_n) OVER w AS BIGINT) AS n_kept,
       CAST(SUM(_np) OVER w AS BIGINT) AS n_true_pos,
       CAST(SUM(_n) OVER w - SUM(_np) OVER w AS BIGINT) AS n_false_pos,
       CAST(SUM(_np) OVER (ORDER BY threshold DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_pos_total
FROM per_score
WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)
ORDER BY threshold DESC"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest NEAR-dup candidate gate (new r8,
    ext.dedup.incremental_neardup): a new shard (doc_id >= 200) probes
    the MinHash band ledger of the already-ingested corpus
    (doc_id < 250) — per shard doc, the count of its 4 LSH bands
    already present, 0 = novel beyond near-duplication. The MinHash
    analogue of incremental_dedup's exact ledger: the continuous-crawl
    shape where each shard near-dup-checks against an ever-growing
    corpus without re-banding it."""
    from methyl_data_pipeline_spark.ext.dedup import (
        incremental_neardup,
        minhash_band_ledger,
    )

    docs = _t(spark, sf_dir, "documents")
    ledger = minhash_band_ledger(docs.filter(F.col("doc_id") < 250), num_hashes=8)
    shard = docs.filter(F.col("doc_id") >= 200)
    out = incremental_neardup(shard, ledger, num_hashes=8)
    return out.orderBy("doc_id")


def _sql_incremental_neardup() -> str:
    base = _sql_minhash_cte()
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx,"
        f" md5(CAST(mh_{2*b} AS VARCHAR) || '_' || CAST(mh_{2*b+1} AS VARCHAR))"
        f" AS band_hash FROM sigs"
        for b in range(4)
    )
    return f"""{base},
sigs AS (SELECT doc_id, {_minhash_mins_sql(8)} FROM hsh WHERE len(hs) > 0),
banded AS ({bands}),
ledger AS (SELECT DISTINCT band_idx, band_hash FROM banded WHERE doc_id < 250),
shard AS (SELECT * FROM banded WHERE doc_id >= 200)
SELECT s.doc_id,
       CAST(SUM(CASE WHEN l.band_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_band_hits,
       SUM(CASE WHEN l.band_hash IS NOT NULL THEN 1 ELSE 0 END) = 0 AS is_novel
FROM shard s
LEFT JOIN ledger l ON s.band_idx = l.band_idx AND s.band_hash = l.band_hash
GROUP BY s.doc_id ORDER BY s.doc_id"""


def q_contract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract violation report (operators.contracts) — the
    engine mapping of the reference's stopifnot preconditions
    (workflow.R:39,133; combat_norm.py:36-37), evaluated as ONE
    aggregate pass of null-strict conditional counts."""
    from methyl_data_pipeline_spark.operators.contracts import check_report

    meth = _meth(spark, sf_dir)
    return check_report(
        meth,
        {
            "beta_out_of_range": (F.col("beta") >= 0) & (F.col("beta") <= 1),
            "detp_out_of_range": (F.col("det_p") >= 0) & (F.col("det_p") <= 1),
            "bad_probe_id": F.col("probe_id").rlike("^cg[0-9]{8}$"),
            "null_keys": F.col("probe_id").isNotNull()
            & F.col("sample_id").isNotNull()
            & F.col("run").isNotNull(),
        },
    )


SQL_CONTRACT_REPORT = f"""
WITH {METH_CTE}
SELECT
  CAST(SUM(CASE WHEN beta >= 0 AND beta <= 1 THEN 0 ELSE 1 END) AS BIGINT)
    AS beta_out_of_range,
  CAST(SUM(CASE WHEN det_p >= 0 AND det_p <= 1 THEN 0 ELSE 1 END) AS BIGINT)
    AS detp_out_of_range,
  CAST(SUM(CASE WHEN regexp_matches(probe_id, '^cg[0-9]{{8}}$') THEN 0 ELSE 1 END) AS BIGINT)
    AS bad_probe_id,
  CAST(SUM(CASE WHEN probe_id IS NOT NULL AND sample_id IS NOT NULL
                 AND run IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS null_keys
FROM meth
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (Cavnar-Trenkle heuristic,
    ext.text.language_id_ngram) — the n-gram variant of §2.13's
    language-ID requirement; pure HOF expressions, zero shuffles."""
    from methyl_data_pipeline_spark.ext.text import language_id_ngram

    docs = _t(spark, sf_dir, "documents")
    out = language_id_ngram(docs)
    return out.select("doc_id", "lang_pred_ngram", "ngram_hits").orderBy("doc_id")


def _sql_lang_id_ngram() -> str:
    from methyl_data_pipeline_spark.ext.text import TRIGRAM_PROFILES

    score_exprs = ",\n       ".join(
        "len(list_filter(grams, g -> list_contains(["
        + ", ".join("'" + g.replace("'", "''") + "'" for g in sorted(set(p)))
        + f"], g))) AS s_{lg}"
        for lg, p in TRIGRAM_PROFILES.items()
    )
    langs = list(TRIGRAM_PROFILES)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN s_{lg} = {greatest} AND {greatest} > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return rf"""
WITH t AS (
  SELECT doc_id,
         ' ' || coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '')
             || ' ' AS tt
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(tt) - 2, 0)),
                        i -> substr(tt, i, 3)) AS grams
  FROM t
),
scored AS (SELECT doc_id, {score_exprs} FROM g)
SELECT doc_id, {case} AS lang_pred_ngram,
       CAST({greatest} AS BIGINT) AS ngram_hits
FROM scored ORDER BY doc_id"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by keyed md5 hash
    (ext.pack.hash_split) — zero-shuffle projection, reproducible at
    any partitioning; per-split counts certify the hash-space
    partition."""
    from methyl_data_pipeline_spark.ext.pack import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs)
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id"))
        .orderBy("split")
    )


SQL_HASH_SPLIT = """
WITH f AS (
  SELECT doc_id,
         ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS frac
  FROM documents
)
SELECT CASE WHEN frac < 0.9 THEN 'train'
            WHEN frac < 0.95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_id
FROM f GROUP BY 1 ORDER BY split
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-rebalancing subsample (ext.pack.mixture_sample): keep
    each doc iff its keyed hash fraction is under its source's
    discard-only sampling rate weight/max(weight) — the deterministic
    materialization of domain_mix's target mixture."""
    from methyl_data_pipeline_spark.ext.pack import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(docs)
    return out.select("doc_id", "source").orderBy("doc_id")


SQL_MIXTURE_SAMPLE = r"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS k FROM per),
w AS (
  SELECT source, (1.0 / k) / (n_tokens * 1.0 / t) AS weight FROM per, tot
),
r AS (SELECT source, weight / (SELECT MAX(weight) FROM w) AS rate FROM w)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0 < r.rate
ORDER BY d.doc_id
"""


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching (ext.pack.length_bucket_batches):
    docs bucketed by token count, sharded by keyed hash so every
    data-parallel worker assembles its own batches, cut into batches of
    16; per-batch stats include the pad-to-longest token waste the
    bucketing exists to minimize. One shuffle end-to-end."""
    from methyl_data_pipeline_spark.ext.pack import length_bucket_batches

    docs = _t(spark, sf_dir, "documents")
    out = length_bucket_batches(docs, batch_size=16, n_shards=8)
    return out.select(
        "bucket", "shard", "batch_id", "n_docs", "max_tokens",
        "sum_tokens", "padding",
    ).orderBy("bucket", "shard", "batch_id")


SQL_LENGTH_BATCHES = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_tokens,
         ('0x' || substr(md5('batch|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, n_tokens, h,
         CAST(h % 8 AS BIGINT) AS shard,
         CAST(CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
                   WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
                   WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
                   ELSE 1024 END AS BIGINT) AS bucket
  FROM t
),
placed AS (
  SELECT bucket, shard, n_tokens,
         CAST((ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                  ORDER BY h ASC, doc_id ASC) - 1) // 16
              AS BIGINT) AS batch_id
  FROM b
)
SELECT bucket, shard, batch_id,
       COUNT(*) AS n_docs,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       COUNT(*) * MAX(n_tokens) - CAST(SUM(n_tokens) AS BIGINT) AS padding
FROM placed
GROUP BY bucket, shard, batch_id
ORDER BY bucket, shard, batch_id
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split audit (ext.pack.leakage_safe_split): the same
    corpus split by doc id vs by CONTENT fingerprint, with the count of
    fingerprints whose duplicate docs straddle splits under each keying
    — zero by construction for the fingerprint keying, which is the
    certificate that exact dups cannot leak train→eval. One
    fingerprint-keyed shuffle; all downstream frames are split-sized."""
    from methyl_data_pipeline_spark.ext.pack import hash_split, leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    base = (
        leakage_safe_split(docs)
        .withColumnRenamed("split", "split_fp")
        .transform(hash_split)
        .withColumnRenamed("split", "split_id")
    )
    # ONE fingerprint-keyed shuffle: per-fp doc counts per split via
    # conditional sums, straddle test via min != max (a countDistinct
    # here would Expand-double the shuffle; referencing a grouped frame
    # from several downstream aggs would rerun the corpus scan+shuffle
    # per branch). Everything after per_fp is a map-collapsed scalar.
    names = ("train", "val", "test")
    per_fp = base.groupBy("fingerprint").agg(
        *[
            F.sum(F.when(F.col("split_id") == nm, 1).otherwise(0)).alias(f"id_{nm}")
            for nm in names
        ],
        *[
            F.sum(F.when(F.col("split_fp") == nm, 1).otherwise(0)).alias(f"fp_{nm}")
            for nm in names
        ],
        F.min("split_id").alias("_ia"),
        F.max("split_id").alias("_ib"),
        F.min("split_fp").alias("_fa"),
        F.max("split_fp").alias("_fb"),
    )
    tot = per_fp.agg(
        *[F.sum(f"id_{nm}").cast("long").alias(f"nid_{nm}") for nm in names],
        *[F.sum(f"fp_{nm}").cast("long").alias(f"nfp_{nm}") for nm in names],
        F.sum((F.col("_ia") != F.col("_ib")).cast("long")).alias("leak_id"),
        F.sum((F.col("_fa") != F.col("_fb")).cast("long")).alias("leak_fp"),
    )
    stack_expr = (
        "stack(6, "
        + ", ".join(
            [f"'by_id', '{nm}', nid_{nm}, leak_id" for nm in names]
            + [f"'by_fingerprint', '{nm}', nfp_{nm}, leak_fp" for nm in names]
        )
        + ") as (keying, split, n_docs, leaky_fps)"
    )
    return (
        tot.selectExpr(stack_expr)
        .filter(F.col("n_docs") > 0)
        .orderBy("keying", "split")
    )


SQL_SPLIT_LEAKAGE = r"""
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5('split|' || COALESCE(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT AS fp,
         ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS hid
  FROM documents
),
s AS (
  SELECT fp,
         CASE WHEN hid / 1152921504606846976.0 < 0.9 THEN 'train'
              WHEN hid / 1152921504606846976.0 < 0.95 THEN 'val'
              ELSE 'test' END AS split_id,
         CASE WHEN fp / 1152921504606846976.0 < 0.9 THEN 'train'
              WHEN fp / 1152921504606846976.0 < 0.95 THEN 'val'
              ELSE 'test' END AS split_fp
  FROM base
),
g AS (SELECT fp, split_id, split_fp, COUNT(*) AS n FROM s GROUP BY 1, 2, 3),
leak AS (
  SELECT 'by_id' AS keying,
         (SELECT COUNT(*) FROM (SELECT fp FROM g GROUP BY fp
                                HAVING COUNT(DISTINCT split_id) > 1)) AS leaky_fps
  UNION ALL
  SELECT 'by_fingerprint',
         (SELECT COUNT(*) FROM (SELECT fp FROM g GROUP BY fp
                                HAVING COUNT(DISTINCT split_fp) > 1))
),
counts AS (
  SELECT 'by_id' AS keying, split_id AS split, CAST(SUM(n) AS BIGINT) AS n_docs
  FROM g GROUP BY 2
  UNION ALL
  SELECT 'by_fingerprint', split_fp, CAST(SUM(n) AS BIGINT) FROM g GROUP BY 2
)
SELECT c.keying, c.split, c.n_docs, l.leaky_fps
FROM counts c JOIN leak l USING (keying)
ORDER BY keying, split
"""


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a global token budget
    (ext.pack.budget_select): rank docs by English-stopword hit count
    (integer quality proxy) desc, keep the best-first prefix within
    150k tokens. Distributed exact running sum — range partitions +
    O(P) scalar offsets, no single global window task."""
    from methyl_data_pipeline_spark.ext.pack import budget_select
    from methyl_data_pipeline_spark.ext.text import (
        STOPWORDS,
        n_words_nullsafe,
        words,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        "doc_id",
        F.size(
            F.filter(words("text"), lambda w: F.array_contains(en, w))
        ).cast("long").alias("score"),
        n_words_nullsafe("text").cast("long").alias("n_tokens"),
    )
    out = budget_select(base, "score", "n_tokens", budget=150_000)
    return out.select(
        "doc_id", "score", "n_tokens",
        F.col("rank").cast("long").alias("rank"),
        "cum_tokens",
    ).orderBy("rank")


def _sql_budget_select() -> str:
    from methyl_data_pipeline_spark.ext.text import STOPWORDS

    stops = ", ".join("'%s'" % w for w in STOPWORDS["en"])
    return rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
             w -> list_contains([{stops}], w))) AS BIGINT) AS score,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
              AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, score, n_tokens,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, score, n_tokens, rank, cum_tokens
FROM r WHERE cum_tokens <= 150000 ORDER BY rank
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (new r9,
    ext.dedup.containment_pairs): docs with id < 30 re-enter the corpus
    as 10-word prefix snippets (id + 10,000,000) — each snippet is
    ~fully contained in its source while its Jaccard is tiny, the case
    symmetric dedup structurally misses. Rare-gram postings prune
    (df <= 64) -> exact containment verify."""
    from methyl_data_pipeline_spark.ext.dedup import containment_pairs
    from methyl_data_pipeline_spark.ext.text import words

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    snip = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.array_join(F.slice(words("text"), 1, 10), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(snip)
    out = containment_pairs(corpus, threshold=0.8, df_max=64)
    return out.select(
        "contained_id",
        "container_id",
        F.round((F.col("containment") + F.lit(1e-9)) * 1e6).cast("long")
        .alias("containment_ri"),
    ).orderBy("contained_id", "container_id")


SQL_CONTAINMENT_PAIRS = r"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
dw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM docs
),
snip AS (
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(ws[1:10], ' ') AS text
  FROM dw WHERE doc_id < 30
),
corpus AS (SELECT doc_id, text FROM docs UNION ALL SELECT doc_id, text FROM snip),
cw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM corpus
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(0, len(ws) - 3),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
                ELSE [array_to_string(ws, ' ')] END,
           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS grams
  FROM cw
),
post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 64),
cand AS (
  SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
  FROM post p1 JOIN rare USING (g) JOIN post p2 USING (g)
  WHERE p1.doc_id < p2.doc_id
),
scored AS (
  SELECT a, b, len(sa.grams) AS na, len(sb.grams) AS nb,
         len(list_intersect(sa.grams, sb.grams)) * 1.0
           / least(len(sa.grams), len(sb.grams)) AS c
  FROM cand JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b
)
SELECT CASE WHEN na < nb OR (na = nb AND a < b) THEN a ELSE b END AS contained_id,
       CASE WHEN na < nb OR (na = nb AND a < b) THEN b ELSE a END AS container_id,
       CAST(ROUND((c + 1e-9) * 1000000) AS BIGINT) AS containment_ri
FROM scored WHERE c >= 0.8 ORDER BY contained_id, container_id
"""


def q_source_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token cap (new r9, ext.pack.source_token_cap): within
    each source, rank docs by English-stopword hit count desc and keep
    the best-first prefix within 8k tokens — the "no single domain
    dominates the mixture" primitive, per-group complement of
    budget_select. One shuffle on the group key; the running sum is a
    streaming window over the shuffle's own sort."""
    from methyl_data_pipeline_spark.ext.pack import source_token_cap
    from methyl_data_pipeline_spark.ext.text import (
        STOPWORDS,
        n_words_nullsafe,
        words,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(words("text"), lambda w: F.array_contains(en, w))
        ).cast("long").alias("score"),
        n_words_nullsafe("text").cast("long").alias("n_tokens"),
    )
    out = source_token_cap(base, "score", cap=8_000)
    # NULLS LAST pin: the operator keeps a NULL source as its own
    # group, and Spark's default asc sorts NULLs FIRST where DuckDB's
    # ORDER BY sorts them LAST
    return out.orderBy(F.col("source").asc_nulls_last(), "rank")


def _sql_source_token_cap() -> str:
    from methyl_data_pipeline_spark.ext.text import STOPWORDS

    stops = ", ".join("'%s'" % w for w in STOPWORDS["en"])
    return rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
             w -> list_contains([{stops}], w))) AS BIGINT) AS score,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
              AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT source, doc_id, score, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY score DESC, doc_id ASC)
              AS BIGINT) AS rank,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_tokens
  FROM t
)
SELECT source, doc_id, score, n_tokens, rank, cum_tokens
FROM r WHERE cum_tokens <= 8000 ORDER BY source NULLS LAST, rank
"""


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (ext.dedup.exact_substring_dedup, Lee et al.
    family): overlapping 5-gram spans repeated anywhere in the corpus
    are cut from every non-first document; docs reassembled from
    surviving tokens. Token-stream-sized plan, one gram shuffle."""
    from methyl_data_pipeline_spark.ext.dedup import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents")
    out = exact_substring_dedup(docs, gram_n=5)
    return out.orderBy("doc_id")


SQL_EXACT_SUBSTRING = r"""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(w[i:i+4], chr(31))) AS gh
  FROM t, UNNEST(generate_series(1, len(w) - 4)) AS u(i)
),
f AS (SELECT gh, COUNT(*) AS n, MIN(doc_id) AS first_doc FROM g GROUP BY gh),
rem AS (
  SELECT g.doc_id, g.pos FROM g JOIN f USING (gh)
  WHERE f.n > 1 AND g.doc_id <> f.first_doc
),
cov AS (
  SELECT DISTINCT doc_id, pos + o AS cp
  FROM rem, UNNEST(generate_series(0, 4)) AS oo(o)
),
tok AS (
  SELECT doc_id, u.i - 1 AS p, w[u.i] AS tokn
  FROM t, UNNEST(generate_series(1, len(w))) AS u(i)
),
keep AS (
  SELECT tok.doc_id, tok.p, tok.tokn FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = tok.doc_id AND cov.cp = tok.p)
),
re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tokn, ' ' ORDER BY p) AS text_dedup
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - COALESCE(re.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(re.text_dedup, '') AS text_dedup
FROM t LEFT JOIN re USING (doc_id)
ORDER BY doc_id
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling (ext.pack.temperature_sample,
    alpha=0.5): keep each doc iff its keyed hash fraction is under
    sqrt(min_domain_tokens / domain_tokens) — the closed-form
    discard-only materialization of the multilingual alpha-mixture,
    with no summation-order-dependent float normalization."""
    from methyl_data_pipeline_spark.ext.pack import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, alpha=0.5)
    return out.select("doc_id", "source").orderBy("doc_id")


SQL_TEMPERATURE_SAMPLE = r"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
r AS (
  SELECT source,
         sqrt((SELECT MIN(n_tokens) FROM per) * 1.0 / n_tokens) AS rate
  FROM per
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ('0x' || substr(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0 < r.rate
ORDER BY d.doc_id
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/segment-level exact dedup (Falcon/RefinedWeb line-dedup
    family): 4-word segments, first corpus occurrence wins, documents
    reassembled from surviving segments (ext.dedup.segment_dedup).
    One explode + one segment-keyed shuffle + one doc-keyed reassemble."""
    from methyl_data_pipeline_spark.ext.dedup import segment_dedup

    docs = _t(spark, sf_dir, "documents")
    out = segment_dedup(docs, chunk_words=4)
    return out.select("doc_id", "n_segs", "n_kept", "text_dedup").orderBy("doc_id")


SQL_SEGMENT_DEDUP = r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
ex AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM ws
),
segs AS (
  SELECT doc_id, CAST(floor((i - 1) / 4) AS BIGINT) AS seg_idx,
         string_agg(word, ' ' ORDER BY i) AS seg
  FROM ex GROUP BY 1, 2
),
firsts AS (
  SELECT * FROM (
    SELECT doc_id, seg_idx, seg,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
    FROM segs) t WHERE rn = 1
),
outd AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
  FROM firsts GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
SELECT t.doc_id, t.n_segs, COALESCE(o.n_kept, 0) AS n_kept,
       COALESCE(o.text_dedup, '') AS text_dedup
FROM tot t LEFT JOIN outd o USING (doc_id) ORDER BY t.doc_id
"""


def q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based dedup winner: per duplicate-family key (4-word
    normalized prefix) keep the highest-quality copy (max n_chars, ties
    to min doc_id) — ext.dedup.dedup_keep_best, one groupBy max(struct)
    shuffle, no window over the fact table."""
    from methyl_data_pipeline_spark.ext.dedup import dedup_keep_best

    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    # NULL text keeps a NULL key (one SQL-style NULL group): concat_ws
    # would silently collapse it to "" and merge NULL docs into the
    # empty-text family, which SQL engines keep separate.
    keyed = docs.withColumn(
        "_key",
        F.when(F.col("text").isNotNull(), F.concat_ws(" ", F.slice(ws, 1, 4))),
    )
    out = dedup_keep_best(keyed, "_key", "n_chars")
    return out.select(
        "doc_id", F.col("_key").alias("prefix_key"), "n_chars"
    ).orderBy("doc_id")


SQL_DEDUP_BEST = r"""
WITH k AS (
  SELECT doc_id, n_chars,
         array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[1:4], ' ')
           AS prefix_key
  FROM documents
),
w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY prefix_key
                               ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM k
)
SELECT doc_id, prefix_key, n_chars FROM w WHERE rn = 1 ORDER BY doc_id
"""


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl boilerplate scrub (ext.text.clean_text): HTML tags +
    URLs stripped, whitespace collapsed, with removal counts. The query
    wraps each doc in deterministic markup (tags + a URL for
    doc_id%3==0) so the oracle can verify the exact round trip."""
    from methyl_data_pipeline_spark.ext.text import clean_text

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("see https://ex.amp/le/"), d, F.lit(" ")),
            ).otherwise(F.lit("")),
            F.lit('<p id="'), d, F.lit('">'), F.col("text"), F.lit("</p>"),
        ).alias("text"),
    )
    out = clean_text(html)
    return out.select(
        "doc_id",
        F.col("n_tags").cast("long").alias("n_tags"),
        F.col("n_urls").cast("long").alias("n_urls"),
        "text_clean",
    ).orderBy("doc_id")


SQL_CLEAN_TEXT = r"""
WITH h AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0
               THEN 'see https://ex.amp/le/' || CAST(doc_id AS VARCHAR) || ' '
               ELSE '' END)
         || '<p id="' || CAST(doc_id AS VARCHAR) || '">' || text || '</p>' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
       CAST(len(regexp_extract_all(t, 'https?://[^\s<>]+')) AS BIGINT) AS n_urls,
       trim(regexp_replace(regexp_replace(regexp_replace(
           t, '<[^>]*>', ' ', 'g'), 'https?://[^\s<>]+', ' ', 'g'),
           '\s+', ' ', 'g')) AS text_clean
FROM h ORDER BY doc_id
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (scale path of ``decontaminate``):
    benchmark 5-gram hashes build a 2^18-bit / 5-hash Bloom filter via
    a constant-size distributed bit_or aggregate; corpus shingles test
    it JVM-side with zero corpus-side joins. Deterministic md5 + double
    hashing makes even the false positives reproducible, so the oracle
    replays membership as exact position-set algebra."""
    from methyl_data_pipeline_spark.ext.dedup import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return bloom_decontaminate(corpus, bench, ngram_n=5).orderBy("doc_id")


# the oracle replays the Bloom bit test as exact set algebra: a corpus
# shingle "hits" iff ALL 5 of its (h1 + j*h2) mod 2^18 positions appear
# in the benchmark position set — semantically identical to testing the
# bit array, with no bit array needed SQL-side.
SQL_BLOOM_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 5
              THEN list_distinct(list_transform(generate_series(0, len(ws) - 5),
                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
                          ws[i+4] || ' ' || ws[i+5]))
              ELSE [array_to_string(ws, ' ')] END AS s
  FROM w
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(g.g), 1, 15))::BIGINT AS h
  FROM sh, unnest(sh.s) AS g(g)
),
js AS (SELECT unnest(generate_series(0, 4)) AS j),
bench_pos AS (
  -- h IS NOT NULL: a NULL-text benchmark doc yields h = NULL, and one
  -- NULL inside the NOT IN set below would make the predicate
  -- never-true (empty miss => every corpus doc "contaminated")
  SELECT DISTINCT ((h % 262144) + j * (1 + ((h >> 18) % 262143))) % 262144 AS p
  FROM (SELECT DISTINCT h FROM h WHERE doc_id < 10 AND h IS NOT NULL)
  CROSS JOIN js
),
corp AS (SELECT DISTINCT doc_id, h FROM h
         WHERE doc_id >= 10 AND h IS NOT NULL),
corp_pos AS (
  SELECT doc_id, h,
         ((h % 262144) + j * (1 + ((h >> 18) % 262143))) % 262144 AS p
  FROM corp CROSS JOIN js
),
miss AS (
  SELECT DISTINCT doc_id, h FROM corp_pos
  WHERE p NOT IN (SELECT p FROM bench_pos)
),
hits AS (
  SELECT c.doc_id, COUNT(DISTINCT c.h) AS n_bloom_hits
  FROM corp c
  WHERE NOT EXISTS (SELECT 1 FROM miss m
                    WHERE m.doc_id = c.doc_id AND m.h = c.h)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(t.n_bloom_hits, 0)     AS n_bloom_hits,
       COALESCE(t.n_bloom_hits, 0) > 0 AS maybe_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
LEFT JOIN hits t USING (doc_id)
ORDER BY doc_id
"""


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier QC (stats.robust.mad_outlier_summary): per
    event_type, median/MAD and the count of values beyond 3 robust
    sds — the data-driven generalization of the reference's fixed
    detP sample gate (workflow.R:44-49)."""
    from methyl_data_pipeline_spark.stats.robust import mad_outlier_summary

    # finite-value guard (VERDICT r6 #7): Spark `percentile` sorts NaN
    # greatest and skips NULL, while quantile_cont engines order NaN
    # differently — pin both engines to the same finite input set
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .withColumn("value", F.col("value") * F.lit(1.0 + _ULP_EPS))
    )
    out = mad_outlier_summary(ev, "value", ["event_type"], c=3.0)
    # scaled-integer outputs (_ri): floats leave the channel. (The
    # r4-r8 "bit-identical locally yet hash-red on the driver" mystery
    # was the oracle's uncast SUM(CASE...) -> HUGEINT n_outliers, not
    # floats; BIGINT cast landed r9 with a registry-wide type audit.)
    return out.select(
        "event_type",
        "n",
        _ri(F.col("grp_median")).alias("grp_median"),
        _ri(F.col("grp_mad")).alias("grp_mad"),
        "n_outliers",
        _ri(F.col("outlier_rate")).alias("outlier_rate"),
    ).orderBy("event_type")


SQL_OUTLIER_MAD = """
WITH events_f AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS grp_median
  FROM events_f GROUP BY event_type
),
-- IS NOT DISTINCT FROM: a NULL event_type is a real QC group (Spark's
-- groupBy keeps it); a USING join would silently drop its rows
mad AS (
  SELECT e.event_type,
         quantile_cont(abs(e.value - m.grp_median), 0.5) AS grp_mad
  FROM events_f e JOIN med m ON e.event_type IS NOT DISTINCT FROM m.event_type
  GROUP BY e.event_type
),
flagged AS (
  SELECT e.event_type, e.value, m.grp_median, d.grp_mad,
         CASE WHEN d.grp_mad > 0
              THEN abs(e.value - m.grp_median) / (1.4826 * d.grp_mad)
              ELSE 0.0 END AS robust_z
  FROM events_f e
  JOIN med m ON e.event_type IS NOT DISTINCT FROM m.event_type
  JOIN mad d ON e.event_type IS NOT DISTINCT FROM d.event_type
)
SELECT event_type,
       COUNT(*)                                   AS n,
       CAST(ROUND((ANY_VALUE(grp_median) + 1e-9) * 1000000) AS BIGINT)
                                                  AS grp_median,
       CAST(ROUND((ANY_VALUE(grp_mad) + 1e-9) * 1000000) AS BIGINT)
                                                  AS grp_mad,
       CAST(SUM(CASE WHEN robust_z > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
                                                  AS n_outliers,
       CAST(ROUND((SUM(CASE WHEN robust_z > 3.0 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*) + 1e-9) * 1000000) AS BIGINT) AS outlier_rate
FROM flagged GROUP BY event_type ORDER BY event_type
"""


def q_sketch_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path certificate: per source, the EXACT distinct-doc
    count and exact median length (hash-compared), plus within-
    tolerance flags proving the mergeable-sketch scale paths
    (HyperLogLog++ approx_count_distinct, t-digest approx_percentile)
    track the exact answers. At 100 TB the sketches ARE the plan —
    no per-group sort, no distinct shuffle; this query pins them to
    the exact semantics at test scale."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.approx_count_distinct("doc_id").alias("_hll"),
        F.expr("percentile(n_chars, 0.5)").alias("_med_exact"),
        F.expr("approx_percentile(n_chars, 0.5, 10000)").alias("_med_approx"),
    )
    return agg.select(
        "source",
        "n_docs",
        _r(F.col("_med_exact")).alias("median_chars"),
        (
            F.abs(F.col("_hll") - F.col("n_docs")) <= 0.15 * F.col("n_docs")
        ).alias("hll_within_15pct"),
        (
            F.abs(F.col("_med_approx") - F.col("_med_exact"))
            <= 0.05 * F.abs(F.col("_med_exact")) + 1.0
        ).alias("tdigest_within_5pct"),
    ).orderBy("source")


SQL_SKETCH_CERT = """
SELECT source,
       COUNT(DISTINCT doc_id)                    AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5) + 1e-9, 6) AS median_chars,
       abs(approx_count_distinct(doc_id) - COUNT(DISTINCT doc_id))
         <= 0.15 * COUNT(DISTINCT doc_id)        AS hll_within_15pct,
       abs(approx_quantile(n_chars, 0.5) - quantile_cont(n_chars, 0.5))
         <= 0.05 * abs(quantile_cont(n_chars, 0.5)) + 1.0
                                                 AS tdigest_within_5pct
FROM documents GROUP BY source ORDER BY source
"""


def q_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate detector (ext.text.heavy_hitters): word
    trigrams holding >= 0.005% of all trigram occurrences — one
    map-side-combining groupBy + a 1-row broadcast total. The
    freqItems sketch path is covered by a superset-property test."""
    from methyl_data_pipeline_spark.ext.text import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    out = heavy_hitters(docs, ngram_n=3, min_share=0.00005)
    return out.select(
        "gram", "n_occurrences", _r(F.col("share"), 8).alias("share")
    ).orderBy(F.col("n_occurrences").desc(), "gram")


SQL_HOT_NGRAMS = r"""
WITH w AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
sh AS (
  SELECT CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(0, len(ws) - 3),
                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              ELSE [array_to_string(ws, ' ')] END AS s
  FROM w
),
-- gram IS NOT NULL: a NULL-text doc's ws is NULL, and the ELSE branch
-- above would otherwise unnest [array_to_string(NULL)] = [NULL] into a
-- phantom NULL gram (the Spark side filters NULL text before
-- sharding, so it never counts one)
g AS (SELECT unnest(s) AS gram FROM sh),
c AS (SELECT gram, COUNT(*) AS n_occurrences FROM g
      WHERE gram IS NOT NULL GROUP BY gram),
t AS (SELECT SUM(n_occurrences) AS total FROM c)
SELECT gram, n_occurrences,
       ROUND(n_occurrences * 1.0 / t.total + 1e-9, 8) AS share
FROM c, t
WHERE n_occurrences * 1.0 / t.total >= 0.00005
ORDER BY n_occurrences DESC, gram
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard (ext.text.corpus_report):
    volume, exact-dup rate, language mix — the documents-table twin of
    health_report (reference A10, health_check.py:19-22)."""
    from methyl_data_pipeline_spark.ext.text import corpus_report

    docs = _t(spark, sf_dir, "documents")
    out = corpus_report(docs)
    # scaled-integer ratios (_ri): r5 was bit-identical to DuckDB
    # locally yet hash-red on the driver — floats leave the channel
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        "n_unique_bodies",
        _ri(F.col("dup_rate")).alias("dup_rate"),
        "n_langs",
        "top_lang",
        _ri(F.col("top_lang_share")).alias("top_lang_share"),
    ).orderBy("source")


SQL_CORPUS_REPORT = r"""
WITH base AS (
  SELECT source, lang,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
           AS toks,
         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                         1, 15))::BIGINT AS fp
  FROM documents
),
per_shard AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT fp) AS n_unique_bodies,
         COUNT(DISTINCT lang) AS n_langs
  FROM base GROUP BY source
),
lc AS (SELECT source, lang, COUNT(*) AS n FROM base GROUP BY source, lang),
top AS (
  SELECT source, lang AS top_lang, n AS top_lang_docs,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang ASC NULLS LAST) AS rn
  FROM lc
)
SELECT p.source, p.n_docs, p.total_tokens, p.n_unique_bodies,
       CAST(ROUND((1.0 - p.n_unique_bodies * 1.0 / p.n_docs + 1e-9) * 1000000)
            AS BIGINT) AS dup_rate,
       p.n_langs, t.top_lang,
       CAST(ROUND((t.top_lang_docs * 1.0 / p.n_docs + 1e-9) * 1000000)
            AS BIGINT) AS top_lang_share
FROM per_shard p JOIN top t ON p.source = t.source AND t.rn = 1
ORDER BY p.source
"""


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (ext.text.bm25_rank): docs 0-4 as queries
    against the doc_id>=10 corpus, top-10 per query by the Okapi BM25
    score (Lucene positive-idf variant, k1=1.2 b=0.75). Inverted-index
    join plan — postings shuffle once, query vocabulary and its
    document frequencies broadcast. Scores rank on the 6-dp rounded
    value (cross-engine reproducible) and emit as micro-unit integers."""
    from methyl_data_pipeline_spark.ext.text import bm25_rank

    docs = _t(spark, sf_dir, "documents")
    queries_df = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    corpus = docs.filter(F.col("doc_id") >= 10)
    out = bm25_rank(corpus, queries_df, top_k=10)
    return out.select(
        "query_id",
        "rank",
        "doc_id",
        _ri(F.col("score")).alias("score"),
    ).orderBy("query_id", "rank")


SQL_BM25_RANK = r"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
q AS (SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 5),
cw AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM corpus
),
postings AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM cw WHERE t <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
qt AS (
  SELECT DISTINCT query_id, t FROM (
    SELECT query_id,
           unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS t
    FROM q
  ) WHERE t <> ''
),
dfq AS (
  SELECT t, COUNT(*) AS df FROM postings
  WHERE t IN (SELECT t FROM qt) GROUP BY t
),
cand AS (
  SELECT qt.query_id, p.doc_id,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * (1.2 + 1))
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS s
  FROM postings p
  JOIN qt ON p.t = qt.t
  JOIN dl ON p.doc_id = dl.doc_id
  JOIN dfq d ON p.t = d.t, stats s
),
scored AS (
  SELECT query_id, doc_id, ROUND(SUM(s) + 1e-9, 6) AS score
  FROM cand GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id,
       CAST(ROUND((score + 1e-9) * 1000000) AS BIGINT) AS score
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot audit (ext.dedup.snapshot_diff): two deterministic
    views of the documents table (old = ids not divisible by 7;
    new = ids not divisible by 5, bodies edited where id % 11 == 0)
    diffed by body fingerprint into added/removed/changed/unchanged —
    the reprocess-decision step of an incremental ingest."""
    from methyl_data_pipeline_spark.ext.dedup import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("edited: "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new).orderBy("doc_id")


SQL_SNAPSHOT_DIFF = r"""
WITH fp AS (
  SELECT doc_id,
         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                         1, 15))::BIGINT AS fp_old
  FROM documents WHERE doc_id % 7 != 0
),
fn AS (
  SELECT doc_id,
         ('0x' || substr(md5(regexp_replace(lower(trim(
             CASE WHEN doc_id % 11 = 0 THEN 'edited: ' || text ELSE text END
         )), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp_new
  FROM documents WHERE doc_id % 5 != 0
)
SELECT COALESCE(fp.doc_id, fn.doc_id) AS doc_id, fp_old, fp_new,
       -- presence from the JOIN SIDE, not fingerprint nullness: a
       -- NULL-text doc present on both sides has NULL fingerprints
       -- but is 'unchanged', not 'added'
       CASE WHEN fp.doc_id IS NULL THEN 'added'
            WHEN fn.doc_id IS NULL THEN 'removed'
            WHEN fp_old IS NOT DISTINCT FROM fp_new THEN 'unchanged'
            ELSE 'changed' END AS status
FROM fp FULL OUTER JOIN fn ON fp.doc_id = fn.doc_id
ORDER BY doc_id
"""


def _column_digest_rows(df: DataFrame, qname: str) -> DataFrame:
    """One row per column of ``df``: (query_name, column_name,
    n_values, n_nulls, md5 of the '|'-joined SORTED string casts) —
    engine-replayable because every source column is BIGINT/STRING."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("_tot")]
    for i, c in enumerate(cols):
        s = F.col(c).cast("string")
        aggs.append(F.count(s).alias(f"_n_{i}"))
        aggs.append(
            F.md5(F.concat_ws("|", F.sort_array(F.collect_list(s)))).alias(
                f"_d_{i}"
            )
        )
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(qname).alias("query_name"),
                F.lit(c).alias("column_name"),
                F.col(f"_n_{i}").cast("long").alias("n_values"),
                (F.col("_tot") - F.col(f"_n_{i}")).cast("long").alias("n_nulls"),
                F.col(f"_d_{i}").alias("digest"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return row.select(F.explode(pairs).alias("_e")).select("_e.*")


def q_column_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divergence localizer (VERDICT r6 #8): per-column md5 digests of
    the three formerly-driver-red float queries (outlier_mad,
    corpus_report, moderated_f). If a driver hash ever misses on one
    of them again, this query's green/red rows pinpoint WHICH query
    and WHICH column diverged — a column-granular witness instead of a
    whole-row mystery. All source columns are scaled-integer BIGINT or
    STRING, so the digest is engine-exact."""
    parts = [
        _column_digest_rows(q_outlier_mad(spark, sf_dir), "outlier_mad"),
        _column_digest_rows(q_corpus_report(spark, sf_dir), "corpus_report"),
        _column_digest_rows(q_moderated_f(spark, sf_dir), "moderated_f"),
    ]
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.orderBy("query_name", "column_name")


_COLUMN_DIGEST_SPECS = [
    (
        "outlier_mad",
        lambda: SQL_OUTLIER_MAD,
        ["event_type", "n", "grp_median", "grp_mad", "n_outliers", "outlier_rate"],
    ),
    (
        "corpus_report",
        lambda: SQL_CORPUS_REPORT,
        [
            "source", "n_docs", "total_tokens", "n_unique_bodies",
            "dup_rate", "n_langs", "top_lang", "top_lang_share",
        ],
    ),
    (
        "moderated_f",
        lambda: SQL_MODERATED_F,
        ["probe_id", "n_groups", "df1", "df2", "s2", "ms_between", "f_mod"],
    ),
]


def _sql_column_digests() -> str:
    selects = []
    for qname, sql_fn, cols in _COLUMN_DIGEST_SPECS:
        sql = sql_fn().strip()
        for c in cols:
            selects.append(
                f"SELECT '{qname}' AS query_name, '{c}' AS column_name,\n"
                f"       CAST(COUNT({c}) AS BIGINT) AS n_values,\n"
                f"       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,\n"
                f"       md5(COALESCE(string_agg(CAST({c} AS VARCHAR), '|'\n"
                f"           ORDER BY CAST({c} AS VARCHAR)), '')) AS digest\n"
                f"FROM (\n{sql}\n) _src_{qname}"
            )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY query_name, column_name"


# --------------------------------------------------------------------------
# Contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the moderated-t DMP query over the derived meth view at
    sf0.001 (exercises scan → derive → groupBy agg → EB prior →
    closed-form stats)."""
    return q_meth_moderated_t(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness harness records only the
    # FIRST 50 entries in dict order. ROUND-14 WINDOW (standing policy,
    # VERDICT r9 #2 / r10 #2 / r11 #1 / r12 #2 / r13 #4):
    # changed-first, then OLDEST newest-green first, then lowest green
    # count. Composition:
    #   (a) new in r14: image_ahash + image_neardup (VERDICT r13 #5 -
    #       perceptual average-hash fingerprints + lossless hamming
    #       banding over real BMP bytes), classifier_eval_sum
    #       (#9 - sum-pooled NB posterior vs mean-pooled geometry),
    #       lang_id_nb (missing-capability #2 - multi-class NB
    #       lang-id head), audio_ahash + audio_neardup, and
    #       video_ahash + video_neardup (temporal average-hash over
    #       real AVI containers - completes the perceptual family:
    #       image + audio + video);
    #   (b) changed in r14: classifier_eval / classifier_sweep /
    #       quality_classifier (quality_score_linear grew
    #       pooling/bias_from_table and a _b >= 0 table-hygiene
    #       filter) and simhash_pairs / simhash64_pairs
    #       (simhash_hamming_pairs re-based onto the extracted
    #       hamming_pairs kernel);
    #   (c) the oracled newest==r11 backlog (green-count ascending
    #       then alphabetical: the 2-green tier through
    #       pricing_summary) - keeps the r13 promise; after this round
    #       NO oracled query's newest driver green predates r12.
    # Rotated OUT vs r13: the whole r13-green window. Left for r15:
    # dedup_best + events_sliding (r11-newest backlog members that
    # ceded their slots to the late-r14 video pair), then the
    # r12-newest 1-green tier (line_dedup_norm onward, alphabetical),
    # then the 2/3/4/5-green r12 tiers - all re-verified every round
    # by tools/check_oracle.py on the sf0.01 and NULL fixtures.
    return {
    # window 50 = 8 new + 5 changed + 37 r11 backlog (pricing_summary,
    # frame_sample, segment_dedup - the backlog's highest-green
    # members - lead the tail); tail 106
        "image_ahash": q_image_ahash,
        "image_neardup": q_image_neardup,
        "classifier_eval_sum": q_classifier_eval_sum,
        "lang_id_nb": q_lang_id_nb,
        "audio_ahash": q_audio_ahash,
        "audio_neardup": q_audio_neardup,
        "video_ahash": q_video_ahash,
        "video_neardup": q_video_neardup,
        "ccnet_pipeline": q_ccnet_pipeline,
        "classifier_eval": q_classifier_eval,
        "classifier_sweep": q_classifier_sweep,
        "quality_classifier": q_quality_classifier,
        "simhash_pairs": q_simhash_pairs,
        "simhash64_pairs": q_simhash64_pairs,
        "corpus_report": q_corpus_report,
        "moderated_f": q_moderated_f,
        "outlier_mad": q_outlier_mad,
        "budget_select": q_budget_select,
        "cohort_retention": q_cohort_retention,
        "column_digests": q_column_digests,
        "domain_mix": q_domain_mix,
        "exact_substring": q_exact_substring,
        "funnel": q_funnel,
        "incremental_neardup": q_incremental_neardup,
        "length_batches": q_length_batches,
        "repetition_signals": q_repetition_signals,
        "sequence_packing": q_sequence_packing,
        "similarity_lsh": q_similarity_lsh,
        "dedup_clusters": q_dedup_clusters,
        "bh_grouped": q_bh_grouped,
        "bloom_decontaminate": q_bloom_decontaminate,
        "bmiq_mstep_cert": q_bmiq_mstep_cert,
        "chunk_documents": q_chunk_documents,
        "combat_converged": q_combat_converged,
        "combat_twostep": q_combat_twostep,
        "decontaminate": q_decontaminate,
        "dmr_regions": q_dmr_regions,
        "hot_ngrams": q_hot_ngrams,
        "incremental_dedup": q_incremental_dedup,
        "pca_eigen_cert": q_pca_eigen_cert,
        "perplexity_buckets": q_perplexity_buckets,
        "pii_redact": q_pii_redact,
        "quality_filter": q_quality_filter,
        "quantile_normalize": q_quantile_normalize,
        "sample_stratified": q_sample_stratified,
        "sketch_cert": q_sketch_cert,
        "snapshot_diff": q_snapshot_diff,
        "stream_interval_join": q_stream_interval_join,
        "unigram_logprob": q_unigram_logprob,
        "bmiq_prefix": q_bmiq_prefix,
        "combat_cov_prefix": q_combat_cov_prefix,
        "dedup_best": q_dedup_best,
        "events_sliding": q_events_sliding,
        # ---- slot 51+ (re-verified every round by tools/check_oracle.py
        # on two fixtures even without a window slot; dedup_best /
        # events_sliding sit just past the cut — displaced by the
        # late-r14 video pair, first in line for r15 — followed by
        # pricing_summary / frame_sample / segment_dedup, which ceded
        # their slots to lang_id_nb / audio_ahash / audio_neardup as
        # the backlog's highest-green-count members) ----
        "pricing_summary": q_pricing_summary,
        "frame_sample": q_frame_sample,
        "segment_dedup": q_segment_dedup,
        "agg_minmax": q_agg_minmax,
        "asof_join": q_asof_join,
        "bh_adjust": q_bh_adjust,
        "bh_adjust_scalable": q_bh_adjust_scalable,
        "bigram_logprob": q_bigram_logprob,
        "bm25_rank": q_bm25_rank,
        "bmiq_normalize": q_bmiq,
        "bpe_encode": q_bpe_encode,
        "bpe_merges": q_bpe_merges,
        "classifier_train": q_classifier_train,
        "clean_text": q_clean_text,
        "collect_list": q_collect_list,
        "combat_correction": q_combat,
        "combat_covariates": q_combat_covariates,
        "combat_onestep": q_combat_onestep,
        "combat_priors": q_combat_priors,
        "containment_pairs": q_containment_pairs,
        "contract_report": q_contract_report,
        "corpus_pipeline": q_corpus_pipeline,
        "curation_pipeline": q_curation_pipeline,
        "dedup_distinct": q_dedup_distinct,
        "dsir_select": q_dsir_select,
        "ecdf_percent_rank": q_ecdf,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "embedding_drift": q_embedding_drift,
        "embedding_neardup": q_embedding_neardup,
        "events_windowed": q_events_windowed,
        "fingerprint_dedup": q_fingerprint_dedup,
        "hash_split": q_hash_split,
        "health_report": q_health_report,
        "heatmap_prep": q_heatmap_prep,
        "histogram": q_histogram,
        "ivf_ann": q_ivf_ann,
        "ivf_ann_approx": q_ivf_ann_approx,
        "join_chain": q_join_chain,
        "join_full_outer": q_join_full_outer,
        "kde_density": q_kde_density,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "layout_cert": q_layout_cert,
        "line_dedup": q_line_dedup,
        "line_dedup_norm": q_line_dedup_norm,
        "mds_coords": q_mds,
        "melt_part": q_melt,
        "meth_complete_probes": q_meth_complete_probes,
        "meth_contrasts": q_meth_contrasts,
        "meth_group_delta": q_meth_group_delta,
        "meth_moderated_t": q_meth_moderated_t,
        "meth_qc_detp": q_meth_qc_detp,
        "meth_variance_topk": q_meth_variance_topk,
        "methyl_pipeline_chain": q_methyl_pipeline_chain,
        "minhash_pairs": q_minhash_pairs,
        "minhash_recall": q_minhash_recall,
        "minhash_recall_salted": q_minhash_recall_salted,
        "minhash_signatures": q_minhash_signatures,
        "mixture_sample": q_mixture_sample,
        "multimodal_features": q_multimodal_features,
        "ngram_jaccard": q_ngram_jaccard,
        "normalize_text": q_normalize_text,
        "pca_gram": q_pca_gram,
        "pca_scores": q_pca,
        "perplexity_buckets_bigram": q_perplexity_buckets_bigram,
        "pipeline_end_to_end": q_pipeline_end_to_end,
        "pivot_events": q_pivot,
        "poobah_ecdf": q_poobah_ecdf,
        "quant_recall": q_quant_recall,
        "quantiles": q_quantiles,
        "quantize_embeddings": q_quantize_embeddings,
        "range_join": q_range_join,
        "rename_lookup": q_rename_lookup,
        "rollup_counts": q_rollup,
        "running_window": q_running_window,
        "sample_corr": q_sample_corr,
        "sample_projection": q_sample_projection,
        "scalar_math": q_scalar_math,
        "semantic_dedup": q_semantic_dedup,
        "semi_anti_membership": q_semi_anti,
        "sessionize": q_sessionize,
        "set_ops": q_set_ops,
        "simhash": q_simhash,
        "skew_report": q_skew_report,
        "source_token_cap": q_source_token_cap,
        "split_contamination": q_split_contamination,
        "split_leakage": q_split_leakage,
        "stream_curate": q_stream_curate,
        "string_funcs": q_string_funcs,
        "temperature_sample": q_temperature_sample,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "threshold_sweep": q_threshold_sweep,
        "top_revenue_orders": q_top_revenue_orders,
        "topk_per_group": q_topk_per_group,
        "two_level_adapted": q_two_level_adapted,
        "two_level_fitted": q_two_level_fitted,
        "two_level_probe": q_two_level_probe,
        "two_level_recall": q_two_level_recall,
        "union_halves": q_union_halves,
        "url_dedup": q_url_dedup,
        "vocab_coverage": q_vocab_coverage,
        "winnowing": q_winnowing,
    }


def _normalize_round_sql(sql: str) -> str:
    """Append ``+ 0.0`` after every balanced ROUND(...) call so DuckDB's
    -0.0 (numeric rounding of tiny negatives) hashes like Spark's
    unsigned BigDecimal zero."""
    out = []
    i = 0
    while True:
        j = sql.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            break
        depth = 0
        k = j + 5  # index of '('
        while True:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        out.append(sql[i : k + 1])
        out.append(" + 0.0")
        i = k + 1
    return "".join(out)


def oracle_sql() -> dict[str, str]:
    raw = {
        "pricing_summary": SQL_PRICING,
        "top_revenue_orders": SQL_TOP_REVENUE,
        "join_full_outer": SQL_JOIN_FULL_OUTER,
        "semi_anti_membership": SQL_SEMI_ANTI,
        "set_ops": SQL_SET_OPS,
        "dedup_distinct": SQL_DEDUP_DISTINCT,
        "pivot_events": SQL_PIVOT,
        "melt_part": SQL_MELT,
        "string_funcs": SQL_STRING_FUNCS,
        "topk_per_group": SQL_TOPK_PER_GROUP,
        "running_window": SQL_RUNNING_WINDOW,
        "meth_qc_detp": SQL_METH_QC_DETP,
        "meth_complete_probes": SQL_METH_COMPLETE,
        "meth_variance_topk": SQL_METH_VARIANCE_TOPK,
        "meth_group_delta": SQL_METH_GROUP_DELTA,
        "meth_moderated_t": SQL_METH_MODERATED_T,
        "meth_contrasts": _sql_meth_contrasts(),
        "poobah_ecdf": SQL_POOBAH,
        "join_chain": SQL_JOIN_CHAIN,
        "health_report": SQL_HEALTH,
        "bh_adjust": SQL_BH_ADJUST,
        "bh_adjust_scalable": SQL_BH_ADJUST,
        "bh_grouped": SQL_BH_ADJUST,
        "hot_ngrams": SQL_HOT_NGRAMS,
        "corpus_report": SQL_CORPUS_REPORT,
        "column_digests": _sql_column_digests(),
        "snapshot_diff": SQL_SNAPSHOT_DIFF,
        "combat_priors": SQL_COMBAT_PRIORS,
        "text_tokens": SQL_TEXT_TOKENS,
        "text_quality": SQL_TEXT_QUALITY,
        "lang_id": _sql_lang_id(),
        "tfidf_top_terms": SQL_TFIDF,
        "fingerprint_dedup": SQL_FINGERPRINT_DEDUP,
        "winnowing": SQL_WINNOWING,
        "minhash_signatures": _sql_minhash_sigs(),
        "minhash_pairs": _sql_minhash_pairs(),
        "simhash": _sql_simhash(),
        "embedding_cosine_topk": SQL_EMBEDDING_COSINE,
        "quantize_embeddings": SQL_QUANTIZE_EMBEDDINGS,
        "quant_recall": SQL_QUANT_RECALL,
        "embedding_drift": SQL_EMBEDDING_DRIFT,
        "source_token_cap": _sql_source_token_cap(),
        "containment_pairs": SQL_CONTAINMENT_PAIRS,
        "ngram_jaccard": _sql_ngram_jaccard(),
        "dedup_clusters": _sql_dedup_clusters(),
        "sequence_packing": SQL_SEQUENCE_PACKING,
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "decontaminate": SQL_DECONTAMINATE,
        "bloom_decontaminate": SQL_BLOOM_DECONTAMINATE,
        "outlier_mad": SQL_OUTLIER_MAD,
        "sketch_cert": SQL_SKETCH_CERT,
        "embedding_neardup": _sql_embedding_neardup(),
        "semantic_dedup": _sql_semantic_dedup(),
        "dsir_select": _sql_dsir_select(),
        "minhash_recall": _sql_minhash_recall(),
        "minhash_recall_salted": _sql_minhash_recall("salted"),
        "two_level_recall": _sql_two_level_recall(),
        "two_level_probe": _sql_two_level_probe(),
        "two_level_adapted": _sql_two_level_adapted(),
        "two_level_fitted": _sql_two_level_fitted(),
        "bpe_merges": _sql_bpe_merges(),
        "bpe_encode": _sql_bpe_encode(),
        "line_dedup": _sql_line_dedup(),
        "normalize_text": _sql_normalize_text(),
        "line_dedup_norm": _sql_line_dedup_norm(),
        "url_dedup": _sql_url_dedup(),
        "quality_classifier": _sql_quality_classifier(),
        "classifier_sweep": _sql_classifier_sweep(),
        "classifier_train": _sql_classifier_train(),
        "classifier_eval": _sql_classifier_eval(),
        "bigram_logprob": SQL_BIGRAM_LOGPROB,
        "perplexity_buckets_bigram": SQL_PERPLEXITY_BUCKETS_BIGRAM,
        "image_ahash": SQL_IMAGE_AHASH,
        "image_neardup": SQL_IMAGE_NEARDUP,
        "classifier_eval_sum": _sql_classifier_eval_sum(),
        "lang_id_nb": _sql_lang_id_nb(),
        "audio_ahash": SQL_AUDIO_AHASH,
        "audio_neardup": SQL_AUDIO_NEARDUP,
        "video_ahash": SQL_VIDEO_AHASH,
        "video_neardup": SQL_VIDEO_NEARDUP,
        "ccnet_pipeline": _sql_ccnet_pipeline(),
        # n_probe == n_centroids makes IVF exact — brute force IS the oracle
        "ivf_ann": SQL_EMBEDDING_COSINE,
        "events_windowed": SQL_EVENTS_WINDOWED,
        "sessionize": SQL_SESSIONIZE,
        "multimodal_features": _sql_multimodal(),
        "similarity_lsh": _sql_similarity_lsh(),
        "agg_minmax": SQL_AGG_MINMAX,
        "collect_list": SQL_COLLECT_LIST,
        "histogram": SQL_HISTOGRAM,
        "kde_density": SQL_KDE_DENSITY,
        "ecdf_percent_rank": SQL_ECDF,
        "rename_lookup": SQL_RENAME_LOOKUP,
        "scalar_math": SQL_SCALAR_MATH,
        "rollup_counts": SQL_ROLLUP,
        "union_halves": SQL_UNION_HALVES,
        "sample_projection": SQL_SAMPLE_PROJECTION,
        "range_join": SQL_RANGE_JOIN,
        "asof_join": SQL_ASOF,
        "heatmap_prep": SQL_HEATMAP_PREP,
        "quantiles": SQL_QUANTILES,
        "repetition_signals": SQL_REPETITION,
        "pii_redact": SQL_PII_REDACT,
        "domain_mix": SQL_DOMAIN_MIX,
        "quality_filter": SQL_QUALITY_FILTER,
        "curation_pipeline": SQL_CURATION,
        "corpus_pipeline": SQL_CORPUS_PIPELINE,
        "stream_curate": SQL_STREAM_CURATE,
        "layout_cert": SQL_LAYOUT_CERT,
        "bm25_rank": SQL_BM25_RANK,
        "quantile_normalize": SQL_QUANTILE_NORMALIZE,
        "pca_gram": SQL_PCA_GRAM,
        "stream_interval_join": SQL_STREAM_INTERVAL_JOIN,
        "dmr_regions": SQL_DMR_REGIONS,
        "unigram_logprob": SQL_UNIGRAM_LOGPROB,
        "combat_onestep": SQL_COMBAT_ONESTEP,
        "combat_twostep": SQL_COMBAT_TWOSTEP,
        "combat_converged": SQL_COMBAT_CONVERGED,
        "pca_eigen_cert": SQL_PCA_EIGEN_CERT,
        "bmiq_mstep_cert": SQL_BMIQ_MSTEP_CERT,
        "bmiq_prefix": SQL_BMIQ_PREFIX,
        "methyl_pipeline_chain": SQL_METHYL_PIPELINE_CHAIN,
        "segment_dedup": SQL_SEGMENT_DEDUP,
        "dedup_best": SQL_DEDUP_BEST,
        "clean_text": SQL_CLEAN_TEXT,
        "events_sliding": SQL_EVENTS_SLIDING,
        "combat_cov_prefix": SQL_COMBAT_COV_PREFIX,
        "sample_corr": SQL_SAMPLE_CORR,
        "hash_split": SQL_HASH_SPLIT,
        "mixture_sample": SQL_MIXTURE_SAMPLE,
        "length_batches": SQL_LENGTH_BATCHES,
        "split_leakage": SQL_SPLIT_LEAKAGE,
        "budget_select": _sql_budget_select(),
        "simhash_pairs": _sql_simhash_pairs(),
        "simhash64_pairs": _sql_simhash64_pairs(),
        "incremental_neardup": _sql_incremental_neardup(),
        "threshold_sweep": _sql_threshold_sweep(),
        "vocab_coverage": SQL_VOCAB_COVERAGE,
        "temperature_sample": SQL_TEMPERATURE_SAMPLE,
        "funnel": SQL_FUNNEL,
        "cohort_retention": SQL_COHORT_RETENTION,
        "exact_substring": SQL_EXACT_SUBSTRING,
        "skew_report": SQL_SKEW_REPORT,
        "split_contamination": SQL_SPLIT_CONTAMINATION,
        "lang_id_ngram": _sql_lang_id_ngram(),
        "contract_report": SQL_CONTRACT_REPORT,
        "frame_sample": SQL_FRAME_SAMPLE,
        "moderated_f": SQL_MODERATED_F,
        "incremental_dedup": SQL_INCREMENTAL_DEDUP,
        "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
        "chunk_documents": SQL_CHUNK_DOCUMENTS,
    }
    return {k: _normalize_round_sql(v) for k, v in raw.items()}
