"""Advanced relational surface: subqueries (scalar / IN / correlated
EXISTS), PIVOT/UNPIVOT, statistical and ordered-set aggregates, string
aggregation, sampling — rounding out the SQL surface a reference user
would expect (SURVEY.md §2 B-proj/B-agg closure).

Scale notes: scalar subqueries broadcast a 1-row result (no shuffle);
IN-subqueries plan as left-semi hash joins; PIVOT is conditional
aggregation (partial-aggregatable, one exchange); exact percentiles sort
within groups only.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..plans.registry import register
from ..scratch import scratch_dir
from ._util import T


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM orders)
    """,
)
def subquery_scalar(spark, d):
    """Scalar subquery threshold (exact decimal average on both sides so
    the predicate boundary is bit-identical).  Plans as a broadcast of the
    1-row aggregate — no shuffle of the probe side."""
    o = T(spark, d, "orders")
    o.createOrReplaceTempView("orders_sq")
    return spark.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders_sq
        WHERE o_totalprice > 1.5 * (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)
            FROM orders_sq)
    """)


@register(
    "subquery_in",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
    """,
)
def subquery_in(spark, d):
    """IN-subqueries → left-semi hash joins."""
    T(spark, d, "customer").createOrReplaceTempView("customer_sq")
    T(spark, d, "orders").createOrReplaceTempView("orders_sq2")
    T(spark, d, "nation").createOrReplaceTempView("nation_sq")
    return spark.sql("""
        SELECT c_custkey, c_name
        FROM customer_sq
        WHERE c_custkey IN (SELECT o_custkey FROM orders_sq2
                            WHERE o_totalprice > 400000)
          AND c_nationkey IN (SELECT n_nationkey FROM nation_sq
                              WHERE n_regionkey <= 2)
    """)


@register(
    "subquery_correlated_exists",
    oracle="""
    SELECT p.p_partkey, p.p_brand
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey AND l2.l_discount > 0.09)
    """,
)
def subquery_correlated_exists(spark, d):
    """Correlated EXISTS + NOT EXISTS → semi + anti joins in one plan."""
    T(spark, d, "part").createOrReplaceTempView("part_sq")
    T(spark, d, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql("""
        SELECT p.p_partkey, p.p_brand
        FROM part_sq p
        WHERE EXISTS (SELECT 1 FROM lineitem_sq l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem_sq l2
                          WHERE l2.l_partkey = p.p_partkey AND l2.l_discount > 0.09)
    """)


@register(
    "pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O,
           CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS cnt_F,
           CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS cnt_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark, d):
    """PIVOT (wide conditional aggregation) with an explicit value list —
    the explicit list keeps the plan one-pass (no value-discovery job)."""
    li = T(spark, d, "lineitem")
    piv = (li.groupBy("l_returnflag")
           .pivot("l_linestatus", ["F", "O"])
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
                F.count(F.lit(1)).alias("cnt")))
    return piv.select(
        "l_returnflag",
        F.col("F_qty").cast("double").alias("qty_F"),
        F.col("O_qty").cast("double").alias("qty_O"),
        F.coalesce(F.col("F_cnt"), F.lit(0)).alias("cnt_F"),
        F.coalesce(F.col("O_cnt"), F.lit(0)).alias("cnt_O"),
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value
    FROM orders WHERE o_orderkey < 100
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS value
    FROM orders WHERE o_orderkey < 100
    """,
)
def unpivot_measures(spark, d):
    """UNPIVOT/melt: wide columns → (measure, value) rows."""
    o = T(spark, d, "orders").filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"))
    return o.unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "value")


@register(
    "agg_stats_family",
    oracle="""
    SELECT c_nationkey,
           round(stddev_samp(c_acctbal), 4) AS sd_bal,
           round(var_samp(c_acctbal), 0) AS var_bal,
           round(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6) AS corr_bal_key,
           round(covar_samp(c_acctbal, CAST(c_custkey AS DOUBLE)), 0) AS covar_bal_key
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_stats_family(spark, d):
    """Statistical aggregates (stddev/variance/correlation/covariance) —
    single-pass moment computation, partial-aggregatable."""
    c = T(spark, d, "customer")
    key_d = F.col("c_custkey").cast("double")
    return c.groupBy("c_nationkey").agg(
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 0).alias("var_bal"),
        F.round(F.corr(F.col("c_acctbal"), key_d), 6).alias("corr_bal_key"),
        F.round(F.covar_samp(F.col("c_acctbal"), key_d), 0).alias("covar_bal_key"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, d):
    """Exact continuous percentiles (linear interpolation — identical
    definition in Spark `percentile` and DuckDB `quantile_cont`).  Exact
    percentile sorts per group; the approx_percentile sketch is the
    100 TB path (see agg_approx_percentile)."""
    li = T(spark, d, "lineitem")
    # both l_extendedprice percentiles share ONE buffer/sort via the
    # array form — two scalar percentile() calls would each keep their
    # own copy of the column per group
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, array(0.5D, 0.9D))")
                 .alias("pp"),
                 F.round(F.expr("percentile(l_quantity, 0.25)"), 4)
                 .alias("q1_qty"))
            .select("l_returnflag",
                    F.round(F.col("pp")[0], 4).alias("p50"),
                    F.round(F.col("pp")[1], 4).alias("p90"),
                    "q1_qty"))


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS p50_exact,
           CAST(count(*) AS BIGINT) AS cnt,
           TRUE AS within_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark, d):
    """approx_percentile (KLL-style sketch): fixed-size mergeable state —
    the percentile operator that survives 100 TB.

    BAND-VERDICT output (r15; r14 verdict task 1 — see
    agg_approx_count_distinct): emits the exact DISCRETE median
    (percentile_disc — an actual data value, so both engines return
    the identical double with zero interpolation arithmetic; the
    interpolated percentile() hit a last-ulp round(…,2) boundary
    divergence vs DuckDB at sf0.001) plus ``within_band`` =
    |approx − exact| <= max(1e-6, 5%·|exact|) computed FROM the sketch
    estimate (the abs/greatest floor its band-verdict siblings use —
    r15 advisor: a bare relative band degenerates to always-false on a
    zero or negative exact median, surfacing as a spurious driver
    mismatch instead of a calibration signal).
    The oracle replays quantile_disc + TRUE, so the driver
    hash-certifies the sketch's band on every sample (measured rel
    error <= 0.0025 at accuracy=1000 across all three fixture
    scales).

    The exact arm is CERTIFICATION-ONLY scaffolding (r16 adjudication,
    r15 verdict task 3): percentile_disc buffers each group's values,
    so a 100 TB deployment runs the sketch alone (fixed-size mergeable
    state — the operator this query showcases) and certifies its band
    offline on a sample or via a distributed value-count + cumulative
    window replay.  percentile_disc stays here because it is the
    CHEAPEST exact form measured at fixture scale (isolated floors:
    disc 0.46s vs value-count+window 0.53s vs sketch-only 0.08s;
    declared-query floor 1.27s over 8 warmed sf0.1 runs at ~12
    effective cores — the r15 bench's 2.28s was a 7.8-core host
    reading)."""
    li = T(spark, d, "lineitem")
    return (li.groupBy("l_returnflag").agg(
                F.expr("percentile_disc(0.5) WITHIN GROUP "
                       "(ORDER BY l_extendedprice)").alias("p50_exact"),
                F.count("*").alias("cnt"),
                F.approx_percentile("l_extendedprice", 0.5, 1000)
                .alias("_approx"))
            .select("l_returnflag", "p50_exact", "cnt",
                    # all-NULL group: both percentiles are NULL (they
                    # aggregate the same non-null set), so there is no
                    # estimate to certify — vacuously TRUE, mirroring
                    # the oracle's literal (caught by the null-mirror
                    # sweep: a bare comparison yields NULL there)
                    F.when(F.col("p50_exact").isNull(), F.lit(True))
                    .otherwise(F.abs(F.col("_approx") - F.col("p50_exact"))
                               <= F.greatest(
                                   F.lit(1e-6),
                                   F.abs(F.col("p50_exact")) * 0.05))
                    .alias("within_band")))


@register(
    "agg_string_collect",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_string_collect(spark, d):
    """Ordered string aggregation (collect_list → sort → join: the
    deterministic form — bare collect_list order is partition-dependent)."""
    n = T(spark, d, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations_csv"),
        F.count("*").alias("n_nations"),
    )


@register(
    "sample_fraction",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(CAST(l_quantity AS DOUBLE), 2) AS l_quantity
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                     || CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_fraction(spark, d):
    """Reproducible ~10% Bernoulli sample by content hashing: a row is in
    the sample iff the md5 of its primary key falls under the fraction
    cutoff ('1a'/'100' hex = 26/256 ≈ 10.2%).  Unlike seeded .sample()
    (whose PRNG is engine-specific, so only rows-only checkable), the
    hash predicate is engine-independent — the identical sample is
    replayable in DuckDB, across runs, and across repartitions, which is
    what a training-data pipeline needs for auditable subsampling.  The
    predicate evaluates per-row at the scan; nothing materializes."""
    key = F.md5(F.concat_ws("-", F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string")))
    return (T(spark, d, "lineitem")
            .filter(F.substring(key, 1, 2) < "1a")
            .select("l_orderkey", "l_linenumber",
                    F.round(F.col("l_quantity").cast("double"), 2)
                    .alias("l_quantity")))


@register(
    "join_skew_salted",
    oracle="""
    SELECT n.n_name, count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_skew_salted(spark, d):
    """Hand-salted skew join: the probe side's key is salted with
    pmod(hash, N) and the build side replicated N times on an exploded
    salt column, so one hot key spreads over N shuffle partitions
    instead of stalling a single reducer.  AQE's skew-join split is the
    first line of defense; explicit salting is the deterministic form
    for pipelines that pre-partition or bucket their output.  Results
    are salt-invariant — the oracle is the plain join."""
    o = T(spark, d, "orders")
    c = T(spark, d, "customer")
    n = T(spark, d, "nation")
    n_salts = 8
    probe = o.withColumn("salt", F.pmod(F.hash("o_orderkey"), F.lit(n_salts)))
    build = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .select("c_custkey", "n_name")
             .withColumn("salt", F.explode(
                 F.array(*[F.lit(i) for i in range(n_salts)]))))
    joined = probe.join(build,
                        (probe.o_custkey == build.c_custkey)
                        & (probe.salt == build.salt))
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total_price"))


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000.0
    """,
)
def join_bucketed_colocated(spark, d):
    """Bucketed co-located join: both sides written bucketBy(custkey)
    into the session catalog, so the join needs NO exchange on either
    side — bucket layout IS the shuffle, paid once at write time and
    amortized over every later join on that key.  This is the layout
    discipline that turns the 100 TB fact-fact join from a per-query
    shuffle into a local merge (plan asserted in tests/test_plans.py).
    Bucketed scans need ``spark.sql.sources.bucketing.enabled``, so the
    query is built on a ``session.child_session`` carrying it: a caller
    that turned bucketing off keeps it off."""
    from ..session import child_session

    n_buckets = 8
    spark = child_session(
        spark, {"spark.sql.sources.bucketing.enabled": "true"})
    wh = scratch_dir("bucketed_wh_")
    o_tbl, c_tbl = "bkt_orders", "bkt_customer"
    for tbl in (o_tbl, c_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (T(spark, d, "orders")
     .select("o_orderkey", "o_custkey", F.col("o_totalprice").cast("double")
             .alias("o_totalprice"))
     .write.bucketBy(n_buckets, "o_custkey").sortBy("o_custkey")
     .option("path", f"{wh}/{o_tbl}").mode("overwrite").saveAsTable(o_tbl))
    (T(spark, d, "customer")
     .select("c_custkey", "c_name")
     .write.bucketBy(n_buckets, "c_custkey").sortBy("c_custkey")
     .option("path", f"{wh}/{c_tbl}").mode("overwrite").saveAsTable(c_tbl))
    o = spark.table(o_tbl).filter(F.col("o_totalprice") > 100000.0)
    c = spark.table(c_tbl)
    return (o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
            .select("o_orderkey", "o_totalprice", "c_name"))


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT n.n_regionkey,
           count(DISTINCT c.c_custkey) AS exact_distinct_customers,
           TRUE AS within_band
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    ORDER BY n.n_regionkey
    """,
)
def agg_hll_sketch_merge(spark, d):
    """Mergeable HLL sketches (Spark's datasketches functions): build one
    sketch per nation partition, then union them into region-level
    distinct-customer counts WITHOUT touching raw data again — the
    pattern that lets a 100 TB pipeline maintain distinct counts
    incrementally (sketches are tiny, merge is associative, partial
    results are reusable).

    BAND-VERDICT output (r15; r14 verdict task 1 — see
    agg_approx_count_distinct): the region rows carry the exact
    distinct count plus ``within_band`` = |estimate − exact| <=
    max(1, 3%·exact) computed FROM the merged-sketch estimate; the
    oracle replays the exact join-aggregate + TRUE.  The band is 3%
    (not the pytest fixture band of 2%) because the sf0.1 sweep
    measured worst rel error 0.0201 at default lgK — the declared
    contract must hold at every fixture scale the parity suite
    sweeps.  The exact side exists only to certify; the sketch
    pipeline (per-nation agg → broadcast region map → hll_union_agg)
    is unchanged and plan-pinned."""
    c = T(spark, d, "customer")
    n = T(spark, d, "nation")
    per_nation = (c.groupBy("c_nationkey")
                  .agg(F.hll_sketch_agg("c_custkey").alias("sk")))
    with_region = per_nation.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        per_nation.c_nationkey == F.col("n_nationkey"))
    est = (with_region.groupBy("n_regionkey")
           .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                .alias("_approx")))
    exact = (c.join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
                    c.c_nationkey == F.col("n_nationkey"))
             .groupBy("n_regionkey")
             .agg(F.countDistinct("c_custkey")
                  .alias("exact_distinct_customers")))
    return (est.join(exact, "n_regionkey")
            .select("n_regionkey", "exact_distinct_customers",
                    (F.abs(F.col("_approx")
                           - F.col("exact_distinct_customers"))
                     <= F.greatest(F.lit(1.0),
                                   F.col("exact_distinct_customers") * 0.03))
                    .alias("within_band"))
            .orderBy("n_regionkey"))


@register(
    "cte_recursive_spine",
    oracle="""
    WITH RECURSIVE years(y) AS (
        SELECT TIMESTAMP '1995-01-01'
        UNION ALL
        SELECT y + INTERVAL 1 YEAR FROM years
        WHERE y < TIMESTAMP '2001-01-01'
    ), agg AS (
        SELECT date_trunc('year', o_orderdate) AS y,
               count(*) AS n,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT strftime(years.y, '%Y') AS year,
           CAST(coalesce(agg.n, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(agg.rev, 0) AS DOUBLE) AS year_revenue
    FROM years LEFT JOIN agg ON agg.y = years.y
    """,
)
def cte_recursive_spine(spark, d):
    """Recursive CTE (Spark 4's WITH RECURSIVE): generate the 1995-2001
    year spine — the fixture orders table's full o_orderdate range at
    every scale factor, pinned by a fixture guard in
    tests/test_oracle_parity.py so a regenerated fixture that grows
    outside the window fails loudly instead of silently dropping years —
    then LEFT JOIN order activity onto it: the calendar-dimension
    pattern that reports zero-activity periods a plain GROUP BY drops.
    Each recursion step is a driver-coordinated micro-iteration, so the
    spine length is kept bounded by the date range (7 rows), never the
    corpus.  Orders are
    aggregated BEFORE the join (Catalyst won't push an aggregate through
    a join itself), so the only corpus-sized work is one partial+final
    year aggregate; the spine then joins a ≤|years|-row result — at
    100 TB nothing fact-sized is ever joined or broadcast."""
    T(spark, d, "orders").createOrReplaceTempView("orders_rc")
    return spark.sql("""
        WITH RECURSIVE years(y) AS (
            SELECT TIMESTAMP '1995-01-01 00:00:00'
            UNION ALL
            SELECT y + INTERVAL '1' YEAR FROM years
            WHERE y < TIMESTAMP '2001-01-01 00:00:00'
        ), agg AS (
            SELECT date_trunc('YEAR', o_orderdate) AS y,
                   count(*) AS n,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders_rc GROUP BY 1
        )
        SELECT date_format(years.y, 'yyyy') AS year,
               coalesce(agg.n, 0) AS n_orders,
               CAST(coalesce(agg.rev, 0) AS DOUBLE) AS year_revenue
        FROM years LEFT JOIN agg ON agg.y = years.y
    """)


@register(
    "join_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2) t
    """,
)
def join_lateral_topn(spark, d):
    """Correlated LATERAL subquery with ORDER BY ... LIMIT — the SQL
    spelling of per-group top-k (top-2 customers by balance per nation).
    Catalyst decorrelates the lateral into a ranked join rather than
    re-running the inner query per outer row, so the plan scales with
    one customer shuffle; ties broken by c_custkey for a deterministic
    hash."""
    T(spark, d, "nation").createOrReplaceTempView("nation_lat")
    T(spark, d, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql("""
        SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
        FROM nation_lat n, LATERAL (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer_lat c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2) t
    """)


@register(
    "project_transpose",
    oracle="""
    WITH m AS (
        SELECT r.r_name,
               round(avg(c.c_acctbal), 2) AS avg_bal,
               CAST(count(*) AS DOUBLE) AS n_cust
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    SELECT 'avg_bal' AS key,
           max(CASE WHEN r_name = 'AFRICA' THEN avg_bal END) AS "AFRICA",
           max(CASE WHEN r_name = 'AMERICA' THEN avg_bal END) AS "AMERICA",
           max(CASE WHEN r_name = 'ASIA' THEN avg_bal END) AS "ASIA",
           max(CASE WHEN r_name = 'EUROPE' THEN avg_bal END) AS "EUROPE",
           max(CASE WHEN r_name = 'MIDDLE EAST' THEN avg_bal END)
               AS "MIDDLE EAST"
    FROM m
    UNION ALL
    SELECT 'n_cust',
           max(CASE WHEN r_name = 'AFRICA' THEN n_cust END),
           max(CASE WHEN r_name = 'AMERICA' THEN n_cust END),
           max(CASE WHEN r_name = 'ASIA' THEN n_cust END),
           max(CASE WHEN r_name = 'EUROPE' THEN n_cust END),
           max(CASE WHEN r_name = 'MIDDLE EAST' THEN n_cust END)
    FROM m
    """,
)
def project_transpose(spark, d):
    """DataFrame transpose (Spark 4 ``df.transpose``): a per-region
    metrics table flips so metrics become rows and regions become
    columns — the report-shaping step that previously needed a manual
    unpivot+pivot round trip.  The frame is sorted on the header column
    first (transpose takes column names from the first column in ROW
    order, so an unsorted frame would have nondeterministic column
    order).  Transpose collects the frame to the driver by design —
    valid only because the input is an already-aggregated bounded
    metrics table (5 regions), never a fact table."""
    c = T(spark, d, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = T(spark, d, "nation").select("n_nationkey", "n_regionkey")
    r = T(spark, d, "region").select("r_regionkey", "r_name")
    m = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .groupBy("r_name")
         .agg(F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
              F.count("*").cast("double").alias("n_cust")))
    return m.orderBy("r_name").transpose()


_KMV_K = 256

# 8-hex-digit md5 prefix as a BIGINT, same value in both engines: Spark
# has conv(); DuckDB spells it as a positional hex-digit sum (the proven
# llm_train_test_split pattern).
_KMV_HASH_DUCK = ("(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),"
    f"{i},1))-1)*{16 ** (8 - i)}" for i in range(1, 9)) + ")")


@register(
    "agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT n_regionkey,
               {_KMV_HASH_DUCK} / 4294967296.0 AS hv
        FROM customer JOIN nation ON n_nationkey = c_nationkey
    ), ranked AS (
        SELECT n_regionkey, hv,
               row_number() OVER (PARTITION BY n_regionkey ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY n_regionkey) AS cnt
        FROM h
    )
    SELECT n_regionkey,
           CAST(CASE WHEN cnt < {_KMV_K} THEN cnt
                ELSE round(({_KMV_K} - 1) / hv) END AS BIGINT)
               AS kmv_distinct_customers
    FROM ranked
    WHERE rn = CASE WHEN cnt < {_KMV_K} THEN cnt ELSE {_KMV_K} END
    ORDER BY n_regionkey
    """,
)
def agg_kmv_distinct(spark, d):
    """KMV (k-minimum-values) distinct-count sketch, the deterministic
    sibling of agg_hll_sketch_merge: keep the k smallest normalized
    hashes per group; the k-th smallest v estimates distinct ≈ (k-1)/v
    (Bar-Yossef et al.; the theta-sketch building block).  Because the
    hash is md5 — available in both engines — the whole sketch replays
    EXACTLY in DuckDB, so unlike the opaque HLL binary this sketch query
    is hash-oracle-checked, not rows-only.  Scale shape: the k-minimum
    selection runs in TWO ranking levels — first within (region, salt)
    sub-buckets (64-way, so no 5-partition parallelism collapse and each
    window sort is 1/64th of a region), then over the <= 64k surviving
    rows per region; the global k-min is a subset of the per-bucket
    k-mins, so the refinement is exact and the single-level oracle
    matches.  The per-region distinct total (for the small-population
    exact path) is a plain partial-aggregated count, not a window.
    Accuracy (rel. err ~ 1/sqrt(k) ≈ 6% at k=256) is pinned by a pytest
    band test."""
    from pyspark.sql import Window

    c = T(spark, d, "customer")
    n = T(spark, d, "nation")
    h = (c.join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
                c.c_nationkey == F.col("n_nationkey"))
         .select("n_regionkey",
                 (F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")),
                                     1, 8), 16, 10).cast("bigint")
                  / F.lit(4294967296.0)).alias("hv"))
         .distinct())
    cnt = h.groupBy("n_regionkey").agg(F.count("*").alias("cnt"))
    wb = Window.partitionBy("n_regionkey", "_salt").orderBy("hv")
    pruned = (h.withColumn("_salt", F.pmod(F.hash("hv"), F.lit(64)))
              .withColumn("_rb", F.row_number().over(wb))
              .filter(F.col("_rb") <= _KMV_K).drop("_salt", "_rb"))
    w = Window.partitionBy("n_regionkey").orderBy("hv")
    ranked = (pruned.withColumn("rn", F.row_number().over(w))
              .join(cnt, "n_regionkey"))
    kth = F.when(F.col("cnt") < _KMV_K, F.col("cnt")).otherwise(_KMV_K)
    return (ranked.filter(F.col("rn") == kth)
            .select("n_regionkey",
                    F.when(F.col("cnt") < _KMV_K, F.col("cnt"))
                     .otherwise(F.round((_KMV_K - 1) / F.col("hv")))
                     .cast("bigint").alias("kmv_distinct_customers"))
            .orderBy("n_regionkey"))


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    GROUP BY l_returnflag
    """,
)
def join_bloom_prefilter(spark, d):
    """Runtime bloom-filter semi-join reduction (Catalyst
    InjectRuntimeFilter): a selective filter on orders builds a
    bloom_filter_agg over the filtered join keys, and Catalyst pushes
    might_contain(bloom, xxhash64(l_orderkey)) into the LINEITEM SCAN —
    the fact side drops ~96% of its rows before the shuffle instead of
    shuffling everything and discarding it at the join.  This is the
    100 TB shuffle-join survival pattern: the bloom (a few MB) rides the
    scalar-subquery broadcast, while the alternative ships the whole
    fact table through the exchange.  The filter is a superset
    (false-positive) filter, so the exact hash join afterwards keeps the
    result identical to the plain join — which is exactly what the
    oracle checks.

    Two confs are adjusted for this plan only:
    applicationSideScanSizeThreshold drops to 0 because the default
    (10 GiB) assumes cluster-scale scans that local fixtures never
    reach, and autoBroadcastJoinThreshold is disabled so the join keeps
    the shuffle form the rule targets (with a broadcastable dim Spark
    would — correctly — just broadcast).  The whole query is built on a
    ``session.child_session`` carrying both overrides, so they never
    exist in the caller's session — a query another thread plans
    concurrently can no longer compile under them;
    tests/test_plans.py pins might_contain over the lineitem scan."""
    from ..session import child_session

    iso = child_session(spark, {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1"})
    li = T(iso, d, "lineitem")
    o = (T(iso, d, "orders")
         .filter(F.col("o_orderdate").between("1995-01-01", "1995-03-31")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                  .cast("double").alias("sum_qty"),
                 F.count("*").alias("n_items")))


@register(
    "subquery_not_in",
    oracle="""
    WITH excl AS (
        SELECT CASE WHEN o_totalprice > 450000 THEN o_custkey END AS k
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT 'null_poisoned' AS arm, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey NOT IN (SELECT k FROM excl)
    UNION ALL
    SELECT 'null_filtered' AS arm, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer
    WHERE c_custkey NOT IN (SELECT k FROM excl WHERE k IS NOT NULL)
    """,
)
def subquery_not_in(spark, d):
    """NOT IN three-valued-logic semantics, both arms in one result.  The
    exclusion list carries NULLs (urgent orders at or under the price cut
    map to NULL), so `NOT IN` over it is never TRUE for any row — the
    null_poisoned arm counts 0 — while the IS NOT NULL-filtered arm
    returns the real complement.  Spark plans the null-aware arm as a
    NullAwareAntiJoin (broadcast, single-column); the filtered arm is a
    plain left-anti hash join.  Both fixture facts are guarded by the
    oracle itself: urgent orders exist on both sides of the 450000 cut,
    so the list is non-empty AND null-bearing."""
    T(spark, d, "orders").createOrReplaceTempView("orders_nin")
    T(spark, d, "customer").createOrReplaceTempView("customer_nin")
    return spark.sql("""
        WITH excl AS (
            SELECT CASE WHEN o_totalprice > 450000 THEN o_custkey END AS k
            FROM orders_nin WHERE o_orderpriority = '1-URGENT'
        )
        SELECT 'null_poisoned' AS arm, count(*) AS n_rows
        FROM customer_nin WHERE c_custkey NOT IN (SELECT k FROM excl)
        UNION ALL
        SELECT 'null_filtered' AS arm, count(*) AS n_rows
        FROM customer_nin
        WHERE c_custkey NOT IN (SELECT k FROM excl WHERE k IS NOT NULL)
    """)


@register(
    "dq_constraint_check",
    oracle="""
    WITH m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(count(o_orderpriority) AS DOUBLE) AS nn_clerk,
               CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS dist_key,
               CAST(min(o_totalprice) AS DOUBLE) AS min_price,
               CAST(max(o_totalprice) AS DOUBLE) AS max_price,
               CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 ELSE 0 END) AS DOUBLE) AS bad_status
        FROM orders
    )
    SELECT 'completeness(o_orderpriority)' AS constraint,
           CASE WHEN n = 0 THEN 1.0 ELSE round(nn_clerk / n, 6) END AS metric,
           nn_clerk = n AS passed FROM m
    UNION ALL
    SELECT 'uniqueness(o_orderkey)',
           CASE WHEN n = 0 THEN 1.0 ELSE round(dist_key / n, 6) END,
           dist_key = n FROM m
    UNION ALL
    SELECT 'min(o_totalprice) >= 1', round(min_price, 2),
           coalesce(min_price >= 1, TRUE) FROM m
    UNION ALL
    SELECT 'max(o_totalprice) <= 400000', round(max_price, 2),
           coalesce(max_price <= 400000, TRUE) FROM m
    UNION ALL
    SELECT 'allowed_values(o_orderstatus)', coalesce(bad_status, 0),
           coalesce(bad_status, 0) = 0 FROM m
    """,
)
def dq_constraint_check(spark, d):
    """Deequ-style declarative data-quality report: completeness,
    key uniqueness, value-range and allowed-values constraints, ALL
    measured in one aggregation pass over the table and emitted as a
    (constraint, metric, passed) report — the verification gate a
    pipeline runs before publishing a table version (pairs with the
    icelite write-audit-publish flow, table_branch_wap).  The
    max(o_totalprice) <= 400000 constraint fails by design so the
    report exercises both verdicts deterministically.

    Scale shape: one partial-aggregated scan computes every metric
    (count/min/max/conditional-count combine map-side; the exact
    distinct count is Spark's two-phase expand) — adding constraints
    adds expressions, not passes.  Metrics are count ratios and exact
    min/max: no float-summation order anywhere.  Empty-table semantics
    are vacuous-pass (completeness/uniqueness 1.0, range constraints
    TRUE on a NULL min/max) — an empty partition must not crash the
    quality gate with a division by zero under ANSI mode."""
    o = T(spark, d, "orders")
    m = o.agg(
        F.count("*").cast("double").alias("n"),
        F.count("o_orderpriority").cast("double").alias("nn_clerk"),
        F.countDistinct("o_orderkey").cast("double").alias("dist_key"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).cast("double").alias("bad_status"))
    return m.select(F.expr("""
        stack(5,
          'completeness(o_orderpriority)',
              CASE WHEN n = 0 THEN 1.0D ELSE round(nn_clerk / n, 6) END,
              nn_clerk = n,
          'uniqueness(o_orderkey)',
              CASE WHEN n = 0 THEN 1.0D ELSE round(dist_key / n, 6) END,
              dist_key = n,
          'min(o_totalprice) >= 1', round(min_price, 2),
              coalesce(min_price >= 1, true),
          'max(o_totalprice) <= 400000', round(max_price, 2),
              coalesce(max_price <= 400000, true),
          'allowed_values(o_orderstatus)', coalesce(bad_status, 0.0D),
              coalesce(bad_status, 0.0D) = 0
        ) AS (constraint, metric, passed)
    """))


@register(
    "scd2_dimension_merge",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal,
               '2020-01-01' AS valid_from FROM customer
    ), upd AS (
        SELECT c_custkey,
               round(round(c_acctbal, 2)
                     + CASE WHEN c_custkey % 14 = 0 THEN 100 ELSE 0 END,
                     2) AS new_bal
        FROM customer WHERE c_custkey % 7 = 0
    ), j AS (
        SELECT d.*, u.new_bal,
               u.c_custkey IS NOT NULL AND u.new_bal <> d.bal AS changed
        FROM dim d LEFT JOIN upd u USING (c_custkey)
    )
    SELECT c_custkey, c_mktsegment, bal, valid_from,
           CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
    FROM j WHERE NOT changed
    UNION ALL
    SELECT c_custkey, c_mktsegment, bal, valid_from,
           '2024-01-01' AS valid_to, FALSE AS is_current
    FROM j WHERE changed
    UNION ALL
    SELECT c_custkey, c_mktsegment, new_bal, '2024-01-01',
           CAST(NULL AS VARCHAR), TRUE
    FROM j WHERE changed
    """,
)
def scd2_dimension_merge(spark, d):
    """Slowly-changing-dimension Type 2 merge: an update batch lands on a
    versioned dimension; rows whose tracked attribute actually changed
    close their current version (valid_to = effective date) and open a
    new one, NO-OP updates (the %14==7 half of the batch carries +0)
    leave the dimension untouched, and unchanged keys pass through —
    the warehouse-dimension history pattern MERGE alone cannot express
    (one source row fans out to a close AND an open).

    Scale shape: one key-equi left join of dimension x update batch,
    then three narrow projections unioned — the changed/unchanged split
    reuses the join output, so the dimension is scanned once and only
    the update-key rows ever carry extra columns.  Balances compare as
    identically-rounded doubles on both engines."""
    c = T(spark, d, "customer")
    dim = c.select("c_custkey", "c_mktsegment",
                   F.round("c_acctbal", 2).alias("bal"),
                   F.lit("2020-01-01").alias("valid_from"))
    upd = (c.filter(F.col("c_custkey") % 7 == 0)
           .select("c_custkey",
                   F.round(F.round("c_acctbal", 2)
                           + F.when(F.col("c_custkey") % 14 == 0, 100)
                              .otherwise(0), 2).alias("new_bal")))
    j = (dim.join(upd, "c_custkey", "left")
         .withColumn("changed", F.col("new_bal").isNotNull()
                     & (F.col("new_bal") != F.col("bal"))))
    null_str = F.lit(None).cast("string")
    untouched = (j.filter(~F.col("changed"))
                 .select("c_custkey", "c_mktsegment", "bal", "valid_from",
                         null_str.alias("valid_to"),
                         F.lit(True).alias("is_current")))
    closed = (j.filter(F.col("changed"))
              .select("c_custkey", "c_mktsegment", "bal", "valid_from",
                      F.lit("2024-01-01").alias("valid_to"),
                      F.lit(False).alias("is_current")))
    opened = (j.filter(F.col("changed"))
              .select("c_custkey", "c_mktsegment",
                      F.col("new_bal").alias("bal"),
                      F.lit("2024-01-01").alias("valid_from"),
                      null_str.alias("valid_to"),
                      F.lit(True).alias("is_current")))
    return untouched.unionByName(closed).unionByName(opened)


@register(
    "dq_freshness",
    oracle="""
    WITH latest AS (
        SELECT event_type, max(date_trunc('second', ts)) AS max_tss,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    g AS (SELECT max(max_tss) AS global_max FROM latest)
    SELECT event_type, CAST(max_tss AS STRING) AS latest_s,
           date_diff('second', max_tss, g.global_max) // 60
               AS minutes_behind,
           date_diff('second', max_tss, g.global_max) // 60 <= 60
               AS fresh,
           n_events
    FROM latest CROSS JOIN g
    """,
)
def dq_freshness(spark, d):
    """Freshness SLA check: per feed (event_type), how far its newest
    record lags the newest record anywhere — the first data-quality
    monitor any ingestion pipeline grows.  One aggregate produces a
    tiny per-feed relation; the global max joins back as a broadcast
    scalar, so the whole check adds one map-side join to a scan that
    was already computing per-feed stats.  At 100 TB the per-partition
    max comes from parquet footer stats when the table is
    ingest-partitioned — the scan prunes to metadata."""
    latest = (T(spark, d, "events")
              .groupBy("event_type")
              .agg(F.max(F.date_trunc("second", "ts")).alias("max_tss"),
                   F.count("*").cast("bigint").alias("n_events")))
    g = latest.agg(F.max("max_tss").alias("global_max"))
    behind = (F.unix_timestamp("global_max")
              - F.unix_timestamp("max_tss")) / 60
    return (latest.crossJoin(F.broadcast(g))
            .select("event_type",
                    F.col("max_tss").cast("string").alias("latest_s"),
                    F.floor(behind).cast("bigint").alias("minutes_behind"),
                    (F.floor(behind) <= 60).alias("fresh"),
                    "n_events"))


@register(
    "dq_referential_integrity",
    oracle="""
    WITH o AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_custkey IS NOT NULL
                         AND c.c_custkey IS NULL THEN 1 ELSE 0 END)
                   AS orphans
        FROM orders LEFT JOIN customer c ON o_custkey = c.c_custkey
    ), l AS (
        SELECT count(*) AS n,
               sum(CASE WHEN l_orderkey IS NOT NULL
                         AND k.o_orderkey IS NULL THEN 1 ELSE 0 END)
                   AS orphans
        FROM lineitem LEFT JOIN orders k ON l_orderkey = k.o_orderkey
    )
    SELECT 'orders.o_custkey -> customer.c_custkey' AS relation,
           CAST(n AS BIGINT) AS n_rows,
           CAST(coalesce(orphans, 0) AS BIGINT) AS n_orphans,
           CASE WHEN n = 0 THEN 1.0
                ELSE round(1.0 - CAST(coalesce(orphans, 0) AS DOUBLE) / n,
                           6)
           END AS integrity_ratio
    FROM o
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
           CAST(n AS BIGINT), CAST(coalesce(orphans, 0) AS BIGINT),
           CASE WHEN n = 0 THEN 1.0
                ELSE round(1.0 - CAST(coalesce(orphans, 0) AS DOUBLE) / n,
                           6)
           END
    FROM l
    """,
)
def dq_referential_integrity(spark, d):
    """Referential-integrity audit — per foreign-key relation, how many
    child rows point at a parent that does not exist (the classic
    join-explosion / silent-row-loss precondition every warehouse DQ
    gate checks first).  NULL FKs are not orphans (SQL FK semantics).

    Scale shape: each relation is ONE left join + scalar aggregate.
    The orders->customer probe joins against the customer DIM (Catalyst
    broadcasts it under the threshold); lineitem->orders is fact-fact,
    where at 100 TB the join shuffles on the key both tables should
    already be bucketed by (SURVEY §8's layout discipline) — and the
    count-only aggregate means the join never materializes payload
    columns: column pruning reduces both sides to the key."""
    o = T(spark, d, "orders").select("o_custkey")
    c = T(spark, d, "customer").select("c_custkey")
    li = T(spark, d, "lineitem").select("l_orderkey")
    ok = T(spark, d, "orders").select("o_orderkey")

    def audit(child, fk, parent, pk, label):
        j = child.join(parent, F.col(fk) == F.col(pk), "left")
        m = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(fk).isNotNull() & F.col(pk).isNull(), 1)
                  .otherwise(0)).alias("orphans"))
        return m.select(
            F.lit(label).alias("relation"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.coalesce(F.col("orphans"), F.lit(0)).cast("bigint")
            .alias("n_orphans"),
            F.when(F.col("n") == 0, F.lit(1.0))
            .otherwise(F.round(
                1.0 - F.coalesce(F.col("orphans"), F.lit(0))
                .cast("double") / F.col("n"), 6))
            .alias("integrity_ratio"))

    return (audit(o, "o_custkey", c, "c_custkey",
                  "orders.o_custkey -> customer.c_custkey")
            .unionAll(audit(li, "l_orderkey", ok, "o_orderkey",
                            "lineitem.l_orderkey -> orders.o_orderkey")))


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority")


@register(
    "dq_profile_columns",
    oracle="""
    WITH m AS (
        SELECT count(*) AS n,
    """ + ",\n".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS d_{c}"
        for c in _PROFILE_COLS) + """
        FROM orders
    )
    """ + "\nUNION ALL ".join(
        f"""SELECT '{c}' AS column_name, CAST(n AS BIGINT) AS n_rows,
           CAST(n - nn_{c} AS BIGINT) AS n_nulls,
           CAST(d_{c} AS BIGINT) AS n_distinct,
           CASE WHEN n = 0 THEN 1.0
                ELSE round(CAST(nn_{c} AS DOUBLE) / n, 6)
           END AS fill_ratio FROM m"""
        for c in _PROFILE_COLS),
)
def dq_profile_columns(spark, d):
    """Whole-table column profile — the first pass any data-quality or
    schema-inference tool runs: for EVERY column of orders, row count,
    null count, exact distinct count, and fill ratio, unpivoted to one
    row per column.  The companion to dq_constraint_check (which
    asserts specific constraints); this emits the raw per-column
    statistics a rule engine derives constraints FROM.

    Scale notes: all 6 exact countDistincts run in ONE aggregate pass —
    Catalyst plans them via Expand (each input row fans to one row per
    distinct-aggregate before the shuffle), so the shuffle carries
    ~k x rows of (column, value) pairs; at 100 TB the standard swap is
    approx_count_distinct (no Expand, one HLL sketch per column,
    single pass) — exact is used here because the hash oracle needs
    bit-equal counts.  The unpivot is a stack() over the single
    aggregate row: pure metadata."""
    cols = list(_PROFILE_COLS)
    m = T(spark, d, "orders").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"d_{c}") for c in cols])
    stacked = m.select(
        "n",
        F.expr("stack(" + str(len(cols)) + ", " + ", ".join(
            f"'{c}', nn_{c}, d_{c}" for c in cols)
            + ") AS (column_name, nn, n_distinct)"))
    return stacked.select(
        "column_name",
        F.col("n").cast("bigint").alias("n_rows"),
        (F.col("n") - F.col("nn")).cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.when(F.col("n") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("nn").cast("double") / F.col("n"), 6))
        .alias("fill_ratio"))


@register(
    "dq_distribution_drift",
    oracle="""
    WITH b AS (
        SELECT source,
               least(CAST(floor(n_chars / 100.0) AS BIGINT), 5) AS bucket
        FROM documents
    ), g AS (
        SELECT bucket, CAST(count(*) AS DOUBLE) AS cg FROM b GROUP BY 1
    ), s AS (
        SELECT source, bucket, CAST(count(*) AS DOUBLE) AS cs
        FROM b GROUP BY 1, 2
    ), grid AS (
        SELECT src.source, gb.bucket, g.cg, coalesce(s.cs, 0.0) AS cs
        FROM (SELECT DISTINCT source FROM b) src
        CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS bucket) gb
        JOIN g USING (bucket)
        LEFT JOIN s ON s.source = src.source AND s.bucket = gb.bucket
    ), tot AS (
        SELECT source, sum(cg) AS ng, sum(cs) AS ns FROM grid GROUP BY 1
    ), p AS (
        SELECT grid.source, bucket,
               (cs + 0.5) / (ns + 3.0) AS ps,
               (cg + 0.5) / (ng + 3.0) AS pg
        FROM grid JOIN tot ON tot.source = grid.source
    )
    SELECT source,
           round(sum((ps - pg) * ln(ps / pg)), 4) + 0 AS psi,
           CAST(count(*) FILTER (WHERE ps > pg) AS BIGINT) AS over_buckets
    FROM p GROUP BY source
    """,
)
def dq_distribution_drift(spark, d):
    """Population Stability Index per source cohort (r12): the drift
    metric a data-quality monitor fires on — each source's n_chars
    distribution over FIXED 100-char buckets (fixed edges, not
    quantiles: edges must not move with the data being monitored)
    compared against the whole corpus, PSI = sum (p_s - p_g) *
    ln(p_s / p_g) with additive 0.5-smoothing so empty buckets are
    well-defined on both engines.  <0.1 stable / 0.1-0.25 drifting /
    >0.25 shifted is the standard reading; over_buckets counts where
    the cohort over-represents.

    Scale shape: two partial-aggregated passes over the scan (global
    and per-source histograms, 6 buckets each) + a 120-row grid join —
    the monitor for a 100 TB corpus shuffles bytes proportional to
    sources x buckets, never rows."""
    docs = T(spark, d, "documents")
    b = docs.select(
        "source", F.least(F.floor(F.col("n_chars") / 100.0),
                          F.lit(5)).cast("bigint").alias("bucket"))
    g = b.groupBy("bucket").agg(F.count("*").cast("double").alias("cg"))
    s = b.groupBy("source", "bucket").agg(
        F.count("*").cast("double").alias("cs"))
    grid = (b.select("source").distinct()
            .select("source",
                    F.explode(F.array(*[F.lit(i).cast("bigint")
                                        for i in range(6)])).alias("bucket"))
            .join(F.broadcast(g), "bucket")
            .join(s, ["source", "bucket"], "left")
            .withColumn("cs", F.coalesce("cs", F.lit(0.0))))
    tot = grid.groupBy("source").agg(F.sum("cg").alias("ng"),
                                     F.sum("cs").alias("ns"))
    p = (grid.join(tot, "source")
         .withColumn("ps", (F.col("cs") + 0.5) / (F.col("ns") + 3.0))
         .withColumn("pg", (F.col("cg") + 0.5) / (F.col("ng") + 3.0)))
    return (p.groupBy("source")
            .agg((F.round(F.sum((F.col("ps") - F.col("pg"))
                                * F.log(F.col("ps") / F.col("pg"))), 4)
                  + F.lit(0.0)).alias("psi"),
                 F.count_if(F.col("ps") > F.col("pg")).cast("bigint")
                  .alias("over_buckets")))


@register(
    "dq_outlier_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, abs(e.value - med.m) AS ad
        FROM events e JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN abs(e.value - med.m)
                              > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(any_value(med.m), 4) + 0 AS median_value,
           round(any_value(mad.mad), 4) + 0 AS mad_value
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def dq_outlier_mad(spark, d):
    """Robust outlier audit per event_type (r12): median-absolute-
    deviation outliers — |value - median| > 3 * 1.4826 * MAD, the
    scale-factor that makes MAD consistent with sigma under normality.
    MAD-based fences are what production DQ uses where mean/stddev
    fences break (a single corrupt 1e12 value moves the mean past every
    real point but leaves median/MAD untouched).  Exact interpolated
    medians on both engines (the percentile==quantile_cont parity
    agg_percentiles pins).

    Scale shape: two exact-median passes (each one shuffle on the
    5-value event_type key) + a broadcast of the 5-row fence table back
    onto the scan for the counting pass — fences, not rows, cross the
    network.  At 100 TB the medians would come from approx_percentile
    sketches (see agg_approx_percentile); exact is the declared
    correctness form."""
    ev = T(spark, d, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("m")).alias("ad"))
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    fences = med.join(mad, "event_type")
    return (ev.join(F.broadcast(fences), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.abs(F.col("value") - F.col("m"))
                              > 3 * 1.4826 * F.col("mad"), 1)
                       .otherwise(0)).cast("bigint").alias("n_outliers"),
                 (F.round(F.any_value("m"), 4) + F.lit(0.0))
                 .alias("median_value"),
                 (F.round(F.any_value("mad"), 4) + F.lit(0.0))
                 .alias("mad_value")))


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS p50_price,
           quantile_disc(l_extendedprice, 0.9) AS p90_price,
           CAST(quantile_disc(l_quantity, 0.25) AS BIGINT) AS q1_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_disc(spark, d):
    """DISCRETE percentiles (r12 — the inverse-distribution companion
    of agg_percentiles): PERCENTILE_DISC returns an actual population
    value (the first value whose cume_dist >= p), never an
    interpolated midpoint — what SLOs and law-of-the-data reporting
    require ("a real observed latency", not an average of two).
    Identical definition in Spark's WITHIN GROUP form and DuckDB's
    quantile_disc, so values match BIT-exactly with no rounding at
    all — interpolation error is definitionally absent.  The
    low-cardinality l_quantity arm pins tie handling.  Same scale
    shape as the continuous form: per-group sort, no global state."""
    T(spark, d, "lineitem").createOrReplaceTempView("lineitem_pdisc")
    return spark.sql("""
        SELECT l_returnflag,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p50_price,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS p90_price,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
                    AS BIGINT) AS q1_qty
        FROM lineitem_pdisc
        GROUP BY l_returnflag
    """)


@register(
    "dq_benford",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice > 0
    ), g AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ), t AS (
        SELECT digit, n, sum(n) OVER () AS total,
               log10(1.0 + 1.0 / digit) AS p_exp
        FROM g
    )
    SELECT digit, n,
           round(n / total, 4) + 0 AS obs_pct,
           round(p_exp, 4) + 0 AS exp_pct,
           round(pow(n - total * p_exp, 2) / (total * p_exp), 4) + 0
               AS chi2_term
    FROM t
    """,
)
def dq_benford(spark, d):
    """Benford first-digit audit (r12) on orders.o_totalprice: the
    classic fraud/fabrication screen — observed leading-digit frequency
    vs Benford's law p(d) = log10(1 + 1/d), with the per-digit chi2
    contribution (n_d - E_d)^2 / E_d so an auditor sees WHICH digit
    drives the divergence (TPC-H prices are range-bounded, not
    Benford-distributed — the audit quantifies exactly that).  The
    leading digit comes from the STRING of the floored integer part,
    not floor(x / 10^floor(log10(x))): float log10 at power-of-ten
    boundaries (log10(1000) -> 2.9999...) silently yields digit 10,
    and floor+string is bit-identical cross-engine.

    Scale shape: one narrow digit map into a 9-group partial agg, then
    a 9-row window for the total — bytes shuffled are proportional to
    digits, never rows; the audit over 100 TB is one scan."""
    o = T(spark, d, "orders").filter(F.col("o_totalprice") > 0)
    dig = (o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"),
                    1, 1).cast("bigint").alias("digit")))
    from pyspark.sql import Window
    g = dig.groupBy("digit").agg(F.count("*").alias("n"))
    t = (g.withColumn("total", F.sum("n").over(
            Window.partitionBy()).cast("double"))
         .withColumn("p_exp", F.log10(1.0 + 1.0 / F.col("digit"))))
    return t.select(
        "digit", "n",
        (F.round(F.col("n") / F.col("total"), 4) + F.lit(0.0))
            .alias("obs_pct"),
        (F.round("p_exp", 4) + F.lit(0.0)).alias("exp_pct"),
        (F.round(F.pow(F.col("n") - F.col("total") * F.col("p_exp"), 2)
                 / (F.col("total") * F.col("p_exp")), 4) + F.lit(0.0))
            .alias("chi2_term"))


@register(
    "agg_histogram_equidepth",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_extendedprice,
               ntile(8) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS bucket
        FROM lineitem
    )
    SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
    FROM b GROUP BY 1, 2
    """,
)
def agg_histogram_equidepth(spark, d):
    """Equi-DEPTH histogram (r12; companion of agg_histogram's
    equi-width buckets): 8 quantile buckets of l_extendedprice per
    return flag via ntile — every bucket holds the same row count, so
    the (lo, hi) boundaries ARE the octile cut points, which is what
    optimizers store as statistics and dashboards render as "where the
    mass actually sits".  ntile's row-order dependence is made
    deterministic cross-engine by the unique (orderkey, linenumber)
    tiebreak (the window_distribution discipline).

    Scale shape: per-returnflag sort (3 series) — the declared exact
    form; at 100 TB the boundaries come from approx_percentile sketches
    and the bucket assignment becomes a broadcast range lookup, one
    scan, no global sort (the agg_approx_percentile path)."""
    from pyspark.sql import Window
    li = T(spark, d, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    w = (Window.partitionBy("l_returnflag")
         .orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
    return (li.withColumn("bucket", F.ntile(8).over(w).cast("bigint"))
            .groupBy("l_returnflag", "bucket")
            .agg(F.count("*").alias("n"),
                 F.min("l_extendedprice").alias("lo"),
                 F.max("l_extendedprice").alias("hi")))


@register(
    "dq_l_diversity",
    oracle="""
    SELECT event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
               AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           count(DISTINCT user_id) >= 3 AS diverse
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def dq_l_diversity(spark, d):
    """l-diversity audit (r12; the group-level privacy check
    k-anonymity alone misses): a (event_type, day) slice can satisfy
    k-anonymity on row COUNT while every row belongs to the SAME user —
    releasing it deanonymizes that user completely.  Each slice must
    carry >= l=3 distinct values of the sensitive attribute (user_id)
    to be releasable; the audit reports every slice with its event and
    distinct-user counts so the suppression decision is reviewable.
    Complements dq_k_anonymity (group size) and llm_pii_scrub
    (value-level scrubbing).

    Scale shape: one partial-aggregated shuffle on the QI pair with a
    distinct-count — output is O(types x days), metadata-sized at any
    corpus scale; at 100 TB the exact distinct swaps for the HLL
    sketch (agg_approx_count_distinct) with the same decision rule."""
    ev = T(spark, d, "events").filter(F.col("ts").isNotNull())
    return (ev.groupBy("event_type",
                       F.to_date(F.date_trunc("day", "ts")).cast("string")
                       .alias("day"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_distinct_users"))
            .select("event_type", "day", "n_events", "n_distinct_users",
                    (F.col("n_distinct_users") >= 3).alias("diverse")))


@register(
    "dq_sequence_gaps",
    oracle="""
    WITH s AS (
        SELECT event_id,
               event_id - lag(event_id) OVER (ORDER BY event_id) AS step
        FROM (SELECT DISTINCT event_id FROM events)
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_ids,
               CAST(count(CASE WHEN step > 1 THEN 1 END) AS BIGINT)
                   AS n_gaps,
               CAST(coalesce(max(step) - 1, 0) AS BIGINT) AS max_gap,
               CAST(coalesce(sum(step - 1), 0) AS BIGINT) AS missing_ids
        FROM s
    ), dup AS (
        SELECT CAST(count(*) AS BIGINT) AS n_dup_ids FROM (
            SELECT event_id FROM events GROUP BY event_id
            HAVING count(*) > 1)
    )
    SELECT n_ids, n_gaps, max_gap, missing_ids, n_dup_ids,
           n_gaps = 0 AND n_dup_ids = 0 AS contiguous
    FROM agg CROSS JOIN dup
    """,
)
def dq_sequence_gaps(spark, d):
    """Monotonic-sequence audit (r12): an id column that SHOULD be a
    gap-free sequence (event_id from an ingest counter) is checked for
    holes (dropped records upstream), the largest hole, the total
    missing-id count, and duplicated ids (double-ingest) — the
    first-line completeness check every CDC / ingest pipeline runs
    before trusting row counts.

    Scale shape: distinct ids, then ONE global lag over the sorted id
    sequence.  The single-partition window is deliberate at fixture
    scale; the 100 TB form is the events_max_concurrency chunked
    two-pass (per-range lag + boundary stitch), same answer, and the
    duplicate arm is an ordinary partial-agg shuffle either way."""
    ev = T(spark, d, "events").select("event_id")
    from pyspark.sql import Window
    s = (ev.distinct()
         .select("event_id",
                 (F.col("event_id")
                  - F.lag("event_id").over(Window.orderBy("event_id")))
                 .alias("step")))
    agg = s.agg(
        F.count("*").alias("n_ids"),
        F.count(F.when(F.col("step") > 1, 1)).cast("bigint")
            .alias("n_gaps"),
        F.coalesce(F.max("step") - 1, F.lit(0)).cast("bigint")
            .alias("max_gap"),
        F.coalesce(F.sum(F.col("step") - 1), F.lit(0)).cast("bigint")
            .alias("missing_ids"))
    dup = (ev.groupBy("event_id").count().filter(F.col("count") > 1)
           .agg(F.count("*").cast("bigint").alias("n_dup_ids")))
    return (agg.crossJoin(F.broadcast(dup))
            .select("n_ids", "n_gaps", "max_gap", "missing_ids",
                    "n_dup_ids",
                    ((F.col("n_gaps") == 0) & (F.col("n_dup_ids") == 0))
                    .alias("contiguous")))


@register(
    "dq_dp_histogram",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS true_n
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ), noised AS (
        -- the cell key is NULL-safe (sentinel): DuckDB's concat skips
        -- NULL args while Spark's concat nulls out, so a NULL
        -- event_type cell would otherwise get noise on one engine and
        -- NULL on the other
        SELECT event_type, day, true_n,
               (CAST(concat('0x', substring(md5(concat(
                    coalesce(event_type, chr(31) || 'null'), '|',
                    CAST(day AS VARCHAR))), 1, 8)) AS BIGINT) % 999999 + 1)
                   / 1000000.0 AS u
        FROM daily
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           round(true_n
                 + (CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END)
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 4) + 0 AS released_n
    FROM noised
    """,
)
def dq_dp_histogram(spark, d):
    """Deterministic Laplace-noise histogram release of the
    (event_type, day) counts (r12; reframed r13 per advice).  The
    noise is generated by INVERSE-CDF from a uniform derived with md5
    from the PUBLIC cell key — so the release is reproducible across
    engines and re-runs, which demonstrates the plan shape of a noised
    release but is NOT differential privacy: anyone who knows the cell
    key can recompute the noise and recover the exact count.  A
    production DP release keeps this exact plan and swaps the bare
    md5(cell_key) for HMAC(secret_key, cell_key) — a secret PRF —
    which is a one-line substitution in the `u` expression; no epsilon
    is claimed here and none is emitted.  Laplace icdf:
    -b*sign(u-.5)*ln(1-2|u-.5|).  ln() is libm on both engines (<=1
    ulp apart on doubles) — the 4dp round guards it.

    Scale shape: ONE partial-agg shuffle to the cells, then a narrow
    per-cell map; noise cost is O(cells), independent of event volume."""
    daily = (T(spark, d, "events")
             .filter(F.col("ts").isNotNull())
             .groupBy("event_type",
                      F.to_date(F.date_trunc("day", "ts")).alias("day"))
             .agg(F.count("*").alias("true_n")))
    # NULL-safe cell key: a NULL event_type still gets its noised cell
    # (sentinel = \x1f||'null', outside any real event_type alphabet)
    u = ((F.conv(F.substring(F.md5(F.concat(
        F.coalesce(F.col("event_type"), F.lit("\x1fnull")),
        F.lit("|"), F.col("day").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 999999 + 1) / 1000000.0)
    noise = (F.when(u >= 0.5, -1.0).otherwise(1.0)
             * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5)))
    return daily.select(
        "event_type", F.col("day").cast("string").alias("day"),
        (F.round(F.col("true_n") + noise, 4) + F.lit(0.0))
        .alias("released_n"))


@register(
    "dq_out_of_order_audit",
    oracle="""
    WITH seq AS (
        SELECT user_id, date_trunc('second', ts) AS tss,
               lag(date_trunc('second', ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (tss < prev_ts) AS BIGINT) AS out_of_order,
           CAST(count(*) FILTER (tss < prev_ts) AS DOUBLE) / count(*)
               AS ooo_rate
    FROM seq GROUP BY user_id
    """,
)
def dq_out_of_order_audit(spark, d):
    """Out-of-order arrival audit (r12): per user, how many events
    arrived with an event time EARLIER than the previously ingested
    one (ingest order = event_id) — the number that sizes a stream's
    watermark delay and flags broken producer clocks; the companion of
    dq_sequence_gaps (which audits the id axis, this audits the time
    axis).  The rate is an exact integer division, unrounded (§5.3).

    Scale shape: ONE user_id shuffle shared by the lag window and the
    per-user aggregate; output O(users)."""
    from pyspark.sql import Window

    seq = (T(spark, d, "events")
           .filter(F.col("ts").isNotNull())
           .select("user_id", "event_id",
                   F.date_trunc("second", "ts").alias("tss"))
           .withColumn("prev_ts", F.lag("tss").over(
               Window.partitionBy("user_id").orderBy("event_id"))))
    return (seq.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.count(F.when(F.col("tss") < F.col("prev_ts"), 1))
                 .alias("out_of_order"),
                 (F.count(F.when(F.col("tss") < F.col("prev_ts"), 1))
                  .cast("double") / F.count("*")).alias("ooo_rate")))


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate IS NOT NULL AND l_quantity > 10
    GROUP BY l_returnflag
    HAVING count(*) > 100
    """,
)
def sql_pipe_syntax(spark, d):
    """SQL pipe syntax (r12; Spark 4's ``|>`` operators — the
    top-to-bottom query form): FROM |> WHERE |> EXTEND |> AGGREGATE
    ... GROUP BY |> WHERE-over-aggregate, demonstrating that each pipe
    stage is sugar over the same Catalyst plan the ANSI oracle
    produces — filters still push to the scan, the aggregate still
    partial-aggregates.  Revenue rides DECIMAL so the sum is
    order-exact.

    Scale shape: identical to the equivalent ANSI query — pipe syntax
    is parse-time sugar, zero plan difference (verified by the hash)."""
    T(spark, d, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql("""
        FROM pipe_lineitem
        |> WHERE l_shipdate IS NOT NULL AND l_quantity > 10
        |> EXTEND CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,4)) AS net
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(net) AS DOUBLE) AS revenue
           GROUP BY l_returnflag
        |> WHERE n > 100
        |> SELECT l_returnflag, n, revenue
    """)


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS max_price
    FROM orders
    WHERE o_totalprice > 200000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark, d):
    """Named-parameter SQL (r12; ``spark.sql(..., args={...})`` —
    Spark's server-side parameter binding): the injection-safe way a
    service templates user input into queries, with literals bound by
    the PARSER (so Catalyst still constant-folds and pushes them into
    the scan) rather than by string concatenation.  The oracle carries
    the same literals inline — the hash proves bound parameters and
    inline literals plan to the same result.

    Scale shape: parameter binding is parse-time; the plan (and its
    pushed filters) is byte-identical to the literal form."""
    T(spark, d, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                      AS max_price
           FROM param_orders
           WHERE o_totalprice > :min_price AND o_orderstatus = :status
           GROUP BY o_orderpriority""",
        args={"min_price": 200000.0, "status": "F"})


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 5000.0
    GROUP BY n_name
    """,
)
def sql_execute_immediate(spark, d):
    """EXECUTE IMMEDIATE (r12; Spark 4's dynamic-SQL statement): a
    query held in a string variable executes with positional ``USING``
    binds — the stored-procedure idiom migrated workloads lean on.
    The statement text itself is assembled at runtime (as a dynamic
    dashboard would), the binds are parser-level parameters, and the
    hash proves the dynamic path equals the static oracle.

    Scale shape: dynamic SQL is parse-time indirection; the executed
    plan is the ordinary broadcast-joined aggregate."""
    T(spark, d, "customer").createOrReplaceTempView("ei_customer")
    T(spark, d, "nation").createOrReplaceTempView("ei_nation")
    stmt = ("SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers "
            "FROM ei_customer JOIN ei_nation ON c_nationkey = n_nationkey "
            "WHERE c_acctbal > ? GROUP BY n_name")
    return spark.sql(f"EXECUTE IMMEDIATE '{stmt}' USING 5000.0D")


@register(
    "dq_replication_checksum",
    oracle="""
    WITH h AS (
        SELECT o_orderkey % 16 AS bucket,
               CAST(concat('0x', substring(md5(
                   coalesce(CAST(o_orderkey AS VARCHAR), '~')
                   || '|' || coalesce(o_orderstatus, '~')
                   || '|' || coalesce(CAST(CAST(o_totalprice
                                  AS DECIMAL(18,2)) AS VARCHAR), '~')
                   || '|' || coalesce(CAST(o_orderdate AS VARCHAR), '~')),
                   1, 15)) AS BIGINT) AS hv
        FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(hv) AS BIGINT) AS checksum
    FROM h GROUP BY bucket
    """,
)
def dq_replication_checksum(spark, d):
    """Replication / migration checksum (r12): an ORDER-INDEPENDENT
    per-bucket table fingerprint — xor-fold of a row-content hash
    (md5 over a canonical '|'-serialization with DECIMAL-normalized
    money and ISO dates) plus row counts, bucketed by key %% 16 so a
    mismatch localizes to 1/16th of the table before any row-level
    diff runs.  XOR is the right fold: commutative/associative (any
    partition order), overflow-free (unlike SUM of 60-bit hashes),
    and a single changed row always flips the checksum.  This is the
    cheap trust check run after every copy/engine migration — compare
    16 rows, not the table.  Caveat stated: xor is blind to an even
    number of IDENTICAL duplicate rows — the row count beside it
    catches exactly that.

    Scale shape: one narrow hash map + a 16-group partial aggregate —
    bytes shuffled ~ buckets, never rows."""
    # NULL fields coalesce to a sentinel BEFORE serialization: without
    # it Spark's concat_ws silently SKIPS NULLs (so (a,NULL,b) and
    # (a,b,NULL) collide) while a ||-built oracle nulls the whole row
    # out — the null-mirror suite caught exactly that divergence
    h = T(spark, d, "orders").select(
        (F.col("o_orderkey") % 16).alias("bucket"),
        F.conv(F.substring(F.md5(F.concat_ws(
            "|",
            F.coalesce(F.col("o_orderkey").cast("string"), F.lit("~")),
            F.coalesce(F.col("o_orderstatus"), F.lit("~")),
            F.coalesce(F.col("o_totalprice").cast("decimal(18,2)")
                       .cast("string"), F.lit("~")),
            F.coalesce(F.col("o_orderdate").cast("string"), F.lit("~")))),
            1, 15), 16, 10)
        .cast("bigint").alias("hv"))
    return (h.groupBy("bucket")
            .agg(F.count("*").alias("n_rows"),
                 F.expr("bit_xor(hv)").cast("bigint").alias("checksum")))


@register(
    "dq_embedding_dim_audit",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               CASE WHEN vec_id % 101 = 0 THEN embedding[1:0]
                    WHEN vec_id % 97 = 0 THEN embedding[1:63]
                    ELSE embedding END AS emb
        FROM embeddings
    ), s AS (
        SELECT vec_id, label, CAST(len(emb) AS BIGINT) AS dim FROM e
    ), c AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
               CAST(min(vec_id) AS BIGINT) AS sample_vec_id
        FROM s GROUP BY dim
    ), m AS (
        SELECT dim AS mode_dim FROM c
        ORDER BY n_rows DESC, dim DESC LIMIT 1
    ), t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT c.dim, c.n_rows, c.n_labels, c.sample_vec_id,
           coalesce(c.dim = (SELECT mode_dim FROM m), FALSE) AS is_modal,
           round(CAST(c.n_rows AS DOUBLE) / (SELECT total FROM t), 6)
               AS row_share
    FROM c
    """,
)
def dq_embedding_dim_audit(spark, d):
    """Ragged-vector quarantine audit (r14; the r13 ragged-embedding
    probe's operational follow-through, SURVEY.md §5): BEFORE any gemm /
    LSH / IVF kernel touches an embeddings table, this one-shuffle audit
    reports every distinct vector dimensionality against the table MODE
    — the 12 of 16 embedding-reading kernels that crash on ragged rows
    do so BY CONTRACT (fixed dim is the table's schema contract), and
    this query is the upstream gate that makes that contract checkable
    at ingest.  Each report row carries the dim, its row count, how many
    labels (source proxy) it touches, the lowest offending vec_id (an
    actionable pointer into the corpus), whether it IS the modal dim,
    and its row share.  The fixture table is dimension-clean, so the
    query injects deterministic raggedness first (vec_id % 101 -> empty
    vector, vec_id % 97 -> 63-dim truncation — the dq_constraint_check
    fails-by-design discipline) and the oracle replays the injection,
    so both verdict shapes (modal + ragged classes) exercise at every
    SF.

    Scale shape: size() is a narrow codegen map (array HEADER read — no
    element access, so this never decodes vector payloads); the
    per-dim rollup is a partial-aggregated shuffle whose cardinality is
    the number of DISTINCT dims (a handful, whatever the corpus size);
    the mode and total then come from WINDOWS over that tiny per-dim
    frame, so the corpus is scanned exactly ONCE (the first-draft
    scalar-subquery form re-planned the scan three times — caught by
    this round's .explain audit).  Bytes shuffled ~ distinct dims,
    never rows — the audit a 100 TB ingest runs first, for the cost of
    one column scan; the unpartitioned windows run on a frame of
    ~distinct-dims rows, not data."""
    from pyspark.sql import Window

    e = T(spark, d, "embeddings").select(
        "vec_id", "label",
        F.when(F.col("vec_id") % 101 == 0, F.slice("embedding", 1, 0))
        .when(F.col("vec_id") % 97 == 0, F.slice("embedding", 1, 63))
        .otherwise(F.col("embedding")).alias("emb"))
    c = (e.select("vec_id", "label",
                  F.size("emb").cast("bigint").alias("dim"))
         .groupBy("dim")
         .agg(F.count("*").alias("n_rows"),
              F.countDistinct("label").alias("n_labels"),
              F.min("vec_id").alias("sample_vec_id")))
    # global-first over the ordered tiny frame = the mode pick the
    # oracle's ORDER BY n_rows DESC, dim DESC LIMIT 1 makes
    w_rank = (Window.orderBy(F.col("n_rows").desc_nulls_last(),
                             F.col("dim").desc_nulls_last())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy()
    return c.select(
        "dim", "n_rows", "n_labels", "sample_vec_id",
        F.coalesce(F.col("dim") == F.first("dim").over(w_rank),
                   F.lit(False)).alias("is_modal"),
        F.round(F.col("n_rows").cast("double")
                / F.sum("n_rows").over(w_tot), 6).alias("row_share"))
