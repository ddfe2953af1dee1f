"""B-scan / B-proj / B-set queries: scans, projections, filters, predicates,
CASE/cast expressions, DISTINCT, and set operations (SURVEY.md §2).

All are single-pass narrow plans (scan → project/filter) or unions — no
shuffle except DISTINCT/INTERSECT/EXCEPT, which hash-partition on the full
row; at 100 TB those rely on partial aggregation map-side and AQE-coalesced
shuffle, which Spark provides natively for these operators.

Reference parallels: projection+LIMIT (README.md:216), predicate delete
filter shape (README.md:231), CSV scan options (README.md:186-193), typed
casts (README.md:199-208).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..plans.registry import register
from ..scratch import scratch_dir
from ..sources import FIXTURE_DIR
from ._util import T


# ---------------------------------------------------------------- B-scan

@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(l_shipdate AS VARCHAR) AS l_shipdate_s
    FROM lineitem
    """,
)
def scan_parquet(spark, d):
    """Full-projection parquet scan (vectorized reader, all columns)."""
    return T(spark, d, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        F.col("l_shipdate").cast("string").alias("l_shipdate_s"),
    )


@register(
    "scan_csv",
    oracle=f"""
    SELECT id_pedido, produto,
           CAST(CAST(valor_unitario AS DECIMAL(10,2)) AS DOUBLE) AS valor_unitario,
           CAST(quantidade AS BIGINT) AS quantidade,
           CAST(CAST(data_criacao AS TIMESTAMP) AS VARCHAR) AS data_criacao_s,
           uf, CAST(id_cliente AS BIGINT) AS id_cliente
    FROM read_csv('{FIXTURE_DIR}/pedidos.csv.gz', delim=';', header=true,
                  columns={{'id_pedido':'VARCHAR','produto':'VARCHAR',
                           'valor_unitario':'VARCHAR','quantidade':'VARCHAR',
                           'data_criacao':'VARCHAR','uf':'VARCHAR',
                           'id_cliente':'VARCHAR'}})
    """,
)
def scan_csv(spark, d):
    """CSV scan with the reference's options (';' delim, header, gzip —
    README.md:186-193) + the reference's typed casts (README.md:199-208)."""
    from ..sources import read_csv

    raw = read_csv(spark, f"{FIXTURE_DIR}/pedidos.csv.gz", sep=";", header=True)
    return raw.select(
        "id_pedido", "produto",
        F.col("valor_unitario").cast("decimal(10,2)").cast("double").alias("valor_unitario"),
        F.col("quantidade").cast("bigint").alias("quantidade"),
        F.col("data_criacao").cast("timestamp").cast("string").alias("data_criacao_s"),
        "uf",
        F.col("id_cliente").cast("bigint").alias("id_cliente"),
    )


@register(
    "scan_json_lines",
    oracle=f"""
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST(value AS DOUBLE) AS value, ts_s
    FROM read_json('{FIXTURE_DIR}/events_sample.jsonl',
                   columns={{'event_id':'BIGINT','event_type':'VARCHAR',
                            'value':'DOUBLE','ts_s':'VARCHAR'}})
    """,
)
def scan_json_lines(spark, d):
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("ts_s", StringType()),
    ])
    return spark.read.schema(schema).json(f"{FIXTURE_DIR}/events_sample.jsonl")


@register(
    "sink_parquet",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_totalprice > 1000.0
    """,
)
def sink_parquet(spark, d):
    """Parquet sink: write a derived table, read it back (README.md:199
    warehouse-write analog).  Parquet round-trips doubles and strings
    exactly, so the read-back hash-matches the source-side oracle —
    verifying the written bytes, not just the row count."""
    out = scratch_dir("sink_parquet_")
    df = (
        T(spark, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .filter(F.col("o_totalprice") > 1000.0)
    )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


# ---------------------------------------------------------------- B-proj

@register(
    "project_select_alias",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
    FROM lineitem
    """,
)
def project_select_alias(spark, d):
    li = T(spark, d, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(disc, 4).alias("disc_price"),
        F.round(disc * (1 + F.col("l_tax")), 6).alias("charge"),
    )


@register(
    "filter_comparison",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 30 AND l_discount < 0.05 AND l_returnflag <> 'A'
          AND l_extendedprice > 10000
    """,
)
def filter_comparison(spark, d):
    """=, <>, <, >= predicates — all pushed to the parquet scan."""
    li = T(spark, d, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 30) & (F.col("l_discount") < 0.05)
        & (F.col("l_returnflag") != "A") & (F.col("l_extendedprice") > 10000)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@register(
    "filter_in_between_like",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 50000 AND 200000
      AND o_orderpriority LIKE '%-%'
    """,
)
def filter_in_between_like(spark, d):
    o = T(spark, d, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000, 200000)
        & F.col("o_orderpriority").like("%-%")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")


@register(
    "filter_null_and_or_not",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    WHERE (NULLIF(c_mktsegment, 'BUILDING') IS NULL AND c_acctbal > 0)
       OR (NOT (c_nationkey < 10) AND c_acctbal < 0)
    """,
)
def filter_null_and_or_not(spark, d):
    c = T(spark, d, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).isNull()
    return c.filter(
        (seg_null & (F.col("c_acctbal") > 0))
        | (~(F.col("c_nationkey") < 10) & (F.col("c_acctbal") < 0))
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


@register(
    "project_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS size_tier,
           coalesce(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           greatest(o_totalprice, 150000.0) AS at_least,
           least(o_totalprice, 150000.0) AS at_most
    FROM orders
    """,
)
def project_case_when(spark, d):
    o = T(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small").alias("size_tier"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias("status_or_open"),
        F.greatest("o_totalprice", F.lit(150000.0)).alias("at_least"),
        F.least("o_totalprice", F.lit(150000.0)).alias("at_most"),
    )


@register(
    "project_cast_types",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS key_s,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date_s,
           CAST(o_custkey AS INT) AS custkey_i
    FROM orders
    """,
)
def project_cast_types(spark, d):
    """String/bigint/date/int casts (reference ingest casts, README.md:203-207).
    floor() before the double→bigint cast: Spark truncates, DuckDB rounds —
    floor makes both exact."""
    o = T(spark, d, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("key_s"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_date_s"),
        F.col("o_custkey").cast("int").alias("custkey_i"),
    )


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark, d):
    return T(spark, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------- B-set

@register(
    "set_union_all",
    oracle="""
    SELECT o_orderpriority AS pri, o_orderkey FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT o_orderpriority AS pri, o_orderkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_union_all(spark, d):
    o = T(spark, d, "orders")
    a = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_orderpriority").alias("pri"), "o_orderkey")
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("pri"), "o_orderkey")
    return a.unionByName(b)


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000
    UNION
    SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_union_distinct(spark, d):
    c = T(spark, d, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_nationkey").alias("nk"))
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(F.col("c_nationkey").alias("nk"))
    return a.union(b).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT c_mktsegment AS seg FROM customer WHERE c_nationkey < 12
    INTERSECT
    SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 2000
    """,
)
def set_intersect(spark, d):
    c = T(spark, d, "customer")
    a = c.filter(F.col("c_nationkey") < 12).select(F.col("c_mktsegment").alias("seg"))
    b = c.filter(F.col("c_acctbal") > 2000).select(F.col("c_mktsegment").alias("seg"))
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT n_nationkey AS nk FROM nation
    EXCEPT
    SELECT DISTINCT c_nationkey AS nk FROM customer
    WHERE c_acctbal > 1000 AND c_nationkey % 5 <> 0
    """,
)
def set_except(spark, d):
    """EXCEPT with both arms guaranteed live at every SF: the % 5
    exclusion keeps nation keys 0/5/10/15/20 out of the subtrahend, so
    the retained arm is non-empty even when high-balance customers cover
    all 25 nations (they do from sf0.01 up — the earlier acctbal-only
    filter made this query 0 rows there, a vacuous green under the
    non-degeneracy guard)."""
    n = T(spark, d, "nation").select(F.col("n_nationkey").alias("nk"))
    c = (T(spark, d, "customer")
         .filter((F.col("c_acctbal") > 1000) & (F.col("c_nationkey") % 5 != 0))
         .select(F.col("c_nationkey").alias("nk")).distinct())
    return n.subtract(c)


_SINK_SELECT_ORACLE = """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice > 1000.0
"""


@register("sink_orc", oracle=_SINK_SELECT_ORACLE)
def sink_orc(spark, d):
    """ORC sink + scan round trip (the second columnar format a lakehouse
    serves; same vectorized reader + pushdown machinery as parquet).  The
    read-back hash-matches the source relation, proving lossless typed
    round-tripping."""
    import tempfile

    out = scratch_dir("sink_orc_")
    (T(spark, d, "orders")
     .select("o_orderkey", "o_custkey",
             F.col("o_totalprice").cast("double").alias("o_totalprice"),
             "o_orderpriority")
     .filter(F.col("o_totalprice") > 1000.0)
     .write.mode("overwrite").orc(out))
    return spark.read.orc(out)


@register("sink_csv_roundtrip", oracle=_SINK_SELECT_ORACLE)
def sink_csv_roundtrip(spark, d):
    """CSV sink + schema-full scan round trip (the reference's external
    CSV pattern in reverse, README.md:186-193): types survive via the
    explicit read schema, mirroring the tutorial's cast-on-ingest."""
    import tempfile

    out = scratch_dir("sink_csv_")
    src = (T(spark, d, "orders")
           .select("o_orderkey", "o_custkey",
                   F.col("o_totalprice").cast("double").alias("o_totalprice"),
                   "o_orderpriority")
           .filter(F.col("o_totalprice") > 1000.0))
    src.write.mode("overwrite").option("header", "true").csv(out)
    return (spark.read.option("header", "true").schema(src.schema).csv(out))


@register("sink_xml_roundtrip", oracle=_SINK_SELECT_ORACLE)
def sink_xml_roundtrip(spark, d):
    """XML sink + scan round trip through Spark 4's BUILT-IN xml
    datasource (spark-xml graduated into core in 4.0 — probed working
    in this distribution r7, unlike the still-external avro module):
    one <row> element per record, read back with rowTag + the writer's
    schema so types survive.  Completes the format matrix beside
    parquet/orc/csv/json/text/binaryFile; the expression-level XML
    surface (from_xml/schema_of_xml/xpath) is fn_xml."""
    out = scratch_dir("sink_xml_")
    src = (T(spark, d, "orders")
           .select("o_orderkey", "o_custkey",
                   F.col("o_totalprice").cast("double").alias("o_totalprice"),
                   "o_orderpriority")
           .filter(F.col("o_totalprice") > 1000.0))
    (src.write.mode("overwrite").format("xml")
     .option("rowTag", "row").save(out))
    return (spark.read.format("xml").option("rowTag", "row")
            .schema(src.schema).load(out))


@register(
    "sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def sink_partitioned(spark, d):
    """Hive-style partitioned write + partition-pruned read: the output
    directory is laid out by o_orderpriority, and the read-back filter
    becomes a PartitionFilter — only the two matching directories are
    scanned (asserted in tests/test_plans.py).  This is the layout that
    makes a 100 TB table cheap to query by its routing key."""
    import tempfile

    out = scratch_dir("sink_part_")
    staged = (T(spark, d, "orders")
              .select("o_orderkey", "o_custkey",
                      F.col("o_totalprice").cast("double")
                       .alias("o_totalprice"),
                      "o_orderpriority"))
    staged.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    # explicit schema: an EMPTY source writes no partition directories,
    # and schema inference over zero files fails — an empty layout must
    # read back as an empty frame, not an AnalysisException
    read = spark.read.schema(staged.schema).parquet(out)
    return (read
            .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    "o_orderpriority"))


@register(
    "join_dpp_partitioned",
    oracle="""
    WITH dim(priority, speed_class) AS (
        VALUES ('1-URGENT', 'rush'), ('2-HIGH', 'rush'),
               ('3-MEDIUM', 'std'), ('4-NOT SPECIFIED', 'std'),
               ('5-LOW', 'slow')
    )
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders o
    JOIN dim ON o.o_orderpriority = dim.priority
    WHERE dim.speed_class = 'rush'
    GROUP BY o.o_orderpriority
    """,
)
def join_dpp_partitioned(spark, d):
    """Dynamic partition pruning: the fact table is laid out by
    o_orderpriority, but the query filters the DIM side on an attribute
    (speed_class) — so which partitions survive is only known at
    runtime.  Spark's DPP turns the broadcast dim into a pruning
    subquery on the fact scan (dynamicpruning# in PartitionFilters,
    asserted in tests/test_plans.py): at 100 TB the fact directories
    for non-rush priorities are never listed, let alone read."""
    import tempfile

    out = scratch_dir("dpp_fact_")
    staged = (T(spark, d, "orders")
              .select("o_orderkey",
                      F.col("o_totalprice").cast("decimal(18,2)")
                       .alias("o_totalprice"),
                      "o_orderpriority"))
    staged.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    # explicit schema (see sink_partitioned): empty layouts must read back
    fact = spark.read.schema(staged.schema).parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "rush"), ("2-HIGH", "rush"), ("3-MEDIUM", "std"),
         ("4-NOT SPECIFIED", "std"), ("5-LOW", "slow")],
        ["priority", "speed_class"])
    return (fact.join(F.broadcast(dim).filter(F.col("speed_class") == "rush"),
                      fact.o_orderpriority == F.col("priority"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum("o_totalprice").cast("double").alias("total")))


@register(
    "scan_binary_files",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 20
    """,
)
def scan_binary_files(spark, d):
    """binaryFile source — the ingest path for opaque multimodal payloads
    (images/audio land as whole-file binary rows with path + length
    metadata).  Fixture setup materializes 20 documents as .bin files
    (bounded, setup-only); the OPERATOR is the distributed binaryFile
    scan + JVM-side projection: id parsed from the path, byte length,
    and content digest — verified byte-identical to the source rows.
    At 100 TB the scan parallelizes per file with no Python anywhere."""
    import os
    import tempfile

    rows = (T(spark, d, "documents").filter(F.col("doc_id") < 20)
            .select("doc_id", "text").collect())
    out = scratch_dir("binfiles_")
    for r in rows:
        with open(os.path.join(out, f"{r['doc_id']:05d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    b = spark.read.format("binaryFile").load(out)
    return b.select(
        F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("bigint")
        .alias("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"))


@register(
    "sink_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice > 1000.0
    """,
)
def sink_json_roundtrip(spark, d):
    """JSON-lines sink + schema-full scan round trip: the interchange
    format for systems that can't speak parquet.  The explicit read
    schema keeps types exact (no inference pass over the data — at
    100 TB, schema inference would be a full extra scan)."""
    import tempfile

    out = scratch_dir("sink_json_")
    src = (T(spark, d, "orders")
           .select("o_orderkey", "o_custkey",
                   F.col("o_totalprice").cast("double").alias("o_totalprice"),
                   "o_orderpriority")
           .filter(F.col("o_totalprice") > 1000.0))
    src.write.mode("overwrite").json(out)
    return spark.read.schema(src.schema).json(out)


@register(
    "scan_text",
    oracle="SELECT text AS value FROM documents WHERE text IS NOT NULL",
)
def scan_text(spark, d):
    """Whole-line text source (spark.read.text): the raw-corpus ingest
    path for LLM pipelines — one row per line, no parsing.  Written out
    from the documents fixture first so the round trip is byte-exact;
    reading N text files is embarrassingly parallel (one split per
    128 MB block, no shuffle).  NULL text is excluded on BOTH sides:
    the line format has no NULL representation (a NULL would silently
    round-trip as an empty line, conflating it with a real '' doc —
    caught by the r13 null-mirror widening)."""
    import tempfile

    out = scratch_dir("scan_text_")
    (T(spark, d, "documents").select("text")
     .filter(F.col("text").isNotNull())
     .write.mode("overwrite").text(out))
    return spark.read.text(out)


@register(
    "scan_csv_malformed",
    oracle="""
    WITH r AS (
        SELECT * FROM (VALUES
            (1, 'alpha', 10.5, FALSE),
            (3, 'gamma', 2.25, FALSE),
            (6, 'zeta', 0.75, FALSE),
            (NULL, NULL, NULL, TRUE),
            (NULL, NULL, NULL, TRUE),
            (NULL, NULL, NULL, TRUE)
        ) t(id, name, score, is_corrupt)
    )
    SELECT id, name, score, is_corrupt FROM r
    """,
)
def scan_csv_malformed(spark, d):
    """Malformed-input handling on a CSV scan: PERMISSIVE mode routes
    rows that fail the schema (non-numeric id, bad float, truncated
    line) into the columnNameOfCorruptRecord side-channel instead of
    failing the job or silently dropping data — the quarantine pattern
    a production ingest needs (count the bad rows, load the good ones;
    the fail-the-row discipline of fn_try_family at file-format level).
    The fixture file is written deterministically with three good and
    three malformed lines; the oracle pins exactly which rows parse and
    that every malformed line is captured, not dropped.  Projection
    keeps (typed columns, is_corrupt flag) so the hash verifies the
    ROUTING, independent of raw-line formatting."""
    import os

    path = os.path.join(scratch_dir("csv_malformed_"), "in.csv")
    with open(path, "w") as f:
        f.write("id,name,score\n"
                "1,alpha,10.5\n"
                "oops,beta,1.5\n"          # non-numeric id
                "3,gamma,2.25\n"
                "4,delta,not_a_float\n"    # bad float
                "6,zeta,0.75\n"
                "7,eta\n")                 # truncated line
    df = (spark.read
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .schema("id INT, name STRING, score DOUBLE, _bad STRING")
          .csv(path))
    return df.select(
        F.when(F.col("_bad").isNull(), F.col("id")).alias("id"),
        F.when(F.col("_bad").isNull(), F.col("name")).alias("name"),
        F.when(F.col("_bad").isNull(), F.col("score")).alias("score"),
        F.col("_bad").isNotNull().alias("is_corrupt"))


@register(
    "scan_parquet_schema_merge",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey >= 12
                THEN CAST(n_regionkey AS BIGINT) END AS n_regionkey
    FROM nation
    """,
)
def scan_parquet_schema_merge(spark, d):
    """Schema-merge scan over a parquet directory written in two
    generations — the on-disk face of schema evolution (the reference's
    ADD COLUMN, README.md:269-276, seen from the READER's side): batch 1
    lacks n_regionkey, batch 2 carries it, and mergeSchema=true
    reconciles the footers so old files read NULL for the new column.
    Spark leaves mergeSchema off by default because the footer
    reconciliation is a per-file planning cost — turning it on is a
    deliberate choice for evolving layouts; a production lakehouse
    records the schema in table metadata instead (icelite does exactly
    that), which is why this is a scan-family query, not a table_*
    one."""
    out = scratch_dir("scan_merge_")
    n = T(spark, d, "nation")
    (n.filter(F.col("n_nationkey") < 12)
     .select("n_nationkey", "n_name")
     .write.mode("overwrite").parquet(f"{out}/b1"))
    (n.filter(F.col("n_nationkey") >= 12)
     .select("n_nationkey", "n_name",
             F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
     .write.mode("overwrite").parquet(f"{out}/b2"))
    return (spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true").parquet(out))


@register(
    "scan_jdbc_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey <= 2000 AND o_totalprice > 50000.0
    """,
)
def scan_jdbc_partitioned(spark, d):
    """JDBC source with PARTITIONED parallel reads — the classic
    database-ingest scale path: partitionColumn/lowerBound/upperBound/
    numPartitions splits the table into 4 stride ranges so 4 tasks read
    concurrently (a single-connection JDBC read is the canonical
    ingest bottleneck), and the totalprice filter is PUSHED to the
    database (PushedFilters on the JDBC relation) instead of filtering
    post-transfer.  The database here is the in-JVM embedded Derby that
    ships with Spark (the only DB this offline container has); embedded
    Derby is single-JVM, so the seed write coalesces to one connection —
    on a real cluster the url points at a networked DB and the same
    read options fan out across executors unchanged.  Derby uppercases
    identifiers, so the read aliases columns back to the fixture's
    lowercase names."""
    base = scratch_dir("jdbc_db_")
    db = f"{base}/db"
    url = f"jdbc:derby:{db};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    # derby.log lands in derby.system.home (default: the process cwd —
    # which would pollute the repo); point it at scratch BEFORE the
    # engine boots.  No-op once derby is already booted in this JVM.
    spark.sparkContext._jvm.System.setProperty("derby.system.home", base)
    src = (T(spark, d, "orders").filter(F.col("o_orderkey") <= 2000)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    (src.coalesce(1).write.format("jdbc").option("url", url)
     .option("driver", drv).option("dbtable", "ORDERS_SRC")
     .mode("overwrite").save())
    out = (spark.read.format("jdbc").option("url", url)
           .option("driver", drv).option("dbtable", "ORDERS_SRC")
           .option("partitionColumn", "O_ORDERKEY")
           .option("lowerBound", "1").option("upperBound", "2000")
           .option("numPartitions", "4").load())
    return (out.filter(F.col("O_TOTALPRICE") > 50000.0)
            .select(F.col("O_ORDERKEY").alias("o_orderkey"),
                    F.col("O_CUSTKEY").alias("o_custkey"),
                    F.col("O_TOTALPRICE").alias("o_totalprice")))


@register(
    "scan_parquet_metadata_cols",
    oracle="""
    SELECT event_id, 'events.parquet' AS file_name,
           CAST(event_id AS BIGINT) AS row_index
    FROM events WHERE event_id % 1000 = 0
    """,
)
def scan_parquet_metadata_cols(spark, d):
    """Hidden file-metadata columns (`_metadata.file_name` /
    `_metadata.row_index`) — the row-provenance scan every
    position-delete and CDC implementation stands on (icelite's MoR
    path uses exactly these internally).  Row indexes are the file's
    physical order, identical in any parquet reader; the fixture writes
    events in event_id order as ONE file, so the oracle predicts
    row_index == event_id — an assumption pinned AT FIXTURE LEVEL by
    test_fixture_events_row_index_equals_event_id (DuckDB
    file_row_number), so the hash genuinely tests Spark's synthesized
    index against the file's physical order.  Zero extra IO: the index
    comes from the scanner, the name from the task's split."""
    return (spark.read.parquet(f"{d}/events.parquet")
            .select("event_id",
                    F.col("_metadata.file_name").alias("file_name"),
                    F.col("_metadata.row_index").alias("row_index"))
            .filter(F.col("row_index") % 1000 == 0))


@register(
    "sink_parquet_zstd",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_totalprice > 1000.0
    """,
)
def sink_parquet_zstd(spark, d):
    """Parquet sink with ZSTD column compression — the codec every
    100 TB warehouse actually deploys (2-3x smaller than snappy at
    similar scan cost, so the cluster-wide IO bill drops with it).
    Spark passes the codec through to parquet-mr per column chunk; the
    read-back hash-matches the source oracle, proving compression is
    transparent to values, and the footer's declared codec is
    pytest-pinned (tests/test_scratch… relational sink suite) so a
    silent fallback to uncompressed can't pass."""
    out = scratch_dir("sink_zstd_")
    df = (T(spark, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice",
                  "o_orderpriority")
          .filter(F.col("o_totalprice") > 1000.0))
    df.write.mode("overwrite").option("compression", "zstd").parquet(out)
    return spark.read.parquet(out)


_FW_TPL: dict[str, str] = {}
# (name, start 1-based, width); numbers right-aligned, text left-aligned
_FW_LAYOUT = [("id_pedido", 1, 20), ("produto", 21, 12),
              ("valor_unitario", 33, 10), ("quantidade", 43, 4),
              ("data_criacao", 47, 20), ("uf", 67, 2),
              ("id_cliente", 69, 8)]


def _fixed_width_file(spark) -> str:
    """Template-cached fixed-width render of the pedidos fixture: one
    76-char record per row, text left-padded / numbers right-padded —
    the COBOL copybook layout mainframe extracts still arrive in."""
    import os
    tpl = _FW_TPL.get("p")
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    out = scratch_dir("fixedwidth_")
    raw = (spark.read.option("header", "true").option("sep", ";")
           .csv(f"{FIXTURE_DIR}/pedidos.csv.gz"))
    line = F.format_string(
        "%-20s%-12s%10s%4s%-20s%-2s%8s",
        *[F.col(c) for c, _s, _w in _FW_LAYOUT])
    raw.select(line.alias("value")).coalesce(1).write.mode(
        "overwrite").text(out)
    _FW_TPL["p"] = out
    return out


@register(
    "scan_fixed_width",
    oracle=f"""
    SELECT id_pedido, produto,
           CAST(CAST(valor_unitario AS DECIMAL(10,2)) AS DOUBLE)
               AS valor_unitario,
           CAST(quantidade AS BIGINT) AS quantidade,
           CAST(CAST(data_criacao AS TIMESTAMP) AS VARCHAR)
               AS data_criacao_s,
           uf, CAST(id_cliente AS BIGINT) AS id_cliente
    FROM read_csv('{FIXTURE_DIR}/pedidos.csv.gz', delim=';', header=true,
                  columns={{'id_pedido':'VARCHAR','produto':'VARCHAR',
                           'valor_unitario':'VARCHAR','quantidade':'VARCHAR',
                           'data_criacao':'VARCHAR','uf':'VARCHAR',
                           'id_cliente':'VARCHAR'}})
    """,
)
def scan_fixed_width(spark, d):
    """Fixed-width (COBOL-copybook) text ingest (r12): the mainframe
    extract format Spark has no native reader for — spark.read.text
    plus a substring/trim/cast projection per field IS the reader, and
    it stays entirely inside whole-stage codegen (no UDF, no Python).
    The staged file renders the pedidos fixture at one 76-char record
    per row (text left-aligned, numbers right-aligned); the scan parses
    ONLY by byte positions, so a one-off column offset, a missing trim,
    or a swallowed padding blank shifts values and fails the CSV-oracle
    hash.

    Scale shape: a narrow map over the text scan — splittable like any
    line-oriented source, so 100 TB of fixed-width records parallelize
    by file split with zero shuffle."""
    src = _fixed_width_file(spark)
    txt = spark.read.text(src)
    fields = {name: F.trim(F.substring("value", start, width))
              for name, start, width in _FW_LAYOUT}
    return txt.select(
        fields["id_pedido"].alias("id_pedido"),
        fields["produto"].alias("produto"),
        fields["valor_unitario"].cast("decimal(10,2)").cast("double")
            .alias("valor_unitario"),
        fields["quantidade"].cast("bigint").alias("quantidade"),
        fields["data_criacao"].cast("timestamp").cast("string")
            .alias("data_criacao_s"),
        fields["uf"].alias("uf"),
        fields["id_cliente"].cast("bigint").alias("id_cliente"))


_MLJ_TPL: dict[str, str] = {}


def _multiline_json_file(spark) -> str:
    """Template-cached JSON-ARRAY render of the pedidos fixture: ONE
    top-level array spanning many lines — the shape REST exports and
    config dumps arrive in, which line-oriented JSONL readers cannot
    split."""
    import json as _json
    import os

    tpl = _MLJ_TPL.get("p")
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    out = scratch_dir("mljson_")
    raw = (spark.read.option("header", "true").option("sep", ";")
           .csv(f"{FIXTURE_DIR}/pedidos.csv.gz"))
    rows = [r.asDict() for r in raw.collect()]  # 1000-row fixture stage
    with open(os.path.join(out, "pedidos.json"), "w") as f:
        f.write(_json.dumps(rows, indent=1, sort_keys=True))
    _MLJ_TPL["p"] = out
    return out


@register(
    "scan_json_multiline",
    oracle=f"""
    SELECT id_pedido, produto,
           CAST(CAST(valor_unitario AS DECIMAL(10,2)) AS DOUBLE)
               AS valor_unitario,
           CAST(quantidade AS BIGINT) AS quantidade,
           CAST(CAST(data_criacao AS TIMESTAMP) AS VARCHAR)
               AS data_criacao_s,
           uf, CAST(id_cliente AS BIGINT) AS id_cliente
    FROM read_csv('{FIXTURE_DIR}/pedidos.csv.gz', delim=';', header=true,
                  columns={{'id_pedido':'VARCHAR','produto':'VARCHAR',
                           'valor_unitario':'VARCHAR','quantidade':'VARCHAR',
                           'data_criacao':'VARCHAR','uf':'VARCHAR',
                           'id_cliente':'VARCHAR'}})
    """,
)
def scan_json_multiline(spark, d):
    """multiLine JSON-array ingest (r12; completes the JSON source
    family next to scan_json_lines): one top-level array pretty-printed
    across thousands of lines — the REST-export shape — read with
    spark.read.option("multiLine", true) and an EXPLICIT schema (no
    inference pass), then cast per the reference's ingest discipline.
    The CSV oracle pins that the JSON staging + multiLine parse + casts
    lose nothing.

    Scale shape: a multiLine JSON file is NOT splittable (the parser
    must see the whole document) — one task per file, the documented
    trade vs scan_json_lines' line-splittable form; at 100 TB you
    shard into many array files and parallelism returns at file
    granularity."""
    src = _multiline_json_file(spark)
    schema = ("id_pedido string, produto string, valor_unitario string, "
              "quantidade string, data_criacao string, uf string, "
              "id_cliente string")
    raw = (spark.read.schema(schema).option("multiLine", "true")
           .json(src))
    return raw.select(
        "id_pedido", "produto",
        F.col("valor_unitario").cast("decimal(10,2)").cast("double")
            .alias("valor_unitario"),
        F.col("quantidade").cast("bigint").alias("quantidade"),
        F.col("data_criacao").cast("timestamp").cast("string")
            .alias("data_criacao_s"),
        "uf", F.col("id_cliente").cast("bigint").alias("id_cliente"))


_QCSV_TPL: dict[str, str] = {}


def _quoted_multiline_csv(spark) -> str:
    """Template-cached CSV render of the pedidos fixture where every
    produto of the SP rows carries an EMBEDDED NEWLINE inside a quoted
    field ("nota\\nfiscal" style) — the corner that breaks naive
    line-splitting readers."""
    import csv
    import gzip
    import os

    tpl = _QCSV_TPL.get("p")
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    out = scratch_dir("qcsv_")
    with gzip.open(f"{FIXTURE_DIR}/pedidos.csv.gz", "rt") as f:
        rows = list(csv.reader(f, delimiter=";"))
    header, body = rows[0], rows[1:]
    uf_ix, prod_ix = header.index("uf"), header.index("produto")
    for r in body:
        if r[uf_ix] == "SP":
            r[prod_ix] = r[prod_ix] + "\nlinha2"
    with open(os.path.join(out, "pedidos.csv"), "w", newline="") as f:
        w = csv.writer(f, delimiter=";", quoting=csv.QUOTE_MINIMAL)
        w.writerow(header)
        w.writerows(body)
    _QCSV_TPL["p"] = out
    return out


@register(
    "scan_csv_quoted_multiline",
    oracle=f"""
    SELECT id_pedido,
           CASE WHEN uf = 'SP' THEN produto || chr(10) || 'linha2'
                ELSE produto END AS produto,
           CAST(CAST(valor_unitario AS DECIMAL(10,2)) AS DOUBLE)
               AS valor_unitario,
           CAST(quantidade AS BIGINT) AS quantidade,
           CAST(CAST(data_criacao AS TIMESTAMP) AS VARCHAR)
               AS data_criacao_s,
           uf, CAST(id_cliente AS BIGINT) AS id_cliente
    FROM read_csv('{FIXTURE_DIR}/pedidos.csv.gz', delim=';', header=true,
                  columns={{'id_pedido':'VARCHAR','produto':'VARCHAR',
                           'valor_unitario':'VARCHAR','quantidade':'VARCHAR',
                           'data_criacao':'VARCHAR','uf':'VARCHAR',
                           'id_cliente':'VARCHAR'}})
    """,
)
def scan_csv_quoted_multiline(spark, d):
    """Quoted-multiline CSV ingest (r12; the parser corner
    scan_csv_malformed's PERMISSIVE arm doesn't reach): every SP row's
    produto carries an embedded newline inside a QUOTED field, so a
    reader that splits records on raw line boundaries shears those rows
    in two.  Spark's CSV source handles it only with multiLine=true;
    the oracle rebuilds the expected value (produto || newline ||
    'linha2') from the pristine fixture, so a sheared row, a swallowed
    quote, or a lost newline all fail on values.

    Scale shape: like scan_json_multiline, multiLine CSV gives up
    record-boundary splitting (quotes can span any split point) — one
    task per file, restored by sharding into many files at 100 TB; the
    single-line default stays the splittable fast path when fields are
    newline-free."""
    src = _quoted_multiline_csv(spark)
    raw = (spark.read.option("header", "true").option("sep", ";")
           .option("multiLine", "true").csv(src))
    return raw.select(
        "id_pedido", "produto",
        F.col("valor_unitario").cast("decimal(10,2)").cast("double")
            .alias("valor_unitario"),
        F.col("quantidade").cast("bigint").alias("quantidade"),
        F.col("data_criacao").cast("timestamp").cast("string")
            .alias("data_criacao_s"),
        "uf", F.col("id_cliente").cast("bigint").alias("id_cliente"))


_RG_TPL: dict[str, str] = {}


def _rowgrouped_lineitem(spark, d) -> str:
    """Template-cached multi-row-group render of lineitem: four bucket
    files (l_orderkey % 4), each sorted by (l_orderkey, l_linenumber)
    and written via pyarrow with row_group_size=5000 — the fixture
    parquet ships as ONE row group, so row-group-level behaviors need a
    staged file that actually has several."""
    import os

    import pyarrow.parquet as pq

    from ..scratch import scratch_dir

    tpl = _RG_TPL.get(d)
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    import duckdb

    tpl = scratch_dir("rowgroups_")
    con = duckdb.connect()
    for b in range(4):
        t = con.sql(f"""
            SELECT * FROM read_parquet('{d}/lineitem.parquet')
            WHERE l_orderkey % 4 = {b}
            ORDER BY l_orderkey, l_linenumber""").arrow()
        pq.write_table(t, os.path.join(tpl, f"bucket{b}.parquet"),
                       row_group_size=5000)
    con.close()
    _RG_TPL[d] = tpl
    return tpl


@register(
    "scan_parquet_rowgroup_stats",
    oracle="""
    WITH ordered AS (
        SELECT l_orderkey % 4 AS bucket, l_extendedprice,
               row_number() OVER (PARTITION BY l_orderkey % 4
                                  ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST((rn - 1) // 5000 AS BIGINT) AS row_group,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           max(l_extendedprice) < 90000.0 AS prunable
    FROM ordered GROUP BY 1, 2
    """,
)
def scan_parquet_rowgroup_stats(spark, d):
    """Parquet row-group statistics scan (r12): read ONLY the footers
    of a multi-row-group staging of lineitem (4 bucket files x 5000-row
    groups) and report, per row group, the row count, the
    l_extendedprice min/max, and whether a ``l_extendedprice >= 90000``
    predicate could PRUNE the whole group — the exact decision Spark's
    parquet reader (and every lakehouse scan planner) makes from these
    stats before touching data pages.  The oracle recomputes every
    figure from the DATA via the same deterministic (bucket, sort,
    5000-chunk) layout, so the hash pins footer truth: a writer that
    mis-ordered rows, mis-sized groups, or recorded wrong min/max
    fails on values.

    Scale shape: the Spark side is a mapInPandas over the FILE LIST —
    one pyarrow ``read_metadata`` per file, zero data pages read, one
    task per file; a 100 TB table's stats scan costs O(files), which
    is why engines cache exactly this projection as their scan index."""
    src = _rowgrouped_lineitem(spark, d)
    import os

    files = sorted(os.listdir(src))
    paths = spark.createDataFrame(
        [(os.path.join(src, f),) for f in files], "path string")

    def footer_stats(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.read_metadata(path)
                names = md.schema.names
                col_idx = names.index("l_extendedprice")
                bucket = int(os.path.basename(path)[6])
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    out.append((bucket, rg, md.row_group(rg).num_rows,
                                float(st.min), float(st.max),
                                float(st.max) < 90000.0))
            yield pd.DataFrame(out, columns=[
                "bucket", "row_group", "n_rows", "min_price", "max_price",
                "prunable"])

    return paths.mapInPandas(
        footer_stats,
        "bucket bigint, row_group bigint, n_rows bigint, "
        "min_price double, max_price double, prunable boolean")


_WT_TPL: dict[str, str] = {}


def _wholetext_files(spark, d) -> str:
    """Template-cached 3-bucket text render of lineitem keys: bucket
    b = l_orderkey % 3, one text file per bucket, lines
    "orderkey,linenumber" in (orderkey, linenumber) order — a layout
    the oracle can rebuild byte-for-byte with string_agg."""
    import os

    from ..scratch import scratch_dir
    from ..sources import load

    tpl = _WT_TPL.get(d)
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    tpl = scratch_dir("wholetext_")
    li = (load(spark, d, "lineitem")
          .select((F.col("l_orderkey") % 3).cast("int").alias("b"),
                  F.concat_ws(",", F.col("l_orderkey"),
                              F.col("l_linenumber")).alias("value"),
                  "l_orderkey", "l_linenumber"))
    (li.repartition(3, "b")
     .sortWithinPartitions("b", "l_orderkey", "l_linenumber")
     .select("b", "value")
     .write.partitionBy("b").mode("overwrite").text(tpl))
    _WT_TPL[d] = tpl
    return tpl


@register(
    "scan_text_wholefile",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey % 3 AS b,
               l_orderkey || ',' || l_linenumber AS line,
               l_orderkey, l_linenumber
        FROM lineitem
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_lines,
           md5(string_agg(line, chr(10)
                          ORDER BY l_orderkey, l_linenumber)
               || chr(10)) AS content_md5
    FROM lines GROUP BY b
    """,
)
def scan_text_wholefile(spark, d):
    """Whole-file text ingest (r12): ``spark.read.text(...,
    wholetext=True)`` — ONE ROW PER FILE instead of per line, the mode
    that feeds document-level parsers (a log bundle, a source file, a
    transcript) where line-splitting would destroy the unit of work.
    Three staged bucket files carry lineitem keys in a pinned order;
    the query reads each file whole, recovers the bucket from the
    partition path, and emits line count + the md5 of the EXACT byte
    content — which the oracle rebuilds with an ordered string_agg, so
    a dropped trailing newline, reordered write, or partial read fails
    the hash.

    Scale shape: wholetext makes the FILE the parallelism unit (one
    task per file, no line splitting) — the documented trade: fine for
    many modest files (the document corpus shape), wrong for one giant
    file; row-level sources stay the splittable path."""
    src = _wholetext_files(spark, d)
    txt = (spark.read.option("recursiveFileLookup", "false")
           .text(f"{src}/b=*", wholetext=True)
           .select(F.col("value"),
                   F.regexp_extract(F.col("_metadata.file_path"),
                                    r"b=(\d+)", 1).cast("bigint")
                   .alias("bucket")))
    return txt.select(
        "bucket",
        (F.size(F.split("value", "\n")) - 1).cast("bigint")
        .alias("n_lines"),
        F.md5(F.col("value").cast("binary")).alias("content_md5"))


_PEDIDOS_CSV_ORACLE = f"""
    SELECT id_pedido, produto,
           CAST(CAST(valor_unitario AS DECIMAL(10,2)) AS DOUBLE) AS valor_unitario,
           CAST(quantidade AS BIGINT) AS quantidade,
           CAST(CAST(data_criacao AS TIMESTAMP) AS VARCHAR) AS data_criacao_s,
           uf, CAST(id_cliente AS BIGINT) AS id_cliente
    FROM read_csv('{FIXTURE_DIR}/pedidos.csv.gz', delim=';', header=true,
                  columns={{'id_pedido':'VARCHAR','produto':'VARCHAR',
                           'valor_unitario':'VARCHAR','quantidade':'VARCHAR',
                           'data_criacao':'VARCHAR','uf':'VARCHAR',
                           'id_cliente':'VARCHAR'}})
"""


_CSV_REORDER_TPL: dict[str, str] = {}


def _reordered_csv_files(spark) -> str:
    """Template-cached two-file CSV render of the pedidos fixture with
    DIFFERENT column orders (the multi-exporter reality: each upstream
    system writes its own header order)."""
    import csv
    import gzip
    import os

    tpl = _CSV_REORDER_TPL.get("pedidos")
    if tpl is not None and os.path.isdir(tpl):
        return tpl
    tpl = scratch_dir("csv_reorder_")
    with gzip.open(f"{FIXTURE_DIR}/pedidos.csv.gz", "rt") as f:
        rows = list(csv.DictReader(f, delimiter=";"))
    orders = {
        "a.csv": ["id_pedido", "produto", "valor_unitario", "quantidade",
                  "data_criacao", "uf", "id_cliente"],
        "b.csv": ["id_cliente", "uf", "data_criacao", "quantidade",
                  "valor_unitario", "produto", "id_pedido"],
    }
    for i, (name, cols) in enumerate(sorted(orders.items())):
        part = [r for j, r in enumerate(rows) if j % 2 == i]
        with open(os.path.join(tpl, name), "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=cols, delimiter=";")
            w.writeheader()
            w.writerows(part)
    _CSV_REORDER_TPL["pedidos"] = tpl
    return tpl


@register("scan_csv_column_reorder", oracle=_PEDIDOS_CSV_ORACLE)
def scan_csv_column_reorder(spark, d):
    """Header-driven column reconciliation (r12): two CSV exports of
    the same table with DIFFERENT column orders (each upstream system
    writes its own header) — each file is read with header=True so
    columns bind by NAME, then ``unionByName`` reassembles the table;
    a positional union would silently transpose id_cliente into
    id_pedido and fail the CSV-oracle hash on values.

    Scale shape: per-file narrow scans + a zero-shuffle union; schema
    reconciliation is parse-time."""
    src = _reordered_csv_files(spark)
    from ..sources import read_csv

    a = read_csv(spark, f"{src}/a.csv", sep=";", header=True)
    b = read_csv(spark, f"{src}/b.csv", sep=";", header=True)
    raw = a.unionByName(b)
    return raw.select(
        "id_pedido", "produto",
        F.col("valor_unitario").cast("decimal(10,2)").cast("double")
        .alias("valor_unitario"),
        F.col("quantidade").cast("bigint").alias("quantidade"),
        F.col("data_criacao").cast("timestamp").cast("string")
        .alias("data_criacao_s"),
        "uf",
        F.col("id_cliente").cast("bigint").alias("id_cliente"))
