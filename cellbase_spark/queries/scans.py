"""Source/sink queries (SURVEY.md §2.1 S1-S7).

S2/S7 are the reference's core capability — spreadsheet (CSV with header
row) ingestion and export with declared types (SURVEY.md §1.2); parquet is
the engine's performance-native format.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark import schemas
from cellbase_spark.io import (
    load_table,
    read_csv_table,
    scratch_path,
    scratch_table,
    write_bucketed,
    write_csv_table,
)
from cellbase_spark.registry import register


@register(
    "q_scan_parquet",
    family="scan",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_returnflag = 'R'
""",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected+filtered parquet scan: Catalyst pushes both the column
    subset (ReadSchema) and the predicate (PushedFilters) into the scan —
    at 100 TB only matching row groups of 4 columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@register(
    "q_point_lookup",
    family="scan",
    oracle="SELECT * FROM customer WHERE c_custkey = 42",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key lookup — the reference's `get row by id` dictionary hit
    (SURVEY.md §3.1). Spark-side it's an equality predicate pushed to
    parquet: row-group statistics skip everything but the matching stripe,
    so the 100 TB cost is one row group, not a scan."""
    c = load_table(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") == 42)


@register(
    "q_point_lookup_bucketed",
    family="scan",
    oracle="SELECT * FROM customer WHERE c_custkey = 42",
)
def q_point_lookup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the KEY-BUCKETED persisted layout (round 12, r11
    verdict #5) — q_point_lookup's answer at 100 TB. The plain-parquet
    lookup pushes the predicate down but still lists and min/max-prunes
    every file; here the equality predicate on the bucket key prunes to
    ONE of 16 buckets before any IO (`SelectedBucketsCount: 1 out of 16`,
    plan-pinned in tests/test_plans.py), and the in-bucket key sort keeps
    the final row-group pushdown tight. Layout built once per process+sf
    via io.ensure_bucketed_table; same oracle as q_point_lookup — the
    layout must lose nothing."""
    from cellbase_spark.io import ensure_bucketed_table

    t = ensure_bucketed_table(spark, sf_dir, "customer", "c_custkey", 16)
    return spark.table(t).where(F.col("c_custkey") == 42)


@register(
    "q_point_lookup_attach",
    family="scan",
    oracle="SELECT * FROM customer WHERE c_custkey = 42",
)
def q_point_lookup_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on an ATTACHED bucketed layout built by a DIFFERENT
    process (round 14 — the cross-session attach mechanism applied to
    the THIRD artifact family, the one r13's verdict named first:
    io.ensure_bucketed_table's layouts were (process, sf)-keyed, so a
    fresh session re-paid the layout build before its first lookup).
    io.attach_bucketed_table publishes the layout once per (sf, source
    signature) from a separate ingest interpreter; serving sessions pay
    catalog registration only, and the manifest's recorded bucket spec
    recreates `SelectedBucketsCount: 1 out of 16` pruning in the
    foreign catalog (plan-pinned in tests/test_plans.py). Same oracle
    as q_point_lookup — attach must lose nothing."""
    from cellbase_spark.io import attach_bucketed_table

    t = attach_bucketed_table(spark, sf_dir, "customer", "c_custkey", 16)
    return spark.table(t).where(F.col("c_custkey") == 42)


@register(
    "q_scan_csv",
    family="scan",
    oracle="SELECT * FROM nation",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spreadsheet round-trip: export nation to CSV (header row first, the
    reference's table-as-sheet layout), re-ingest with the declared schema,
    and return it — cells come back coerced to the declared types exactly.
    Oracle compares against the original parquet table: lossless."""
    n = load_table(spark, sf_dir, "nation")
    out = os.path.join(tempfile.gettempdir(), "cellbase_spark_csv", "nation")
    write_csv_table(n, out)
    return read_csv_table(spark, out, schemas.NATION)


@register(
    "q_scan_csv_dialect",
    family="scan",
    oracle="""
SELECT n_nationkey,
       concat(' ', n_name, ',', '"x""y"', chr(10), 'tail ') AS hostile,
       n_regionkey
FROM nation
""",
)
def q_scan_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hostile-dialect CSV round-trip (round 12, r11 verdict #6): cell
    values carrying embedded delimiters, embedded double quotes, embedded
    NEWLINES (multi-line records), and significant leading/trailing
    whitespace — the quoting corners that silently corrupt naive CSV
    pipelines. Written RFC-4180 style (escape='"' doubles quotes instead
    of Spark's default backslash escaping, whitespace preservation forced
    off the writer's trim default), read back with multiLine=true + the
    declared schema. Oracle computes the same derived column in SQL over
    the original parquet — the hash matches only if every byte survives
    the round trip."""
    n = load_table(spark, sf_dir, "nation")
    hostile = n.select(
        "n_nationkey",
        F.concat(
            F.lit(" "), F.col("n_name"), F.lit(','), F.lit('"x""y"'),
            F.lit("\n"), F.lit("tail "),
        ).alias("hostile"),
        "n_regionkey",
    )
    # Fresh private dir per call — same directory-scan race as the other
    # round-trip keys.
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_csv_dialect_")
    (
        hostile.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out_dir)
    )
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("n_nationkey int, hostile string, n_regionkey int")
        .csv(out_dir)
    )


@register(
    "q_scan_excel",
    family="scan",
    oracle="SELECT * FROM nation",
)
def q_scan_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel round-trip — the reference's native format (SURVEY.md §2.1 S4,
    previously out-of-scope; now in via the stdlib-only xlsx source in
    sources/excel.py): export nation to an .xlsx workbook, re-ingest it
    distributed (binaryFile + mapInPandas XML parse), cells coerced to the
    declared schema. Oracle compares against the original table."""
    from cellbase_spark.sources.excel import read_excel_table, write_xlsx

    n = load_table(spark, sf_dir, "nation")
    # Fresh private dir per call: read_excel_table scans the whole
    # directory via binaryFile, so a shared fixed path would race with a
    # concurrent run (or union in stray .xlsx) and break the hash.
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_xlsx_")
    rows = [[r["n_nationkey"], r["n_name"], r["n_regionkey"]] for r in n.collect()]
    write_xlsx(rows, os.path.join(out_dir, "nation.xlsx"),
               header=["n_nationkey", "n_name", "n_regionkey"])
    return read_excel_table(spark, out_dir, schemas.NATION)


@register(
    "q_scan_workbook",
    family="scan",
    oracle="""
SELECT n.n_nationkey, n.n_name, r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def q_scan_workbook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sheet workbook ingestion — the reference's core unit of work
    is a workbook of several named sheets loaded as a database. Authors
    one .xlsx with `region` and `nation` sheets, loads it back via
    read_workbook (name-resolved through workbook.xml + rels, parsed
    distributed per sheet), and joins the two sheets — proving each named
    sheet round-trips as an independent typed table. Oracle: the same
    join on the original parquet tables."""
    from cellbase_spark.sources.excel import read_workbook, write_xlsx_workbook

    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    # Fresh private dir per call — same directory-scan race as
    # q_scan_excel above.
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_workbook_")
    write_xlsx_workbook(
        {
            "region": (
                ["r_regionkey", "r_name"],
                [[x["r_regionkey"], x["r_name"]] for x in r.collect()],
            ),
            "nation": (
                ["n_nationkey", "n_name", "n_regionkey"],
                [[x["n_nationkey"], x["n_name"], x["n_regionkey"]] for x in n.collect()],
            ),
        },
        os.path.join(out_dir, "dims.xlsx"),
    )
    sheets = read_workbook(
        spark, out_dir, {"region": schemas.REGION, "nation": schemas.NATION}
    )
    return sheets["nation"].join(
        sheets["region"],
        sheets["nation"]["n_regionkey"] == sheets["region"]["r_regionkey"],
    ).select("n_nationkey", "n_name", "r_name")


@register(
    "q_scan_ods",
    family="scan",
    oracle="""
SELECT n.n_nationkey, n.n_name, r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def q_scan_ods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenDocument (.ods) round-trip — the LibreOffice half of the
    reference's spreadsheet-family story (r11 verdict task #3; SURVEY.md
    §2.1 S19). Authors one .ods with `region` and `nation` sheets via the
    stdlib ODF writer, re-ingests both sheets distributed (binaryFile +
    mapInPandas content.xml parse, sources/ods.py), and joins them —
    proving each named sheet round-trips as an independent typed table
    through the ODF cell model (typed value attributes, text:p fallback,
    run-length repeats). Oracle: the same join on the original parquet."""
    from cellbase_spark.sources.ods import read_ods_workbook, write_ods_workbook

    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    # Fresh private dir per call — same directory-scan race as
    # q_scan_excel above.
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_ods_")
    write_ods_workbook(
        {
            "region": (
                ["r_regionkey", "r_name"],
                [[x["r_regionkey"], x["r_name"]] for x in r.collect()],
            ),
            "nation": (
                ["n_nationkey", "n_name", "n_regionkey"],
                [[x["n_nationkey"], x["n_name"], x["n_regionkey"]] for x in n.collect()],
            ),
        },
        os.path.join(out_dir, "dims.ods"),
    )
    sheets = read_ods_workbook(
        spark, out_dir, {"region": schemas.REGION, "nation": schemas.NATION}
    )
    return sheets["nation"].join(
        sheets["region"],
        sheets["nation"]["n_regionkey"] == sheets["region"]["r_regionkey"],
    ).select("n_nationkey", "n_name", "r_name")


@register(
    "q_scan_xlsx_pyds",
    family="scan",
    oracle="SELECT * FROM nation",
)
def q_scan_xlsx_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source face of the xlsx capability (S4c):
    the same nation round-trip as q_scan_excel, but ingested through a
    REGISTERED DataSource — format('cellbase_xlsx') with explicit
    partition planning (one InputPartition per workbook file) instead of
    the binaryFile+mapInPandas composition. Proves the engine speaks the
    modern pluggable-source API end-to-end: registration, schema
    contract, partition planning, executor-side typed reads."""
    from cellbase_spark.sources.excel import write_xlsx
    from cellbase_spark.sources.pyds import register as register_pyds

    n = load_table(spark, sf_dir, "nation")
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_pyds_")
    rows = [[r["n_nationkey"], r["n_name"], r["n_regionkey"]] for r in n.collect()]
    write_xlsx(rows, os.path.join(out_dir, "nation.xlsx"),
               header=["n_nationkey", "n_name", "n_regionkey"])
    register_pyds(spark)
    return (
        spark.read.format("cellbase_xlsx")
        .schema(schemas.NATION)
        .load(out_dir)
    )


@register(
    "q_roundtrip_xlsx_pyds",
    family="scan",
    oracle="SELECT * FROM nation",
)
def q_roundtrip_xlsx_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DISTRIBUTED xlsx round trip through the Spark 4 Python Data
    Source (S4c write face): df.write.format('cellbase_xlsx') fans nation
    out as one part-N.xlsx per partition (executor-side, no driver
    collect), then the registered reader scans the directory back —
    partition planning on the same files the sink just wrote. The whole
    loop is the pluggable-source contract: writer, commit protocol,
    reader, schema coercion."""
    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    n = load_table(spark, sf_dir, "nation")
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_pyds_rt_")
    (
        n.repartition(3)
        .write.format("cellbase_xlsx")
        .mode("append")
        .save(out_dir)
    )
    return (
        spark.read.format("cellbase_xlsx")
        .schema(schemas.NATION)
        .load(out_dir)
    )


@register(
    "q_roundtrip_ods_pyds",
    family="scan",
    oracle="SELECT * FROM nation",
)
def q_roundtrip_ods_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DISTRIBUTED .ods round trip through the Spark 4 Python Data
    Source (round 12 — the OpenDocument face of S4c/S4d):
    df.write.format('cellbase_ods') fans nation out as one part-N.ods per
    partition (executor-side, no driver collect), then the registered
    reader scans the directory back with explicit partition planning.
    Same writer/commit/reader/coercion contract as the xlsx loop —
    only the cell-grid codec differs (sources/ods.py)."""
    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    n = load_table(spark, sf_dir, "nation")
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_pyds_ods_rt_")
    (
        n.repartition(3)
        .write.format("cellbase_ods")
        .mode("append")
        .save(out_dir)
    )
    return (
        spark.read.format("cellbase_ods")
        .schema(schemas.NATION)
        .load(out_dir)
    )


@register(
    "q_roundtrip_write",
    family="scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderstatus = 'F'
""",
)
def q_roundtrip_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink round-trip (filtered orders out, read back). Parquet
    preserves types bit-exactly (incl. timestamps), so the oracle is the
    original table under the same filter."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    o = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    out = os.path.join(tempfile.gettempdir(), "cellbase_spark_pq", "orders_f")
    o.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "q_scan_jsonl",
    family="scan",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type IN ('click', 'purchase')
""",
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip (S3): export a filtered events projection to
    JSONL, re-ingest with a declared schema (no inference pass), compare
    against the source table. JSONL is the interchange format of LLM data
    pipelines; the declared schema keeps the scan single-pass at scale."""
    from cellbase_spark.io import read_jsonl_table

    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "user_id", "event_type", "value")
    out = scratch_path(sf_dir, "jsonl", "events")
    e.write.mode("overwrite").json(out)
    return read_jsonl_table(
        spark, out, schema="event_id long, user_id long, event_type string, value double"
    ).select("event_id", "user_id", "event_type", "value")


@register(
    "q_partitioned_write",
    family="scan",
    oracle="""
SELECT l_linestatus,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_linestatus
""",
)
def q_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan (S10): lineitem
    written partitionBy(l_returnflag), read back with an equality filter
    on the partition column. The filter resolves at PLANNING time against
    directory names — the 'A' and 'N' partitions are never opened
    (PartitionFilters in the scan node, asserted in tests/test_plans.py).
    At 100 TB this is the difference between scanning 1/3 of the lake and
    all of it; the oracle proves pruning loses no rows."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    out = scratch_path(sf_dir, "part", "lineitem")
    l.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(25,10)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "q_dpp_join",
    family="scan",
    oracle="""
WITH dim AS (
  SELECT event_type, MIN(event_id) AS first_seen
  FROM events GROUP BY event_type
  HAVING MIN(event_id) < 3
)
SELECT e.event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(25,10))), 2) AS DOUBLE)
         AS sum_value
FROM events e JOIN dim ON e.event_type = dim.event_type
GROUP BY e.event_type
""",
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is a Hive-partitioned
    sink (events partitioned by event_type) joined to a dim relation on
    the PARTITION column, where the dim's own filter sits on an
    AGGREGATE-DERIVED attribute (first-seen event id) — so no static
    predicate on the partition column can be inferred at planning time
    (a literal dim filter on the join key itself gets constraint-
    propagated into an ordinary planning-time PartitionFilter; probed
    empirically). The qualifying partitions are only known after the
    dim evaluates, and Catalyst inserts a dynamicpruningexpression
    subquery on the fact scan that reuses the broadcast: only the
    surviving event_type directories are ever opened (asserted in
    tests/test_plans.py).

    At 100 TB this is the star-join lifesaver: a date-dim filtered on
    d_year prunes a fact partitioned by d_date_sk to the qualifying
    days with no literal date predicate on the fact. The oracle proves
    pruning loses no rows."""
    ev = load_table(spark, sf_dir, "events")
    out = scratch_path(sf_dir, "part", "events")
    ev.select("event_id", "value", "event_type").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        ev.groupBy("event_type")
        .agg(F.min("event_id").alias("first_seen"))
        .where(F.col("first_seen") < 3)
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(25,10)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "q_bucketed_join",
    family="scan",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE)
         AS sum_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100 TB shuffle-elimination story:
    both fact tables are written in 8 orderkey buckets, sorted on
    orderkey (`io.write_bucketed`), so the sort-merge join reads bucket
    i of each side into the same task, and the join plans with NO
    shuffle Exchange on either side (pinned in tests/test_plans.py). At
    100 TB this converts every orders⋈lineitem from two table-wide
    shuffles into a scan-local merge — the payoff of paying the shuffle
    once at layout time.

    The tables are EXTERNAL (explicit path under the system temp dir),
    so the key never depends on the calling session's warehouse
    location, and stale registrations from a prior run are dropped
    first. The oracle proves the bucketed layout loses no rows."""
    base = scratch_path(sf_dir, "bucketed")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    t_orders = scratch_table(sf_dir, "cb_b_orders")
    t_lineitem = scratch_table(sf_dir, "cb_b_lineitem")
    # one file per bucket, so the sorted-bucket scan order is trusted and
    # the SMJ needs neither Exchange NOR Sort (see session._RUNTIME_CONF)
    for name, df, key in (
        (t_orders, o, "o_orderkey"),
        (t_lineitem, li, "l_orderkey"),
    ):
        write_bucketed(df, name, os.path.join(base, name), key, 8)
    bo = spark.table(t_orders)
    bl = spark.table(t_lineitem)
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(25,10)")), 2)
            .cast("double")
            .alias("sum_qty"),
        )
    )


@register(
    "q_compact_files",
    family="scan",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE)
         AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(25,10))), 2) AS DOUBLE)
         AS sum_price,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the table-maintenance verb every long-
    running ingest needs (streaming sinks and frequent batch appends
    leave thousands of KB-sized files; at 100 TB the file-listing and
    per-file open cost dominate scans long before the data does).

    A deliberately fragmented copy of lineitem (64 files, written once
    per process+sf) is compacted with `coalesce(target)` where target =
    ceil(input_bytes / 128 MB): coalesce is a NARROW dependency — no
    shuffle, each output task concatenates whole input files — which is
    the correct compaction plan (repartition would shuffle every byte;
    it is only warranted when re-clustering, which is Z1 `q_zorder`'s
    job). The returned frame re-reads the compacted table and proves
    content preservation: exact row count, two exact-decimal sums, and
    the distinct key count must equal the SOURCE table's (the oracle
    never sees the scratch copies). tests/test_bucketing.py additionally
    asserts the file count actually dropped and the compact job's plan
    has no Exchange."""
    import math
    import os

    li = load_table(spark, sf_dir, "lineitem")
    frag = scratch_path(sf_dir, "frag", "lineitem")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        li.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = scratch_path(sf_dir, "compacted", "lineitem")
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        n_bytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag)
            if f.endswith(".parquet")
        )
        target = max(1, math.ceil(n_bytes / (128 * 1024 * 1024)))
        spark.read.parquet(frag).coalesce(target).write.mode(
            "overwrite"
        ).parquet(compacted)
    back = spark.read.parquet(compacted)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(25,10)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(25,10)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "q_schema_evolution",
    family="scan",
    oracle="""
SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
FROM nation WHERE n_nationkey < 20
UNION ALL
SELECT n_nationkey, n_name, n_regionkey
FROM nation WHERE n_nationkey >= 20
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workbook schema EVOLUTION across table generations (round 13,
    r12 verdict #4; SURVEY.md §2.14 S23): generation-1 sheets carry
    (n_nationkey, n_name); generation-2 sheets grew an n_regionkey
    column. Reading the WHOLE directory under the evolved declared
    schema with schema_mode='evolve' serves both generations in one
    scan — old files null-fill the new column, exactly parquet's
    mergeSchema semantics re-expressed for the spreadsheet sources
    (sources/grid.py pins the contract; 'strict', the default, raises
    a typed error naming the drifted columns instead — tested in
    tests/test_ods.py / test_excel.py).

    Scale: evolution is resolved per file inside the same one-file-one-
    task mapInPandas kernel as every workbook scan — no repair rewrite
    of old generations, no second pass."""
    from cellbase_spark.sources.ods import write_ods

    n = load_table(spark, sf_dir, "nation")
    out_dir = tempfile.mkdtemp(prefix="cellbase_spark_evo_")
    gen1 = [
        [x["n_nationkey"], x["n_name"]]
        for x in n.where("n_nationkey < 20").collect()
    ]
    gen2 = [
        [x["n_nationkey"], x["n_name"], x["n_regionkey"]]
        for x in n.where("n_nationkey >= 20").collect()
    ]
    write_ods(
        gen1, os.path.join(out_dir, "gen1.ods"),
        header=["n_nationkey", "n_name"],
    )
    write_ods(
        gen2, os.path.join(out_dir, "gen2.ods"),
        header=["n_nationkey", "n_name", "n_regionkey"],
    )
    from cellbase_spark.sources.ods import read_ods_table

    return read_ods_table(spark, out_dir, schemas.NATION, schema_mode="evolve")


@register(
    "q_vacuum",
    family="scan",
    oracle="""
SELECT * FROM (VALUES
  ('gen0', 'deleted'),
  ('gen1', 'deleted'),
  ('gen2', 'kept'),
  ('gen2_tombstones', 'kept'),
  ('gen3_young', 'kept')
) AS t(entry, outcome)
""",
)
def q_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention VACUUM as an oracle-gated verb (round 13, r12 verdict
    #6; SURVEY §2.14 S24): builds a generation home with two superseded
    old generations (gen0, gen1), the live generation (gen2) plus its
    tombstone sibling, and one YOUNG superseded generation (gen3_young,
    still inside the crash window), then runs
    operators/publish.vacuum_generations(live=gen2, older_than=1h) and
    reports every entry's fate. The contract under the hash gate:
    exactly the old superseded generations are deleted; the live
    generation, its tombstone side-table, and anything young enough to
    be an in-flight writer survive.

    Determinism: outcomes depend only on the constructed layout and the
    pinned retention rules, never on wall-clock or path randomness —
    ages are set explicitly with os.utime, and the report carries
    basenames. Scale: vacuum cost is one directory listing + per-
    candidate tree walks; it never reads data files."""
    import time

    from cellbase_spark.operators.publish import vacuum_generations

    root = scratch_path(sf_dir, "vacuum_home")
    # reset the fixture (the key must be re-runnable in one process)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    old = time.time() - 7200
    entries = ["gen0", "gen1", "gen2", "gen2_tombstones", "gen3_young"]
    for name in entries:
        d = os.path.join(root, name)
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as f:
            f.write("x")
        if name != "gen3_young":
            for p in (os.path.join(d, "part-0"), d):
                os.utime(p, (old, old))
    deleted = {
        os.path.basename(p)
        for p in vacuum_generations(
            spark, root, os.path.join(root, "gen2"), older_than_sec=3600
        )
    }
    rows = [
        (name, "deleted" if name in deleted else "kept") for name in entries
    ]
    return spark.createDataFrame(rows, "entry string, outcome string")
