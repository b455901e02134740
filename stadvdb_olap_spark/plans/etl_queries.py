"""ETL-parity catalog queries — SURVEY.md §2.1–§2.8 and §3.2/§3.3.

Each query re-expresses a reference pipeline stage over the TPC-H-ish
fixtures (customer≈users, part≈products, orders≈orders,
lineitem≈orderitems, nation/region≈location domain) with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stadvdb_olap_spark.functions.cleaning import (
    ceil_to_cents,
    coerce_numeric,
    normalize_date,
    parse_datetime_mixed,
    recode,
    titlecase_exact,
)
from stadvdb_olap_spark.functions.keys import surrogate_key, surrogate_key_sql
from stadvdb_olap_spark.operators.dedup import dedup_keep_first
from stadvdb_olap_spark.operators.dimension import build_dimension
from stadvdb_olap_spark.operators.fact import resolve_foreign_key
from stadvdb_olap_spark.operators.merge import merge_scd1
from stadvdb_olap_spark.plans.catalog import query
from stadvdb_olap_spark.sources.parquet import load_table
from stadvdb_olap_spark.operators.joins import broadcast_if_small

# ---------------------------------------------------------------------------
# Flagship: the fact-build query (reference extractFact, fact_ETL.py:79-157)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH li AS (
    SELECT * FROM lineitem
    WHERE l_quantity IS NOT NULL
    QUALIFY row_number() OVER (
        PARTITION BY l_orderkey, l_linenumber
        ORDER BY l_partkey, l_quantity) = 1
)
SELECT
    concat('ORD-', l_orderkey, '-', l_linenumber)            AS order_number,
    l_quantity                                               AS quantity,
    CAST(ceil(l_quantity * p_retailprice * 100) AS DOUBLE)/100 AS revenue,
    c_custkey                                                AS user_id,
    p_partkey                                                AS product_id,
    c_nationkey                                              AS location_id,
    CAST(o_orderdate AS DATE)                                AS date_id
FROM li
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part     ON l_partkey = p_partkey
"""


def flagship_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 3-way join + P4 measure + P5 ceil-to-cent + F1 dropna + D1 dedup
    on the degenerate dimension — the reference fact source query
    (fact_ETL.py:91-107) Spark-first.

    Plan shape at scale: lineitem⋈orders is the one big shuffle (both sides
    huge, co-partitioned on orderkey); customer and part joins are
    broadcastable dims; AQE picks BroadcastHashJoin for them.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    # Dedup the dirty (orderkey, linenumber) duplicates BEFORE the join,
    # coarse-partitioned on l_orderkey: the window's exchange already
    # satisfies the orders-join distribution, so at scale (where orders is
    # not broadcastable) the whole query runs with ONE lineitem shuffle.
    # Tiebreak (l_partkey, l_quantity) determines every output column.
    li = dedup_keep_first(
        li.filter(F.col("l_quantity").isNotNull()),
        keys=["l_orderkey", "l_linenumber"],
        order_by=["l_partkey", "l_quantity"],
        coarse_partition_by=["l_orderkey"],
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast_if_small(part), li.l_partkey == part.p_partkey)
        .select(
            F.concat_ws(
                "-",
                F.lit("ORD"),
                li.l_orderkey.cast("string"),
                li.l_linenumber.cast("string"),
            ).alias("order_number"),
            li.l_quantity.alias("quantity"),
            ceil_to_cents(li.l_quantity * part.p_retailprice).alias("revenue"),
            cust.c_custkey.alias("user_id"),
            part.p_partkey.alias("product_id"),
            cust.c_nationkey.alias("location_id"),
            normalize_date(orders.o_orderdate).alias("date_id"),
        )
    )


query("flagship_fact_build", oracle=_FLAGSHIP_ORACLE)(flagship_fact_build)


# ---------------------------------------------------------------------------
# String cleaning (T1/T2/T3/T4)
# ---------------------------------------------------------------------------

_TITLE_SQL = (
    "list_aggregate(list_transform(string_split({s}, ''), (x, i) -> "
    "CASE WHEN i = 1 OR NOT regexp_matches({s}[i-1], '[A-Za-z]') "
    "THEN upper(x) ELSE lower(x) END), 'string_agg', '')"
)


@query(
    "clean_customer_strings",
    oracle=f"""
SELECT
    c_custkey,
    trim(lower(c_name))                                   AS name_norm,
    {_TITLE_SQL.format(s="lower(c_mktsegment)")}          AS segment_title,
    CASE lower(c_mktsegment)
        WHEN 'building' THEN 'BLDG' WHEN 'automobile' THEN 'AUTO'
        ELSE lower(c_mktsegment) END                      AS segment_code
FROM customer
""",
)
def clean_customer_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 trim + T2 lower (user_ETL.py:47-53), T3 pandas-exact title-case
    (user_ETL.py:48-49), T4 dictionary recode (user_ETL.py:50-55) — all
    JVM-side expressions, zero Python UDFs."""
    cust = load_table(spark, sf_dir, "customer")
    seg_lower = F.lower(F.col("c_mktsegment"))
    return cust.select(
        "c_custkey",
        F.trim(F.lower(F.col("c_name"))).alias("name_norm"),
        titlecase_exact(seg_lower).alias("segment_title"),
        recode(seg_lower, {"building": "BLDG", "automobile": "AUTO"}).alias("segment_code"),
    )


# ---------------------------------------------------------------------------
# Mixed-format date parsing (C1) + normalize (C2)
# ---------------------------------------------------------------------------


@query(
    "parse_dates_mixed",
    oracle="""
WITH strs AS (
    SELECT o_orderkey,
           CASE o_orderkey % 3
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
               WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
               ELSE strftime(o_orderdate, '%B %-d, %Y')
           END AS date_str
    FROM orders
)
SELECT o_orderkey,
       date_str,
       CAST(coalesce(
           try_strptime(date_str, '%Y-%m-%d %H:%M:%S'),
           try_strptime(date_str, '%Y-%m-%d'),
           try_strptime(date_str, '%m/%d/%Y'),
           try_strptime(date_str, '%B %-d, %Y')
       ) AS DATE) AS parsed_date
FROM strs
""",
)
def parse_dates_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — pandas ``to_datetime(format='mixed')`` (date_ETL.py:47):
    deterministically render each order date in one of three formats, then
    parse them all back through the mixed-format parser."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    date_str = (
        F.when(k % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(k % 3 == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .otherwise(F.date_format("o_orderdate", "MMMM d, yyyy"))
    )
    df = orders.select("o_orderkey", date_str.alias("date_str"))
    return df.withColumn(
        "parsed_date",
        normalize_date(
            parse_datetime_mixed(
                "date_str",
                ("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy", "MMMM d, yyyy"),
            )
        ),
    )


@query(
    "distinct_order_dates",
    oracle="SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders",
)
def distinct_order_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 normalize + D2 distinct — the date-dimension source
    (date_ETL.py:47,92)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(normalize_date("o_orderdate").alias("order_date")).distinct()


# ---------------------------------------------------------------------------
# Numeric coercion (F2/M3) + JSON extraction
# ---------------------------------------------------------------------------


@query(
    "coerce_numeric_events",
    oracle="""
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
       TRY_CAST(event_type AS DOUBLE)                        AS et_num
FROM events
WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
""",
)
def coerce_numeric_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 coerce-to-null cast + F1 dropna (fact_ETL.py:49-55) over the
    events JSON props column."""
    events = load_table(spark, sf_dir, "events")
    df = events.select(
        "event_id",
        coerce_numeric(F.get_json_object("props", "$.k")).alias("k_num"),
        coerce_numeric("event_type").alias("et_num"),
    )
    return df.na.drop(subset=["k_num"])


# ---------------------------------------------------------------------------
# Deterministic dedup (D1) + union (D3) + referential filter (F3)
# ---------------------------------------------------------------------------


@query(
    "dedup_first_order_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
""",
)
def dedup_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 keep-first dedup made deterministic (drop_duplicates subset
    semantics, user_ETL.py:58) — earliest order per customer."""
    orders = load_table(spark, sf_dir, "orders")
    return dedup_keep_first(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@query(
    "union_entity_names",
    oracle="""
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
""",
)
def union_entity_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 vertical concatenation (pd.concat, user_ETL.py:138)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(supp)


@query(
    "referential_filter_anti",
    oracle="""
SELECT l_returnflag, count(*) AS n
FROM lineitem
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
GROUP BY l_returnflag
""",
)
def referential_filter_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 referential-integrity filtering as a join (fact_ETL.py:67-74) —
    here the anti-join complement: lineitems whose order is NOT finalized."""
    li = load_table(spark, sf_dir, "lineitem")
    finalized = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return (
        li.join(
            broadcast_if_small(finalized),
            li.l_orderkey == finalized.o_orderkey,
            "left_anti",
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Dimension builds (§3.2) — md5 surrogate keys for oracle checkability;
# production path uses xxhash64 (functions/keys.py docstring).
# ---------------------------------------------------------------------------


@query(
    "dim_customer",
    oracle=f"""
SELECT {surrogate_key_sql(['c_name'])} AS surrogate_key,
       c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
QUALIFY row_number() OVER (PARTITION BY c_name ORDER BY c_custkey) = 1
""",
)
def dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-dimension analogue (extractUser, user_ETL.py:61-144): dedup on
    the business key + deterministic surrogate key, one lazy plan."""
    cust = load_table(spark, sf_dir, "customer")
    dim = build_dimension(
        cust,
        business_key=["c_name"],
        attrs=["c_nationkey", "c_acctbal", "c_mktsegment"],
        nat_key=["c_custkey"],
        key_method="md5",
    )
    return dim.table


@query(
    "dim_part",
    oracle=f"""
SELECT {surrogate_key_sql(['p_name', 'p_type'])} AS surrogate_key,
       p_name, p_type, p_brand, p_size, p_retailprice
FROM part
QUALIFY row_number() OVER (PARTITION BY p_name, p_type ORDER BY p_partkey) = 1
""",
)
def dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-dimension analogue (extractProduct, prod_ETL.py:65-139);
    composite business key like the reference's (name, description)."""
    part = load_table(spark, sf_dir, "part")
    dim = build_dimension(
        part,
        business_key=["p_name", "p_type"],
        attrs=["p_brand", "p_size", "p_retailprice"],
        nat_key=["p_partkey"],
        key_method="md5",
    )
    return dim.table


@query(
    "dim_date",
    oracle=f"""
WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
SELECT {surrogate_key_sql(['order_date'])} AS surrogate_key, order_date
FROM d
""",
)
def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension analogue (extractDate, date_ETL.py:53-124): distinct
    normalized dates + deterministic key."""
    orders = load_table(spark, sf_dir, "orders")
    dates = orders.select(normalize_date("o_orderdate").alias("order_date")).distinct()
    return dates.select(
        surrogate_key(["order_date"], method="md5").alias("surrogate_key"),
        "order_date",
    )


@query(
    "dim_location",
    oracle=f"""
SELECT {surrogate_key_sql(['n_name'])} AS surrogate_key, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
)
def dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location-dimension analogue (extractLocation, loc_ETL.py:61-137) —
    nation enriched with region via broadcast join."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            surrogate_key(["n_name"], method="md5").alias("surrogate_key"),
            "n_name",
            "r_name",
        )
    )


# ---------------------------------------------------------------------------
# Full star fact build with FK resolution (§3.3, J4)
# ---------------------------------------------------------------------------


@query(
    "fact_star",
    oracle=f"""
SELECT
    concat('ORD-', l_orderkey, '-', l_linenumber)              AS order_number,
    l_quantity                                                 AS quantity,
    CAST(ceil(l_quantity * p_retailprice * 100) AS DOUBLE)/100 AS revenue,
    {surrogate_key_sql(['c_name'])}                            AS user_sk,
    {surrogate_key_sql(['p_name', 'p_type'])}                  AS product_sk,
    {surrogate_key_sql(['n_name'])}                            AS location_sk,
    {surrogate_key_sql(['order_date'])}                        AS date_sk
FROM (
    SELECT l.*, o.o_orderdate, CAST(o.o_orderdate AS DATE) AS order_date,
           c.c_name, c.c_nationkey, p.p_name, p.p_type, p.p_retailprice, n.n_name
    FROM (SELECT * FROM lineitem
          QUALIFY row_number() OVER (
              PARTITION BY l_orderkey, l_linenumber
              ORDER BY l_partkey, l_quantity) = 1) l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
)
""",
)
def fact_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete star build: fact FKs resolved with broadcast key-map
    joins — the Spark-native replacement for the reference's 4 driver-side
    dicts (fact_ETL.py:115-118).

    Key maps that resolve off the SAME fact column chain are pre-combined
    dim-side so the fact pays ONE probe pass per fact key, not one per
    dimension: customer attrs + user_sk + (via the fixed-cardinality
    nation) location_sk collapse into a single c_custkey lookup, and part
    price + product_sk into a single p_partkey lookup. 3 broadcast probes
    over the fact instead of 6 — the same surrogate keys the
    build_dimension/resolve_foreign_key operators produce (surrogate keys
    are pure functions of the business key, so pre-joining maps dim-side
    is free: it touches dim-sized, not fact-sized, data)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    # nation is fixed-cardinality (25 rows at every SF): hard broadcast.
    loc_map = nation.select(
        "n_nationkey", surrogate_key(["n_name"], method="md5").alias("location_sk")
    )
    cust_lookup = cust.join(
        F.broadcast(loc_map), cust.c_nationkey == loc_map.n_nationkey
    ).select(
        "c_custkey",
        surrogate_key(["c_name"], method="md5").alias("user_sk"),
        "location_sk",
    )
    part_lookup = part.select(
        "p_partkey",
        "p_retailprice",
        surrogate_key(["p_name", "p_type"], method="md5").alias("product_sk"),
    )
    date_map = (
        orders.select(normalize_date("o_orderdate").alias("order_date"))
        .distinct()
        .select("order_date", surrogate_key(["order_date"], method="md5").alias("date_sk"))
    )

    # Pre-join dedup, coarse-partitioned on the join key (see flagship).
    li = dedup_keep_first(
        li,
        keys=["l_orderkey", "l_linenumber"],
        order_by=["l_partkey", "l_quantity"],
        coarse_partition_by=["l_orderkey"],
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat_ws(
                "-",
                F.lit("ORD"),
                li.l_orderkey.cast("string"),
                li.l_linenumber.cast("string"),
            ).alias("order_number"),
            li.l_quantity.alias("quantity"),
            li.l_partkey,
            orders.o_custkey,
            normalize_date(orders.o_orderdate).alias("order_date"),
        )
    )
    resolved = (
        base.join(
            # gate on customer itself: the 1:1 nation enrichment inflates
            # Catalyst's static join estimate ~100x over the true size
            broadcast_if_small(cust_lookup, size_proxy=cust),
            base.o_custkey == cust_lookup.c_custkey,
        )
        .join(
            # gate on the base part table: the lookup is a narrower
            # projection of it (3 columns + a 32-char key vs the full
            # row), so part's estimate bounds the lookup's — and part is
            # the session-cached scan whose optimized stats are computed
            # once, not per query build
            broadcast_if_small(part_lookup, size_proxy=part),
            base.l_partkey == part_lookup.p_partkey,
        )
        # gate on orders: the date map is a distinct projection of one
        # orders column (+ fixed-width key), so orders' estimate bounds it
        .join(broadcast_if_small(date_map, size_proxy=orders), "order_date")
    )

    return resolved.select(
        "order_number",
        "quantity",
        ceil_to_cents(F.col("quantity") * F.col("p_retailprice")).alias("revenue"),
        "user_sk",
        "product_sk",
        "location_sk",
        "date_sk",
    )


# ---------------------------------------------------------------------------
# SCD1 merge / upsert (S4 parity)
# ---------------------------------------------------------------------------


@query(
    "merge_upsert_orders",
    oracle="""
WITH t AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
), s AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'X' AS o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END         AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END        AS o_orderstatus
FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
""",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — ON CONFLICT DO UPDATE as a set-based SCD1 merge
    (user_ETL.py:105-117): a 'restated' order feed upserted into an even-key
    snapshot. Updates win, inserts appear, untouched rows survive."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    )
    return merge_scd1(target, source, keys=["o_orderkey"])


@query(
    "merge_upsert_orders_evolving",
    oracle="""
WITH t AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
), s AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
           'X' AS o_orderstatus,
           'ch' || CAST(o_orderkey % 5 AS VARCHAR) AS o_channel
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END         AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END        AS o_orderstatus,
       s.o_channel                          AS o_channel
FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
""",
)
def merge_upsert_orders_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 uplift — the same SCD1 merge with SCHEMA EVOLUTION: the source
    feed carries a column the target never had (o_channel); the merge
    widens the output (Delta/Iceberg mergeSchema semantics), pre-existing
    rows reading NULL. Same single full-outer key shuffle as the base
    merge — evolution is a projection change, not a new plan shape."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
        F.concat(F.lit("ch"), (F.col("o_orderkey") % 5).cast("string")).alias(
            "o_channel"
        ),
    )
    return merge_scd1(
        target, source, keys=["o_orderkey"], schema_evolution=True
    )


@query(
    "late_arriving_dim_repair_orders",
    oracle=f"""
SELECT o_orderkey,
       CASE WHEN o_custkey % 100 = 33 THEN '__unresolved__'
            ELSE {surrogate_key_sql(['o_custkey'])} END AS customer_sk,
       o_custkey % 10 = 3 AS was_late,
       (o_custkey % 10 = 3 AND o_custkey % 100 <> 33) AS repaired
FROM orders
""",
)
def late_arriving_dim_repair_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LATE-ARRIVING DIMENSION repair on the star schema: orders load
    against a dimension snapshot missing 10% of customers (placeholder
    surrogate, fact NEVER dropped or delayed), then the repair pass
    re-resolves ONLY the placeholder rows against the refreshed
    dimension — which itself still lacks 1% (keys ≡ 33 mod 100, a
    subset of the late set), so the output exercises resolved, repaired
    AND still-unknown states. Spark runs the real two-pass operator
    (operators/fact.py:resolve_late_arriving — two broadcast lookups,
    repair touches |late| not |fact|); the oracle is the closed form of
    the same deterministic snapshots with the shared md5 surrogate
    device. At 100 TB the repair job reads the placeholder partition
    slice, not the fact table."""
    from stadvdb_olap_spark.operators.fact import resolve_late_arriving

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    customer = load_table(spark, sf_dir, "customer")
    key_map = customer.select(
        F.col("c_custkey"),
        surrogate_key(["c_custkey"], method="md5").alias("surrogate_key"),
    )
    v1 = key_map.filter(F.col("c_custkey") % 10 != 3)
    v2 = key_map.filter(F.col("c_custkey") % 100 != 33)
    out = resolve_late_arriving(
        orders, v1, v2,
        fact_key="o_custkey", map_key="c_custkey",
        out_col="customer_sk",
    )
    return out.select("o_orderkey", "customer_sk", "was_late", "repaired")


@query(
    "merge_upsert_orders_widening",
    oracle="""
WITH t AS (
    SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey,
           CAST(o_totalprice AS REAL) AS o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
), s AS (
    SELECT o_orderkey, o_custkey, o_totalprice + 100.0 AS o_totalprice,
           'W' AS o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
                 ELSE CAST(t.o_custkey AS BIGINT) END AS BIGINT)
           AS o_custkey,
       CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                 ELSE CAST(t.o_totalprice AS DOUBLE) END AS DOUBLE)
           AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus
FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
""",
)
def merge_upsert_orders_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 uplift — SCD1 merge under TYPE drift: the incoming feed's
    shared columns arrive WIDER than the target's (o_custkey INT→BIGINT,
    o_totalprice FLOAT→DOUBLE — the classic upstream-promoted-a-column
    incident). ``merge_scd1(schema_evolution=True)`` widens the output
    along the value-preserving ladder and casts BOTH sides explicitly;
    the oracle replays the same full-outer merge with the same casts
    (DuckDB REAL→DOUBLE is the identical IEEE promotion). Same one
    full-outer key shuffle as the base merge — widening is a projection
    change, not a plan change. Without schema_evolution the same drift
    raises (pinned by unit test) instead of silently coercing."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.col("o_custkey").cast("int").alias("o_custkey"),
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        "o_orderstatus",
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("W").alias("o_orderstatus"),
    )
    return merge_scd1(
        target, source, keys=["o_orderkey"], schema_evolution=True
    )


# ---------------------------------------------------------------------------
# Live JDBC round trip (S1/S2/S3/S4/S6 against a real database)
# ---------------------------------------------------------------------------


@query(
    "jdbc_merge_roundtrip_orders",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 4 = 0
), restated AS (
    SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
           'X' AS o_orderstatus
    FROM orders WHERE o_orderkey % 6 = 0
)
SELECT coalesce(r.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN r.o_orderkey IS NOT NULL THEN r.o_totalprice
            ELSE b.o_totalprice END         AS o_totalprice,
       CASE WHEN r.o_orderkey IS NOT NULL THEN r.o_orderstatus
            ELSE b.o_orderstatus END        AS o_orderstatus
FROM base b FULL OUTER JOIN restated r ON b.o_orderkey = r.o_orderkey
""",
)
def jdbc_merge_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+S3+S4+S6 against a LIVE database (Spark's bundled embedded
    Derby): executor-parallel JDBC write creates the target (schema mapped
    by the writer = S2 reflection), a restated feed is upserted via the
    set-based staged MERGE (S4/S6 — one transactional statement replaces
    the reference's per-row ON CONFLICT loop, user_ETL.py:105-117), and the
    result is read back through a PARTITIONED ranged JDBC scan (S1/S3 —
    N parallel range predicates replace the serial yield_per cursor,
    user_ETL.py:71-81). The oracle recomputes the merged state relationally
    from the parquet source, so the driver's hash check certifies the whole
    write→merge→read loop bit-for-bit. Same code path works against
    MySQL/Postgres/Oracle on a real deployment."""
    import tempfile

    from stadvdb_olap_spark.sources.jdbc import JdbcSource
    from stadvdb_olap_spark.sources.sinks import write_jdbc_merge

    derby_driver = "org.apache.derby.jdbc.EmbeddedDriver"
    dbdir = tempfile.mkdtemp(prefix="stadvdb_derby_")
    spark._jvm.java.lang.System.setProperty("derby.system.home", dbdir)
    url = f"jdbc:derby:{dbdir}/db;create=true"
    string_types = "o_orderstatus VARCHAR(4)"

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base = orders.filter(F.col("o_orderkey") % 4 == 0)
    (
        base.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_tgt")
        .option("driver", derby_driver)
        .option("createTableColumnTypes", string_types)
        .mode("overwrite")
        .save()
    )

    restated = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    )
    write_jdbc_merge(
        restated,
        url,
        "orders_tgt",
        keys=["o_orderkey"],
        driver=derby_driver,
        options={"createTableColumnTypes": string_types},
    )

    return (
        JdbcSource(
            url=url,
            table="orders_tgt",
            driver=derby_driver,
            fetchsize=5000,
            partition_column='"o_orderkey"',
            lower_bound=0,
            upper_bound=10_000_000,
            num_partitions=8,
        )
        .reader(spark)
        .load()
    )


@query(
    "format_roundtrip_orders",
    oracle="""
WITH sub AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey % 100 < 10
),
agg AS (
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_price,
           max(o_orderdate) AS max_date
    FROM sub GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       n_rows AS n_csv, n_rows AS n_jsonl,
       sum_price AS sum_csv, sum_price AS sum_jsonl,
       max_date AS max_date_csv,
       TRUE AS paths_agree
FROM agg
""",
)
def format_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSONL source certification end-to-end: a deterministic
    orders subset writes to BOTH text formats, reads back through the
    explicit-schema loaders (never inference — at 100 TB inference is an
    extra full pass that can mistype dirty columns), and each path
    re-aggregates independently. The oracle computes the same aggregate
    straight from parquet, so the driver's hash check certifies write →
    parse → aggregate bit-for-bit for both formats at once — including
    double shortest-repr round-trip and timestamp formatting —
    and ``paths_agree`` pins CSV == JSONL row-for-row inside the query
    itself."""
    import hashlib as _hashlib
    import tempfile

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.parquet import load_csv, load_jsonl

    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 10)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    schema = sub.schema
    # Deterministic per-(session, sf_dir) staging dir, OVERWRITTEN each
    # invocation — repeated certification/sim runs within one session
    # reuse a bounded location instead of leaking a fresh mkdtemp per
    # call, while the applicationId token keeps concurrent processes
    # (pytest + driver_sim, parallel sims) from overwriting each other's
    # staged files under a lazily-returned plan. (The files must outlive
    # this function: the returned plan scans them lazily at collect
    # time, the same eager-provision posture as
    # jdbc_merge_roundtrip_orders.)
    tag = _hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/stadvdb_fmt_{tag}"
    csv_path, jsonl_path = f"{base}/orders_csv", f"{base}/orders_jsonl"
    sub.write.mode("overwrite").option("header", "true").csv(csv_path)
    sub.write.mode("overwrite").json(jsonl_path)

    def agg(df: DataFrame, n_name: str, s_name: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias(n_name),
            money_sum("o_totalprice").alias(s_name),
            F.max("o_orderdate").alias(f"__maxd_{n_name}"),
        )

    a_csv = agg(load_csv(spark, csv_path, schema), "n_csv", "sum_csv")
    a_jsonl = agg(load_jsonl(spark, jsonl_path, schema), "n_jsonl", "sum_jsonl")
    return (
        a_csv.join(a_jsonl, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            "n_csv",
            "n_jsonl",
            "sum_csv",
            "sum_jsonl",
            F.col("__maxd_n_csv").alias("max_date_csv"),
            (
                F.col("n_csv").eqNullSafe(F.col("n_jsonl"))
                & F.col("sum_csv").eqNullSafe(F.col("sum_jsonl"))
                & F.col("__maxd_n_csv").eqNullSafe(F.col("__maxd_n_jsonl"))
            ).alias("paths_agree"),
        )
    )



def _delta_tmp_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Bounded per-(session, sf) staging dir for the Delta-format
    certified queries — one isolation scheme, defined once."""
    import hashlib
    import tempfile

    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:12]
    return f"{tempfile.gettempdir()}/stadvdb_delta_{tag}/{name}"


@query(
    "delta_log_roundtrip_orders",
    oracle="""
WITH a AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 10
),
b AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 BETWEEN 10 AND 14
),
latest AS (
    SELECT o_orderstatus,
           COUNT(*) AS n_latest,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_latest
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    GROUP BY o_orderstatus
),
v0 AS (
    SELECT o_orderstatus, COUNT(*) AS n_overwrite_version
    FROM a GROUP BY o_orderstatus
)
SELECT latest.o_orderstatus, latest.n_latest, latest.sum_latest,
       v0.n_overwrite_version
FROM latest JOIN v0 USING (o_orderstatus)
""",
)
def delta_log_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA TABLE FORMAT certified end-to-end (sources/delta_log.py —
    the open _delta_log protocol: put-if-absent JSON commits with
    protocol/metaData/add/remove actions, readable by any off-the-shelf
    Delta reader): a deterministic orders slice OVERWRITES the table,
    a second slice APPENDS as a new log version, and the query reads
    BOTH the latest snapshot (aggregated per status) and the
    time-traveled overwrite version through the log's pinned-schema
    state reconstruction. The oracle recomputes straight from parquet,
    so the driver's hash check certifies write -> log replay -> scan ->
    aggregate bit-for-bit, including the append/overwrite live-set
    semantics. Same bounded per-(session, sf) staging discipline as
    ``format_roundtrip_orders``; commit versions come back from
    write_delta, so reruns within a session time-travel to THEIR OWN
    overwrite commit, keeping output invariant as the log grows."""

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import read_delta, write_delta

    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders")
    slice_a = orders.filter(F.col("o_orderkey") % 100 < 10).select(base_cols)
    slice_b = orders.filter(
        (F.col("o_orderkey") % 100 >= 10) & (F.col("o_orderkey") % 100 <= 14)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders")
    v_over = write_delta(slice_a, table_dir, mode="overwrite")
    write_delta(slice_b, table_dir, mode="append")

    latest = read_delta(spark, table_dir).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_latest"),
        money_sum("o_totalprice").alias("sum_latest"),
    )
    at_v0 = (
        read_delta(spark, table_dir, version=v_over)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_overwrite_version"))
    )
    return latest.join(at_v0, "o_orderstatus")


@query(
    "delta_cow_delete_roundtrip_orders",
    oracle="""
WITH live AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 15
),
after AS (
    SELECT * FROM live
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 100 < 5)
),
agg AS (
    SELECT o_orderstatus,
           COUNT(*) AS n_after,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_after
    FROM after GROUP BY o_orderstatus
),
pre AS (
    SELECT o_orderstatus, COUNT(*) AS n_before_delete
    FROM live GROUP BY o_orderstatus
)
SELECT agg.o_orderstatus, agg.n_after, agg.sum_after, pre.n_before_delete
FROM agg JOIN pre USING (o_orderstatus)
""",
)
def delta_cow_delete_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY-ON-WRITE DELETE on the Delta log, certified end-to-end
    (sources/delta_log.py:delete_where — the `DELETE FROM` write path
    every lakehouse format uses, and the ACTUAL erasure mechanics behind
    the ``gdpr_erasure_blast_radius_star`` analysis): build the table
    (overwrite + append commits), DELETE a deterministic predicate —
    only files containing hits are rewritten, survivors copied forward,
    remove+add committed as one version — then aggregate the post-delete
    snapshot next to the time-traveled pre-delete counts. The oracle
    recomputes both states straight from parquet, so the hash check
    certifies hit-file detection, SQL NULL-semantics row filtering, the
    rewrite, and log replay in one row set. Bounded per-(session, sf)
    staging, own table dir (never shared with
    ``delta_log_roundtrip_orders`` — reruns must not interleave logs)."""

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        read_delta,
        write_delta,
    )

    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders")
    slice_a = orders.filter(F.col("o_orderkey") % 100 < 10).select(base_cols)
    slice_b = orders.filter(
        (F.col("o_orderkey") % 100 >= 10) & (F.col("o_orderkey") % 100 <= 14)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_cow")
    write_delta(slice_a, table_dir, mode="overwrite")
    v_pre = write_delta(slice_b, table_dir, mode="append")
    v_del = delete_where(
        spark,
        table_dir,
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 100 < 5),
    )

    after = read_delta(spark, table_dir, version=v_del).groupBy(
        "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).alias("n_after"),
        money_sum("o_totalprice").alias("sum_after"),
    )
    before = (
        read_delta(spark, table_dir, version=v_pre)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_before_delete"))
    )
    return after.join(before, "o_orderstatus")

@query(
    "delta_merge_upsert_orders",
    oracle="""
WITH t AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
), s AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'X' AS o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END         AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END        AS o_orderstatus
FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
""",
)
def delta_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the DELTA FORMAT, certified end-to-end
    (sources/delta_log.py:merge_delta_scd1 — the copy-on-write upsert a
    warehouse loader runs per batch; the reference's core loop is the
    same ON CONFLICT DO UPDATE, user_ETL.py:105-117): the even-key
    orders snapshot becomes a multi-file Delta table, the restated feed
    (keys ≡ 0 mod 3) merges in — only files containing matched keys are
    rewritten, unmatched source keys append — and the merge runs TWICE,
    so the hash check certifies idempotence along with hit-file
    detection, null-safe key anti-join survivorship, and log replay.
    Same oracle family as ``merge_upsert_orders`` (the relational twin):
    the driver proves the format-level merge and the engine-level merge
    agree with SQL. 100 TB shape: the batch broadcasts into the
    hit-file probe; cost is proportional to files TOUCHED, never table
    size."""

    from stadvdb_olap_spark.sources.delta_log import (
        merge_delta_scd1,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    )
    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_merge")
    # multi-file target so copy-on-write granularity is exercised
    write_delta(target.repartition(4), table_dir, mode="overwrite")
    merge_delta_scd1(spark, table_dir, source, keys=["o_orderkey"])
    v2 = merge_delta_scd1(spark, table_dir, source, keys=["o_orderkey"])
    return read_delta(spark, table_dir, version=v2)


@query(
    "delta_merge_evolving_orders",
    oracle="""
WITH t AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus,
           CAST(o_orderkey % 10 AS INTEGER) AS o_code
    FROM orders WHERE o_orderkey % 2 = 0
), s AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
           'X' AS o_orderstatus,
           CAST(o_orderkey % 10 AS BIGINT) AS o_code,
           'ch' || CAST(o_orderkey % 5 AS VARCHAR) AS o_channel
    FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END          AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END         AS o_orderstatus,
       CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_code
            ELSE t.o_code END AS BIGINT)     AS o_code,
       s.o_channel                           AS o_channel
FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
""",
)
def delta_merge_evolving_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLVING MERGE on the DELTA FORMAT, certified end-to-end
    (sources/delta_log.py:merge_delta_scd1(merge_schema=True) — the
    format-path twin of ``merge_upsert_orders_evolving``, closing the
    round-11 gap where the format path raised on any drift): the target
    lands multi-file with an INT code column, the restated feed carries
    that column WIDENED to BIGINT plus a column the table never had
    (o_channel), and the merge widens the pinned schema in-place —
    un-rewritten files keep their int32 pages and read through the
    evolved metaData via the parquet reader's promotion set; rows from
    files never touched read NULL o_channel. The merge runs TWICE so
    the hash check certifies idempotence including the metadata level
    (the second run must NOT re-commit metaData — an evolved schema
    evolves to itself). 100 TB shape: evolution is one metaData action;
    only files containing matched keys are rewritten."""

    from stadvdb_olap_spark.sources.delta_log import (
        merge_delta_scd1,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        (F.col("o_orderkey") % 10).cast("int").alias("o_code"),
    )
    source = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_orderkey") % 10).cast("long").alias("o_code"),
        F.concat(F.lit("ch"), (F.col("o_orderkey") % 5).cast("string")).alias(
            "o_channel"
        ),
    )
    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_merge_evolve")
    write_delta(target.repartition(4), table_dir, mode="overwrite")
    merge_delta_scd1(
        spark, table_dir, source, keys=["o_orderkey"], merge_schema=True
    )
    v2 = merge_delta_scd1(
        spark, table_dir, source, keys=["o_orderkey"], merge_schema=True
    )
    return read_delta(spark, table_dir, version=v2)


@query(
    "delta_checkpoint_read_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       CAST(1 AS BIGINT) AS n_checkpoints
FROM orders WHERE o_orderkey % 100 < 12
GROUP BY o_orderstatus
""",
)
def delta_checkpoint_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINTED Delta log certified end-to-end
    (sources/delta_log.py:_write_checkpoint / _replay): twelve commits
    land (overwrite + 11 appends, one per key bucket), the automatic
    parquet checkpoint + ``_last_checkpoint`` appear at version 10, and
    the read reconstructs state FROM THE CHECKPOINT plus the two
    trailing commits (`tests/test_delta_log.py` proves _replay starts
    at the checkpoint by deleting the commits below it). The oracle
    recomputes from raw parquet and pins n_checkpoints=1, so the driver
    hash-certifies that a checkpointed log reads exactly like a fully
    replayed one — the O(interval) read the per-micro-batch streaming
    sink needs (a day of 30 s batches is ~2,900 commits; replaying all
    of them per read is the scale blocker the checkpoint removes)."""
    import shutil as _shutil

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        checkpoint_versions,
        read_delta,
        write_delta,
    )

    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders")
    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_ckpt")
    # fresh log per run: the commit COUNT (and thus the checkpoint
    # version set) is part of what this query certifies
    _shutil.rmtree(table_dir, ignore_errors=True)
    for b in range(12):
        write_delta(
            orders.filter(F.col("o_orderkey") % 100 == b).select(base_cols),
            table_dir,
            mode="overwrite" if b == 0 else "append",
        )
    n_cp = len(checkpoint_versions(table_dir))
    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("n_checkpoints", F.lit(n_cp).cast("long"))
    )


@query(
    "delta_partition_prune_orders",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS scanned_only_matching,
       TRUE AS files_pruned
FROM orders
WHERE o_orderkey % 100 < 20 AND o_orderstatus = 'F'
GROUP BY 1
""",
)
def delta_partition_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED Delta table with log-only pruning, certified
    end-to-end (sources/delta_log.py:live_files / read_delta): an
    orders slice lands partitioned by o_orderstatus (hive layout,
    ``partitionValues`` in every add action), and the read for status
    'F' prunes the file list FROM THE LOG ALONE — the two booleans are
    computed from the actual pruned path list (every scanned file sits
    under o_orderstatus=F/, and the pruned list is a strict subset of
    the live set), then hash-certified against the oracle's TRUE
    literals. The partition column itself is re-attached from
    partitionValues (it is NOT in the data files — protocol layout),
    which the per-year aggregation exercises. 100 TB shape: a
    partition-selective read opens zero non-matching parquet footers;
    candidate selection cost is bounded by FILE COUNT."""

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        live_files,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    sliced = orders.filter(F.col("o_orderkey") % 100 < 20).select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_part")
    write_delta(
        sliced, table_dir, mode="overwrite", partition_by=["o_orderstatus"]
    )
    pred = "o_orderstatus = 'F'"
    scanned = live_files(table_dir, partition_predicate=pred, spark=spark)
    total = live_files(table_dir)
    only_matching = bool(scanned) and all(
        p.startswith("o_orderstatus=F/") for p in scanned
    )
    pruned = len(scanned) < len(total)
    return (
        read_delta(spark, table_dir, partition_predicate=pred)
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("scanned_only_matching", F.lit(only_matching))
        .withColumn("files_pruned", F.lit(pruned))
    )


@query(
    "delta_stream_append_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS multi_batch,
       TRUE AS exactly_once_ok
FROM orders WHERE o_orderkey % 100 BETWEEN 20 AND 29
GROUP BY o_orderstatus
""",
)
def delta_stream_append_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Delta sink certified end-to-end
    (streaming/incremental.py:delta_append_stream — per-micro-batch
    put-if-absent commits carrying the protocol txn action): an orders
    slice is laid out as three source files, streamed with
    maxFilesPerTrigger=1 (so multiple batch commits land), then the
    SAME stream is RESTARTED from its checkpoint — the restart must
    re-deliver nothing and commit nothing (multi_batch and
    exactly_once_ok are computed from the actual log versions). The
    final table aggregates hash-match a plain SQL recompute of the
    slice, certifying source → micro-batches → txn-stamped commits →
    checkpointed log read as one driver row. The txn app_id derives
    from the checkpoint location (round-10 advice), so a fresh
    checkpoint can never silently drop batches."""
    import hashlib as _hashlib
    import tempfile
    import uuid as _uuid

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        read_delta,
        table_versions,
    )
    from stadvdb_olap_spark.streaming.incremental import delta_append_stream

    orders = load_table(spark, sf_dir, "orders")
    sliced = orders.filter(
        (F.col("o_orderkey") % 100 >= 20) & (F.col("o_orderkey") % 100 <= 29)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")

    # per-call unique root: the stream's commit sequence is the test
    # subject, so it must never interleave with a previous run's log
    root = (
        f"{tempfile.gettempdir()}/stadvdb_delta_stream_"
        f"{_hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{_uuid.uuid4().hex[:8]}"
    )
    src, table_dir, ckpt = f"{root}/src", f"{root}/tbl", f"{root}/ckpt"
    sliced.repartition(3).write.parquet(src)
    schema = sliced.schema

    q = delta_append_stream(
        spark, src, schema, table_dir, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(600)
    versions_after = table_versions(table_dir)
    multi_batch = len(versions_after) >= 2

    # crash-recovery restart from the SAME checkpoint: nothing new
    q2 = delta_append_stream(
        spark, src, schema, table_dir, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(600)
    exactly_once = table_versions(table_dir) == versions_after

    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("multi_batch", F.lit(multi_batch))
        .withColumn("exactly_once_ok", F.lit(exactly_once))
    )


@query(
    "delta_tail_source_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS optimize_skipped
FROM orders WHERE o_orderkey % 100 BETWEEN 30 AND 39
GROUP BY o_orderstatus
""",
)
def delta_tail_source_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SOURCE over a Delta table, certified end-to-end
    (sources/delta_stream.py — the Python-DataSource twin of
    delta-spark's streaming source: offsets are commit versions, one
    input partition per dataChange add-file, Arrow batches with
    partition columns re-attached): an orders slice lands as two
    commits plus an OPTIMIZE rewrite, then the table is consumed as a
    STREAM into a memory sink and aggregated. The oracle recomputes
    from raw parquet, so the hash certifies log-tail → offsets →
    micro-batches → rows with no loss AND no double-delivery — the
    dataChange=false OPTIMIZE adds must be skipped or every row would
    arrive twice (optimize_skipped pins the row-count proof). 100 TB
    shape: file-grain partitions declared from the log, pyarrow reads
    on executors, nothing data-sized on the driver."""
    import shutil as _shutil
    import time as _time
    import uuid as _uuid

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        write_delta,
    )
    from stadvdb_olap_spark.sources.delta_stream import register

    register(spark)
    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    slice_a = orders.filter(
        (F.col("o_orderkey") % 100 >= 30) & (F.col("o_orderkey") % 100 <= 34)
    ).select(base_cols)
    slice_b = orders.filter(
        (F.col("o_orderkey") % 100 >= 35) & (F.col("o_orderkey") % 100 <= 39)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_tail")
    _shutil.rmtree(table_dir, ignore_errors=True)
    write_delta(slice_a.repartition(2), table_dir, mode="overwrite")
    write_delta(slice_b.repartition(2), table_dir, mode="append")
    compact_table(spark, table_dir, target_files=1)

    expected = slice_a.count() + slice_b.count()
    sink = f"delta_tail_orders_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("delta_tail")
        .option("path", table_dir)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 300
        while _time.time() < deadline:
            n = spark.sql(f"SELECT count(*) c FROM {sink}").collect()[0].c
            if n >= expected:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()

    streamed = spark.table(sink)
    n_streamed = streamed.count()
    return (
        streamed.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("optimize_skipped", F.lit(n_streamed == expected))
    )


@query(
    "delta_zorder_optimize_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS ranges_disjoint,
       TRUE AS content_unchanged
FROM orders WHERE o_orderkey % 100 BETWEEN 40 AND 49
GROUP BY o_orderstatus
""",
)
def delta_zorder_optimize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the Delta format, certified end-to-end
    (sources/delta_log.py:compact_table(zorder_by=...) — the clustered
    rewrite every lakehouse runs to make data skipping work): an orders
    slice lands as four appends whose files each span the whole
    o_totalprice range, ZORDER rewrites them into four files holding
    contiguous curve segments, and the output pins BOTH properties the
    operation exists for — per-file min/max ranges of the z-ordered
    column are pairwise disjoint (read from the actual parquet footers,
    driver-bounded by file count) and the snapshot content is unchanged
    (the aggregates hash-match a raw recompute; time travel to the
    pre-OPTIMIZE version still works). 100 TB shape: the rewrite costs
    one range-exchange + local sort of the live set; afterwards a
    price-selective scan skips all but one file per predicate range."""
    import os as _os
    import shutil as _shutil

    import pyarrow.parquet as _papq

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        compact_table,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    sliced = orders.filter(
        (F.col("o_orderkey") % 100 >= 40) & (F.col("o_orderkey") % 100 <= 49)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_zorder")
    _shutil.rmtree(table_dir, ignore_errors=True)
    for b in range(4):
        write_delta(
            sliced.filter(F.col("o_orderkey") % 4 == b).coalesce(1),
            table_dir,
            mode="append" if b else "overwrite",
        )
    v_pre = _replay(table_dir)["version"]
    v_opt = compact_table(
        spark, table_dir, target_files=4, zorder_by=["o_totalprice"]
    )

    # footer-stats proof, bounded by file count
    ranges = []
    for p in sorted(_replay(table_dir)["files"]):
        md = _papq.read_metadata(_os.path.join(table_dir, p))
        idx = md.schema.to_arrow_schema().names.index("o_totalprice")
        lo = min(
            md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    disjoint = all(h1 < l2 for (_l1, h1), (l2, _h2) in zip(ranges, ranges[1:]))

    after = read_delta(spark, table_dir, version=v_opt)
    pre = read_delta(spark, table_dir, version=v_pre)
    unchanged = after.count() == pre.count() and v_opt == v_pre + 1
    return (
        after.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("ranges_disjoint", F.lit(disjoint))
        .withColumn("content_unchanged", F.lit(unchanged))
    )


@query(
    "delta_cdf_orders",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 BETWEEN 50 AND 59
),
del1 AS (
    SELECT * FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
),
merge_src AS (
    SELECT o_orderkey, 'X' AS o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice
    FROM orders WHERE o_orderkey % 100 BETWEEN 55 AND 64
),
pre_image AS (
    SELECT * FROM base WHERE o_orderkey % 100 BETWEEN 55 AND 59
),
feed AS (
    SELECT CAST(1 AS BIGINT) AS _commit_version, 'delete' AS _change_type,
           o_totalprice FROM del1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', o_totalprice FROM pre_image
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', o_totalprice FROM merge_src
)
SELECT _commit_version, _change_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price
FROM feed
GROUP BY _commit_version, _change_type
""",
)
def delta_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL CHANGE DATA FEED on the Delta format, certified
    end-to-end (sources/delta_log.py:read_delta_cdf — the `table_changes`
    consumer every downstream incremental pipeline wants): an orders
    slice lands (v0), a copy-on-write DELETE drops a deterministic
    subset (v1), a MERGE restates five key-buckets and inserts five new
    ones (v2), then the feed over (0, 2] is aggregated per
    (_commit_version, _change_type). The oracle reconstructs the exact
    expected feed from raw parquet: v1 must yield ONLY the dropped rows
    as deletes (rewrite survivors cancel via the symmetric multiset
    diff), v2 must yield the matched PRE-IMAGE as deletes plus the
    source batch as inserts. 100 TB shape: per commit the diff touches
    only the files that commit rewrote — one counted aggregate + one
    full-outer join at touched-file grain, never table size."""
    import shutil as _shutil

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        merge_delta_scd1,
        read_delta_cdf,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = orders.filter(
        (F.col("o_orderkey") % 100 >= 50) & (F.col("o_orderkey") % 100 <= 59)
    ).select(base_cols)
    src = orders.filter(
        (F.col("o_orderkey") % 100 >= 55) & (F.col("o_orderkey") % 100 <= 64)
    ).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_cdf")
    _shutil.rmtree(table_dir, ignore_errors=True)
    write_delta(base.repartition(3), table_dir, mode="overwrite")   # v0
    delete_where(
        spark, table_dir,
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0),
    )                                                               # v1
    merge_delta_scd1(spark, table_dir, src, keys=["o_orderkey"])    # v2

    cdf, _to = read_delta_cdf(spark, table_dir, from_version=0)
    return cdf.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum("o_totalprice").alias("sum_price"),
    )


@query(
    "delta_cdf_stream_orders",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 BETWEEN 80 AND 89
),
del1 AS (
    SELECT * FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
),
merge_src AS (
    SELECT o_orderkey, 'X' AS o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice
    FROM orders WHERE o_orderkey % 100 BETWEEN 85 AND 94
),
pre_image AS (
    SELECT * FROM base WHERE o_orderkey % 100 BETWEEN 85 AND 89
),
feed AS (
    SELECT CAST(1 AS BIGINT) AS _commit_version, 'delete' AS _change_type,
           o_totalprice FROM del1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', o_totalprice FROM pre_image
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', o_totalprice FROM merge_src
)
SELECT _commit_version, _change_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS restart_silent
FROM feed
GROUP BY _commit_version, _change_type
""",
)
def delta_cdf_stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE DATA FEED over the Delta format, certified
    end-to-end (sources/delta_stream.py:_DeltaCdfStreamReader — the
    ``readChangeFeed`` twin of delta-spark's streaming CDF, closing the
    round-11 gap where the stream source skipped removals): an orders
    slice lands (v0), a copy-on-write DELETE drops a deterministic
    subset (v1), a MERGE restates five key-buckets and inserts five new
    ones (v2), and the table is consumed AS A STREAM from
    startingVersion=1 with row-level ``_change_type`` /
    ``_commit_version`` — per commit, the executor-side symmetric
    multiset diff of removed vs added files must yield exactly the
    dropped rows as deletes (rewrite survivors cancel) and the merge's
    pre-image + post-image pair. The stream then RESTARTS from its
    checkpoint and must re-deliver nothing (``restart_silent``). The
    oracle reconstructs the exact expected feed from raw parquet, so
    the hash certifies log tail -> per-commit diff -> micro-batches ->
    rows. 100 TB shape: one input partition per commit, per-commit work
    bounded by the files that commit touched, Arrow end-to-end on
    executors."""
    import hashlib as _hashlib
    import tempfile
    import time as _time
    import uuid as _uuid

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        merge_delta_scd1,
        write_delta,
    )
    from stadvdb_olap_spark.sources.delta_stream import register

    register(spark)
    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = orders.filter(
        (F.col("o_orderkey") % 100 >= 80) & (F.col("o_orderkey") % 100 <= 89)
    ).select(base_cols)
    src = orders.filter(
        (F.col("o_orderkey") % 100 >= 85) & (F.col("o_orderkey") % 100 <= 94)
    ).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    ).select(base_cols)

    # per-call unique root: the commit/offset/checkpoint sequence is the
    # test subject, so it must never interleave with a previous run's
    root = (
        f"{tempfile.gettempdir()}/stadvdb_delta_cdfstream_"
        f"{_hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{_uuid.uuid4().hex[:8]}"
    )
    table_dir, out, ckpt = f"{root}/tbl", f"{root}/out", f"{root}/ckpt"
    write_delta(base.repartition(3), table_dir, mode="overwrite")   # v0
    delete_where(
        spark, table_dir,
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0),
    )                                                               # v1
    merge_delta_scd1(spark, table_dir, src, keys=["o_orderkey"])    # v2

    n_del = base.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0)
    ).count()
    n_pre = base.filter(
        (F.col("o_orderkey") % 100 >= 85) & (F.col("o_orderkey") % 100 <= 89)
    ).count()
    expected = n_del + n_pre + src.count()

    def _run(min_rows: int) -> None:
        q = (
            spark.readStream.format("delta_tail")
            .option("path", table_dir)
            .option("readChangeFeed", "true")
            .option("startingVersion", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            # default trigger (fire as soon as the previous batch ends):
            # a fixed processingTime cadence only adds idle wait between
            # the same micro-batches — measured ~2s of pure trigger
            # latency across the two runs at sf0.1, rows identical
            .start()
        )
        try:
            deadline = _time.time() + 300
            while _time.time() < deadline:
                # also wait for at least one COMPLETED trigger so the
                # restart run provably processed an (empty) batch
                done = (q.lastProgress or {}).get("batchId", -1) >= 0
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = -1
                if n >= min_rows and done:
                    break
                _time.sleep(0.1)
        finally:
            q.stop()
            q.awaitTermination()

    _run(expected)
    n_first = spark.read.parquet(out).count()
    _run(0)  # checkpointed restart: must re-deliver NOTHING
    restart_silent = (
        n_first == expected and spark.read.parquet(out).count() == expected
    )

    return (
        spark.read.parquet(out)
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("restart_silent", F.lit(restart_silent))
    )


@query(
    "delta_stats_skipping_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS files_skipped,
       TRUE AS skip_sound
FROM orders
WHERE o_orderkey % 100 BETWEEN 60 AND 69
  AND o_totalprice >= 1000 AND o_totalprice < 25000
GROUP BY o_orderstatus
""",
)
def delta_stats_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-ONLY DATA SKIPPING over per-file column stats, certified
    end-to-end (sources/delta_stats.py + read_delta(data_predicate=) —
    the protocol's ``stats`` JSON on every add action, consumed without
    touching a single parquet footer): an orders slice lands as four
    appends whose files each span the WHOLE price range (worst case:
    nothing skippable), OPTIMIZE ZORDER clusters them into four
    contiguous-range files, and a selective price-range read then
    prunes the file list from the log's min/max stats alone —
    ``files_skipped`` pins that the scanned list is a strict subset of
    the live set, and ``skip_sound`` proves every SKIPPED file could
    not have matched by checking its actual parquet footer
    (independently of the log stats that did the skipping). The
    aggregates hash-match a raw SQL recompute, so over-pruning would
    fail the driver's value hash, not just a boolean. This closes the
    round-11 gap: ZORDER's payoff realized as a metadata-only skip —
    at 100 TB the difference between one log read and a million footer
    fetches."""
    import os as _os
    import shutil as _shutil

    import pyarrow.parquet as _papq

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        compact_table,
        live_files,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    sliced = orders.filter(
        (F.col("o_orderkey") % 100 >= 60) & (F.col("o_orderkey") % 100 <= 69)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_skip")
    _shutil.rmtree(table_dir, ignore_errors=True)
    for b in range(4):
        write_delta(
            sliced.filter(F.col("o_orderkey") % 4 == b).coalesce(1),
            table_dir,
            mode="append" if b else "overwrite",
        )
    compact_table(spark, table_dir, target_files=4, zorder_by=["o_totalprice"])

    pred = "o_totalprice >= 1000 AND o_totalprice < 25000"
    total = live_files(table_dir)
    scanned = live_files(table_dir, data_predicate=pred)
    skipped = sorted(set(total) - set(scanned))
    files_skipped = bool(skipped) and set(scanned) < set(total)

    # independent soundness proof: each SKIPPED file's parquet footer
    # (not the log stats that made the decision) shows its price range
    # is disjoint from the predicate's — driver work bounded by file
    # count
    def _footer_range(rel: str) -> tuple[float, float]:
        md = _papq.read_metadata(_os.path.join(table_dir, rel))
        idx = md.schema.to_arrow_schema().names.index("o_totalprice")
        los, his = zip(
            *(
                (
                    md.row_group(g).column(idx).statistics.min,
                    md.row_group(g).column(idx).statistics.max,
                )
                for g in range(md.num_row_groups)
            )
        )
        return min(los), max(his)

    skip_sound = all(
        hi < 1000 or lo >= 25000
        for lo, hi in (_footer_range(p) for p in skipped)
    )

    return (
        read_delta(spark, table_dir, data_predicate=pred)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("files_skipped", F.lit(files_skipped))
        .withColumn("skip_sound", F.lit(skip_sound))
    )


@query(
    "delta_check_constraint_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS violation_blocked,
       TRUE AS writer_v3
FROM orders WHERE o_orderkey % 100 BETWEEN 25 AND 29
GROUP BY o_orderstatus
""",
)
def delta_check_constraint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS on the Delta format, certified end-to-end
    (sources/delta_log.py:set_check_constraint / _validate_constraints
    — protocol writer-version-3 enforcement, the data-quality gate a
    warehouse loader runs per batch): the orders slice lands, ADD
    CONSTRAINT validates the existing rows and bumps minWriterVersion
    to 3 (``writer_v3``), a valid append lands, and a batch violating
    the constraint is REFUSED before its commit with the staged files
    reclaimed (``violation_blocked``) — if the bad batch leaked into
    table state, its negated prices would break the value hash, so the
    abort itself is hash-certified, not just asserted. 100 TB shape:
    enforcement is one predicate-pushed scan of the STAGED files only
    (never the table); adding a constraint costs the same one-time
    full validation scan production Delta pays."""
    import shutil as _shutil

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        _replay,
        read_delta,
        set_check_constraint,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def bucket(lo: int, hi: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderkey") % 100 >= lo)
            & (F.col("o_orderkey") % 100 <= hi)
        ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_check")
    _shutil.rmtree(table_dir, ignore_errors=True)
    write_delta(bucket(25, 27), table_dir, mode="overwrite")
    set_check_constraint(spark, table_dir, "price_pos", "o_totalprice > 0")
    write_delta(bucket(28, 29), table_dir, mode="append")

    bad = bucket(28, 29).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    ).select(base_cols)
    try:
        write_delta(bad, table_dir, mode="append")
        violation_blocked = False
    except ValueError:
        violation_blocked = True
    state = _replay(table_dir)
    writer_v3 = state["protocol"]["minWriterVersion"] >= 3

    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("violation_blocked", F.lit(violation_blocked))
        .withColumn("writer_v3", F.lit(writer_v3))
    )


@query(
    "delta_column_mapping_read_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS writes_refused
FROM orders WHERE o_orderkey % 100 BETWEEN 20 AND 24
GROUP BY o_orderstatus
""",
)
def delta_column_mapping_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-MAPPED table READ ('name' mode), certified end-to-end
    (sources/delta_log.py:_physical_type / _read_adds — protocol v2's
    column mapping, what every ALTER COLUMN RENAME-capable writer
    produces): a fabricated external-writer table stores the orders
    slice under PHYSICAL column names (``col-k``/``col-s``/``col-p``)
    with the logical names only in the metaData's
    ``delta.columnMapping.physicalName`` field metadata — the reader
    must scan by physical name and rebind to logical, or every column
    reads NULL/misbound and the hash fails. Stats skipping keys by
    physical name under a LOGICAL predicate (pinned via the empty
    pruned list for an impossible range), and all write paths refuse
    the table (``writes_refused``) — this engine reads mapped tables
    but never writes them, since its staged files carry logical names.
    100 TB shape: the rebinding is a projection (zero extra passes);
    pruning stays log-only."""
    import glob as _glob
    import json as _json
    import os as _os
    import shutil as _shutil

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        live_files,
        read_delta,
        write_delta,
    )
    from stadvdb_olap_spark.sources.delta_stats import collect_file_stats

    orders = load_table(spark, sf_dir, "orders")
    sliced = orders.filter(
        (F.col("o_orderkey") % 100 >= 20) & (F.col("o_orderkey") % 100 <= 24)
    ).select(
        F.col("o_orderkey").alias("col-k"),
        F.col("o_orderstatus").alias("col-s"),
        F.col("o_totalprice").alias("col-p"),
    )

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_cmap")
    _shutil.rmtree(table_dir, ignore_errors=True)
    _os.makedirs(_os.path.join(table_dir, "_delta_log"))
    adds = []
    for b in range(2):
        staging = _os.path.join(table_dir, "_stage")
        sliced.filter(F.col("col-k") % 2 == b).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = _glob.glob(_os.path.join(staging, "*.parquet"))[0]
        rel = f"part-{b}.parquet"
        _os.replace(part, _os.path.join(table_dir, rel))
        _shutil.rmtree(staging)
        adds.append(
            {
                "path": rel,
                "partitionValues": {},
                "size": _os.path.getsize(_os.path.join(table_dir, rel)),
                "modificationTime": 0,
                "dataChange": True,
                # stats keyed by PHYSICAL names, as a real mapped
                # writer's are
                "stats": _json.dumps(
                    collect_file_stats(_os.path.join(table_dir, rel)),
                    sort_keys=True,
                ),
            }
        )

    def field(name, phys, typ, fid):
        return {
            "name": name,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": phys,
            },
        }

    actions = [
        {
            "commitInfo": {
                "timestamp": 0,
                "operation": "WRITE",
                "engineInfo": "fabricated column-mapped writer",
            }
        },
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cmap-orders",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            field("o_orderkey", "col-k", "long", 1),
                            field("o_orderstatus", "col-s", "string", 2),
                            field("o_totalprice", "col-p", "double", 3),
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
                "createdTime": 0,
            }
        },
    ] + [{"add": a} for a in adds]
    with open(
        _os.path.join(table_dir, "_delta_log", f"{0:020d}.json"), "x"
    ) as f:
        f.write(
            "".join(_json.dumps(a, sort_keys=True) + "\n" for a in actions)
        )

    # logical-name predicate against physical-keyed stats: impossible
    # range must prune to ZERO files from the log alone
    skipped_all = live_files(table_dir, data_predicate="o_orderkey < 0") == []
    # and the table is read-only here
    try:
        write_delta(
            read_delta(spark, table_dir).limit(1), table_dir, mode="append"
        )
        writes_refused = False
    except ValueError:
        writes_refused = True

    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("writes_refused", F.lit(writes_refused and skipped_all))
    )


@query(
    "delta_restore_orders",
    oracle="""
WITH live AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 15
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS history_intact,
       TRUE AS unrestore_ok
FROM live
GROUP BY o_orderstatus
""",
)
def delta_restore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF on the Delta format,
    certified end-to-end (sources/delta_log.py:restore_table —
    production Delta's rollback as a NEW commit, history intact): the
    table lands as overwrite + append (v0, v1), a copy-on-write DELETE
    drops a slice (v2), RESTORE rolls back to v1 (v3: remove the
    delete's rewrites, re-add its victims — metadata-only, zero data
    I/O), and the aggregates must hash-match the pre-delete recompute.
    ``history_intact`` pins that every prior version stays readable
    (the restore ADDS a version, never rewrites the log);
    ``unrestore_ok`` pins the round trip — restoring forward to the
    post-delete version and back again reproduces the same live set,
    which is what makes a bad rollback itself recoverable. 100 TB
    shape: a restore commits file POINTERS from two log replays; cost
    is commit size, independent of table size."""
    import shutil as _shutil

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        delete_where,
        read_delta,
        restore_table,
        table_versions,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    slice_a = orders.filter(F.col("o_orderkey") % 100 < 10).select(base_cols)
    slice_b = orders.filter(
        (F.col("o_orderkey") % 100 >= 10) & (F.col("o_orderkey") % 100 <= 14)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_restore")
    _shutil.rmtree(table_dir, ignore_errors=True)
    write_delta(slice_a, table_dir, mode="overwrite")                # v0
    v1 = write_delta(slice_b, table_dir, mode="append")              # v1
    v2 = delete_where(
        spark, table_dir,
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 < 5),
    )                                                                # v2
    n_deleted_state = read_delta(spark, table_dir, version=v2).count()
    v3 = restore_table(table_dir, version=v1)                        # v3

    # every version of the lifecycle stays readable after the restore
    history_intact = (
        table_versions(table_dir) == [0, 1, 2, 3]
        and read_delta(spark, table_dir, version=v2).count()
        == n_deleted_state
    )
    # un-restore round trip: forward to v2's state, back to v1's
    restore_table(table_dir, version=v2)                             # v4
    fwd_ok = read_delta(spark, table_dir).count() == n_deleted_state
    v5 = restore_table(table_dir, version=v1)                        # v5
    unrestore_ok = fwd_ok and v5 == 5

    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("history_intact", F.lit(history_intact))
        .withColumn("unrestore_ok", F.lit(unrestore_ok))
    )


@query(
    "delta_dv_read_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS pre_dv_intact
FROM orders
WHERE o_orderkey % 100 BETWEEN 90 AND 99 AND o_orderkey % 7 <> 0
GROUP BY o_orderstatus
""",
)
def delta_dv_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR READ support, certified end-to-end
    (sources/deletion_vectors.py + the delta_log reader — protocol v3's
    ``deletionVectors`` reader feature, the round-11 stretch item): an
    orders slice lands as two files, then a FABRICATED EXTERNAL-WRITER
    commit upgrades the table to reader version 3 and re-adds both
    files with on-disk deletion vectors (real byte format: Z85 uuid
    pathOrInlineDv, version-1 DV file, big-endian length + CRC32,
    64-bit RoaringBitmapArray portable bitmaps) marking every
    ``o_orderkey % 7 == 0`` row deleted at its actual parquet row
    index. The read must decode the bitmaps and anti-join
    ``_metadata.row_index`` — a reader that ignores DVs resurrects the
    deleted rows and fails the hash; time travel to the pre-DV version
    still sees every row (``pre_dv_intact``). This engine never WRITES
    DVs (its DML is copy-on-write; tables stay v1-readable) — this
    certifies it can CONSUME tables modern writers produce. 100 TB
    shape: DV decode is driver-side bounded by deleted-row count per
    file; the anti-join broadcasts positions; scans stay per-file
    parquet."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        _commit_path,
        _replay,
        read_delta,
        table_versions,
        write_delta,
    )
    from stadvdb_olap_spark.sources.deletion_vectors import (
        dv_file_name,
        write_dv_file,
        z85_encode,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    sliced = orders.filter(
        (F.col("o_orderkey") % 100 >= 90) & (F.col("o_orderkey") % 100 <= 99)
    ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_dv")
    _shutil.rmtree(table_dir, ignore_errors=True)
    v0 = write_delta(sliced.repartition(2), table_dir, mode="overwrite")
    n_all = sliced.count()

    # What a modern engine's DELETE would commit: per file, the parquet
    # ROW INDEXES of the doomed rows (read back from the actual files —
    # no layout assumption), serialized as a real DV file.
    state = _replay(table_dir)
    paths = sorted(state["files"])
    pos_by_file = []
    for p in paths:
        rows = (
            spark.read.parquet(_os.path.join(table_dir, p))
            .filter(F.col("o_orderkey") % 7 == 0)
            .select(F.col("_metadata.row_index").alias("ri"))
            .collect()
        )
        pos_by_file.append(sorted(int(r.ri) for r in rows))
    dv_uuid = _uuid.uuid4()
    entries = write_dv_file(
        _os.path.join(table_dir, dv_file_name(z85_encode(dv_uuid.bytes))),
        pos_by_file,
    )
    actions = [
        {
            "commitInfo": {
                "timestamp": 0,
                "operation": "DELETE",
                "engineInfo": "fabricated external DV writer",
            }
        },
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
    ]
    for p, entry in zip(paths, entries):
        add = dict(state["files"][p])
        add["deletionVector"] = dict(
            entry,
            storageType="u",
            pathOrInlineDv=z85_encode(dv_uuid.bytes),
        )
        actions.append({"add": add})
    v1 = table_versions(table_dir)[-1] + 1
    with open(_commit_path(table_dir, v1), "x") as f:
        f.write(
            "".join(_json.dumps(a, sort_keys=True) + "\n" for a in actions)
        )

    pre_dv_intact = read_delta(spark, table_dir, version=v0).count() == n_all
    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("pre_dv_intact", F.lit(pre_dv_intact))
    )


@query(
    "delta_concurrent_append_orders",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_price,
       TRUE AS retried_ok,
       TRUE AS conflict_detected
FROM orders WHERE o_orderkey % 100 BETWEEN 70 AND 79
GROUP BY o_orderstatus
""",
)
def delta_concurrent_append_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC CONCURRENCY on the Delta writer, certified end-to-end
    (sources/delta_log.py:_commit_retry — production Delta's commit
    protocol: losers of the put-if-absent race conflict-check the
    interleaved commits and retry at N+1): writer A stages its append
    for version 1, writer B commits version 1 first, and A's commit
    retries to version 2 WITHOUT restaging — both appends survive
    (``retried_ok`` pins the retried version number; a lost update
    would also break the hash, since the aggregates cover all three
    slices). Then a non-commuting transaction (DELETE semantics,
    planned at the same stale snapshot) must REFUSE to land across the
    interleaved dataChange adds — ``conflict_detected`` pins the
    ``ConcurrentWriteError``. 100 TB shape: a retry re-reads only the
    interleaved commit JSONs (bounded by the race window) and re-runs
    one put-if-absent; staged data files are never rewritten."""
    import shutil as _shutil
    import time as _time

    from stadvdb_olap_spark.plans.compat import money_sum
    from stadvdb_olap_spark.sources.delta_log import (
        ConcurrentWriteError,
        _commit_info,
        _commit_retry,
        _stage_files,
        read_delta,
        write_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def bucket(lo: int, hi: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderkey") % 100 >= lo)
            & (F.col("o_orderkey") % 100 <= hi)
        ).select(base_cols)

    table_dir = _delta_tmp_dir(spark, sf_dir, "orders_race")
    _shutil.rmtree(table_dir, ignore_errors=True)
    write_delta(bucket(70, 73), table_dir, mode="overwrite")  # v0

    # writer A stages its append intending version 1...
    now_ms = int(_time.time() * 1000)
    adds_a = _stage_files(bucket(74, 76), table_dir, 1, [], True, now_ms)
    # ...writer B wins version 1 with its own append...
    write_delta(bucket(77, 79), table_dir, mode="append")
    # ...and A's commit detects the loss, conflict-checks B's commit
    # (append/append commute) and lands at version 2
    actions = [
        _commit_info("APPEND", {"mode": "APPEND", "partitionBy": "[]"}, now_ms)
    ] + [{"add": a} for a in adds_a]
    v_a = _commit_retry(table_dir, 1, actions, allow_concurrent_adds=True)
    retried_ok = v_a == 2

    # a non-commuting writer planned at the same stale snapshot (DELETE
    # scope decided before B's and A's rows landed) must refuse
    try:
        _commit_retry(
            table_dir,
            1,
            [_commit_info("DELETE", {"predicate": "1=1"}, now_ms)],
            allow_concurrent_adds=False,
        )
        conflict_detected = False
    except ConcurrentWriteError:
        conflict_detected = True

    return (
        read_delta(spark, table_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("sum_price"),
        )
        .withColumn("retried_ok", F.lit(retried_ok))
        .withColumn("conflict_detected", F.lit(conflict_detected))
    )
