"""Deterministic KGX fixture derivation from the driver test tables.

Per FIXTURES.md §B: synthesize multi-source KGX nodes/edges (with deliberate
duplicate ids, conflicting scalar props, rank priorities) and a
normalization map — from `customer` / `part` / `lineitem` / `orders` — so the
graph-merge operator family is exercised with a DuckDB-expressible oracle.

Each Spark builder has a `*_SQL` CTE string that derives the *identical*
relation in DuckDB; registry oracles compose them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_services_spark.catalog import load_table


def _curie(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix + ":"), col.cast("string"))


_KGX_NODES_SPARK = """
SELECT 'CUST:' || CAST(c_custkey AS STRING) AS id,
       c_name AS name,
       array('biolink:Person', 'biolink:NamedThing') AS category,
       c_mktsegment AS mktsegment,
       c_acctbal AS acctbal,
       1 AS source_rank
FROM {customer}
UNION ALL
SELECT 'CUST:' || CAST(c_custkey AS STRING),
       UPPER(c_name),
       array('biolink:Agent'),
       CAST(NULL AS STRING),
       c_acctbal + 100,
       2
FROM {customer} WHERE c_custkey % 3 = 0
UNION ALL
SELECT 'PART:' || CAST(p_partkey AS STRING),
       p_name,
       array('biolink:ChemicalEntity'),
       p_brand,
       p_retailprice,
       1
FROM {part}
"""


def kgx_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three 'sources' with overlapping ids and conflicting props.

    - src1: every customer, rank 1, name as-is, mktsegment set, acctbal as-is;
    - src2: customers with c_custkey % 3 == 0, rank 2, UPPER name, null
      mktsegment (exercises first-non-null-by-rank), acctbal + 100;
    - src3: every part, rank 1 (disjoint id space).

    Built as ONE spark.sql() parse (tables as DataFrame template args):
    the previous three-branch Column-by-Column union cost ~0.1s of py4j
    round trips per submission; KGX_NODES_SQL below derives the same
    relation in DuckDB for the oracles.
    """
    return spark.sql(_KGX_NODES_SPARK,
                     customer=load_table(spark, sf_dir, "customer"),
                     part=load_table(spark, sf_dir, "part"))


KGX_NODES_SQL = """
kgx_nodes AS (
    SELECT 'CUST:' || CAST(c_custkey AS VARCHAR) AS id,
           c_name AS name,
           ['biolink:Person', 'biolink:NamedThing'] AS category,
           c_mktsegment AS mktsegment,
           c_acctbal AS acctbal,
           1 AS source_rank
    FROM customer
    UNION ALL
    SELECT 'CUST:' || CAST(c_custkey AS VARCHAR),
           UPPER(c_name),
           ['biolink:Agent'],
           NULL,
           c_acctbal + 100,
           2
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT 'PART:' || CAST(p_partkey AS VARCHAR),
           p_name,
           ['biolink:ChemicalEntity'],
           p_brand,
           p_retailprice,
           1
    FROM part
)"""


_KGX_EDGES_SPARK = """
SELECT 'ORD:' || CAST(l_orderkey AS STRING) AS subject,
       CASE WHEN l_returnflag = 'R' THEN 'biolink:returned'
            ELSE 'biolink:contains' END AS predicate,
       'PART:' || CAST(l_partkey AS STRING) AS object,
       'infores:src' || CAST(l_suppkey % 3 AS STRING)
           AS primary_knowledge_source,
       array('PMID:' || CAST(l_linenumber * 7 AS STRING)) AS publications,
       array('infores:agg' || CAST(l_suppkey % 2 AS STRING))
           AS aggregator_knowledge_sources,
       CAST(l_linenumber AS INT) AS source_rank
FROM {lineitem}
"""


# Int proxies of the kgx_edges key and the string builders that map each
# proxy back to its column. Every builder is injective on its proxy's
# domain (tests/test_kgx_fixture.py pins it on the fixture), so grouping,
# joining or distinct-counting on the proxies gives exactly the groups
# of the string form; the proxy-keyed rewrites (kgx_edge_merge,
# kgx_two_hop, record_counts, skew_salted_degree) shuffle ints and build
# each string once per output row.

def subject_proxy() -> F.Column:
    """subject = 'ORD:' || l_orderkey."""
    return F.col("l_orderkey")


def object_proxy() -> F.Column:
    """object = 'PART:' || l_partkey."""
    return F.col("l_partkey")


def returned_proxy() -> F.Column:
    """The predicate CASE's fibre: true exactly for biolink:returned."""
    return F.col("l_returnflag").eqNullSafe(F.lit("R"))


def source_proxy() -> F.Column:
    """primary_knowledge_source = 'infores:src' || (l_suppkey % 3)."""
    return F.col("l_suppkey") % 3


def subject_curie(proxy) -> F.Column:
    return _curie("ORD", proxy)


def object_curie(proxy) -> F.Column:
    return _curie("PART", proxy)


def predicate_curie(returned) -> F.Column:
    return (F.when(returned, F.lit("biolink:returned"))
            .otherwise(F.lit("biolink:contains")))


def source_curie(proxy) -> F.Column:
    return F.concat(F.lit("infores:src"), proxy.cast("string"))


def kgx_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges from lineitem: ORD:<orderkey> -[predicate]-> PART:<partkey>.

    Duplicate (s,p,o,pks) groups arise when an order contains the same part
    on multiple lines with the same supplier parity; publications /
    aggregators differ per line so list-union is exercised. One
    spark.sql() parse (see kgx_nodes); KGX_EDGES_SQL is the DuckDB twin.

    WIDENED (round 13, guide §2.2/§2.3): a single-split lineitem scan
    put the CURIE/array construction AND the downstream merge's
    map-side partial collect_list on ONE core (measured sf0.1:
    kgx_edge_merge 3.27 s noop, of which ~2.9 s was the serial
    post-scan chain). Widening the slim 5-INT-column projection —
    before the strings exist, so the exchange moves ~2 MB of ints
    instead of ~50 MB of built strings/arrays (measured:
    widen-after-strings 2.34 s vs widen-before 1.39 s) — parallelizes
    everything after the scan. Round 14 (guide §2.5): the widen is now
    KEYED on l_orderkey — the round-robin form paid a serial local
    sort of all 600 k rows on the one-task map side
    (sortBeforeRepartition); hash-by-key is retry-deterministic
    without it (measured: widened-scan noop 0.80 s -> 0.45 s).
    l_orderkey is high-cardinality (~150 k distinct at sf0.1) so the
    32 buckets stay balanced. Values are unaffected: every consumer
    groups/joins on the edge key and the merge aggregates are
    order-insensitive (lists are sorted post-union). At real scale the
    scan has >= cores splits and the guard no-ops; at sf0.01 the
    1.02 MB input is under the 2 MB gate, so pinned small-sf plans
    keep their single exchange."""
    from data_services_spark.plans.widen import widen_if_narrow
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_partkey", "l_suppkey",
        "l_linenumber")
    return spark.sql(_KGX_EDGES_SPARK,
                     lineitem=widen_if_narrow(li, "l_orderkey"))


KGX_EDGES_SQL = """
kgx_edges AS (
    SELECT 'ORD:' || CAST(l_orderkey AS VARCHAR) AS subject,
           CASE WHEN l_returnflag = 'R' THEN 'biolink:returned'
                ELSE 'biolink:contains' END AS predicate,
           'PART:' || CAST(l_partkey AS VARCHAR) AS object,
           'infores:src' || CAST(l_suppkey % 3 AS VARCHAR)
               AS primary_knowledge_source,
           ['PMID:' || CAST(l_linenumber * 7 AS VARCHAR)] AS publications,
           ['infores:agg' || CAST(l_suppkey % 2 AS VARCHAR)]
               AS aggregator_knowledge_sources,
           l_linenumber AS source_rank
    FROM lineitem
)"""


def raw_pred_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges carrying RAW (pre-normalization) predicates, for the
    EdgeNormalizer twin: 'returned' / 'affects' / 'contains' from
    lineitem flags; 'affects' is deliberately absent from the predicate
    map so fallback routing is exercised."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        _curie("ORD", F.col("l_orderkey")).alias("subject"),
        F.when(F.col("l_returnflag") == "R", F.lit("returned"))
         .when(F.col("l_returnflag") == "A", F.lit("affects"))
         .otherwise(F.lit("contains")).alias("predicate"),
        _curie("PART", F.col("l_partkey")).alias("object"),
        F.col("l_linenumber").cast("int").alias("line_no"),
    )


RAW_PRED_EDGES_SQL = """
raw_pred_edges AS (
    SELECT 'ORD:' || CAST(l_orderkey AS VARCHAR) AS subject,
           CASE WHEN l_returnflag = 'R' THEN 'returned'
                WHEN l_returnflag = 'A' THEN 'affects'
                ELSE 'contains' END AS predicate,
           'PART:' || CAST(l_partkey AS VARCHAR) AS object,
           l_linenumber AS line_no
    FROM lineitem
)"""


def predicate_map(spark: SparkSession) -> DataFrame:
    """Tiny raw→biolink predicate vocabulary (broadcast side). Built
    from an Arrow table, which plans a LocalTableScan; a Python list
    would plan a Scan ExistingRDD, whose RDD keeps the plan out of the
    analyzed-plan memo."""
    import pyarrow as pa
    return spark.createDataFrame(pa.table({
        "raw_pred": ["returned", "contains", "ships"],  # ships: unused
        "biolink_pred": ["biolink:returned", "biolink:contains",
                         "biolink:ships"]}))


PREDICATE_MAP_SQL = """
pred_map AS (
    SELECT * FROM (VALUES ('returned', 'biolink:returned'),
                          ('contains', 'biolink:contains'),
                          ('ships', 'biolink:ships'))
        AS t(raw_pred, biolink_pred)
)"""


def norm_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization map: customers normalize to NORM:<2*key>, except
    custkey % 10 == 7 which are missing (normalization failures)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 10 != 7).select(
        _curie("CUST", F.col("c_custkey")).alias("orig_id"),
        _curie("NORM", F.col("c_custkey") * 2).alias("canon_id"),
        F.lower(F.col("c_name")).alias("canon_name"),
    )


NORM_MAP_SQL = """
norm_map AS (
    SELECT 'CUST:' || CAST(c_custkey AS VARCHAR) AS orig_id,
           'NORM:' || CAST(c_custkey * 2 AS VARCHAR) AS canon_id,
           LOWER(c_name) AS canon_name
    FROM customer WHERE c_custkey % 10 <> 7
)"""


def order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUST:<custkey> -[biolink:placed]-> ORD:<orderkey> from orders."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        _curie("CUST", F.col("o_custkey")).alias("subject"),
        F.lit("biolink:placed").alias("predicate"),
        _curie("ORD", F.col("o_orderkey")).alias("object"),
    )


ORDER_EDGES_SQL = """
order_edges AS (
    SELECT 'CUST:' || CAST(o_custkey AS VARCHAR) AS subject,
           'biolink:placed' AS predicate,
           'ORD:' || CAST(o_orderkey AS VARCHAR) AS object
    FROM orders
)"""
