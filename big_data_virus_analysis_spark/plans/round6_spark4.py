"""Round-6 Spark-4 surface pack — queries exercising the NEW SQL
surfaces Spark 4.x added, so a reference user migrating here sees them
covered next to the classic DataFrame API (the same breadth motive as
the ``variant_json_rollup`` / ``udtf_chunk_windows`` /
``bfs_hops_recursive_sql`` entries).

* ``pipe_sql_segment_rollup`` — the SQL pipe operator (`|>`,
  SQL:2023-style chained relational syntax, new in Spark 4.0):
  orders ⋈ customer → per-segment revenue rollup written entirely in
  pipe form (``FROM … |> JOIN … |> SELECT … |> AGGREGATE … GROUP BY``).
  Catalyst compiles it to exactly the plan the DataFrame version gets
  — the entry pins that the pipe parser is available and semantically
  identical (the DuckDB oracle is the classic formulation).
* ``xml_roundtrip_rollup`` — native XML support (Spark 4.0
  ``from_xml``): each order serialized to an XML fragment with a
  nested element and an attribute, parsed back with a typed schema,
  and aggregated from the PARSED struct.  Round-trip identity makes
  the classic relational aggregate the exact oracle, so the XML
  codec itself is what's being verified.

100 TB shape: both are ordinary broadcast-join + hash-aggregate plans
(the pipe/XML surfaces are parse/codec features, not execution
features); the XML build+parse is per-row map work inside whole-stage
codegen boundaries with no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# pipe_sql_segment_rollup
# --------------------------------------------------------------------------


def _q_pipe_sql_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_pipe_customer")
    return spark.sql(
        """
        FROM _pipe_orders
        |> JOIN _pipe_customer ON o_custkey = c_custkey
        |> SELECT c_mktsegment AS segment,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
                  o_orderpriority
        |> WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |> AGGREGATE count(*) AS n_orders,
                     sum(tp) AS revenue
           GROUP BY segment
        |> SELECT segment, n_orders,
                  -- r12 driver-parity: exact decimal sum, DOUBLE
                  -- final emission (value-exact at these magnitudes)
                  CAST(revenue AS DOUBLE) AS revenue
        """
    )


_SQL_PIPE_SQL_SEGMENT_ROLLUP = """
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- DOUBLE final emission (driver-parity; exact decimal sum)
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# xml_roundtrip_rollup
# --------------------------------------------------------------------------


def _q_xml_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit('<order status="'),
        F.col("o_orderstatus"),
        F.lit('"><prio>'),
        F.col("o_orderpriority"),
        F.lit("</prio><total>"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.lit("</total></order>"),
    )
    parsed = orders.select(
        F.from_xml(
            xml, "_status STRING, prio STRING, total DECIMAL(18,2)"
        ).alias("p")
    )
    return (
        parsed.select(
            F.col("p._status").alias("status"),
            F.substring(F.col("p.prio"), 1, 1).cast("int").alias("prio_class"),
            F.col("p.total").alias("total"),
        )
        .groupBy("status", "prio_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # r12 driver-parity: exact decimal sum, DOUBLE final
            # emission (value-exact at these magnitudes)
            F.sum("total").cast("double").alias("revenue"),
        )
    )


_SQL_XML_ROUNDTRIP_ROLLUP = """
SELECT o_orderstatus AS status,
       CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_class,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- DOUBLE final emission (driver-parity; exact decimal sum)
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "pipe_sql_segment_rollup": QuerySpec(
        _q_pipe_sql_segment_rollup,
        _SQL_PIPE_SQL_SEGMENT_ROLLUP,
        "SQL pipe-operator (|>) formulation of the urgent-order "
        "segment rollup (Spark 4.0 chained-SQL surface; classic SQL "
        "as the oracle)",
    ),
    "xml_roundtrip_rollup": QuerySpec(
        _q_xml_roundtrip_rollup,
        _SQL_XML_ROUNDTRIP_ROLLUP,
        "native XML codec round-trip: per-order XML fragment parsed "
        "back via from_xml (attribute + nested element) and aggregated "
        "from the parsed struct",
    ),
}
