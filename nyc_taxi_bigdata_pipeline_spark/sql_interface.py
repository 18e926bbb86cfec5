"""SQL access layer (S7 parity, Spark-native).

The reference's dashboard speaks SQL to Postgres (``app.py:136-145``);
here the same SQL surface is served by Spark itself: register the gold
tables as temp views once, then ``spark.sql(...)`` anywhere. Catalyst
replaces the Postgres planner; the B-tree indexes of ``indexes.sql``
become partition pruning + broadcast joins (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.fs import child_path, hadoop_path_exists

STAR_TABLES = (
    "fact_trip",
    "dim_date",
    "dim_time",
    "dim_location",
    "dim_vendor",
    "dim_payment_type",
    "dim_ratecode",
)


def register_star(spark: SparkSession, gold_path: str) -> list[str]:
    """Register every gold table found under ``gold_path`` as a temp
    view. Returns the registered names. Probes through the Hadoop FS API,
    so a ``file://``, HDFS or S3A gold registers like a local one."""
    found = []
    for name in STAR_TABLES:
        p = child_path(gold_path, name)
        if hadoop_path_exists(spark, p):
            spark.read.parquet(p).createOrReplaceTempView(name)
            found.append(name)
    return found


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Thin alias so callers importing only this module can query."""
    return spark.sql(query)


# The five dashboard query shapes as SQL text (app.py:239-418) — usable
# directly after register_star; analytics.py offers the same queries as
# composable DataFrame functions.
DASHBOARD_SQL = {
    "kpis": """
        SELECT COUNT(*) AS total_trips, SUM(total_amount) AS total_revenue,
               AVG(total_amount) AS avg_amount, AVG(trip_distance) AS avg_distance
        FROM fact_trip
        WHERE pickup_date BETWEEN '{date_from}' AND '{date_to}'""",
    "daily_trips": """
        SELECT pickup_date, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip
        WHERE pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY pickup_date ORDER BY pickup_date""",
    "hourly_trips": """
        SELECT t.hour, COUNT(*) AS trips
        FROM fact_trip f JOIN dim_time t ON f.pickup_time = t.time_id
        WHERE f.pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY t.hour ORDER BY t.hour""",
    "payment_breakdown": """
        SELECT p.payment_description, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip f LEFT JOIN dim_payment_type p
          ON f.payment_type_id = p.payment_type_id
        WHERE f.pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY p.payment_description""",
    "top_zones": """
        SELECT l.borough, l.zone, COUNT(*) AS trips, SUM(total_amount) AS revenue
        FROM fact_trip f JOIN dim_location l
          ON f.pickup_location_id = l.location_id
        WHERE f.pickup_date BETWEEN '{date_from}' AND '{date_to}'
        GROUP BY l.borough, l.zone
        ORDER BY trips DESC, l.borough, l.zone LIMIT {k}""",
}


def dashboard_query(
    spark: SparkSession,
    name: str,
    date_from: str = "0001-01-01",
    date_to: str = "9999-12-31",
    k: int = 10,
) -> DataFrame:
    return spark.sql(DASHBOARD_SQL[name].format(date_from=date_from, date_to=date_to, k=k))
