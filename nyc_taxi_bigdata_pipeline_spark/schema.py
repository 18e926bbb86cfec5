"""Canonical schemas for the NYC-taxi domain (SURVEY §1, FIXTURES.md).

One StructType module replaces the reference's scattered schema handling:
the 19-column cast list (``Ex02DataIngestion.scala:50-68``), the staging
DDL (``staging_creation.sql:8-28``), the star-schema DDL
(``dw_creation.sql:5-85``) and the ML required-column lists
(``ex05_ml_prediction_service/src/validation.py:16-35``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Canonical 19-column trip schema — the defensive re-cast target; TLC
# parquet types drift month to month (airport_fee int vs double etc.).
TRIPS_RAW_COLUMNS: dict[str, str] = {
    "VendorID": "int",
    "tpep_pickup_datetime": "timestamp",
    "tpep_dropoff_datetime": "timestamp",
    "passenger_count": "int",
    "trip_distance": "double",
    "RatecodeID": "int",
    "store_and_fwd_flag": "string",
    "PULocationID": "int",
    "DOLocationID": "int",
    "payment_type": "int",
    "fare_amount": "double",
    "extra": "double",
    "mta_tax": "double",
    "tip_amount": "double",
    "tolls_amount": "double",
    "improvement_surcharge": "double",
    "total_amount": "double",
    "congestion_surcharge": "double",
    "airport_fee": "double",
}

# CamelCase → snake_case rename map for the warehouse layer
# (``Ex02DataIngestion.scala:131-151``).
RENAME_MAP: dict[str, str] = {
    "VendorID": "vendorid",
    "RatecodeID": "ratecodeid",
    "PULocationID": "pulocationid",
    "DOLocationID": "dolocationid",
}


def _f(name: str, t: str) -> StructField:
    m = {
        "int": IntegerType(),
        "long": LongType(),
        "double": DoubleType(),
        "string": StringType(),
        "timestamp": TimestampType(),
        "date": DateType(),
    }
    return StructField(name, m[t], nullable=True)


TRIPS_RAW_SCHEMA = StructType([_f(n, t) for n, t in TRIPS_RAW_COLUMNS.items()])

# Silver layer: the cleaned 19 columns plus the Hive partition keys that
# ``ingest.write_silver`` adds — the declared read-back schema, so a
# silver read needs no parquet footer inference.
SILVER_SCHEMA = StructType([*TRIPS_RAW_SCHEMA.fields, _f("year", "int"), _f("month", "int")])

ZONE_LOOKUP_SCHEMA = StructType(
    [
        _f("LocationID", "int"),
        _f("Borough", "string"),
        _f("Zone", "string"),
        _f("service_zone", "string"),
    ]
)

# Star schema (gold), dw_creation.sql:5-85. Postgres TIME → 'HH:mm'
# string key; BIGSERIAL → long (non-contiguous OK, SURVEY §1.2).
FACT_TRIP_SCHEMA = StructType(
    [
        _f("trip_id", "long"),
        _f("pickup_date", "date"),
        _f("pickup_time", "string"),
        _f("pickup_location_id", "int"),
        _f("dropoff_location_id", "int"),
        _f("vendor_id", "int"),
        _f("payment_type_id", "int"),
        _f("ratecode_id", "int"),
        _f("passenger_count", "int"),
        _f("trip_distance", "double"),
        _f("fare_amount", "double"),
        _f("extra", "double"),
        _f("mta_tax", "double"),
        _f("tip_amount", "double"),
        _f("tolls_amount", "double"),
        _f("improvement_surcharge", "double"),
        _f("congestion_surcharge", "double"),
        _f("airport_fee", "double"),
        _f("total_amount", "double"),
    ]
)

# Composite natural key for idempotent fact loads (indexes.sql:30-37).
FACT_NATURAL_KEY = (
    "pickup_date",
    "pickup_time",
    "pickup_location_id",
    "dropoff_location_id",
    "vendor_id",
)

# Reference enum dimensions (dw_load_reference.sql:1-29).
PAYMENT_TYPES: list[tuple[int, str]] = [
    (0, "Flex Fare"),
    (1, "Credit card"),
    (2, "Cash"),
    (3, "No charge"),
    (4, "Dispute"),
    (5, "Unknown"),
    (6, "Voided trip"),
]
RATECODES: list[tuple[int, str]] = [
    (1, "Standard rate"),
    (2, "JFK"),
    (3, "Newark"),
    (4, "Nassau or Westchester"),
    (5, "Negotiated fare"),
    (6, "Group ride"),
    (99, "Unknown"),
]
VENDORS: list[tuple[int, str]] = [
    (1, "Creative Mobile Technologies"),
    (2, "Curb Mobility"),
    (6, "Myle Technologies"),
    (7, "Helix"),
]

# ML feature contract (features.py:7-76, validation.py:16-35).
ML_LEAKAGE_COLUMNS = (
    "fare_amount",
    "extra",
    "mta_tax",
    "tip_amount",
    "tolls_amount",
    "improvement_surcharge",
    "congestion_surcharge",
    "airport_fee",
)
ML_CATEGORICAL = (
    "VendorID",
    "RatecodeID",
    "PULocationID",
    "DOLocationID",
    "payment_type",
    "store_and_fwd_flag",
)
ML_NUMERIC = (
    "passenger_count",
    "trip_distance",
    "trip_duration_min",
    "pickup_hour",
    "pickup_dayofweek",
    "pickup_month",
)
ML_LABEL = "total_amount"
ML_REQUIRED_TRAIN = tuple([*ML_CATEGORICAL, *ML_NUMERIC, ML_LABEL])
ML_REQUIRED_INFER = tuple([*ML_CATEGORICAL, *ML_NUMERIC])
