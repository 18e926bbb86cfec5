"""End-to-end monthly pipeline (ex06 parity): ingest → warehouse →
gates → backfill → sliding-window ML with registry promotion."""

from __future__ import annotations

import pytest

from nyc_taxi_bigdata_pipeline_spark import pipeline, sql_interface, warehouse
from nyc_taxi_bigdata_pipeline_spark.functions.datetime_parity import sliding_months
from nyc_taxi_bigdata_pipeline_spark.schema import FACT_TRIP_SCHEMA, SILVER_SCHEMA

from .taxi_fixtures import make_trips_month, make_zone_lookup


def test_sliding_months_year_boundary():
    assert sliding_months(2023, 4) == [(2023, 1), (2023, 2), (2023, 3)]
    assert sliding_months(2023, 1) == [(2022, 10), (2022, 11), (2022, 12)]
    assert sliding_months(2023, 2, 3) == [(2022, 11), (2022, 12), (2023, 1)]


def test_run_month_and_backfill(spark, tmp_path):
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    zones = make_zone_lookup(spark)

    res1 = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=1500), zones, silver, gold, 2023, 1,
        min_rows=100,
    )
    assert res1.ok
    fact_rows_1 = res1.counts["fact_rows"]

    # re-running the same month is idempotent: no fact growth
    res1b = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 1, n=1500), zones, silver, gold, 2023, 1,
        min_rows=100,
    )
    assert res1b.counts["fact_rows"] == fact_rows_1

    # backfill a second month: fact grows by its cleaned rows
    res2 = pipeline.run_month(
        spark, make_trips_month(spark, 2023, 2, n=1000), zones, silver, gold, 2023, 2,
        min_rows=100,
    )
    assert res2.counts["fact_rows"] > fact_rows_1
    assert res2.ok


def test_dims_keep_prior_month_keys(spark, tmp_path):
    """Rebuilding dims on month N must not drop 'Unknown' location ids
    (or dates) that only month N-1 observed — otherwise prior facts
    vanish from inner-join analytics."""
    import pyspark.sql.functions as F

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    zones = make_zone_lookup(spark)
    jan = make_trips_month(spark, 2023, 1, n=800).withColumn(
        "PULocationID", F.lit(9999)  # id absent from the zone CSV
    )
    pipeline.run_month(spark, jan, zones, silver, gold, 2023, 1, min_rows=100)
    pipeline.run_month(
        spark, make_trips_month(spark, 2023, 2, n=800), zones, silver, gold, 2023, 2,
        min_rows=100,
    )
    dim_loc = spark.read.parquet(str(tmp_path / "gold" / "dim_location"))
    assert dim_loc.filter(F.col("location_id") == 9999).count() == 1
    dim_date = spark.read.parquet(str(tmp_path / "gold" / "dim_date"))
    assert dim_date.filter(F.month("date_id") == 1).count() > 0


CONSTANT_DIMS = ("dim_payment_type", "dim_ratecode", "dim_vendor", "dim_time")


def _listing(path) -> dict[str, int]:
    """File name → mtime (ns) of one gold table directory."""
    return {p.name: p.stat().st_mtime_ns for p in path.iterdir()}


@pytest.fixture(scope="module")
def uri_gold(spark, tmp_path_factory):
    """January run twice into a silver and gold given as ``file://`` URIs;
    records the constant dims' file listings after the first run."""
    root = tmp_path_factory.mktemp("uri_star")
    silver, gold = (root / "silver").as_uri(), (root / "gold").as_uri()
    zones = make_zone_lookup(spark)
    jan = make_trips_month(spark, 2023, 1, n=800)
    pipeline.run_month(spark, jan, zones, silver, gold, 2023, 1, min_rows=100)
    seeded = {d: _listing(root / "gold" / d) for d in CONSTANT_DIMS}
    rerun = pipeline.run_month(spark, jan, zones, silver, gold, 2023, 1, min_rows=100)
    assert rerun.ok
    return root, gold, seeded


def test_register_star_on_uri_gold(spark, uri_gold):
    """A Hadoop-URI gold keeps its scheme/authority through run_month's
    path joins, and register_star finds every table through the Hadoop
    FS probe (a local-disk ``Path.exists`` finds none)."""
    root, gold, _ = uri_gold
    assert sorted(sql_interface.register_star(spark, gold)) == sorted(sql_interface.STAR_TABLES)
    assert spark.sql("SELECT COUNT(*) FROM fact_trip").first()[0] > 0


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_declared_schemas_match_written(spark, uri_gold):
    """The schemas run_month and read_silver declare for their read-backs
    equal what schema inference finds in the written files (names, types,
    order) — an explicit-schema read cannot drift silently."""
    root, _, _ = uri_gold
    fact = spark.read.parquet(str(root / "gold" / "fact_trip"))
    assert _fields(fact.schema) == _fields(FACT_TRIP_SCHEMA)
    silver = spark.read.parquet(str(root / "silver"))
    assert _fields(silver.schema) == _fields(SILVER_SCHEMA)


def test_constant_dims_seeded_once(spark, uri_gold):
    """A re-run month leaves the constant dims' files untouched, and
    their rows are the seeded constants."""
    root, _, seeded = uri_gold
    for d in CONSTANT_DIMS:
        assert _listing(root / "gold" / d) == seeded[d], d
    expected = {**warehouse.seed_enum_dims(spark), "dim_time": warehouse.build_dim_time(spark)}
    for d in CONSTANT_DIMS:
        got = spark.read.parquet(str(root / "gold" / d))
        assert _fields(got.schema) == _fields(expected[d].schema), d
        assert sorted(got.collect()) == sorted(expected[d].collect()), d


@pytest.mark.slow
def test_ml_month_gating_and_run(spark, tmp_path, monkeypatch):
    from nyc_taxi_bigdata_pipeline_spark.ml import train as train_mod

    # shrink GBT for test speed; semantics unchanged
    monkeypatch.setattr(train_mod, "GBT_MAX_ITER", 5)

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    reg = str(tmp_path / "registry")
    zones = make_zone_lookup(spark)
    for m in (1, 2, 3, 4):
        pipeline.run_month(
            spark, make_trips_month(spark, 2023, m, n=600), zones, silver, gold, 2023, m,
            min_rows=100,
        )

    # not eligible: no 2022 history for Jan test month
    result, decision, checks = pipeline.run_ml_month(spark, silver, reg, 2023, 1)
    assert result is None and not all(c.ok for c in checks)

    # eligible: 3 train months exist for April
    result, decision, checks = pipeline.run_ml_month(spark, silver, reg, 2023, 4)
    assert all(c.ok for c in checks)
    assert result is not None and decision == "promoted"
    assert result.metrics["rmse"] < 15
