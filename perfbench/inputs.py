"""Seeded inputs. Every generator is a pure function of its seed, so the
same seed stages the same files."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOROUGHS = ("Manhattan", "Queens", "Brooklyn", "Bronx", "Staten Island", "EWR")
N_ZONES = 265


def zone_rows(seed: int) -> list[tuple[int, str, str, str]]:
    """The 265-row taxi zone lookup; boroughs are dealt out by the seed.
    Ids 264 and 265 are the lookup's unknown zones."""
    rng = np.random.default_rng(seed)
    boroughs = rng.choice(len(BOROUGHS), size=N_ZONES)
    rows = []
    for i in range(1, N_ZONES + 1):
        if i >= 264:
            rows.append((i, "Unknown", "Unknown", "N/A"))
        else:
            svc = "Airports" if i in (1, 132, 138) else "Boro Zone"
            rows.append((i, BOROUGHS[boroughs[i - 1]], f"Zone {i:03d}", svc))
    return rows


def write_zone_csv(path: str, seed: int) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("LocationID,Borough,Zone,service_zone\n")
        for row in zone_rows(seed):
            f.write(",".join(str(v) for v in row) + "\n")


def stage_month(spark, path: str, year: int, month: int, n: int, seed: int) -> None:
    """Write one raw month with the program's own generator.

    The generator's projection is too large for whole-stage codegen:
    Spark compiles it, fails and falls back. Staging turns whole-stage
    codegen off for the write to skip the failing compile, then restores
    the session's setting."""
    from nyc_taxi_bigdata_pipeline_spark.sources import synthetic

    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        synthetic.make_trips_month_distributed(spark, year, month, n, seed=seed).write.parquet(path)
    finally:
        spark.conf.set(key, before)


# ------------------------------------------------------------------ corpus

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")


def documents(n: int, seed: int) -> pa.Table:
    """Documents shaped like the registry's test corpus: 10-100 words from
    a 30-word vocabulary, with one document in twenty a copy of an earlier
    one plus the word ``dup`` (the near-duplicates dedup queries find)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def customers(n: int, seed: int) -> pa.Table:
    """TPC-H-style customers: ``Customer#%09d`` names (fuzzy joins match
    names a few digits apart), seeded nation, balance and segment."""
    rng = np.random.default_rng(seed + 1)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, len(SEGMENTS), size=n)]),
    })


def shuffled(table: pa.Table, seed: int) -> pa.Table:
    """The same rows in a seed-drawn physical order."""
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


def write_corpus(
    directory: str, n_docs: int, n_customers: int, seed: int, layout_seed: int
) -> dict[str, int]:
    """Write ``documents.parquet`` and ``customer.parquet`` the way the
    registry's ``load_table`` expects them; returns row counts. ``seed``
    draws the rows, ``layout_seed`` the order they are stored in."""
    os.makedirs(directory, exist_ok=True)
    for name, table in (("documents", documents(n_docs, seed)),
                        ("customer", customers(n_customers, seed))):
        pq.write_table(shuffled(table, layout_seed), os.path.join(directory, f"{name}.parquet"))
    return {"documents": n_docs, "customer": n_customers}
