"""Table loaders (parquet testdata, CSV) and the reference-style result
CSV sink with a config-descriptor header line.
"""

from __future__ import annotations

import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_csv(spark: SparkSession, path: str, schema: str | None = None,
             header: bool = True, sep: str = ",") -> DataFrame:
    """CSV source (the reference's python charts read `;`-separated result
    CSVs; data-lake CSV ingest uses the same reader with schema pushdown —
    pass an explicit DDL schema to skip the inference scan at scale)."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def config_descriptor(cfg) -> str:
    """`key=value;` descriptor line, the analog of the reference's
    appendInfo config header (sketch.hpp:1969-2018: every result CSV's
    first line encodes the full sketch config so a result can never be
    misattributed to the wrong parameters)."""
    items = asdict(cfg)
    parts = [f"name={type(cfg).__name__}"]
    parts += [f"{k}={v}" for k, v in sorted(items.items())]
    parts.append(f"configHash={cfg.config_hash()}")
    return ";".join(parts) + ";"


def write_result_csv(df: DataFrame, path: str, cfg, sep: str = ";") -> None:
    """Reference-style result sink (cardinality_test.cpp:79-99): line 1 the
    config descriptor, line 2 the column header, then data rows.

    Result tables are small aggregates (the reference's are too — one row
    per grid point), so the write is a single driver-side file; bulk data
    sinks in this engine are parquet stage checkpoints (plans/pipeline.py).
    """
    pdf = df.toPandas()
    with open(path, "w") as f:
        f.write(config_descriptor(cfg) + "\n")
        pdf.to_csv(f, sep=sep, index=False)


def read_result_csv(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Read a result CSV written by write_result_csv; returns (df, config
    dict parsed from the descriptor line)."""
    import pandas as pd

    with open(path) as f:
        desc = f.readline().strip()
    info = dict(p.split("=", 1) for p in desc.rstrip(";").split(";") if "=" in p)
    # result CSVs are small by contract (one row per grid point) — a driver-
    # side pandas parse avoids fighting Spark CSV's lack of skip-first-line
    pdf = pd.read_csv(path, sep=";", skiprows=1)
    return spark.createDataFrame(pdf), info
