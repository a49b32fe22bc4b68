"""Sources (SURVEY.md §2.1 S1-S3).

The reference fetches Alpha Vantage FX_DAILY JSON per pair with a 10-thread
pool on the driver (``/root/reference/Fx_1min.py:54-91``). Spark-first, the
fetch *is* task parallelism: the pair universe is a DataFrame, partitioned,
and each partition fetches its pairs executor-side. The offline engine (tests,
reproducible runs) reads the same JSON documents from a directory instead —
same downstream contract either way:

    DataFrame[base_currency, target_currency, payload (raw JSON string)]

Scale notes: a 110-pair universe is trivially broadcast; a 10⁶-symbol universe
partitions into ``ceil(n / pairs_per_task)`` fetch tasks with per-row error
isolation (the reference's try/except per future, O4) — failures become
``payload = NULL`` rows to quarantine, never task aborts.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxspark.schema import CURRENCY_PAIRS


def csv_pairs(spark: SparkSession, path: str) -> DataFrame:
    """Pair-universe dimension from CSV with header (S1,
    ``Fx_1min.py:251``; columns per ``currency_pairs.csv:1``)."""
    return spark.read.option("header", True).schema(CURRENCY_PAIRS).csv(path)


def json_dir_rates(spark: SparkSession, directory: str) -> DataFrame:
    """Offline rates source: one ``{base}_{target}.json`` document per pair
    (FIXTURES.md A3 — the Alpha Vantage response shape).

    Distributed read via ``wholeTextFiles`` — each file is one row; the pair
    is recovered from the file name, exactly mirroring the per-pair HTTP
    response mapping. The schema is declared, so building the frame runs
    no Spark job; a directory with no ``*.json`` gives an empty frame.
    """
    if not os.path.isdir(directory):
        raise FileNotFoundError(f"rates directory not found: {directory}")
    pattern = os.path.join(directory, "*.json")
    rows = spark.sparkContext.wholeTextFiles(pattern) if glob.glob(pattern) else []
    df = spark.createDataFrame(rows, "_path string, payload string")
    return df.select(
        F.regexp_extract(F.col("_path"), r"([A-Z]+)_([A-Z]+)\.json$", 1).alias(
            "base_currency"
        ),
        F.regexp_extract(F.col("_path"), r"([A-Z]+)_([A-Z]+)\.json$", 2).alias(
            "target_currency"
        ),
        "payload",
    )


def http_rates(pairs: DataFrame, url_template: str, timeout: float = 10.0) -> DataFrame:
    """Live HTTP source (S2-S3): fetch one JSON document per pair,
    executor-side, Arrow-batched.

    ``url_template`` is formatted with ``base`` / ``target``. Per-row errors
    yield ``payload = NULL`` (error isolation, ``Fx_1min.py:86-90``) rather
    than failing the task. Never used in tests (offline fixture instead,
    per SURVEY.md §7 non-goals).
    """
    import pandas as pd

    def fetch(batches):
        import requests  # imported lazily; executor-side only

        for pdf in batches:
            payloads = []
            for base, target in zip(pdf["base_currency"], pdf["target_currency"]):
                try:
                    resp = requests.get(
                        url_template.format(base=base, target=target),
                        timeout=timeout,
                    )
                    resp.raise_for_status()  # Fx_1min.py:60
                    payloads.append(resp.text)
                except Exception:
                    payloads.append(None)
            yield pd.DataFrame(
                {
                    "base_currency": pdf["base_currency"],
                    "target_currency": pdf["target_currency"],
                    "payload": payloads,
                }
            )

    return pairs.mapInPandas(
        fetch, "base_currency string, target_currency string, payload string"
    )
