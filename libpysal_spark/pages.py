"""Corpus substrate: Common-Crawl-style pages table + deterministic geocoder.

BASELINE input_hint: the engine's corpus is an Iceberg/Parquet table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.
In this sandbox the table is derived deterministically from the driver's
``documents`` parquet (no external data); ``text`` is carried through
**untouched** end-to-end — the per-url byte-identity invariant.

The geocoder maps a document key to a point with pure modular arithmetic
(Knuth multiplicative hashing) — a native column expression, reproducible
bit-for-bit in any SQL engine (it is also the DuckDB oracle's geocoder), with
no Python in the path and no RNG. At 100 TB this runs inside the parquet scan
projection; the subsequent ``floor(x/s)`` tiling key is computed in the same
codegen stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Knuth multiplicative constants (public, e.g. TAOCP vol 3 / xxhash primes).
MULT_X = 2654435761
MULT_Y = 2246822519
WORLD = 1000.0  # synthetic world is a WORLD x WORLD box
_SCALE = 1_000_000


def geocode_exprs(key: str = "doc_id"):
    """(x, y) column expressions in [0, WORLD) from an integer key.

    Same formula as the oracle SQL in geocode_sql() — keep in sync.
    """
    x = ((F.col(key) * F.lit(MULT_X)) % _SCALE) / F.lit(_SCALE / WORLD)
    y = ((F.col(key) * F.lit(MULT_Y)) % _SCALE) / F.lit(_SCALE / WORLD)
    return x, y


def geocode_sql(key: str = "doc_id") -> tuple[str, str]:
    """The identical geocoder as ANSI SQL (used by the DuckDB oracle)."""
    x = f"(({key} * {MULT_X}) % {_SCALE}) / {_SCALE / WORLD!r}"
    y = f"(({key} * {MULT_Y}) % {_SCALE}) / {_SCALE / WORLD!r}"
    return x, y


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint-shaped corpus view over the documents table.

    (url, warc_ts, html, text, lang) — url embeds the key; text passes
    through byte-identical; html is a deterministic wrapper.
    """
    docs = load_documents(spark, sf_dir)
    return docs.select(
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def document_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, x, y) point table for the weights builders."""
    docs = load_documents(spark, sf_dir)
    x, y = geocode_exprs("doc_id")
    return docs.select(F.col("doc_id").alias("id"), x.alias("x"), y.alias("y"))


def extract_text(html_col: str = "html") -> F.Column:
    """Generic HTML→text extraction as a native column expression.

    Decode the raw bytes, drop every ``<...>`` tag run, keep character data
    untouched — the byte-identity contract of the north_star ("extracted
    text byte-identical per url"). On the sandbox corpus the wrapper is
    ``<html><body>…</body></html>`` and document text contains no angle
    brackets, so the generic strip is exact; a production pipeline swaps a
    full parser in behind the same column signature. Pure JVM regexp —
    whole-stage codegen, no Python.
    """
    return F.regexp_replace(F.decode(F.col(html_col), "UTF-8"), "<[^>]*>", "")
