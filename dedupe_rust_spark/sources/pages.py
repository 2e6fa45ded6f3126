"""Pages source: parquet scan with declared schema (reference analog S1-S5).

The reference walks a directory tree and filters entries
(/root/reference/src/main.rs:127-205); here the "scan" is a columnar
parquet/Iceberg read — Catalyst pushes filters and prunes columns down to
the scan, so blocking never deserializes `html` (only `extract` touches it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import PAGES


def read_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    path = pages_dir if pages_dir.endswith(".parquet") else os.path.join(
        pages_dir, "pages.parquet"
    )
    return spark.read.schema(PAGES).parquet(path)


def read_labeled_pairs(spark: SparkSession, pages_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(pages_dir, "labeled_pairs.parquet"))


def clean_pages(df: DataFrame, exclude_hosts: list[str] | None = None) -> DataFrame:
    """Source-side predicates, all Catalyst-pushable (S2/S3/S4/S5 analogs):
    drop blank/malformed urls and excluded hosts; lowercase lang; (re)derive
    host. Null-html rows pass through: they extract to null text, which
    `signatures` drops."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    out = (
        df.filter(F.col("url").isNotNull() & (F.length("url") > 0))
        .filter(F.col("url").startswith("http"))
        .withColumn("host", host)
        .withColumn("lang", F.lower(F.col("lang")))
    )
    if exclude_hosts:
        out = out.filter(~F.col("host").isin(exclude_hosts))
    return out


def spread(df: DataFrame) -> DataFrame:
    """Spread an under-parallel source across the cluster before an
    expensive per-row stage (extraction, signature and shingle UDFs): the
    synthetic pages table and the catalog's dpages source are 1-3 parquet
    splits, so those stages would otherwise run on 1-3 tasks. Conditional
    on the actual split count: a real corpus scan already yields tens of
    thousands of splits and must NOT pay a full-corpus shuffle (html
    included). The split count is parquet footer metadata, so the check
    runs no job. Row values are per-row deterministic, so partitioning
    never changes an output."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < 2 * par:
        return df.repartition(2 * par)
    return df
