"""Declared StructTypes for every stage table (SURVEY.md §1.2).

SIGNATURES, CANDIDATES, SCORES, CLUSTERS and METRICS are the column names
and types of the parquet tables a `DedupPipeline` run with an out_dir
writes (tested against the written files).

Fixed, explicit schemas — no inference — because byte-identical parity
and cross-engine (DuckDB oracle) comparison demand exact types.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SIGNATURES = T.StructType(
    [
        # id = xxhash64(url): the 8-byte surrogate key the whole fuzzy path
        # (blocks, pairs, scores, CC) shuffles instead of url strings
        T.StructField("id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("text_sha256", T.StringType(), True),
        T.StructField("prefix_hash", T.LongType(), True),
        T.StructField("simhash", T.LongType(), True),
        T.StructField("bands", T.ArrayType(T.LongType()), True),
        T.StructField("minhash", T.ArrayType(T.ShortType()), True),
        T.StructField("n_chars", T.IntegerType(), True),
    ]
)

# The signature UDF emits LSH band bucket keys (32 longs) plus the MinHash
# signature truncated to its low 16 bits per row (128 shorts, 256 B): the
# truncation inflates the Jaccard estimate only by (1-j)/65536 collisions,
# and carrying it lets scoring estimate Jaccard JVM-side (zip_with
# equality) instead of re-shingling both texts per pair in Python
# (round-1's hottest Python path, 77% of pipeline wall in score+CC).
# 16 bits not 32: the arrays ride one pair-sized join shuffle, and shuffle
# bytes are the shared resource at high parallelism.
SIG_UDF_RESULT = T.StructType(
    [
        T.StructField("simhash", T.LongType(), True),
        T.StructField("bands", T.ArrayType(T.LongType()), True),
        T.StructField("minhash", T.ArrayType(T.ShortType()), True),
    ]
)

# jacc_est = the JVM-side MinHash Jaccard estimate (scoring.attach_estimates)
CANDIDATES = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("jacc_est", T.DoubleType(), True),
    ]
)

SCORES = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("lev_sim", T.DoubleType(), True),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("is_match", T.BooleanType(), True),
    ]
)

# jaccard in = the JVM-side MinHash estimate (scoring.py); jaccard out = the
# estimate, exactly refined inside the decision band
# (scorecore.JACC_REFINE_LO..JACC_REFINE_HI)
SCORE_UDF_RESULT = T.StructType(
    [
        T.StructField("lev_sim", T.DoubleType(), True),
        T.StructField("jaccard", T.DoubleType(), True),
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("cluster_id", T.StringType(), False),
    ]
)

LABELED_PAIRS = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("is_dup", T.BooleanType(), False),
        T.StructField("tier", T.StringType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
