"""Extract + signature stage (reference analogs G3, H1, D1).

pages -> signatures(url, host, lang, text, text_sha256, prefix_hash,
simhash, bands, n_chars)

The cheap->expensive cascade of the reference (dimensions -> 3,000-byte
prefix hash -> full decode hash, /root/reference/src/main.rs:241-259) maps to:
  * prefix_hash  = xxhash64(first 3,000 bytes of html)   — built-in, JVM-side
  * text_sha256  = sha2(text, 256)                       — built-in, JVM-side
  * simhash/minhash-bands                                — one pandas UDF pass
Only the UDF columns leave the JVM; everything else stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import extract_text_udf, signatures_udf

PREFIX_BYTES = 3000  # reference reads the first 3,000 raw bytes (main.rs:525-534)


def extract(pages: DataFrame, use_golden_text: bool = False) -> DataFrame:
    """html -> text via the deterministic extraction UDF.

    use_golden_text=True trusts a pre-extracted `text` column (production
    re-crawls store it); default recomputes — the parity test asserts both
    agree byte-for-byte.
    """
    if use_golden_text and "text" in pages.columns:
        return pages
    return pages.withColumn("text", extract_text_udf(F.col("html")))


def signatures(extracted: DataFrame) -> DataFrame:
    """Attach all signature columns; drops rows with no extractable text
    (the reference silently drops undecodable files, main.rs:381-391 —
    we filter explicitly and the pipeline counts drops into metrics).

    `id = xxhash64(url)` is the surrogate join/shuffle key for the whole
    fuzzy path (blocking -> candidates -> scoring -> CC): an 8-byte long
    instead of a 60-80 B url string on every band row, pair row, and CC
    round — 4-8x fewer shuffled key bytes at scale. urls come back once,
    at cluster output: the exact group map (url, root_id) carries each url
    to its root's label (cluster.propagate_to_members).
    Collision math: 64-bit birthday bound ~n^2/2^65 — negligible at sandbox
    scales, ~3e4 expected colliding url pairs at 10^12 docs; the pipeline
    AUDITS every run (per id, min != max of a second, independent url
    hash: plans/pipeline.py `_audit_ids`) and fails before any output
    rather than silently merging clusters. At trillion-doc scale swap in a
    128-bit key (two independent 64-bit hash columns) — same dataflow.
    """
    sig = (
        extracted
        .withColumn("id", F.xxhash64(F.col("url")))
        .withColumn("prefix_hash",
                    F.xxhash64(F.expr(f"substring(html, 1, {PREFIX_BYTES})")))
        .withColumn("text_sha256", F.sha2(F.col("text").cast("binary"), 256))
        .withColumn("n_chars", F.length("text").cast("int"))
        .withColumn("sig", signatures_udf(F.col("text")))
        .select(
            "id", "url", "host", "lang", "text",
            "text_sha256", "prefix_hash",
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.bands").alias("bands"),
            F.col("sig.minhash").alias("minhash"),
            "n_chars",
        )
    )
    return sig.filter(F.col("text").isNotNull())
