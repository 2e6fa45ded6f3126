"""dedupe_rust_spark — a PySpark-native web-page dedup / record-linkage engine.

A from-scratch Spark-first reimplementation of the *capabilities* of the
reference `vteam-com/dedupe-rust` (an exact-duplicate image finder built as a
blocking -> cheap-hash -> expensive-hash cascade, /root/reference/src/main.rs:89-109),
generalized to Common-Crawl-style web pages:

    pages(url, warc_ts, html, text, lang)
      -> extract (pandas UDF, byte-deterministic)
      -> signatures (sha256 / prefix-hash / SimHash / MinHash)
      -> blocking (exact keys + MinHash-LSH bands, salted for skew)
      -> candidate pairs (block self-join, url_a < url_b)
      -> scoring (vectorized Levenshtein + MinHash-Jaccard estimate,
         exact Jaccard refine near the threshold)
      -> match edges -> connected components -> clusters
      -> metrics / lineage, checkpointed + resumable

Everything is DataFrame + Arrow pandas UDFs; no per-row Python, no RDDs.
"""

__version__ = "0.1.0"

# The one code-version tag, keyed into every checkpoint's resume key
# (SURVEY.md §4.3.3): bump it on any change to what extraction (textcore)
# or the signatures (sigcore) compute.
ALGO_VERSION = "3"  # r3: surrogate-long fuzzy path (id=xxhash64(url)),
# band-decorrelated salting, md5-min fingerprint family. The decision
# constants (thresholds, refine band, signature sizes, candidate and block
# bounds) are keyed next to it (plans/pipeline.py decision_constants).
