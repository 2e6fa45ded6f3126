"""Incremental dedup over a stream of newly-crawled pages.

The reference is one-shot batch (SURVEY.md §2.1: no streaming); a
continuously-fed crawl wants the same semantics incrementally: as new pages
arrive, find which are duplicates of anything already seen, and extend the
seen-signature state.

Design: Structured Streaming file source -> foreachBatch. Each micro-batch
  1. extracts + signs the new pages (same UDFs as batch — identical
     semantics by construction),
  2. joins the batch's text_sha256 against the signature state to emit
     match edges (new_url -> first seen url with identical text),
  3. [fuzzy=True] joins the LSH band keys of the batch's not-exactly-seen
     pages against the band index and scores the candidate pairs with the
     batch pipeline's own scorer (scoring.score_candidates) — near-dup
     matches against anything already seen, not just byte-identical,
  4. writes the batch into the state.
foreachBatch (not a stateful operator) because the state must be shared
with the batch pipeline and survive restarts.

State: one layer abstraction, two tables. A `Layer` names a table's
per-batch subdir, its snapshot subdir and its partition column:
  SIG_LAYER   batches/batch_id=N/sha_prefix=H/   compacted/upto=K/sha_prefix=H/
  BAND_LAYER  bands/batch_id=N/bk_mod=M/         bands_compacted/upto=K/bk_mod=M/
The signature table holds SIG_STATE_COLS (FUZZY_STATE_COLS for fuzzy
streams: the signatures table the batch pipeline checkpoints; a state dir
belongs to one mode). The band index (fuzzy only) holds (block_key, id)
rows — blocking.lsh_blocks keys, id = xxhash64(url) — partitioned by
pmod(block_key, BAND_INDEX_PARTS). `_read_layer` reads either table as
"newest upto= snapshot + batch_id= dirs below the current batch", and
`_compact` folds either one. The band read lists only the bk_mod dirs the
batch's own keys touch (path-level pruning, inputFiles-asserted in tests)
and joins 8-byte ids; the (small) batch's keys are broadcast so the state
never shuffles. Like the exact tier, fuzzy matches are found against
PRE-batch state only (within-batch pairs surface when either url recurs,
or through the batch pipeline over the full corpus).

Delivery semantics: every sink is written as a `batch_id=N` directory with
mode("overwrite") scoped to that directory — a micro-batch retried after a
partial failure REWRITES its own dirs instead of appending duplicates, so
the sinks are idempotent per batch (effectively exactly-once at the
directory level). State reads take only batch_id < N: a retry of batch N
must not see its own failed attempt's partial state, or min(url) could
resolve inside the batch and the retry would emit different matches than
a clean first run.

Compaction: every `compact_every` batches, process_batch folds each
table's committed batch dirs (< current batch) plus its previous snapshot
into a new `upto=` snapshot and deletes what it folded — state reads stay
O(state), not O(batches). Readers take ONLY the max `upto=` snapshot, so a
crash between writing a new snapshot and deleting the old one never
double-counts, and the next fold drops the crash duplicates.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocking import lsh_blocks
from ..operators.signatures import extract, signatures
from ..schemas import PAGES
from ..sources.pages import clean_pages

SIG_STATE_COLS = ["url", "host", "lang", "text_sha256", "n_chars"]
# fuzzy tier state additionally carries the LSH band keys (32 longs), the
# MinHash rows (estimate scoring) and the text (exact refinement in the
# decision band) — i.e. the state IS the signatures table, exactly what
# the batch pipeline checkpoints
FUZZY_STATE_COLS = SIG_STATE_COLS + ["bands", "minhash", "text"]
BAND_COLS = ["block_key", "id"]
DEFAULT_COMPACT_EVERY = 8

# band index partitions: each batch reads only the pmod(block_key, P) dirs
# its own keys touch. P is a layout constant: changing it requires
# reindexing (compaction rewrites everything anyway).
BAND_INDEX_PARTS = 64


class Layer(NamedTuple):
    batches: str    # per-batch dirs: <batches>/batch_id=N/<part>=V/
    snapshots: str  # folded dirs: <snapshots>/upto=K/<part>=V/
    part: str       # partition column of both


SIG_LAYER = Layer("batches", "compacted", "sha_prefix")
BAND_LAYER = Layer("bands", "bands_compacted", "bk_mod")


def posix_lister(path: str) -> list[str]:
    """Default directory lister: driver-side os.listdir, correct on POSIX /
    HDFS-like mounts (this sandbox, NFS, fuse). Returns child names, [] if
    the directory does not exist."""
    if not os.path.isdir(path):
        return []
    return os.listdir(path)


def hadoop_lister(spark: SparkSession):
    """Object-store lister: Hadoop FileSystem.listStatus via the session's
    JVM — the swap-in for s3a/gs/abfs state dirs where os.listdir has no
    meaning. Same contract as posix_lister (child names, [] if absent)."""
    def _list(path: str) -> list[str]:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]
    return _list


def posix_remover(path: str) -> None:
    """Default recursive directory remover (compaction cleanup). Pair of
    posix_lister: shutil has no meaning on object stores."""
    shutil.rmtree(path, ignore_errors=True)


def hadoop_remover(spark: SparkSession):
    """Object-store remover: Hadoop FileSystem.delete(recursive) — the
    swap-in beside hadoop_lister; without it compaction on s3a/gs would
    write snapshots but silently never delete the folded batch dirs
    (shutil.rmtree no-ops there), so state reads would double-count and
    the dir would grow without bound."""
    def _rm(path: str) -> None:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
    return _rm


def _batch_ids(state_dir: str, lister=posix_lister,
               subdir: str = "batches") -> list[int]:
    return sorted(int(f.split("=", 1)[1])
                  for f in lister(os.path.join(state_dir, subdir))
                  if f.startswith("batch_id="))


def _compacted_uptos(state_dir: str, lister=posix_lister,
                     subdir: str = "compacted") -> list[int]:
    return sorted(int(f.split("=", 1)[1])
                  for f in lister(os.path.join(state_dir, subdir))
                  if f.startswith("upto="))


def _read_layer(spark: SparkSession, state_dir: str, layer: Layer,
                cols: list[str], before_batch: int | None = None,
                lister=posix_lister,
                parts: list[int] | None = None) -> DataFrame | None:
    """One state table: its newest compacted snapshot + its batch dirs,
    `cols` selected (partition columns included), None when nothing is
    stored. before_batch=N excludes state written by batch N or later —
    the retry-safety contract (a snapshot only ever folds batches < any
    live batch, so snapshots never need the filter). `parts` prunes at the
    PATH level to those values of the layer's partition column: only
    their dirs are listed into the scan."""
    uptos = _compacted_uptos(state_dir, lister, layer.snapshots)
    bids = [b for b in _batch_ids(state_dir, lister, layer.batches)
            if before_batch is None or b < before_batch]
    want = None if parts is None else {f"{layer.part}={p}" for p in parts}
    frames = []
    for sub, dirs in ((layer.snapshots, [f"upto={u}" for u in uptos[-1:]]),
                      (layer.batches, [f"batch_id={b}" for b in bids])):
        root = os.path.join(state_dir, sub)
        paths = [os.path.join(root, d) for d in dirs]
        if want is not None:
            paths = [os.path.join(d, f) for d in paths
                     for f in lister(d) if f in want]
        if paths:
            # partition values come back type-inferred: a snapshot whose
            # sha_prefix dirs are all digits would read as bigint and fail
            # the union/join with 'a'..'f' prefixes, so keep them strings
            frames.append(spark.read.option("basePath", root)
                          .parquet(*paths)
                          .withColumn(layer.part,
                                      F.col(layer.part).cast("string"))
                          .select(*cols))
    return reduce(DataFrame.unionByName, frames) if frames else None


def _compact(spark: SparkSession, state_dir: str, layer: Layer,
             cols: list[str], current_batch: int,
             lister=posix_lister, remover=posix_remover) -> None:
    """Fold one table's committed batch dirs (< current_batch) + its
    previous snapshot into <snapshots>/upto=<current_batch-1>, then delete
    what was folded. Idempotent: a retried fold overwrites the same upto
    dir; readers use the MAX upto snapshot so stragglers are ignored until
    removed. Self-heal: if a previous fold crashed after writing its
    snapshot but before deleting the folded batch dirs, this fold reads
    both; crash duplicates are FULL-ROW identical, so they are dropped on
    the complete row (a url re-crawled with different text keeps both
    rows, and future matches against either text stay correct)."""
    bids = [b for b in _batch_ids(state_dir, lister, layer.batches)
            if b < current_batch]
    if not bids:
        return
    upto = current_batch - 1
    (_read_layer(spark, state_dir, layer, cols + [layer.part],
                 current_batch, lister)
     .dropDuplicates(cols)
     .write.partitionBy(layer.part).mode("overwrite")
     .parquet(os.path.join(state_dir, layer.snapshots, f"upto={upto}")))
    for b in bids:
        remover(os.path.join(state_dir, layer.batches, f"batch_id={b}"))
    for u in _compacted_uptos(state_dir, lister, layer.snapshots):
        if u != upto:
            remover(os.path.join(state_dir, layer.snapshots, f"upto={u}"))


def _band_sig_index(sig: DataFrame) -> DataFrame:
    """(block_key, id, bk_mod) band-index rows for a signature batch:
    blocking.lsh_blocks keys, id = xxhash64(url) — the batch pipeline's
    surrogate key discipline."""
    return (lsh_blocks(sig.select(F.xxhash64("url").alias("id"), "bands"))
            .withColumn("bk_mod", F.pmod("block_key", F.lit(BAND_INDEX_PARTS))))


def _fuzzy_matches(sig: DataFrame, prev: DataFrame, idx: DataFrame
                   ) -> DataFrame:
    """Near-dup matches of the batch against pre-batch state:
    (url, matched_url, score) — the best-scoring state match per new url,
    deterministic (ties break to the lexicographically smallest url).

    Candidate generation is the batch pipeline's banding: the batch's
    blocking.lsh_blocks keys are broadcast and equi-joined against `idx`,
    the (block_key, id) band index already pruned to the batch's touched
    partitions by the caller, so the join carries 8-byte ids only and
    matched ids join back to `prev` for urls.
    A url is NEVER a fuzzy match of itself: a re-crawled url whose text
    drifted is excluded here by the url != matched_url filter (its
    batch and state rows stay distinct via the n:/o: namespaces below)
    — version-drift detection would be a different `kind`, not a match.
    The DECISION is not mirrored but REUSED — candidate pairs
    are fed through scoring.score_candidates over a two-namespace
    url-keyed signature table ("n:"/"o:" prefixes keep a re-crawled url's
    batch row distinct from its state row), so the estimate fast path,
    refinement band, and lev-OR-jaccard rule are the batch pipeline's own
    code, not a copy that could drift. Pair-side joins inside the shared
    code resolve to broadcasts at runtime via AQE (candidates are
    micro-batch-sized; session.py enables AQE)."""
    from ..operators import scoring

    nb = lsh_blocks(sig.select(F.col("url").alias("id"), "bands"))
    cand = (
        idx.join(F.broadcast(nb.withColumnRenamed("id", "url")), "block_key")
        .select("url", "id")
        .distinct()
        .join(prev.select(F.xxhash64("url").alias("id"),
                          F.col("url").alias("matched_url")), "id")
        .filter(F.col("url") != F.col("matched_url"))
        .select(F.concat(F.lit("n:"), "url").alias("id_a"),
                F.concat(F.lit("o:"), "matched_url").alias("id_b"))
        .distinct()
    )
    sig_u = (
        sig.select(F.concat(F.lit("n:"), "url").alias("id"),
                   "minhash", "text")
        .unionByName(prev.select(F.concat(F.lit("o:"), "url").alias("id"),
                                 "minhash", "text"))
    )
    scores = scoring.score_candidates(cand, sig_u)
    matched = scores.filter(F.col("is_match")).select(
        F.expr("substring(id_a, 3)").alias("url"),
        F.expr("substring(id_b, 3)").alias("matched_url"),
        # fast-path rows carry the estimate in `jaccard` (lev null);
        # greatest() skips nulls — same score surface as the batch path
        F.greatest("lev_sim", "jaccard").alias("score"),
    )
    # best match per new url: max score, then min matched_url — one hash
    # agg over a struct (no window sort)
    return (
        matched
        .groupBy("url")
        .agg(F.min(F.struct((-F.col("score")).alias("_ns"),
                            F.col("matched_url").alias("_mu"))).alias("_b"))
        .select("url", F.col("_b._mu").alias("matched_url"),
                (-F.col("_b._ns")).alias("score"))
    )


def start_incremental_dedup(spark: SparkSession, input_dir: str,
                            state_dir: str, matches_dir: str,
                            checkpoint_dir: str, available_now: bool = True,
                            compact_every: int = DEFAULT_COMPACT_EVERY,
                            lister=posix_lister, remover=posix_remover,
                            fuzzy: bool = False):
    """Start the stream; returns the StreamingQuery (caller awaits it).

    fuzzy=False (default): exact-dup matching only; matches rows are
    (url, first_url, text_sha256) — the original contract. fuzzy=True:
    state carries bands/minhash/text (FUZZY_STATE_COLS; a state dir
    belongs to one mode) and matches rows are (url, matched_url, kind,
    score) with kind in {'exact', 'fuzzy'} — exact matches keep their
    sha-join semantics (score 1.0) and near-dups are scored with the
    batch pipeline's thresholds (scorecore.LEV_MATCH / JACCARD_MATCH)."""
    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    state_cols = FUZZY_STATE_COLS if fuzzy else SIG_STATE_COLS
    match_schema = ("url string, matched_url string, kind string, "
                    "score double" if fuzzy else
                    "url string, first_url string, text_sha256 string")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig = (
            signatures(extract(clean_pages(batch_df)))
            .select(*state_cols)
            .withColumn("sha_prefix", F.substring("text_sha256", 1, 1))
            .localCheckpoint()  # batch_df is single-use; state join re-reads
        )
        # pre-batch state only: batch_id < N excludes a failed attempt's
        # own partial writes, so retry output == first-run output
        prev = _read_layer(spark, state_dir, SIG_LAYER,
                           state_cols + ["sha_prefix"], batch_id, lister)
        matches = spark.createDataFrame([], match_schema)
        if prev is not None:
            seen = prev.groupBy("sha_prefix", "text_sha256").agg(
                F.min("url").alias("first_url")
            )
            sha_hits = sig.join(seen, ["sha_prefix", "text_sha256"])
            matches = (
                sha_hits
                .filter(F.col("url") != F.col("first_url"))
                .select("url", "first_url", "text_sha256")
            )
        if prev is not None and fuzzy:
            matches = matches.select(
                "url", F.col("first_url").alias("matched_url"),
                F.lit("exact").alias("kind"), F.lit(1.0).alias("score"))
            # near-dup tier runs only for urls whose text is NOT already
            # in state byte-identically: exact-matched urls are settled
            # (score 1.0 beats any fuzzy score), and a RE-DELIVERED url
            # that is itself the sha-group min must not resurface as a
            # "fuzzy" match of its own copies — the anti-join is on sha
            # hits, not on emitted matches
            fresh = sig.join(sha_hits.select("url"), "url", "left_anti")
            # touched index partitions: the fresh band keys mod P (a <=P-row
            # collect off the checkpointed batch); the index read lists
            # ONLY those bk_mod dirs. No dir means no state row shares a
            # band key with the batch, so there is nothing to score.
            mods = [r[0] for r in _band_sig_index(fresh)
                    .select("bk_mod").distinct().collect()]
            idx = _read_layer(spark, state_dir, BAND_LAYER, BAND_COLS,
                              batch_id, lister, parts=mods)
            if idx is not None:
                fz = _fuzzy_matches(fresh, prev, idx)
                matches = matches.unionByName(fz.select(
                    "url", "matched_url", F.lit("fuzzy").alias("kind"),
                    F.col("score").cast("double")))
        # idempotent per-batch sinks: overwrite THIS batch's dirs
        matches.write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"batch_id={batch_id}"))
        tables = [(SIG_LAYER, state_cols, sig)]
        if fuzzy:
            tables.append((BAND_LAYER, BAND_COLS, _band_sig_index(sig)))
        for layer, cols, df in tables:
            df.write.partitionBy(layer.part).mode("overwrite").parquet(
                os.path.join(state_dir, layer.batches, f"batch_id={batch_id}"))
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                _compact(spark, state_dir, layer, cols, batch_id, lister,
                         remover)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
