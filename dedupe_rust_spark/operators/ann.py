"""Approximate-nearest-neighbor search over an embedding column.

Tiers (training-data-pipeline ops, beyond the reference's surface):
  * cosine_topk      — brute-force exact top-k (cross join, window top-k);
                       the baseline and correctness oracle.
  * lsh_cosine_pairs — near-dup self-join over SRP LSH blocks, banded
                       map-side on the scan's own splits (no spread):
                       one narrow (shard, id, code_sig) row per vector
                       and score shard its blocks hash to, one shuffle of
                       those rows, the vector attached after it, then one
                       grouped Arrow kernel per shard rebuilds and scores
                       its blocks (tiled batched matmuls, every pair
                       emitted once). A shard holds one row per vector it
                       touches, not one per (table, bucket) entry.
  * lsh_cosine_topk / ivf_cosine_topk — bucketed / k-means-cell top-k.

Every operator reads a (vec_id long, embedding array<float>) table. The
SRP hyperplanes come from one seed (SRP_SEED) and the IVF codebook from
IVF_ITERS driver-side Lloyd iterations over a fixed 1/IVF_SAMPLE_MOD id
sample; none of these is a parameter.

The Python surface reads embeddings by one flatten + reshape: Arrow UDFs
doing one numpy pass per batch for SRP bucketing, score-shard banding and
IVF cell assignment (dense matmuls against a constant matrix, whose
expression-tree form was a measured plan-size pathology), and the block
kernel, one grouped Arrow call per score shard. Top-k scoring stays
builtin (F.aggregate/F.zip_with), rounded JVM-side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # noqa: F401 — resolves the Arrow UDF type hints
from pyspark.sql import DataFrame, Window, functions as F, types as T

SRP_SEED = 42        # the SRP hyperplane family (np.random.RandomState)
IVF_SAMPLE_MOD = 4   # ivf_train's sample: pmod(xxhash64(vec_id), M) == 0
IVF_ITERS = 3        # ivf_train's Lloyd iterations


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _vectors(df: DataFrame, id_as: str, side: str, *extra) -> DataFrame:
    """(vec_id, embedding) -> (id_as, <side>v, <side>n, *extra): each
    vector's O(dim) norm folds once here, before any pair join, so a
    vector in many pairs does not fold it per pair."""
    return df.select(F.col("vec_id").alias(id_as),
                     F.col("embedding").alias(f"{side}v"),
                     _norm(F.col("embedding")).alias(f"{side}n"), *extra)


def _cosine6():
    """Probe-neighbor cosine from the hoisted norms, rounded to 6 places."""
    return F.round(_dot(F.col("pv"), F.col("cv"))
                   / (F.col("pn") * F.col("cn")), 6)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best neighbors per probe by cosine, ties to the smaller id."""
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10
                ) -> DataFrame:
    """Exact top-k cosine neighbors per probe (excluding self).

    Broadcast the probe side — the corpus never shuffles; each corpus
    partition streams past the in-memory probe table.
    """
    p = _vectors(probes, "probe_id", "p")
    c = _vectors(corpus, "neighbor_id", "c")
    scored = (
        c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine6())
    )
    return _top_k(scored, k)


def _srp_planes(bits: int, n_tables: int, dim: int,
                seed_per_table: bool = False) -> np.ndarray:
    """(n_tables*bits, dim) seeded hyperplanes; see srp_band_blocks."""
    if seed_per_table:
        return np.concatenate([
            np.random.RandomState(SRP_SEED + t).standard_normal((bits, dim))
            for t in range(n_tables)
        ])
    return np.random.RandomState(SRP_SEED).standard_normal(
        (n_tables * bits, dim))


def _srp_codes(M: np.ndarray, W: np.ndarray, bits: int) -> np.ndarray:
    """(n, dim) float64 rows -> (n, tables) SRP bucket ids: one matmul
    against the (dim, tables*bits) plane matrix, sign, bit-pack. Banding
    and the block kernel share it, so both see the same projections."""
    S = (M @ W) > 0
    weights = (1 << np.arange(bits)).astype(np.int64)
    return (S.reshape(len(M), W.shape[1] // bits, bits) * weights).sum(axis=2)


def _dense_rows(col: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """list<float|double> column -> (row validity, (n_valid, dim) matrix of
    the element type): one flatten + reshape, null rows carry no values."""
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    values = col.flatten().to_numpy(zero_copy_only=False)
    n = int(valid.sum())
    if len(values) != n * dim:
        raise ValueError(f"embeddings must have {dim} elements, got "
                         f"{len(values)} values for {n} rows")
    return valid, values.reshape(n, dim)


def _matrix_udf(fn, dim: int, elem: T.DataType):
    """Arrow UDF: embedding -> array<elem>, the row of fn(float64 batch
    matrix) for each non-null row (null in, null out), no per-row Python."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(T.ArrayType(elem))
    def rows(col: pa.Array) -> pa.Array:
        valid, M = _dense_rows(col, dim)
        out = fn(M.astype(np.float64))
        offsets = np.concatenate([[0], np.cumsum(valid * out.shape[1])])
        return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                        pa.array(out.ravel()),
                                        mask=pa.array(~valid))

    return rows


def _srp_buckets_udf(planes, bits: int):
    """Arrow UDF: embedding -> array<long> of per-table SRP bucket ids, ONE
    numpy matmul per batch (_srp_codes). Deterministic: the plane matrix is
    a seeded literal baked into the UDF closure.

    Why a UDF: per-plane expressions build n_planes*dim literal nodes (a
    ~16k-node plan took ~50 s of analysis/codegen for a 2,000-row corpus)
    and a nested-array literal + higher-order functions stalls the
    analyzer; a dense matmul against a constant is the Arrow-batch case."""
    W = planes.T.copy()                      # (dim, tables*bits)
    return _matrix_udf(lambda M: _srp_codes(M, W, bits), W.shape[0],
                       T.LongType())


def srp_band_blocks(df: DataFrame, bits: int = 4, n_tables: int = 8,
                    dim: int = 64, seed_per_table: bool = False) -> DataFrame:
    """All SRP tables in ONE pass: -> (block_key, vec_id, table, bucket) rows
    via a single posexplode, the same banding shape as MinHash-LSH
    (blocking.lsh_blocks). One scan, one explode, no per-table union — at
    10^9 rows this is one key stream instead of n_tables separate plans.

    seed_per_table=True draws table t's hyperplanes from
    RandomState(SRP_SEED + t) (first `bits` rows) — the exact plane family
    of a one-table-per-seed loop, so callers migrating from per-table plans
    keep identical bucket assignments. Default False is the one-stream
    family lsh_cosine_pairs bands with (its equality oracle pins it)."""
    udf = _srp_buckets_udf(
        _srp_planes(bits, n_tables, dim, seed_per_table), bits)
    # block_key is an 8-byte long (xxhash64 of table+bucket), matching the
    # text path's band keys (blocking.lsh_blocks): cheaper to shuffle and
    # compare than a varchar "t:b" key at 10^9+ vectors x 64 tables.
    return df.select(
        F.col("vec_id"),
        F.posexplode(udf(F.col("embedding"))).alias("table", "bucket"),
    ).select(
        F.xxhash64(F.col("table"), F.col("bucket")).alias("block_key"),
        "vec_id", "table", "bucket",
    )


_TILE = 256  # score rows per matmul: <= _TILE * max(m, _TILE) floats each


def _score_blocks(V: np.ndarray, codes: np.ndarray, rows: np.ndarray,
                  offsets: np.ndarray, tables: np.ndarray, threshold: float,
                  stats: dict | None = None):
    """Block-local cosine join over a batch of SRP blocks. V is a float64
    (n, dim) matrix and codes its (n, n_tables) SRP codes (_srp_codes).
    Block i owns the V rows rows[offsets[i]:offsets[i+1]], which share
    their table-tables[i] code. Returns (row_a, row_b, unrounded cosine),
    row indices into V, each pair once.

    1. Screen with float32 normalized cosines, one batched matmul per block
       size (score arrays of <= _TILE^2 floats, or (_TILE, m) row tiles of
       a larger block), keeping >= threshold - 1e-3: float32 error is ~1e-6
       and round(., 4) moves a value by <= 5e-5. NaN (zero-norm) survives,
       as Spark orders NaN above every number.
    2. Keep a pair only in the lowest table where its bucket codes agree,
       so each pair is emitted once.
    3. Rescore with the float64 left fold over dimensions — the operation
       order of F.aggregate and the DuckDB oracle, so bit-identical.
    stats, if given, gets "max_tile" (floats in the largest score array)."""
    sizes = np.diff(offsets)
    row_block = np.repeat(np.arange(len(sizes)), sizes)
    VT = np.ascontiguousarray(V.T)
    nsq = np.zeros(len(V))
    for x in VT:
        nsq += x * x
    with np.errstate(divide="ignore", invalid="ignore"):
        U = (V / np.sqrt(nsq)[:, None]).astype(np.float32)
    cut = np.float32(threshold - 1e-3)
    pos_a, pos_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    max_tile = 0
    for m in np.unique(sizes[sizes > 1]).tolist():
        starts = offsets[:-1][sizes == m]
        step = max(1, _TILE * _TILE // (m * m))
        for c in range(0, len(starts), step):
            pos = starts[c:c + step, None] + np.arange(m)      # (k, m)
            X = U[rows[pos]]                                   # (k, m, dim)
            for r0 in range(0, m, _TILE):
                S = X[:, r0:r0 + _TILE] @ X[:, r0:].transpose(0, 2, 1)
                max_tile = max(max_tile, S.size)
                upper = np.arange(S.shape[2]) > np.arange(S.shape[1])[:, None]
                k, i, j = np.nonzero(~(S < cut) & upper)
                pos_a.append(pos[k, r0 + i])
                pos_b.append(pos[k, r0 + j])
    if stats is not None:
        stats["max_tile"] = max_tile
    pos_a, pos_b = np.concatenate(pos_a), np.concatenate(pos_b)
    blk, ra, rb = row_block[pos_a], rows[pos_a], rows[pos_b]
    # first table where each pair's codes agree; every pair agrees in its
    # own block's table, so the open set empties by tables.max()
    lowest, open_ = np.empty(len(ra), np.int64), np.arange(len(ra))
    for u, code in enumerate(codes.T):
        agree = code[ra[open_]] == code[rb[open_]]
        lowest[open_[agree]] = u
        open_ = open_[~agree]
    keep = lowest == tables[blk]
    ra, rb = ra[keep], rb[keep]
    dot = np.zeros(len(ra))
    for x in VT:
        dot += x[ra] * x[rb]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / (np.sqrt(nsq[ra]) * np.sqrt(nsq[rb]))
    return ra, rb, cos


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping multiplies): a fixed
    hash that banding and the block kernel compute identically."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _block_shards(codes: np.ndarray, bits: int, shards: int) -> np.ndarray:
    """(n, tables) SRP codes -> (n, tables) score shard of each block
    (table, bucket): a fixed hash of table << bits | bucket, mod shards."""
    key = (np.arange(codes.shape[1], dtype=np.uint64) << np.uint64(bits)) \
        | codes.astype(np.uint64)
    return (_mix64(key) % np.uint64(shards)).astype(np.int32)


def _code_sig(codes: np.ndarray) -> np.ndarray:
    """(n, tables) SRP codes -> one int64 hash of each whole code row."""
    h = np.zeros(len(codes), np.uint64)
    for code in codes.T.astype(np.uint64):
        h = _mix64(h + code + np.uint64(0x9E3779B97F4A7C15))
    return h.view(np.int64)


def _shard_band_udf(planes, bits: int, shards: int):
    """Arrow UDF: embedding -> struct<sig long, shards array<int>>: the
    code_sig of the vector's SRP code row and the distinct score shards
    its n_tables blocks hash to (at most min(shards, n_tables)), one
    matmul per batch. A null embedding maps to a null struct."""
    from pyspark.sql.functions import arrow_udf

    W = planes.T.copy()
    out_type = T.StructType([
        T.StructField("sig", T.LongType()),
        T.StructField("shards", T.ArrayType(T.IntegerType())),
    ])

    @arrow_udf(out_type)
    def band(col: pa.Array) -> pa.Array:
        valid, M = _dense_rows(col, W.shape[0])
        codes = _srp_codes(M.astype(np.float64), W, bits)
        sh = np.sort(_block_shards(codes, bits, shards), axis=1)
        first = np.ones_like(sh, dtype=bool)
        first[:, 1:] = sh[:, 1:] != sh[:, :-1]
        counts = np.zeros(len(valid), np.int64)
        counts[valid] = first.sum(axis=1)
        offsets = pa.array(np.r_[0, np.cumsum(counts)].astype(np.int32))
        sig = np.zeros(len(valid), np.int64)
        sig[valid] = _code_sig(codes)
        return pa.StructArray.from_arrays(
            [pa.array(sig), pa.ListArray.from_arrays(offsets,
                                                     pa.array(sh[first]))],
            fields=[pa.field("sig", pa.int64()),
                    pa.field("shards", pa.list_(pa.int32()))],
            mask=pa.array(~valid))

    return band


def _shard_kernel(planes, bits: int, shards: int, threshold: float):
    """applyInArrow function: one score shard's (shard, id, code_sig,
    embedding) rows -> the shard's pairs (vec_id_a, vec_id_b, unrounded
    cosine). The rows are every vector with a block in this shard, so the
    shard's complete blocks are the (row, table) entries whose block
    hashes here; one _score_blocks call scores them. The codes are
    computed once per shard and must reproduce each row's code_sig, else
    the banding and the kernel disagree on some table's bucket."""
    W = planes.T.copy()

    def score_shard(shard: pa.Table) -> pa.Table:
        ids = shard.column("vec_id").combine_chunks().to_numpy()
        V = _dense_rows(shard.column("embedding").combine_chunks(),
                        W.shape[0])[1].astype(np.float64)
        codes = _srp_codes(V, W, bits)
        sig = shard.column("code_sig").combine_chunks().to_numpy()
        if not np.array_equal(_code_sig(codes), sig):
            raise RuntimeError("SRP codes recomputed in the block kernel "
                               "differ from the banding's code_sig")
        here = shard.column("shard")[0].as_py()
        row, table = np.nonzero(_block_shards(codes, bits, shards) == here)
        bucket = codes[row, table]
        order = np.lexsort((bucket, table))
        row, table, bucket = row[order], table[order], bucket[order]
        head = np.flatnonzero(np.r_[True, (table[1:] != table[:-1])
                                    | (bucket[1:] != bucket[:-1])])
        sizes = np.diff(np.r_[head, len(row)])
        multi = sizes > 1
        ra, rb, cos = _score_blocks(
            V, codes, row[np.repeat(multi, sizes)],
            np.r_[0, np.cumsum(sizes[multi])], table[head[multi]], threshold)
        return pa.table({"vec_id_a": np.minimum(ids[ra], ids[rb]),
                         "vec_id_b": np.maximum(ids[ra], ids[rb]),
                         "cosine": cos})

    return score_shard


def lsh_cosine_pairs(df: DataFrame, threshold: float = 0.35, bits: int = 4,
                     n_tables: int = 64, dim: int = 64) -> DataFrame:
    """Embedding near-dup pairs via bucketed LSH: only same-bucket pairs are
    scored — the 100TB-shaped twin of the brute-force theta join
    (plans/queries.q_emb_cosine_dups). Strong OR-amplification (default 64
    tables x 4 bits) makes recall at `threshold` effectively 1 on small
    corpora, so the brute-force DuckDB SQL is a hard equality oracle.

    Scale dial: bits grows with corpus size (bucket count 2^bits bounds the
    per-bucket pair fan-out); tables buy back the recall that extra bits
    cost.

    Plan shape: banding runs on the scan's own splits (no spread shuffle;
    a split is at most maxPartitionBytes and banding it is one matmul per
    Arrow batch). One Arrow UDF (_shard_band_udf) computes each vector's
    n_tables SRP codes, hashes every block (table, bucket) to one of S
    score shards, and returns the distinct shards with code_sig, a 64-bit
    hash of the whole code row; an explode makes one narrow
    (shard, id, code_sig) row per (vector, shard) — at most
    min(S, n_tables) per vector, not one per table. ONE shuffle,
    repartition(S, shard), moves those rows; every member of a block is
    in the block's shard. Vectors attach after it by a broadcast join,
    which keeps the partitioning; a corpus too large to broadcast keeps
    the embedding on the banded rows instead, so its plan is still one
    exchange and no join. One grouped Arrow kernel per shard
    (_shard_kernel) recomputes the codes, checks them against code_sig,
    rebuilds the blocks hashed to its shard and scores them
    (_score_blocks): batched matmuls, tiled so a degenerate bucket costs
    O(tile x m) memory, each pair emitted once — no pair rows,
    pair-level distinct or pair-to-vector joins. Rounding and the
    threshold filter stay JVM-side.

    S is 2 x defaultParallelism for a small corpus, else the scan's split
    count. A shard is one Arrow group handed to one Python call, so it is
    held whole in that worker: one row per vector with a block in the
    shard, at most min(n, n x n_tables / S) of the n vectors. With S tied
    to the split count that is at most n_tables splits' worth of vectors
    however large the corpus grows (one degenerate block is still one
    shard: the kernel's row tiling bounds its score memory, not its
    member count)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # a scan's split count is known without a job (footer metadata): a
    # corpus read in fewer splits than there are cores is small enough to
    # broadcast, and it sizes the score shards
    splits = df.rdd.getNumPartitions()
    small_corpus = splits < par
    shards = 2 * par if small_corpus else splits
    planes = _srp_planes(bits, n_tables, dim)
    band = _shard_band_udf(planes, bits, shards)(F.col("embedding"))
    vec = [] if small_corpus else ["embedding"]   # else attached by broadcast
    # an explicit count: scoring is quadratic per block while a banded row
    # is a few bytes, so AQE's byte-based coalescing would pack all shards
    # into 1-2 tasks
    rows = (
        df.select("vec_id", *vec, band.alias("band"))
        .select(F.explode("band.shards").alias("shard"), "vec_id",
                F.col("band.sig").alias("code_sig"), *vec)
        .repartition(shards, "shard")
    )
    if small_corpus:
        rows = rows.join(F.broadcast(df.select("vec_id", "embedding")),
                         "vec_id")
    score = _shard_kernel(planes, bits, shards, threshold)
    return (
        rows.groupBy("shard")
        .applyInArrow(score, "vec_id_a long, vec_id_b long, cosine double")
        .select("vec_id_a", "vec_id_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def suggest_n_cells(corpus_rows: int) -> int:
    """~sqrt(n) codebook sizing (the standard IVF heuristic: balances the
    centroid scan against inverted-list length — each is ~sqrt(n) work per
    probe). 16 is fine for test corpora; a 10^9-row corpus wants ~32k
    cells, not 16. Clamped to [1, 65536]."""
    return max(1, min(65536, int(round(corpus_rows ** 0.5))))


def ivf_train(corpus: DataFrame, n_cells: int = 16) -> list[list[float]]:
    """Deterministic k-means coarse quantizer, trained on the driver: the
    1/IVF_SAMPLE_MOD subset pmod(xxhash64(vec_id), IVF_SAMPLE_MOD) == 0 is
    collected once (a fixed function of ids), init = the vectors of its
    n_cells smallest ids (seedless), then IVF_ITERS Lloyd iterations in
    numpy. Assignment follows _ivf_cells_udf (squared L2 as
    |c|^2 - 2 v.C, first-minimum tie-break); an empty cell keeps its
    centroid. Centroids are k x dim floats — driver-resident by design
    (the coarse codebook of an IVF index is broadcast state, like a
    dimension table).

    At 10^9+ rows Lloyd does not need the full corpus to place ~sqrt(n)
    centroids: the sample is bounded driver state (IVF_SAMPLE_MOD is chosen
    so n / IVF_SAMPLE_MOD stays collectable), and only the one full-corpus
    assignment pass (ivf_cosine_topk) scales with n. A sample with fewer
    than n_cells rows (a corpus under IVF_SAMPLE_MOD x n_cells rows, itself
    small enough to collect) is replaced by the whole corpus, so a tiny
    corpus never trains a degenerate codebook. Every consumer is
    tie-robust: IVF recall is partition-complete for any codebook
    (inv_ivf_recall)."""
    vecs = corpus.select("vec_id", "embedding")
    rows = vecs.filter(F.pmod(F.xxhash64(F.col("vec_id")),
                              F.lit(IVF_SAMPLE_MOD)) == 0).collect()
    if len(rows) < n_cells:
        rows = vecs.collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = M[np.argsort(ids, kind="stable")[:n_cells]].copy()
    for _ in range(IVF_ITERS):
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (M @ C.T)
        assign = np.argmin(d, axis=1)  # first-min tie-break, matching
        # _ivf_cells_udf's stable argsort
        for c in range(n_cells):
            members = M[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [[float(x) for x in row] for row in C]


def _ivf_cells_udf(centroids: list[list[float]], n_nearest: int):
    """Arrow UDF: embedding -> the n_nearest cell ids by squared L2
    distance to the (constant, driver-resident) codebook — one numpy
    distance matrix per batch, ||v-c||^2 = |v|^2 - 2 v.C + |c|^2, stable
    argsort (distance ties break by cell index, matching the former
    array_sort(struct(d, cell)) expression). Same plan-size rationale as
    _srp_buckets_udf: per-centroid literal expressions built
    n_cells*dim-node trees that dominated small-query wall time."""
    C = np.asarray(centroids, dtype=np.float64)          # (cells, dim)
    c_sq = (C * C).sum(axis=1)                           # (cells,)
    return _matrix_udf(
        lambda M: np.argsort(c_sq[None, :] - 2.0 * (M @ C.T),  # + |v|^2
                             axis=1, kind="stable")[:, :n_nearest]
        .astype(np.int32), C.shape[1], T.IntegerType())


def ivf_cosine_topk(corpus: DataFrame, probes: DataFrame,
                    centroids: list[list[float]], k: int = 10,
                    n_probe: int = 4) -> DataFrame:
    """IVF search: each probe scans only its n_probe nearest cells —
    the equi-join on cell replaces the cross join, so work scales with
    the probed fraction of the corpus (n_probe / n_cells), the classic
    IVF recall/cost dial. n_probe = n_cells degenerates to exact brute
    force (partition-completeness — the basis of the inv_ivf_recall
    oracle). Each corpus vector's nearest cell id (0-based) is its
    inverted-list key. Top-k per probe via window with deterministic
    tie-break.
    """
    probe_cells_udf = _ivf_cells_udf(centroids,
                                     min(n_probe, len(centroids)))
    pc = _vectors(probes, "probe_id", "p",
                  F.explode(probe_cells_udf(F.col("embedding"))).alias("cell"))
    cc = _vectors(corpus, "neighbor_id", "c").withColumn(
        "cell", _ivf_cells_udf(centroids, 1)(F.col("cv"))[0])
    scored = (
        cc.join(F.broadcast(pc), "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine6())
    )
    return _top_k(scored, k)


def lsh_cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                    bits: int = 4, n_tables: int = 8, dim: int = 64
                    ) -> DataFrame:
    """Bucketed ANN with multi-table OR-amplification: a pair is a
    candidate if it collides in ANY of `n_tables` independent SRP tables
    (candidate prob = 1-(1-(1-theta/pi)^bits)^n_tables). All tables come
    from ONE srp_band_blocks pass per side — one corpus scan + one explode
    (round 2 looped a one-table bucketing per table: n_tables corpus scans
    + unionAll). seed_per_table=True keeps the per-table plane family, so
    candidate sets — and the output rows — are identical to the loop form.
    Candidates are distinct'd, vectors attached once, scored once, window
    top-k.

    Recall/cost dial: more bits -> smaller buckets (cheaper, lower recall);
    more tables -> higher recall (linear cost in banding columns, not in
    corpus scans).
    """
    cb = srp_band_blocks(corpus, bits, n_tables, dim,
                         seed_per_table=True).withColumnRenamed(
        "vec_id", "neighbor_id")
    pb = srp_band_blocks(probes, bits, n_tables, dim,
                         seed_per_table=True).withColumnRenamed(
        "vec_id", "probe_id")
    pairs = (
        cb.join(F.broadcast(pb), "block_key")
        .select("probe_id", "neighbor_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .distinct()
    )
    scored = (
        pairs.join(_vectors(corpus, "neighbor_id", "c"), "neighbor_id")
        .join(F.broadcast(_vectors(probes, "probe_id", "p")), "probe_id")
        .withColumn("cosine", _cosine6())
    )
    return _top_k(scored, k)
