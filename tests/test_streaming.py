"""Incremental (Structured Streaming) dedup test: two waves of pages;
the second wave contains exact copies of the first and must be flagged."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dedupe_rust_spark.datagen import _PA_PAGES, EPOCH
from dedupe_rust_spark.functions.textcore import render_html
from dedupe_rust_spark.streaming.incremental import (
    BAND_COLS, BAND_LAYER, SIG_LAYER, SIG_STATE_COLS, _batch_ids,
    _compacted_uptos, _read_layer, hadoop_lister, hadoop_remover,
    posix_lister, posix_remover, start_incremental_dedup,
)


def _state(spark, state_dir, lister=posix_lister, cols=SIG_STATE_COLS):
    """The whole signature state table, as process_batch reads it."""
    return _read_layer(spark, state_dir, SIG_LAYER, cols + ["sha_prefix"],
                       lister=lister)


def _write_wave(path: str, rows: list[tuple[str, bytes]]) -> None:
    tbl = pa.Table.from_pylist(
        [
            {"url": u, "warc_ts": EPOCH, "html": h,
             "text": None, "lang": "en"}
            for u, h in rows
        ],
        schema=_PA_PAGES,
    )
    pq.write_table(tbl, path)


def test_incremental_dedup_two_waves(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_a = render_html("Title A", ["unique body alpha " * 5])
    doc_b = render_html("Title B", ["unique body beta " * 5])
    _write_wave(os.path.join(input_dir, "wave1.parquet"),
                [("https://h1.example.com/a.html", doc_a),
                 ("https://h1.example.com/b.html", doc_b)])

    q = start_incremental_dedup(spark, input_dir, state_dir, matches_dir, ckpt)
    q.awaitTermination(120)

    # wave 2: one dup of doc_a, one new doc
    doc_c = render_html("Title C", ["unique body gamma " * 5])
    _write_wave(os.path.join(input_dir, "wave2.parquet"),
                [("https://h2.example.com/a-copy.html", doc_a),
                 ("https://h2.example.com/c.html", doc_c)])

    q2 = start_incremental_dedup(spark, input_dir, state_dir, matches_dir, ckpt)
    q2.awaitTermination(120)

    matches = spark.read.parquet(matches_dir).toPandas()
    assert len(matches) == 1
    assert matches.iloc[0]["url"] == "https://h2.example.com/a-copy.html"
    assert matches.iloc[0]["first_url"] == "https://h1.example.com/a.html"

    state = _state(spark, state_dir)
    assert state.count() == 4  # all four pages signed into state

    # state is sharded by sha_prefix: a prefix-restricted read must prune
    # to only that shard's files (the at-scale join pruning surface)
    import pyspark.sql.functions as F
    one_prefix = state.select("sha_prefix").first()[0]
    pruned = state.filter(F.col("sha_prefix") == one_prefix)
    assert pruned.count() >= 1
    # input_file_name() reflects the files the pruned scan actually read
    files = [r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()]
    assert files and all(f"sha_prefix={one_prefix}" in f for f in files)

    # idempotency: re-running the stream over the same checkpoint (no new
    # input) must not append duplicate match or state rows
    q3 = start_incremental_dedup(spark, input_dir, state_dir, matches_dir,
                                 ckpt)
    q3.awaitTermination(120)
    assert len(spark.read.parquet(matches_dir).toPandas()) == 1
    assert _state(spark, state_dir).count() == 4


def test_incremental_retry_reproduces_first_run(spark, tmp_path):
    """A retried micro-batch must emit the same matches as a clean first
    run. Failure mode guarded: the retry reads its OWN failed attempt's
    state (written before the commit), min(url) resolves to a url from the
    current batch, and the url != first_url filter silently drops a real
    match. The state join therefore excludes batch_id >= current. The
    retry is simulated faithfully: delete the streaming checkpoint's
    commit marker for the last batch and restart — Structured Streaming
    re-executes that batch against the already-written sinks."""
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_a = render_html("Title A", ["retry body alpha " * 5])
    # wave-1 url sorts AFTER the wave-2 copy's url: min(url) over a state
    # that wrongly included wave 2 itself would pick the copy's own url
    _write_wave(os.path.join(input_dir, "w1.parquet"),
                [("https://z.example.com/a.html", doc_a)])
    q = start_incremental_dedup(spark, input_dir, state_dir, matches_dir, ckpt)
    q.awaitTermination(120)

    _write_wave(os.path.join(input_dir, "w2.parquet"),
                [("https://a.example.com/copy.html", doc_a)])
    q2 = start_incremental_dedup(spark, input_dir, state_dir, matches_dir, ckpt)
    q2.awaitTermination(120)

    expect = {("https://a.example.com/copy.html",
               "https://z.example.com/a.html")}
    m1 = {(r.url, r.first_url) for r in
          spark.read.parquet(matches_dir).toPandas().itertuples()}
    assert m1 == expect

    # simulate a crash after the sinks were written but before the batch
    # committed: drop the commit marker (and its Hadoop ChecksumFs .crc
    # sidecar, or the retry's commit rename fails) and restart
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q3 = start_incremental_dedup(spark, input_dir, state_dir, matches_dir, ckpt)
    q3.awaitTermination(120)
    m2 = {(r.url, r.first_url) for r in
          spark.read.parquet(matches_dir).toPandas().itertuples()}
    assert m2 == expect  # neither dropped nor duplicated
    assert _state(spark, state_dir).count() == 2


def test_incremental_state_compaction(spark, tmp_path):
    """Every compact_every batches the batch_id= state dirs fold into ONE
    compacted/upto=K snapshot (reads stay O(state), not O(batches)); later
    batches must match against the compacted snapshot transparently."""
    import pyspark.sql.functions as F

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_a = render_html("Title A", ["compaction body alpha " * 5])
    doc_b = render_html("Title B", ["compaction body beta " * 5])
    doc_d = render_html("Title D", ["compaction body delta " * 5])

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, compact_every=2)
        q.awaitTermination(120)

    run_wave("w1.parquet", [("https://h1.example.com/a.html", doc_a),
                            ("https://h1.example.com/b.html", doc_b)])
    run_wave("w2.parquet", [("https://h2.example.com/a-copy.html", doc_a)])
    # batch 2 triggers compaction of batches 0 and 1 AFTER its own join
    run_wave("w3.parquet", [("https://h3.example.com/b-copy.html", doc_b),
                            ("https://h3.example.com/d.html", doc_d)])

    # folded layout: one upto= snapshot, only batch 2 left as a batch dir
    assert os.listdir(os.path.join(state_dir, "compacted")) == ["upto=1"]
    assert os.listdir(os.path.join(state_dir, "batches")) == ["batch_id=2"]
    state = _state(spark, state_dir)
    assert state.count() == 5  # nothing lost in the fold
    # the state read actually comes (partly) from the compacted snapshot
    files = [r[0] for r in
             state.select(F.input_file_name()).distinct().collect()]
    assert any("compacted/upto=1" in f for f in files)

    # batch 3 joins against compacted state: dup of doc_a must still
    # resolve to the wave-1 url that now lives only in the snapshot
    run_wave("w4.parquet", [("https://h4.example.com/a-again.html", doc_a)])
    m = spark.read.parquet(matches_dir).toPandas()
    got = {(r.url, r.first_url) for r in m.itertuples()}
    assert ("https://h4.example.com/a-again.html",
            "https://h1.example.com/a.html") in got
    assert ("https://h3.example.com/b-copy.html",
            "https://h1.example.com/b.html") in got
    assert ("https://h2.example.com/a-copy.html",
            "https://h1.example.com/a.html") in got
    assert len(got) == 3
    assert _state(spark, state_dir).count() == 6


@pytest.mark.parametrize("store", ["posix", "hadoop"])
def test_state_listing_is_pluggable_mock_store(spark, tmp_path, store):
    """The compaction contract must hold against a non-POSIX listing
    backend (object stores have no os.listdir): drive the whole two-wave +
    compaction flow through a recording mock lister and assert (a) every
    directory listing went through it, (b) results are identical to the
    POSIX run. Run over both shipped lister/remover pairs: the POSIX one
    and the Hadoop FileSystem one (here on the local file system). Plus
    pure-dict coverage: the id parsers consume ONLY what the lister
    returns, junk entries ignored."""
    calls: list[str] = []
    lister, remover = ((posix_lister, posix_remover) if store == "posix"
                       else (hadoop_lister(spark), hadoop_remover(spark)))

    def mock_lister(path: str) -> list[str]:
        calls.append(path)
        return lister(path)  # same data; the INDIRECTION is the test

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_a = render_html("Title A", ["mock store body alpha " * 5])
    doc_b = render_html("Title B", ["mock store body beta " * 5])

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, compact_every=2,
                                    lister=mock_lister, remover=remover)
        q.awaitTermination(120)

    run_wave("w1.parquet", [("https://h1.example.com/a.html", doc_a),
                            ("https://h1.example.com/b.html", doc_b)])
    run_wave("w2.parquet", [("https://h2.example.com/a-copy.html", doc_a)])
    run_wave("w3.parquet", [("https://h3.example.com/b-copy.html", doc_b)])

    # every state listing went through the mock (batches + compacted dirs)
    assert any(p.endswith("batches") for p in calls)
    assert any(p.endswith("compacted") for p in calls)
    # batch 2 compacted batches 0..1 and the remover deleted what was
    # folded; matches identical to the POSIX flow
    assert os.listdir(os.path.join(state_dir, "compacted")) == ["upto=1"]
    assert os.listdir(os.path.join(state_dir, "batches")) == ["batch_id=2"]
    got = {(r.url, r.first_url) for r in
           spark.read.parquet(matches_dir).toPandas().itertuples()}
    assert got == {("https://h2.example.com/a-copy.html",
                    "https://h1.example.com/a.html"),
                   ("https://h3.example.com/b-copy.html",
                    "https://h1.example.com/b.html")}
    assert _state(spark, state_dir, lister=mock_lister).count() == 4

    # pure-dict lister: parsers read only the lister's output, skip junk
    fake = {"/s/batches": ["batch_id=3", "batch_id=0", "_tmp", ".crc"],
            "/s/compacted": ["upto=7", "junk"]}
    assert _batch_ids("/s", lister=lambda p: fake.get(p, [])) == [0, 3]
    assert _compacted_uptos("/s", lister=lambda p: fake.get(p, [])) == [7]


def _near_dup_pair() -> tuple[bytes, bytes]:
    """An original page and a near-duplicate of it: 3 of 192 words
    edited (~98% similar), not byte-identical."""
    base_words = ("alpha beta gamma delta epsilon zeta eta theta iota "
                  "kappa lambda mu nu xi omicron pi rho sigma tau "
                  "upsilon phi chi psi omega ").split()
    body = " ".join(base_words * 8)                      # 192 words
    near_words = list(base_words * 8)
    near_words[5], near_words[50], near_words[100] = "edited", "words", "here"
    near_body = " ".join(near_words)
    return (render_html("Original Doc", [body]),
            render_html("Original Doc", [near_body]))


def test_incremental_fuzzy_dedup(spark, tmp_path):
    """fuzzy=True: a near-duplicate of an already-seen page (a few words
    edited) must be flagged with kind='fuzzy' and a score that clears the
    batch pipeline's threshold; an exact copy stays kind='exact' (score
    1.0, sha semantics); an unrelated page matches nothing. State carries
    the fuzzy columns and compaction folds them intact."""
    from dedupe_rust_spark.streaming.incremental import FUZZY_STATE_COLS

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_x, doc_near = _near_dup_pair()
    doc_other = render_html("Unrelated", ["totally different content " * 10])

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, compact_every=2,
                                    fuzzy=True)
        q.awaitTermination(120)

    run_wave("w1.parquet", [("https://h1.example.com/x.html", doc_x)])
    run_wave("w2.parquet", [
        ("https://h2.example.com/x-copy.html", doc_x),       # exact
        ("https://h2.example.com/x-near.html", doc_near),    # fuzzy
        ("https://h2.example.com/other.html", doc_other),    # none
    ])

    m = spark.read.parquet(matches_dir).toPandas()
    got = {(r.url, r.matched_url, r.kind) for r in m.itertuples()}
    assert got == {
        ("https://h2.example.com/x-copy.html",
         "https://h1.example.com/x.html", "exact"),
        ("https://h2.example.com/x-near.html",
         "https://h1.example.com/x.html", "fuzzy"),
    }
    fz = m[m.kind == "fuzzy"].iloc[0]
    assert fz["score"] >= 0.5
    assert m[m.kind == "exact"].iloc[0]["score"] == 1.0

    # state carries the fuzzy columns; wave 3 (after the compaction
    # triggered by batch 2) still fuzzy-matches against folded state
    state = _state(spark, state_dir, cols=FUZZY_STATE_COLS)
    assert state.count() == 4
    assert {"bands", "minhash", "text"} <= set(state.columns)

    run_wave("w3.parquet",
             [("https://h3.example.com/x-near2.html", doc_near)])
    m2 = spark.read.parquet(matches_dir).toPandas()
    row = m2[m2.url == "https://h3.example.com/x-near2.html"]
    assert len(row) == 1
    # best match is the exact copy of itself in state (score 1-ish beats
    # the original's near score); kind is fuzzy (sha differs from nothing
    # only if identical -- x-near IS byte-identical to x-near2)
    assert row.iloc[0]["kind"] == "exact"
    assert row.iloc[0]["matched_url"] == "https://h2.example.com/x-near.html"


def test_fuzzy_match_against_folded_band_index(spark, tmp_path):
    """A near-dup (not byte-identical) of a page whose band keys live only
    in the folded band index (bands_compacted/upto=K) is matched with
    kind='fuzzy': the band index compacts beside the signature state and
    the per-batch band read sees the snapshot. The fold leaves only the
    live batch dir under bands/. The folded signature snapshot here holds
    only digit sha_prefix dirs (2, 7) while batch 2 is 'e': the state read
    must keep sha_prefix a string rather than infer it as a number."""
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc_x, doc_near = _near_dup_pair()

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, compact_every=2,
                                    fuzzy=True)
        q.awaitTermination(120)

    run_wave("w1.parquet", [("https://h1.example.com/x.html", doc_x)])
    run_wave("w2.parquet", [("https://h2.example.com/y.html", render_html(
        "Unrelated Y", ["nothing shared with the original " * 10]))])
    # batch 2 folds batches 0..1 of both tables after its own join
    run_wave("w3.parquet", [("https://h3.example.com/z.html", render_html(
        "Unrelated Z", ["another page about other things " * 10]))])
    assert os.listdir(os.path.join(state_dir, "bands_compacted")) == [
        "upto=1"]
    assert os.listdir(os.path.join(state_dir, "bands")) == ["batch_id=2"]
    assert spark.read.parquet(matches_dir).count() == 0

    run_wave("w4.parquet",
             [("https://h4.example.com/x-near.html", doc_near)])
    m = spark.read.parquet(matches_dir).toPandas()
    got = {(r.url, r.matched_url, r.kind) for r in m.itertuples()}
    assert got == {("https://h4.example.com/x-near.html",
                    "https://h1.example.com/x.html", "fuzzy")}
    assert m.iloc[0]["score"] >= 0.5


def test_incremental_fuzzy_redelivered_min_url_not_rematched(spark, tmp_path):
    """A re-delivered url whose text is already in state byte-identically
    (and which is itself the sha-group minimum) must produce NO match row
    — neither exact (url == first_url) nor a spurious 'fuzzy' match of
    its own exact copies (the fuzzy anti-join keys on sha hits, not on
    emitted exact matches)."""
    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    doc = render_html("Redelivered", ["stable page body words " * 10])

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, fuzzy=True)
        q.awaitTermination(120)

    # url 'a...' sorts FIRST -> it is the sha-group min
    run_wave("w1.parquet", [("https://a.example.com/page.html", doc)])
    run_wave("w2.parquet", [("https://b.example.com/copy.html", doc)])
    # re-crawl of the min url, identical content: state now holds both
    # copies, so without the sha-hit anti-join the fuzzy tier would
    # match the re-delivery against b with est ~1.0
    run_wave("w3.parquet", [("https://a.example.com/page.html", doc)])

    m = spark.read.parquet(matches_dir).toPandas()
    # only wave-1's copy match exists; the re-delivery added nothing
    got = {(r.url, r.matched_url, r.kind) for r in m.itertuples()}
    assert got == {("https://b.example.com/copy.html",
                    "https://a.example.com/page.html", "exact")}


def test_fuzzy_band_index_partition_pruning(spark, tmp_path):
    """The fuzzy state's band index is stored partitioned by
    pmod(block_key, BAND_INDEX_PARTS); a read restricted to a batch's
    touched partitions must list ONLY files under those bk_mod dirs
    (path-level pruning — the 10^12 design's per-batch O(touched/P)
    state scan), and the index rows must be (block_key, id) surrogate
    longs, never url/text payloads."""
    from dedupe_rust_spark.streaming.incremental import BAND_INDEX_PARTS

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    matches_dir = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    docs = [(f"https://h{i}.example.com/p{i}.html",
             render_html(f"Doc {i}", [f"body {i} words " * 20]))
            for i in range(6)]

    def run_wave(name, rows):
        _write_wave(os.path.join(input_dir, name), rows)
        q = start_incremental_dedup(spark, input_dir, state_dir,
                                    matches_dir, ckpt, fuzzy=True)
        q.awaitTermination(120)

    run_wave("w1.parquet", docs[:3])
    run_wave("w2.parquet", docs[3:])

    # index rows are surrogate longs only
    full = _read_layer(spark, state_dir, BAND_LAYER, BAND_COLS)
    assert full is not None
    assert set(full.columns) == {"block_key", "id"}
    assert dict(full.dtypes) == {"block_key": "bigint", "id": "bigint"}

    # pick a strict subset of the mods actually present on disk
    present = sorted({int(p.split("=")[1]) for b in
                      os.listdir(os.path.join(state_dir, "bands"))
                      for p in os.listdir(
                          os.path.join(state_dir, "bands", b))
                      if p.startswith("bk_mod=")})
    assert present, "fuzzy stream must write the band index"
    touched = present[: max(1, len(present) // 2)]
    pruned = _read_layer(spark, state_dir, BAND_LAYER, BAND_COLS,
                         parts=touched)
    files = pruned.inputFiles()
    assert files, "pruned index read must still see the touched dirs"
    want = {f"bk_mod={m}" for m in touched}
    for f in files:
        part = [seg for seg in f.split("/") if seg.startswith("bk_mod=")]
        assert part and part[0] in want, f"unpruned file in scan: {f}"
    # and the pruned read returns exactly the rows of those partitions
    got = pruned.count()
    import pyspark.sql.functions as F
    want_rows = full.withColumn(
        "_m", F.pmod("block_key", F.lit(BAND_INDEX_PARTS))
    ).filter(F.col("_m").isin(touched)).count()
    assert got == want_rows
