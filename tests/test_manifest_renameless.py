"""The manifest protocol, which needs no rename: numbered MANIFEST-N
generations claimed with create-if-absent and written whole, readers
take the highest PARSEABLE one. Every filesystem publishes this way, so
these tests drive the full store lifecycles on plain local paths (the
object PUT model: no file is ever replaced) and through the real
HadoopFS, and prove the protocol's safety property: a reader concurrent
with add/delete/compact always resolves a COMPLETE generation (old or
new, never a mix), torn manifest writes fall back to the previous
complete generation, a crash before the flip changes nothing, and of two
writers racing for one generation exactly one publishes. A store in
an older layout (no manifest, a single ``MANIFEST`` file, or numbered
manifests without params and stats) is refused by every op, which
writes nothing.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.operators.search import (
    bm25_topk_indexed,
    build_text_index,
    load_text_index,
    text_index_add,
    text_index_compact,
    text_index_delete,
)
from window_aggregation_spark.sources import store_manifest as sm


def _corpus(spark):
    rows = [
        ("d1", "spark shuffles data between stages during a hash join"),
        ("d2", "the window function sorts within each partition"),
        ("d3", "hash partitioning routes rows; a join may broadcast"),
        ("d4", "sort merge join versus broadcast hash join in spark"),
        ("d5", "windows aggregate running sums over ordered frames"),
        ("d6", "completely unrelated text about cooking pasta"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _ids(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id string")


QUERIES = ["hash join", "window partition sort", "spark", "pasta"]


def _scores(idx, q):
    return [
        (r.doc_id, r.score) for r in bm25_topk_indexed(idx, q, k=10).collect()
    ]


def _numbered(path):
    return sorted(
        n for n in os.listdir(path) if sm._MANIFEST_RE.match(n)
    )


def test_full_lifecycle_uses_numbered_manifests(spark, tmp_path):
    """build -> add -> delete -> compact on a plain path: every
    flip appends a numbered manifest (never the legacy single file), each
    step serves exactly like a from-scratch rebuild of the same logical
    corpus, and — the concurrency property — the PREVIOUS generation's
    directories remain fully intact after every mutation (sweep=False),
    so a reader that resolved the old manifest keeps a complete store."""
    docs = _corpus(spark)
    path = f"{tmp_path}/ix"
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)

    def snapshot_dirs():
        m = sm.read_manifest(path, {})
        return [
            d
            for v in m.values()
            for d in sm.split_dirs(v)
            if os.path.isdir(f"{path}/{d}")
        ]

    # add: first manifest flip -> MANIFEST-...1, no legacy file
    before_dirs = snapshot_dirs()
    idx = text_index_add(spark, path, docs.where("doc_id > 'd4'"))
    assert _numbered(path) and not os.path.exists(f"{path}/MANIFEST")
    want = build_text_index(docs, str(tmp_path / "rb1"), n_buckets=4)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)
    for d in before_dirs:  # old generation untouched for old readers
        assert os.path.isdir(f"{path}/{d}")

    # delete (tombstone append — no flip needed) then compact (flip)
    before_dirs = snapshot_dirs()
    gens_before = _numbered(path)
    text_index_delete(spark, path, _ids(spark, "d1"))
    idx = text_index_compact(spark, path)  # sweep=False default
    assert len(_numbered(path)) == len(gens_before) + 1
    kept = docs.where("doc_id <> 'd1'")
    want = build_text_index(kept, str(tmp_path / "rb2"), n_buckets=4)
    assert (idx.n_docs, idx.sum_dl) == (want.n_docs, want.sum_dl)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)
    for d in before_dirs:
        assert os.path.isdir(f"{path}/{d}")


def test_torn_top_manifest_falls_back_to_previous_generation(
    spark, tmp_path
):
    """A torn whole-file write (garbage at the highest generation number)
    must be SKIPPED: readers serve the previous parseable generation."""
    docs = _corpus(spark)
    path = f"{tmp_path}/ix"
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
    idx = text_index_add(spark, path, docs.where("doc_id > 'd4'"))
    good = {q: _scores(idx, q) for q in QUERIES}
    top = int(sm._MANIFEST_RE.match(_numbered(path)[-1]).group(1))
    with open(f"{path}/MANIFEST-{top + 1:020d}", "w") as f:
        f.write('{"postings": "TRUNC')  # torn PUT replica
    again = load_text_index(spark, path)
    for q in QUERIES:
        assert _scores(again, q) == good[q]


def test_crash_before_flip_changes_nothing(spark, tmp_path):
    """Generation dirs staged without a manifest flip (the crash window)
    are invisible: the store serves the pre-crash state bit-for-bit."""
    from pyspark.sql import functions as F

    from window_aggregation_spark.operators.search import (
        _postings_frame,
        tokens as _tokens,
    )

    docs = _corpus(spark)
    path = f"{tmp_path}/ix"
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
    before = load_text_index(spark, path)
    scores_before = {q: _scores(before, q) for q in QUERIES}
    batch = docs.where("doc_id > 'd4'").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    _postings_frame(batch, "doc_id", 4).write.partitionBy(
        "term_bucket"
    ).parquet(f"{path}/postings_v1")
    batch.select("doc_id", F.size("toks").alias("dl")).write.parquet(
        f"{path}/doclens_v1"
    )
    after = load_text_index(spark, path)
    assert (after.n_docs, after.sum_dl) == (before.n_docs, before.sum_dl)
    for q in QUERIES:
        assert _scores(after, q) == scores_before[q]


def test_expected_guard_on_numbered_protocol(tmp_path):
    """The single-writer fence works identically on the numbered path:
    a flip since the snapshot was taken raises instead of publishing."""
    path = f"{tmp_path}/s"
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    snap = sm.read_manifest(path, {"a": "a"})
    sm.write_manifest(path, {"a": "a_v2"})  # the concurrent writer
    with pytest.raises(RuntimeError, match="another"):
        sm.write_manifest(path, {"a": "a_v3"}, expected=snap)
    # and the intruder's generation survived
    assert sm.read_manifest(path, {"a": "a"})["a"] == "a_v2"


def test_numbered_history_pruned_to_keep_window(tmp_path):
    path = f"{tmp_path}/s"
    os.makedirs(path)
    for i in range(sm._MANIFEST_KEEP + 5):
        sm.write_manifest(path, {"a": f"a_v{i}"})
    names = _numbered(path)
    assert len(names) == sm._MANIFEST_KEEP
    # highest generation still serves the latest mapping
    assert sm.read_manifest(path, {})["a"] == f"a_v{sm._MANIFEST_KEEP + 4}"


def test_plain_paths_publish_numbered_manifests(tmp_path):
    """No prefix registered, plain path: every publish claims the next
    ``MANIFEST-<n>`` and no single ``MANIFEST`` file appears."""
    path = str(tmp_path / "s")
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    assert _numbered(path) == [f"MANIFEST-{1:020d}"]
    assert not os.path.exists(f"{path}/MANIFEST")
    sm.write_manifest(path, {"a": "a_v2"})
    assert _numbered(path) == [f"MANIFEST-{1:020d}", f"MANIFEST-{2:020d}"]
    assert sorted(os.listdir(path)) == _numbered(path)
    assert sm.read_manifest(path, {})["a"] == "a_v2"


def test_two_plain_path_writers_past_the_expected_check_one_publishes(
    tmp_path, monkeypatch
):
    """Two writers derive their mappings from the same snapshot and both
    pass the ``expected=`` check; writer A publishes before writer B
    claims. B must lose with ManifestConflictError and A's generation must
    survive: a second ``os.replace`` of one ``MANIFEST`` used to erase it
    silently. A plain path, no prefix registered: the default PosixFS."""
    path = str(tmp_path / "s")
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    snap = sm.read_manifest(path, {"a": "a"})
    real_read = sm.PosixFS.read_text
    pending = ["writer A"]

    def read_then_let_a_publish(self, p):
        text = real_read(self, p)
        if pending:  # B's expected check has read; A publishes now
            pending.pop()
            sm.write_manifest(path, {"a": "a_A"}, expected=snap)
        return text

    monkeypatch.setattr(sm.PosixFS, "read_text", read_then_let_a_publish)
    with pytest.raises(sm.ManifestConflictError):
        sm.write_manifest(path, {"a": "a_B"}, expected=snap)
    monkeypatch.undo()
    assert not pending
    assert sm.read_manifest(path, {"a": "a"})["a"] == "a_A"


def test_signature_store_lifecycle_on_renameless_fs(
    spark, tmp_path
):
    """The dedup signature store inherits the protocol through the shared
    module: delete -> compact == filtered rebuild, and the
    pair cache stays fingerprint-guarded."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the creek"),
        (3, "completely different text about spark shuffle partitions"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "another unrelated document mentioning window aggregation"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = f"{tmp_path}/sig"
    dd.build_signature_store(docs, "doc_id", path)
    dd.signature_store_build_pairs(docs, "doc_id", path, threshold=0.3)
    assert dd.load_pair_cache(spark, path, threshold=0.3) is not None
    dd.signature_store_delete(
        spark, path, spark.createDataFrame([(2,)], "doc_id long")
    )
    assert dd.load_pair_cache(spark, path, threshold=0.3) is None  # stale
    store = dd.signature_store_compact(spark, path)
    assert _numbered(path)  # compaction flipped a numbered manifest
    kept = docs.where("doc_id <> 2")
    rebuilt = dd.build_signature_store(kept, "doc_id", str(tmp_path / "rb"))
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_dedup_pairs(
            kept, "doc_id", threshold=0.3, signatures=store
        ).collect()
    )
    want = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_dedup_pairs(
            kept, "doc_id", threshold=0.3, signatures=rebuilt
        ).collect()
    )
    assert got == want


def test_sentence_hash_store_lifecycle_on_renameless_fs(
    spark, tmp_path
):
    """The incremental-span-dedup hash set (VERDICT r11 #1) on the
    numbered protocol: build -> serve == recompute, add() folds an
    admitted batch in (idempotent under replay), compact flips a
    numbered manifest and leaves the previous generation intact for
    concurrent readers — and the compacted store still serves exactly
    like a from-scratch rebuild of the same logical corpus."""
    shared = "And more here. Also this one. Plus a final sentence."
    corpus = spark.createDataFrame(
        [
            (1, f"Corpus doc opens. {shared}"),
            (2, "Entirely corpus-only text lives here. Truly. Really. Yes."),
        ],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [
            (10, f"New doc leads in! {shared} New doc trails off."),
            (11, "Batch one brings novel words. Three of them. Exactly so."),
        ],
        "doc_id long, text string",
    )
    # batch2 repeats batch1's novel run (caught only if batch1 was
    # folded) AND the original corpus run (caught by the base)
    batch2 = spark.createDataFrame(
        [
            (20, "Batch one brings novel words. Three of them. Exactly so."),
            (21, f"Second wave starts now? {shared}"),
        ],
        "doc_id long, text string",
    )
    path = f"{tmp_path}/spanhash"
    store = dd.build_sentence_hash_store(corpus, "doc_id", path)

    def spans(new, against):
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in dd.sentence_spans_against(
                new, against, "doc_id"
            ).collect()
        )

    # served == recomputed on the same corpus
    assert spans(batch1, store) == spans(batch1, corpus)
    # wrong grain raises instead of matching nothing
    with pytest.raises(ValueError, match="window=3"):
        dd.sentence_spans_against(batch1, store, "doc_id", window=2)

    # fold batch1 AFTER cutting (the admitted text), replay the fold
    # (same batch_id) — idempotent, not doubled
    s1 = dd.sentence_spans_against(batch1, store, "doc_id")
    admitted1 = dd.cut_sentence_spans(
        batch1, s1, "doc_id", alias="text2"
    ).select("doc_id", F.col("text2").alias("text"))
    store = dd.sentence_hash_store_add(admitted1, "doc_id", path, batch_id=1)
    store = dd.sentence_hash_store_add(admitted1, "doc_id", path, batch_id=1)
    logical = corpus.unionByName(admitted1)
    assert spans(batch2, store) == spans(batch2, logical)
    # batch1's novel run is now caught (the fold worked)
    assert any(d == 20 for d, *_ in spans(batch2, store))

    # compact: numbered manifest flip, old generation dirs intact
    m_before = sm.read_manifest(path, dd._SPANHASH_COMPONENTS)
    gens = _numbered(path)
    store = dd.sentence_hash_store_compact(spark, path)
    assert len(_numbered(path)) == len(gens) + 1
    for d in m_before.values():
        if os.path.isdir(f"{path}/{d}"):
            assert os.listdir(f"{path}/{d}")  # old readers keep a full gen
    assert spans(batch2, store) == spans(batch2, logical)
    # compacted == from-scratch rebuild over the same logical corpus
    rebuilt = dd.build_sentence_hash_store(
        logical, "doc_id", str(tmp_path / "rb_span")
    )
    assert spans(batch2, store) == spans(batch2, rebuilt)


@pytest.fixture
def hadoop_dir(spark, tmp_path):
    """A tmp directory whose manifest I/O runs through the REAL HadoopFS
    implementation (py4j -> org.apache.hadoop.fs.FileSystem on the local
    filesystem) — the exact code path scheme:// store paths take, minus
    the network. Catches py4j signature/marshalling bugs PosixFS
    cannot."""
    root = str(tmp_path / "hadoopstore")
    os.makedirs(root)
    sm.register_fs_prefix(root, sm.HadoopFS(spark))
    try:
        yield root
    finally:
        sm.unregister_fs_prefix(root)


def test_hadoopfs_manifest_roundtrip_and_fingerprint(spark, hadoop_dir):
    """write/read/expected-guard/prune + state_fingerprint through the
    JVM Hadoop filesystem layer."""
    path = f"{hadoop_dir}/s"
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    assert _numbered(path) == [f"MANIFEST-{1:020d}"]
    assert sm.read_manifest(path, {"a": "a", "b": "b"}) == {"a": "a_v1"}
    snap = sm.read_manifest(path, {"a": "a"})
    sm.write_manifest(path, {"a": "a_v2"}, expected=snap)
    with pytest.raises(RuntimeError, match="another"):
        sm.write_manifest(path, {"a": "a_v3"}, expected=snap)
    for i in range(3, 3 + sm._MANIFEST_KEEP + 2):
        sm.write_manifest(path, {"a": f"a_v{i}"})
    assert len(_numbered(path)) == sm._MANIFEST_KEEP
    # fingerprint through HadoopFS walk_files: content-sensitive,
    # mtime-insensitive
    os.makedirs(f"{path}/a_v1")
    with open(f"{path}/a_v1/part-0", "w") as f:
        f.write("xx")
    fp1 = sm.state_fingerprint(path, ["a_v1", "missing"])
    os.utime(f"{path}/a_v1/part-0", (1_000_000_000, 1_000_000_000))
    assert sm.state_fingerprint(path, ["a_v1", "missing"]) == fp1
    with open(f"{path}/a_v1/part-1", "w") as f:
        f.write("y")
    assert sm.state_fingerprint(path, ["a_v1", "missing"]) != fp1
    # next_version skips staged dirs; gc (grace=0) collects unreferenced
    assert sm.next_version(path, "a", "a_v1") == "a_v2"
    removed = sm.gc_store(path, {"a": "a"}, grace_seconds=0)
    assert removed == {"a": ["a_v1"]}


def test_hadoopfs_text_index_lifecycle(spark, hadoop_dir, tmp_path):
    """Full build -> add -> delete -> compact through HadoopFS: every
    step equals the from-scratch rebuild, numbered manifests only."""
    docs = _corpus(spark)
    path = f"{hadoop_dir}/ix"
    build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
    text_index_add(spark, path, docs.where("doc_id > 'd4'"))
    text_index_delete(spark, path, _ids(spark, "d1"))
    idx = text_index_compact(spark, path)
    assert _numbered(path) and not os.path.exists(f"{path}/MANIFEST")
    want = build_text_index(
        docs.where("doc_id <> 'd1'"), str(tmp_path / "rb"), n_buckets=4
    )
    assert (idx.n_docs, idx.sum_dl) == (want.n_docs, want.sum_dl)
    for q in QUERIES:
        assert _scores(idx, q) == _scores(want, q)


def test_fingerprint_identical_across_fs_implementations(spark, tmp_path):
    """state_fingerprint of the SAME directory content must agree across
    PosixFS and HadoopFS — a store copied between
    a plain path and an object store keeps its fingerprint-guarded
    caches valid (posix used to emit './part-0' for top-level files
    where HadoopFS emits 'part-0')."""
    root = str(tmp_path / "fp")
    os.makedirs(f"{root}/comp/sub")
    with open(f"{root}/comp/part-0", "w") as f:
        f.write("abc")
    with open(f"{root}/comp/sub/part-1", "w") as f:
        f.write("defg")
    fps = []
    for fs in (sm.PosixFS(), sm.HadoopFS(spark)):
        sm.register_fs_prefix(root, fs)
        try:
            fps.append(sm.state_fingerprint(root, ["comp", "missing"]))
        finally:
            sm.unregister_fs_prefix(root)
    assert fps[0] == fps[1]
    # hidden entries must not perturb the fingerprint on ANY impl:
    # Hadoop's local ChecksumFileSystem hides .crc sidecars that os.walk
    # lists, and _SUCCESS markers say nothing about data — a Spark-
    # written local dir copied to an object store must keep its caches
    with open(f"{root}/comp/.part-0.crc", "w") as f:
        f.write("crc")
    with open(f"{root}/comp/_SUCCESS", "w") as f:
        f.write("")
    for fs in (sm.PosixFS(), sm.HadoopFS(spark)):
        sm.register_fs_prefix(root, fs)
        try:
            assert sm.state_fingerprint(root, ["comp", "missing"]) == fps[0]
        finally:
            sm.unregister_fs_prefix(root)


# ---------------------------------------------------------------------------
# Round 9: writer fencing (create-if-absent generation claims)
# ---------------------------------------------------------------------------


class _HideFromListing:
    """Deterministic replay of the list->claim race window: this writer's
    LISTING is taken before the other writer's PUT lands (modeled by
    hiding that manifest from listdir), but the claim itself sees the
    real filesystem — exactly the interleaving the create-if-absent
    fence exists for."""

    def __init__(self, hide: str):
        self._hide = hide

    def listdir(self, p: str) -> list:
        return [n for n in super().listdir(p) if n != self._hide]


class _StaleListingFS(_HideFromListing, sm.PosixFS):
    pass


def test_create_new_is_exclusive_on_every_fs(spark, tmp_path):
    """The fencing primitive: create_new claims a fresh path and raises
    FileExistsError on an existing one — O_EXCL on PosixFS, Hadoop
    create(path, overwrite=false) through the JVM."""
    for i, fs in enumerate((sm.PosixFS(), sm.HadoopFS(spark))):
        p = str(tmp_path / f"claim-{i}")
        fs.create_new(p, "first")
        with pytest.raises(FileExistsError):
            fs.create_new(p, "second")
        with open(p) as f:
            assert f.read() == "first"  # the loser changed nothing


def test_contended_writers_exactly_one_wins(tmp_path):
    """Two writers race to publish the same generation number: the one
    whose PUT lands first wins; the other raises ManifestConflictError
    and the winner's published mapping survives byte-for-byte."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    sm.write_manifest(root, {"a": "a_v1"})
    sm.write_manifest(root, {"a": "a_winner"})  # writer A publishes
    top = _numbered(root)[-1]
    # writer B listed BEFORE A's publish landed, so it claims A's number
    sm.register_fs_prefix(root, _StaleListingFS(top))
    try:
        with pytest.raises(sm.ManifestConflictError, match="claimed"):
            sm.write_manifest(root, {"a": "a_loser"})
    finally:
        sm.unregister_fs_prefix(root)
    with open(f"{root}/{top}") as f:
        assert json.load(f) == {"a": "a_winner"}
    assert sm.read_manifest(root, {"a": "a"})["a"] == "a_winner"


class _ReadOnlyDeletesFS(sm.PosixFS):
    """Claims succeed, deletes fail: a writer without delete permission."""

    def delete(self, p):
        raise PermissionError(p)


def test_failed_prune_is_logged_and_the_publish_stands(tmp_path, caplog):
    """The claim already published the generation, so a prune that fails
    must not fail the write (a retried add would double-count every
    document); it is logged instead."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    sm.register_fs_prefix(root, _ReadOnlyDeletesFS())
    try:
        for i in range(sm._MANIFEST_KEEP):
            sm.write_manifest(root, {"a": f"a_v{i}"})
        assert not caplog.records
        with caplog.at_level("WARNING", logger=sm.__name__):
            sm.write_manifest(root, {"a": "a_last"})
    finally:
        sm.unregister_fs_prefix(root)
    assert sm.read_manifest(root, {})["a"] == "a_last"
    assert len(_numbered(root)) == sm._MANIFEST_KEEP + 1  # nothing pruned
    assert "could not prune" in caplog.text


def test_unreadable_top_manifest_is_never_reclaimed(tmp_path):
    """ADVICE r8: the next generation number comes from the highest
    LISTED manifest, not the highest READABLE one — a torn PUT (or a
    transiently unreadable top file) must bump the writer PAST it, never
    let the writer derive N-1 and overwrite the existing MANIFEST-N."""
    path = f"{tmp_path}/s"
    os.makedirs(path)
    sm.write_manifest(path, {"a": "a_v1"})
    torn = f"{path}/MANIFEST-{2:020d}"
    with open(torn, "w") as f:
        f.write('{"a": "TRUNC')  # torn PUT at the top
    sm.write_manifest(path, {"a": "a_v3"})
    # the torn file was not touched, and the new write claimed gen 3
    with open(torn) as f:
        assert f.read() == '{"a": "TRUNC'
    assert _numbered(path)[-1] == f"MANIFEST-{3:020d}"
    assert sm.read_manifest(path, {"a": "a"})["a"] == "a_v3"


# ---------------------------------------------------------------------------
# Conditional-write seam (VERDICT r9 next-round #7)
# ---------------------------------------------------------------------------


class _Fake412Store:
    """A fake conditional-PUT object store: first PUT per key succeeds,
    any later PUT returns False (the boto3 adapter would catch HTTP 412
    PreconditionFailed and return False the same way)."""

    def __init__(self):
        self.objects = {}
        self.puts = []

    def conditional_put(self, path, data):
        self.puts.append(path)
        if os.path.exists(path):
            return False  # key already claimed by another writer
        with open(path, "w") as f:
            f.write(data)
        return True


def test_conditional_put_fs_fences_natively(tmp_path):
    """ConditionalPutFS routes ONLY the generation claim through the
    conditional PUT; reads/lists stay on the wrapped FS, and a winning
    claim publishes a generation readers resolve normally."""
    root = str(tmp_path / "s3ish")
    os.makedirs(root)
    store = _Fake412Store()
    fs = sm.ConditionalPutFS(sm.PosixFS(), store.conditional_put)
    sm.register_fs_prefix(root, fs)
    try:
        sm.write_manifest(root, {"a": "a_v1"})
        sm.write_manifest(root, {"a": "a_v2"})
        assert sm.read_manifest(root, {"a": "a"})["a"] == "a_v2"
        # both generation claims went through the conditional PUT
        assert [os.path.basename(p) for p in store.puts] == [
            f"MANIFEST-{1:020d}",
            f"MANIFEST-{2:020d}",
        ]
    finally:
        sm.unregister_fs_prefix(root)


def test_conditional_put_lost_race_raises_conflict(tmp_path):
    """A lost conditional PUT (store answers 412 → adapter returns
    False) surfaces as ManifestConflictError through write_manifest —
    the same contract as the O_EXCL fence, with no external lock. The
    race window is the list->claim interleaving: this writer LISTED
    before the other writer's PUT landed (modeled with the same
    stale-listing shim the O_EXCL contention test uses), so both derive
    the same generation number and only the first PUT wins."""
    root = str(tmp_path / "s3ish")
    os.makedirs(root)
    store = _Fake412Store()
    theirs = f"MANIFEST-{2:020d}"
    fs = sm.ConditionalPutFS(
        _StaleListingFS(theirs), store.conditional_put
    )
    sm.register_fs_prefix(root, fs)
    try:
        sm.write_manifest(root, {"a": "a_v1"})
        # another writer claims generation 2 out-of-band (it listed the
        # same state and PUT first); our next listing is stale to it
        with open(f"{root}/{theirs}", "w") as f:
            json.dump({"a": "a_theirs"}, f)
        with pytest.raises(sm.ManifestConflictError, match="claimed"):
            sm.write_manifest(root, {"a": "a_mine"})
        # the lost PUT changed nothing: the winner's bytes survive
        with open(f"{root}/{theirs}") as f:
            assert json.load(f) == {"a": "a_theirs"}
    finally:
        sm.unregister_fs_prefix(root)
    assert sm.read_manifest(root, {"a": "a"})["a"] == "a_theirs"


# ---------------------------------------------------------------------------
# JVM already-exists classification (ADVICE r9)
# ---------------------------------------------------------------------------


class _FakeJavaClass:
    def __init__(self, name):
        self._name = name

    def getName(self):
        return self._name


class _FakeJavaException:
    def __init__(self, cls_name, cause=None):
        self._cls = _FakeJavaClass(cls_name)
        self._cause = cause

    def getClass(self):
        return self._cls

    def getCause(self):
        return self._cause


class _FakePy4JError(Exception):
    def __init__(self, msg, java_exception=None):
        super().__init__(msg)
        self.java_exception = java_exception


def test_already_exists_matched_by_java_class_not_message():
    """ADVICE r9: a connector that throws FileAlreadyExistsException
    with a localized / reworded message must still classify as a claim
    conflict — the class name is authoritative, not the message text."""
    e = _FakePy4JError(
        "Der Pfad ist bereits vorhanden",  # no 'already exists' in text
        _FakeJavaException("org.apache.hadoop.fs.FileAlreadyExistsException"),
    )
    assert sm._is_already_exists_error(e)


def test_already_exists_matched_through_cause_chain():
    """Some connectors wrap the typed exception in a bare IOException;
    the classifier walks getCause()."""
    inner = _FakeJavaException("org.apache.hadoop.fs.PathExistsException")
    e = _FakePy4JError(
        "wrapped", _FakeJavaException("java.io.IOException", cause=inner)
    )
    assert sm._is_already_exists_error(e)


def test_non_exists_jvm_errors_propagate_raw():
    """A permission or network failure must NOT classify as a claim
    conflict — mapping it to FileExistsError would turn a real outage
    into a bogus re-read-and-retry loop."""
    e = _FakePy4JError(
        "Access denied on bucket",
        _FakeJavaException("java.nio.file.AccessDeniedException"),
    )
    assert not sm._is_already_exists_error(e)


def test_message_fallback_still_works():
    """Untyped IOException('... already exists') — message text is the
    fallback when no typed class is present in the chain."""
    e = _FakePy4JError(
        "java.io.IOException: /store/MANIFEST-7 already exists",
        _FakeJavaException("java.io.IOException"),
    )
    assert sm._is_already_exists_error(e)


# ---------------------------------------------------------------------------
# Quarantine sink (VERDICT r9 next-round #4)
# ---------------------------------------------------------------------------


def test_quarantine_write_roundtrip_on_renameless_fs(spark, tmp_path):
    """quarantine_write's committed-counts read-back reconstructs the
    routing flag from the {flag}=true/false partition-directory KEYS:
    counts must describe the committed files, clean ∪ quarantine must
    equal the input exactly, and the string-bool partition-key pitfall
    must stay handled."""
    from window_aggregation_spark.operators.relational import (
        quarantine_write,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 7.0), (4, None), (5, 0.0)],
        "k long, price double",
    )
    checks = {"price_pos": F.col("price") > 0}
    path = f"{tmp_path}/routed"
    out = quarantine_write(df, checks, path)
    assert (out["clean_rows"], out["quarantined_rows"]) == (2, 3)
    clean = spark.read.parquet(out["clean_path"])
    quar = spark.read.parquet(out["quarantine_path"])
    # clean ∪ quarantine == input, by key set (no loss, no duplication)
    assert {r.k for r in clean.collect()} == {1, 3}
    assert {r.k for r in quar.collect()} == {2, 4, 5}
    # the flag reconstructed from the directory key must be a true
    # boolean in the counts (Python bool('false') is True — the cast
    # happens in the plan)
    committed = spark.read.parquet(path)
    assert committed.count() == 5
    flags = {
        r["quarantined"]
        for r in committed.select(
            F.col("quarantined").cast("boolean").alias("quarantined")
        ).collect()
    }
    assert flags == {True, False}
    # empty input: no partitions, counts read 0/0
    out2 = quarantine_write(
        df.where(F.lit(False)), checks, f"{tmp_path}/routed_empty"
    )
    assert (out2["clean_rows"], out2["quarantined_rows"]) == (0, 0)


class _FakeBoto3S3:
    """boto3-shaped S3 fake honoring IfNoneMatch='*': raises a
    ClientError-shaped exception (carries .response) when the key
    exists, persists bodies under a local root so the wrapped FS can
    read the published manifests back."""

    class ClientError(Exception):
        def __init__(self, code, status):
            super().__init__(code)
            self.response = {
                "Error": {"Code": code},
                "ResponseMetadata": {"HTTPStatusCode": status},
            }

    def __init__(self, root=None):
        self.root = root
        self.objects = {}
        self.puts = []

    def put_object(self, *, Bucket, Key, Body, IfNoneMatch=None):
        assert IfNoneMatch == "*", "adapter must send IfNoneMatch='*'"
        self.puts.append((Bucket, Key))
        if (Bucket, Key) in self.objects:
            raise self.ClientError("PreconditionFailed", 412)
        self.objects[(Bucket, Key)] = Body
        if self.root is not None:
            # bucket= mode strips the leading slash off the local path
            with open("/" + Key, "wb") as f:
                f.write(Body)


class _FakeGcsClient:
    """google-cloud-storage-shaped fake: blob.upload_from_string with
    if_generation_match=0 raises a PreconditionFailed-shaped exception
    (code=412) when the object exists."""

    class PreconditionFailed(Exception):
        code = 412

    def __init__(self):
        self.objects = {}

    def bucket(self, name):
        client = self

        class _Bucket:
            def blob(self, key):
                class _Blob:
                    def upload_from_string(
                        self, data, *, if_generation_match
                    ):
                        assert if_generation_match == 0
                        if (name, key) in client.objects:
                            raise client.PreconditionFailed()
                        client.objects[(name, key)] = data

                return _Blob()

        return _Bucket()


def test_boto3_adapter_contract(tmp_path):
    """VERDICT r10 #6: the packaged boto3 adapter creates-if-absent,
    maps 412/PreconditionFailed to False (→ ManifestConflictError at
    the write_manifest layer), parses s3:// URLs, and propagates
    non-precondition errors raw."""
    fake = _FakeBoto3S3()
    put = sm.boto3_conditional_put(fake)
    assert put("s3://b/stores/x/MANIFEST-" + "0" * 19 + "1", "g1") is True
    assert put("s3://b/stores/x/MANIFEST-" + "0" * 19 + "1", "g2") is False
    assert fake.objects[("b", "stores/x/MANIFEST-" + "0" * 19 + "1")] == (
        b"g1"
    )
    with pytest.raises(ValueError, match="bucket/key"):
        put("s3://bucket-only", "x")
    with pytest.raises(ValueError, match="URL"):
        put("/local/path", "x")

    class _Boom(Exception):
        response = {
            "Error": {"Code": "AccessDenied"},
            "ResponseMetadata": {"HTTPStatusCode": 403},
        }

    def deny(**kw):
        raise _Boom()

    fake.put_object = deny
    with pytest.raises(_Boom):
        put("s3://b/k", "x")


def test_gcs_adapter_contract():
    """Same contract for the google-cloud-storage adapter:
    if_generation_match=0, 412 → False, other errors raw."""
    fake = _FakeGcsClient()
    put = sm.gcs_conditional_put(fake)
    assert put("gs://b/m/MANIFEST-" + "0" * 19 + "1", "g1") is True
    assert put("gs://b/m/MANIFEST-" + "0" * 19 + "1", "g2") is False
    # wrong scheme refused (an s3 URL must not silently hit GCS)
    with pytest.raises(ValueError, match="URL"):
        put("s3://b/k", "x")

    class _Outage(Exception):
        code = 503

    class _DownClient(_FakeGcsClient):
        def bucket(self, name):
            raise _Outage()

    with pytest.raises(_Outage):
        sm.gcs_conditional_put(_DownClient())("gs://b/k", "x")


def test_boto3_adapter_fences_write_manifest_end_to_end(tmp_path):
    """The packaged adapter plugged into ConditionalPutFS drives the
    full manifest protocol: explicit bucket= mode treats the local
    manifest path as the object key (the fake persists bodies to disk
    so reads resolve), and the second of two same-generation claims
    loses with ManifestConflictError."""
    root = str(tmp_path / "s3ish")
    os.makedirs(root)
    fake = _FakeBoto3S3(root=root)
    fs = sm.ConditionalPutFS(
        sm.PosixFS(), sm.boto3_conditional_put(fake, bucket="b")
    )
    sm.register_fs_prefix(root, fs)
    try:
        sm.write_manifest(root, {"a": "a_v1"})
        sm.write_manifest(root, {"a": "a_v2"})
        assert sm.read_manifest(root, {"a": "a"})["a"] == "a_v2"
        # a racing writer re-claiming generation 2 loses at the claim
        # (write_manifest maps this FileExistsError to
        # ManifestConflictError — pinned by
        # test_conditional_put_lost_race_raises_conflict)
        with pytest.raises(FileExistsError):
            fs.create_new(f"{root}/MANIFEST-{2:020d}", "stolen")
        # published manifests were NOT clobbered by the lost claim
        key = f"{root}/MANIFEST-{2:020d}".lstrip("/")
        assert fake.objects[("b", key)] != b"stolen"
    finally:
        sm.unregister_fs_prefix(root)


# ---------------------------------------------------------------------------
# Stores in an older layout: refused by every op, which writes nothing
# ---------------------------------------------------------------------------


def _remove_manifests(path):
    """A store written before it had a manifest: directories only."""
    for name in _numbered(path):
        os.unlink(f"{path}/{name}")


def _rewrite_as_single_manifest(path):
    """Replace the numbered history with one ``MANIFEST`` holding the
    current mapping, written the way the single-file protocol wrote it."""
    mapping = sm.read_manifest(path, {})
    _remove_manifests(path)
    with open(f"{path}/MANIFEST", "w") as f:
        f.write(json.dumps(mapping, indent=1, sort_keys=True))


def _strip_meta(path):
    """Numbered manifests written before they carried params and stats."""
    for name in _numbered(path):
        with open(f"{path}/{name}") as f:
            mapping = json.load(f)
        del mapping[sm.META]
        with open(f"{path}/{name}", "w") as f:
            f.write(json.dumps(mapping, indent=1, sort_keys=True))


_OLD_LAYOUTS = {
    "no_manifest": _remove_manifests,
    "single_manifest": _rewrite_as_single_manifest,
    "no_meta": _strip_meta,
}


def _text_store(spark):
    docs = _corpus(spark)

    def build(path):
        build_text_index(docs.where("doc_id <= 'd4'"), path, n_buckets=4)
        text_index_add(spark, path, docs.where("doc_id > 'd4'"))

    return "build_text_index", build, [
        lambda path: load_text_index(spark, path),
        lambda path: text_index_add(spark, path, docs),
        lambda path: text_index_delete(spark, path, _ids(spark, "d1")),
        lambda path: text_index_compact(spark, path),
    ]


def _ivf_store(spark):
    import math

    from window_aggregation_spark.operators import similarity as sim

    vecs = spark.createDataFrame(
        [
            (i, [math.sin((i + 1) * (j + 1) * 0.7) for j in range(8)])
            for i in range(30)
        ],
        "vec_id long, embedding array<float>",
    )
    return "build_ivf_index", (
        lambda path: sim.build_ivf_index(
            vecs.where("vec_id < 24"), path, n_centroids=4
        )
    ), [
        lambda path: sim.load_ivf_index(spark, path),
        lambda path: sim.ivf_index_add(spark, path, vecs.where("vec_id >= 24")),
        lambda path: sim.ivf_index_delete(
            spark, path, spark.createDataFrame([(3,)], "vec_id long")
        ),
        lambda path: sim.ivf_index_compact(spark, path),
    ]


def _signature_store(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "the quick brown fox jumps over the lazy dog near the creek"),
            (3, "completely different text about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    return "build_signature_store", (
        lambda path: dd.build_signature_store(docs, "doc_id", path)
    ), [
        lambda path: dd.load_signature_store(spark, path),
        lambda path: dd.load_pair_cache(spark, path, threshold=0.3),
        lambda path: dd.signature_store_fold(docs, "doc_id", path, batch_id=0),
        lambda path: dd.signature_store_delete(
            spark, path, spark.createDataFrame([(2,)], "doc_id long")
        ),
        lambda path: dd.signature_store_compact(spark, path),
        lambda path: dd.signature_store_build_pairs(
            docs, "doc_id", path, threshold=0.3
        ),
    ]


def _span_hash_store(spark):
    docs = spark.createDataFrame(
        [(1, "Corpus doc opens. And more here. Also this one.")],
        "doc_id long, text string",
    )
    return "build_sentence_hash_store", (
        lambda path: dd.build_sentence_hash_store(docs, "doc_id", path)
    ), [
        lambda path: dd.load_sentence_hash_store(spark, path),
        lambda path: dd.sentence_hash_store_add(
            docs, "doc_id", path, batch_id=0
        ),
        lambda path: dd.sentence_hash_store_compact(spark, path),
    ]


def _tree(path):
    return sorted(
        (os.path.relpath(os.path.join(root, n), path),
         os.stat(os.path.join(root, n)).st_mtime_ns)
        for root, dirs, files in os.walk(path)
        for n in dirs + files
    )


@pytest.mark.parametrize("layout", list(_OLD_LAYOUTS))
@pytest.mark.parametrize(
    "store",
    [_text_store, _ivf_store, _signature_store, _span_hash_store],
    ids=["text", "ivf", "signature", "span_hash"],
)
def test_old_layout_store_is_refused_and_left_unwritten(
    spark, tmp_path, store, layout
):
    """A store without numbered manifests carrying params and stats is
    refused by its load and by each of its mutations, with one error
    naming the builder that rebuilds it; none of them writes a file."""
    builder, build, ops = store(spark)
    path = str(tmp_path / "store")
    build(path)
    _OLD_LAYOUTS[layout](path)
    before = _tree(path)
    for op in ops:
        with pytest.raises(sm.StoreFormatError, match=builder):
            op(path)
        assert _tree(path) == before


def test_file_uri_and_plain_path_see_one_manifest(spark, tmp_path, monkeypatch):
    """A store named by a ``file:`` URI, with one slash (Hadoop's
    ``Path.toString()`` form) or three, publishes its manifest beside
    its parquet: the plain path sees the same generations, and no
    relative ``file:`` directory appears under the working directory."""
    monkeypatch.chdir(tmp_path)
    path = str(tmp_path / "ix")
    build_text_index(_corpus(spark), f"file:{path}", n_buckets=4)
    assert _numbered(path) == [f"MANIFEST-{1:020d}"]
    snap = sm.read_manifest(path, {})
    assert sm.read_manifest(f"file:{path}", {}) == snap
    sm.write_manifest(f"file://{path}", {**snap, "x": "x_v1"}, expected=snap)
    assert _numbered(path) == [f"MANIFEST-{1:020d}", f"MANIFEST-{2:020d}"]
    assert sm.read_manifest(f"file:{path}", {})["x"] == "x_v1"
    assert load_text_index(spark, path).n_docs == 6
    assert not os.path.exists(tmp_path / "file:")
