"""On-disk layout of the persisted stores: the token order of the text
index's postings files, the types of the rows ``store_manifest.write_rows``
writes (the IVF codebook, and small rows of other column types), and the
fixture store cache's key on the store format."""

import math
import os
import random

import pyarrow.parquet as pq
import pytest

from window_aggregation_spark.operators import search
from window_aggregation_spark.operators import similarity as sim
from window_aggregation_spark.sources import store_manifest as sm

_VOCAB = [
    "spark", "shuffle", "window", "frame", "partition", "bucket", "token",
    "index", "posting", "merge", "sort", "hash", "join", "broadcast",
    "median", "rank", "lead", "lag", "stage", "task", "driver", "executor",
    "parquet", "manifest", "tombstone", "compact", "river", "mill", "wheel",
    "water", "stone", "field", "cloud", "light", "north", "south",
]


def _generated_docs(spark, lo: int, hi: int):
    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 25))))
        for i in range(hi)
    ][lo:]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _postings_files(path: str) -> list[str]:
    m = sm.read_manifest(path, search._IDX_COMPONENTS)
    files = []
    for d in sm.split_dirs(m["postings"]):
        for root, _, names in os.walk(f"{path}/{d}"):
            files += [
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            ]
    return sorted(files)


def _unsorted(files: list[str]) -> list[str]:
    bad = []
    for f in files:
        t = pq.read_table(f, columns=["token", "doc_id"])
        keys = list(zip(t.column("token").to_pylist(),
                        t.column("doc_id").to_pylist()))
        if keys != sorted(keys):
            bad.append(f)
    return bad


def test_postings_files_sorted_by_token_after_build_add_compact(
    spark, tmp_path
):
    """Every postings file is sorted by (token, id), as the build
    promises for row-group pruning inside a bucket: after the build,
    after an add (its own postings directory) and after a compaction
    (the rewritten directory)."""
    path = str(tmp_path / "ix")
    search.build_text_index(_generated_docs(spark, 0, 300), path, n_buckets=8)
    files = _postings_files(path)
    assert len(files) >= 8
    assert _unsorted(files) == []

    search.text_index_add(spark, path, _generated_docs(spark, 300, 420))
    added = _postings_files(path)
    assert len(added) > len(files)
    assert _unsorted(added) == []

    search.text_index_delete(
        spark, path, spark.createDataFrame([(3,), (301,)], "doc_id long")
    )
    search.text_index_compact(spark, path)
    compacted = _postings_files(path)
    assert compacted and not set(compacted) & set(added)
    assert _unsorted(compacted) == []


def _same(a, b) -> bool:
    """Row equality that treats NaN as equal to NaN and keeps -0.0."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    return type(a) is type(b) and a == b


_RNG = random.Random(11)
# small rows of int, string (escapes included), bigint (at its limits)
# and null values, then the codebook
_INT_STR = "n_buckets int, id_col string"
_BIGINTS = "n_docs bigint, sum_dl bigint"
_SPAN_ROW = "window int, grain string, n_hashes long"
_STORE_ROWS = [
    (_INT_STR, [(64, "doc_id")]),
    (_INT_STR, [(7, "naïve id ` 'q' \\ \\' \\u0041")]),
    (_BIGINTS, [(2**40 + 3, 2**62 - 1)]),
    (_BIGINTS, [(0, 0)]),
    (_BIGINTS, [(-(2**63), -1)]),
    ("id_col string, ngram int, num_hashes int", [("doc_id", 3, 64)]),
    (_SPAN_ROW, [(3, "sentence", 2**33)]),
    (_SPAN_ROW, [(15, "token", None)]),
    # a default-size codebook (16 lists, 64 dims) over many magnitudes:
    # every double must survive the trip through text bit for bit
    (sim._CENTROIDS_SCHEMA, [
        (i, [_RNG.uniform(-1, 1) * 10.0 ** _RNG.randint(-300, 300)
             for _ in range(64)])
        for i in range(16)
    ]),
    (sim._CENTROIDS_SCHEMA, [
        (0, [0.1, -0.0, 1e308, 5e-324]),
        (1, [float("nan"), float("inf"), float("-inf"), 1 / 3]),
        (2, []),
    ]),
]


@pytest.mark.parametrize("schema,rows", _STORE_ROWS)
def test_write_rows_round_trip(spark, tmp_path, schema, rows):
    """Rows written by ``write_rows`` read back equal, with the declared
    column types, whether the reader infers the schema or declares it."""
    dst = str(tmp_path / "rows")
    sm.write_rows(spark, rows, schema, dst)
    want_types = spark.createDataFrame([], schema).dtypes
    for back in (spark.read.parquet(dst), spark.read.schema(schema).parquet(dst)):
        assert back.dtypes == want_types
        got = [tuple(r) for r in back.collect()]
        assert len(got) == len(rows)
        assert all(map(_same, sorted(got, key=str), sorted(rows, key=str)))
    assert len([f for f in os.listdir(dst) if f.endswith(".parquet")]) == 1


@pytest.mark.parametrize(
    "rows", [[(2**31, "doc_id")], [("64", "doc_id")], [(1.5, "doc_id")], [(1,)]]
)
def test_write_rows_rejects_values_the_schema_cannot_hold(
    spark, tmp_path, rows
):
    """An int overflow, a string or a float in an int column and a short
    row fail the write instead of storing a null or a truncated value."""
    with pytest.raises(Exception, match=r"MALFORMED_RECORD|zip\(\)"):
        sm.write_rows(spark, rows, _INT_STR, str(tmp_path / "p"))



def test_fixture_cache_of_an_older_layout_is_left_unread(spark, tmp_path):
    """``suite.fixture_store_path`` keys a cached store on the store
    format, so a store cached in an older layout under the tag it had
    before is never opened: ``text_index_for`` builds a fresh index
    beside it and leaves it as it was."""
    import hashlib
    import shutil

    import pyarrow as pa

    from window_aggregation_spark import suite

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["spark join", "join sort"]}),
        f"{sf_dir}/documents.parquet",
    )
    st = os.stat(f"{sf_dir}/documents.parquet")
    old_tag = hashlib.md5(
        f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:16]
    old = f"/tmp/spark_graft_stores/text_index_{old_tag}"
    new = suite.fixture_store_path(sf_dir, "text_index")
    try:
        # an old cache: params parquet, no manifest, and postings that
        # any read would fail on
        for d in ("params", "stats", "postings"):
            os.makedirs(f"{old}/{d}")
            with open(f"{old}/{d}/part-0.parquet", "w") as f:
                f.write("not parquet")
        before = sorted(os.walk(old))
        assert new != old and not os.path.exists(new)
        idx = suite.text_index_for(spark, sf_dir)
        assert (idx.path, idx.n_docs) == (new, 2)
        assert sm.published(new) and not sm.published(old)
        assert sorted(os.walk(old)) == before
        # the next call loads the published store
        assert suite.text_index_for(spark, sf_dir).n_docs == 2
    finally:
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(new, ignore_errors=True)
