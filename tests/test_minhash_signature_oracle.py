"""Signature-level oracle for ``dedup.minhash_signatures``.

The pair-level tests compare what LSH + verification return; this one
compares the 64 signature columns themselves, per document, against the
DuckDB signatures of the ``sig`` CTE that ``suite._duck_minhash_lsh_sql``
builds, on the adversarial text corpus of ``test_text_differential.py``
(NULL, empty, whitespace-only, sub-shingle, unicode and bullet texts).
Both engines read the same parquet file."""

import duckdb

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.suite import _duck_minhash_sig_ctes

from tests.test_text_differential import ADVERSARIAL_DOCS

_NEAR_DUPS = [
    (101, "the quick brown fox jumps over the lazy dog near the river"),
    (102, "the quick brown fox jumps over the lazy dog near the creek"),
    (103, "one"),
    (104, "one two"),
]


def test_minhash_signatures_equal_duckdb_on_all_columns(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        ADVERSARIAL_DOCS + _NEAR_DUPS, "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    cols = [f"m{i}" for i in range(64)]

    sigs = dd.minhash_signatures(spark.read.parquet(path), "doc_id")
    assert sigs.columns == ["doc_id"] + cols
    assert all(t == "bigint" for _, t in sigs.dtypes)
    got = {r["doc_id"]: tuple(r[c] for c in cols) for r in sigs.collect()}

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{path}/*.parquet')"
        )
        rows = con.sql(
            f"WITH {_duck_minhash_sig_ctes()} "
            f"SELECT doc_id, {', '.join(cols)} FROM sig"
        ).fetchall()
    finally:
        con.close()
    want = {r[0]: tuple(r[1:]) for r in rows}

    # every non-NULL text has a signature (a NULL text has no shingles)
    assert set(got) == {i for i, t in ADVERSARIAL_DOCS + _NEAR_DUPS if t is not None}
    assert got == want
    # non-trivial: near-duplicates share some components, not all
    shared = sum(a == b for a, b in zip(got[101], got[102]))
    assert 0 < shared < 64
