"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-bounded and driver-free (no collect, no
per-group materialization beyond bounded signatures):

- :func:`exact_dedup` — hash-groupBy on a key; deterministic representative
  via row_number. One shuffle on the dedup key.
- :func:`content_key` — md5 of normalized text (portable across engines).
- :func:`minhash_dedup_pairs` — token-n-gram shingles -> minhash signature
  (one portable-hash pass + universal-hash permutations, all columnar) ->
  banded LSH bucketing -> candidate pairs verified with exact Jaccard. The
  standard 100 TB near-dup path: cost is O(n * sig) + one shuffle on
  the band-seeded bucket key, never O(n^2).
- :func:`simhash` / :func:`simhash_dedup_pairs` — 64-bit SimHash computed in
  a single array-accumulator fold; candidates = pairs sharing any 16-bit
  chunk (pigeonhole: catches all pairs within Hamming distance 3 when split
  into 4 chunks), verified with ``bit_count(a XOR b)``.
- :func:`ngram_jaccard_pairs` — exact Jaccard over shingle sets for pairs
  sharing a cheap blocking key (e.g. text prefix). SQL-expressible, used as
  the oracle-checkable variant.
- :func:`embedding_dup_pairs` — cosine-similarity pairs over an embedding
  column; brute-force O(n^2) pair join for modest n, with the LSH-bucketed
  variant in :mod:`window_aggregation_spark.operators.similarity` as the
  scale path.

Everything is built from built-in functions (md5/conv, transform, aggregate,
zip_with, bit_count) — no Python UDFs in any hot path. Shingle/token hashing
uses :func:`portable_hash64` (md5-derived) rather than xxhash64 so minhash
and simhash outputs are bit-reproducible in any SQL engine — that is what
lets the driver oracle-check them against DuckDB instead of rows-only.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from window_aggregation_spark.operators.text import tokens
from window_aggregation_spark.sources import store_manifest as sm
from window_aggregation_spark.spec import quote_ident

_MERSENNE = 2147483647  # 2^31-1, prime — universal-hash modulus

# Deterministic permutation parameters (fixed seed: results must be stable
# across runs and sessions).
_rng = random.Random(42)
_HASH_A = [(_rng.randrange(1, _MERSENNE) | 1) for _ in range(256)]
_HASH_B = [_rng.randrange(0, _MERSENNE) for _ in range(256)]


def portable_hash64(col: Column) -> Column:
    """60-bit non-negative hash of a string, bit-identical across engines.

    ``conv(substr(md5(x), 1, 15), 16, 10)`` — the first 15 hex digits of the
    md5 as an integer. md5 of a UTF-8 string is standardized, so the exact
    same value is computable in any SQL engine (DuckDB:
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``), which is what
    makes minhash/simhash results oracle-checkable instead of rows-only.
    Stays inside whole-stage codegen (md5/conv are JVM builtins)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash64_duck(expr: str) -> str:
    """The DuckDB rendering of :func:`portable_hash64` over SQL ``expr``."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, keys: list[str], *, order_by: list[str] | None = None
) -> DataFrame:
    """Keep exactly one row per distinct ``keys`` combination.

    A deterministic representative (the first row under ``order_by``, which
    must be a total order within groups) — unlike ``dropDuplicates``, whose
    survivor is whichever task finishes first. One hash shuffle on ``keys``.
    """
    order = order_by or keys
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_key(text: Column) -> Column:
    """md5 of the lowercased text — a portable exact-content dedup key."""
    return F.md5(F.lower(text))


# ---------------------------------------------------------------------------
# shingles + minhash LSH
# ---------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of the text.

    Built from n-1 ``zip_with`` passes over shifted copies of the token
    array (O(n·tokens) total) instead of one ``slice`` per position
    (O(tokens^2) and measured ~5x slower interpreted). ``zip_with`` pads the
    shorter side with nulls and ``concat_ws`` skips nulls, so the trailing
    (n-1) partial shingles are cut off with a final ``slice``.
    """
    toks = tokens(text)
    if n == 1:
        return F.array_distinct(toks)
    zipped = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, 2_000_000_000)
        zipped = F.zip_with(zipped, shifted, lambda x, y: F.concat_ws(" ", x, y))
    count = F.size(toks) - (n - 1)
    return F.when(count <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(F.slice(zipped, F.lit(1), count))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Minhash signature columns ``m0..m{num_hashes-1}`` per row id.

    Shape chosen for scale and codegen: explode shingles, hash each ONCE
    with the portable hash, then one groupBy with ``num_hashes`` plain ``min``
    aggregates over universal-hash permutations ``(a*h + b) mod p``. Plain
    mins run in whole-stage codegen with map-side partial aggregation; the
    equivalent nested array-fold expression evaluates interpreted
    (measured ~10x slower). The aggregates are SQL text: the same
    expression trees as Column-built ones, at 1 py4j round trip each
    instead of ~11 per Column operation (plan build, best of 5 on 4
    vCPUs: 0.56 → 0.18 s; ``dedup_new_against_corpus`` 1.47 → 0.35 s).
    """
    if num_hashes > len(_HASH_A):
        raise ValueError(f"num_hashes must be <= {len(_HASH_A)}")
    hashed = (
        df.select(
            F.col(id_col), F.explode(shingles(F.col(text_col), ngram)).alias("__s")
        )
        .select(id_col, F.pmod(portable_hash64(F.col("__s")), F.lit(_MERSENNE)).alias("__h"))
    )
    return hashed.groupBy(id_col).agg(*[
        F.expr(
            f"min(pmod({_HASH_A[i]} * __h + {_HASH_B[i]}, {_MERSENNE}))"
            f" AS m{i}"
        )
        for i in range(num_hashes)
    ])


class SignatureStore:
    """A persisted minhash-signature artifact (``build_signature_store``).

    At 100 TB the signatures — one shingle+hash pass over every byte of
    the corpus — are the dominant cost of the whole near-dup family, and
    r5 measured the LSH-pairs + CC-components pair recomputing them twice
    at 35% of sf1 wall-clock (VERDICT r5 next-round #5). Compute them
    ONCE, persist ``(id, m0..m{k-1})`` columns (a few hundred bytes/doc,
    ~1000x smaller than raw text), and feed every downstream consumer
    (``minhash_dedup_pairs``, ``minhash_components``, ``minhash_dedup_cc``,
    ``dedup_keep_best``-style flows) through ``signatures=``. Same
    write-once pattern as :func:`..similarity.build_ivf_index`.

    ``ngram``/``num_hashes`` are persisted alongside and re-checked at
    use: a store built with different parameters than the consuming call
    raises instead of silently producing wrong buckets.
    """

    def __init__(self, sigs: DataFrame, *, ngram: int, num_hashes: int):
        self.sigs = sigs
        self.ngram = ngram
        self.num_hashes = num_hashes

    def check(self, *, ngram: int, num_hashes: int) -> None:
        if (ngram, num_hashes) != (self.ngram, self.num_hashes):
            raise ValueError(
                f"signature store was built with ngram={self.ngram}, "
                f"num_hashes={self.num_hashes}; call requested "
                f"ngram={ngram}, num_hashes={num_hashes}"
            )


# Component -> directory names of a freshly built signature store; the
# manifest protocol (sources/store_manifest.py) versions them on
# compaction, and its manifest holds the params.
_SIG_COMPONENTS = {
    "sigs": "sigs",
    "tombstones": "tombstones",
    "folds": "sigs_folds",
    # optional derived artifact: the VERIFIED near-dup pair list (see
    # signature_store_build_pairs) — tiny (8k pairs / 50k docs measured),
    # lets the CC family skip LSH + exact-verify entirely
    "pairs": "pairs",
}


def _sig_schemas(m: dict):
    """Declared read schemas of the signatures, the fold partitions and
    the tombstones, from the id type and hash count the manifest's params
    record."""
    p = sm.meta(m)["params"]
    idc = (p["id_col"], p["id_type"])
    sigs = [idc] + [(f"m{i}", "long") for i in range(int(p["num_hashes"]))]
    return (
        sm.schema(sigs),
        sm.schema(sigs + [("batch_id", "integer")]),
        sm.schema([idc, ("__upto_batch", "long")]),
    )


def build_signature_store(
    df: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    num_hashes: int = 64,
    mode: str = "overwrite",
) -> SignatureStore:
    """Compute minhash signatures once and persist them under ``path``
    (``sigs/`` parquet; the params, the id column's type included, in the
    build's manifest). Returns the store re-read from disk, so downstream
    plans run against exactly what was persisted."""
    sm.guard_build(
        path, mode,
        "signatures are grown by the ingest loop's fold (sigs_folds/), "
        "never by re-running the builder",
    )
    spark = df.sparkSession
    sigs = minhash_signatures(
        df, id_col, text_col, ngram=ngram, num_hashes=num_hashes
    )
    sigs.write.mode(mode).parquet(f"{path}/sigs")
    m = sm.publish_build(path, _SIG_COMPONENTS, {
        "id_col": id_col, "id_type": sm.type_value(df, id_col),
        "ngram": ngram, "num_hashes": num_hashes,
    })
    return _load_signatures(spark, path, m=m)[0]


def load_signature_store(
    spark, path: str, *, exclude_folds_from: int | None = None,
) -> SignatureStore:
    """Load a persisted signature store; the signatures stay a lazy
    parquet scan (the params come from the manifest).

    Signatures folded back by the streaming ingest loop live under
    ``sigs_folds/batch_id=N`` (one overwrite-able directory per
    micro-batch epoch, so a replayed batch REPLACES its rows instead of
    appending duplicates — same idempotency trick as the data sink) and
    are unioned in here; the base ``sigs/`` written at build time is
    never touched after the fact.

    ``exclude_folds_from``: exclude every fold with ``batch_id >=`` the
    given epoch. The streaming loop passes its CURRENT epoch id, so a
    replayed micro-batch never sees its own previously-folded signatures
    — without this, every doc of a batch retried after its fold would
    band-match ITSELF in the store, be dropped as a "duplicate", and
    overwrite its output partition as empty (silent data loss) — and a
    fresh-checkpoint restart replaying SEVERAL epochs reconstructs each
    epoch's original store view, because earlier epochs cannot see LATER
    epochs' folds."""
    return _load_signatures(spark, path, exclude_folds_from)[0]


def _load_signatures(
    spark, path: str, exclude_folds_from: int | None = None, *,
    m: dict | None = None,
) -> tuple[SignatureStore, bool]:
    """:func:`load_signature_store` of manifest ``m`` (default: the
    current one), plus whether folds or tombstones are pending (what a
    compaction would merge). With the params in the manifest, it runs no
    Spark job."""
    if m is None:
        m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    p = sm.meta(m)["params"]
    id_c = p["id_col"]
    sigs_schema, folds_schema, tomb_schema = _sig_schemas(m)
    base = sm.read_dirs(spark, path, m["sigs"], schema=sigs_schema)
    folds = sm.folds_before(
        sm.read_optional(spark, path, m["folds"], schema=folds_schema),
        exclude_folds_from,
    )
    # pending deletions (signature_store_delete) anti-join out here, so
    # deleted docs stop matching ingest batches immediately. Tombstones
    # carry the fold WATERMARK captured at delete time (`__upto_batch` =
    # max fold epoch then on disk): they suppress the base signatures
    # (always older than any fold) and folds up to that epoch, but NOT a
    # later fold that re-ingested the same id — without the watermark,
    # re-submitted content reusing a stable id (url hash, content id)
    # would stay invisible forever and the next compaction would destroy
    # its fresh signature.
    tomb = sm.read_optional(spark, path, m["tombstones"], schema=tomb_schema)
    if tomb is not None:
        base = sm.drop_tombstoned(base, tomb, id_c)
        if folds is not None:
            folds = folds.alias("f").join(
                tomb.alias("t"),
                (F.col(f"f.{id_c}") == F.col(f"t.{id_c}"))
                & (F.col("f.batch_id") <= F.col("t.__upto_batch")),
                "left_anti",
            )
    sigs = base if folds is None else base.unionByName(
        folds.drop("batch_id")
    )
    store = SignatureStore(
        sigs, ngram=int(p["ngram"]), num_hashes=int(p["num_hashes"])
    )
    return store, folds is not None or tomb is not None


def signature_store_fold(
    batch: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    *,
    batch_id: int,
) -> None:
    """Fold an ADMITTED batch's minhash signatures back into the store,
    so the next batch dedups against everything accepted since the build
    — the signature twin of :func:`sentence_hash_store_add`, and the
    write the streaming ingest loop makes per epoch.

    The signatures take the store's own ``ngram`` and hash count, and
    its id column's name. ``batch_id`` keys an overwrite-per-epoch fold
    partition (``sigs_folds/batch_id=N``), resolved through the manifest
    so it follows compaction generations: a replayed batch REPLACES its
    own rows instead of appending duplicates. A fold publishes nothing;
    :func:`load_signature_store` unions it in."""
    m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    p = sm.meta(m)["params"]
    minhash_signatures(
        batch, id_col, text_col,
        ngram=int(p["ngram"]), num_hashes=int(p["num_hashes"]),
    ).withColumnRenamed(id_col, p["id_col"]).write.mode("overwrite").parquet(
        f"{path}/{m['folds']}/batch_id={int(batch_id)}"
    )


def signature_store_delete(spark, path: str, ids: DataFrame) -> SignatureStore:
    """Tombstone documents in a persisted :class:`SignatureStore` — the
    dedup twin of ``search.text_index_delete``: when docs leave the
    corpus (takedowns, quality purges), their signatures must stop
    matching ingest batches, or every future re-submission of that
    content is wrongly rejected as a near-duplicate of something no
    longer served.

    ``ids`` is a one-column DataFrame of document ids (renamed to the
    store's id column; its TYPE must match the store's — a silently
    coercing join would tombstone nothing). Each tombstone
    row records the fold WATERMARK at delete time (max fold epoch on
    disk), so it suppresses the base signatures and folds up to that
    epoch but not a LATER re-ingestion of the same id — deleting,
    re-submitting, then deleting again therefore behaves correctly
    (the second delete appends a newer-watermark row). Replayed
    identical deletes merely append duplicate rows, which the anti-join
    semantics make harmless (signatures are per-doc; there is no global
    statistic to corrupt). The effect is immediate and exactly equals a
    store rebuilt on the filtered corpus. Reclaim space with
    :func:`signature_store_compact`. Works on POSIX paths and object
    stores alike (manifest protocol, ``sources/store_manifest.py``)."""
    m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    id_c = sm.meta(m)["params"]["id_col"]
    sm.check_id_type(
        ids, sm.read_dirs(spark, path, m["sigs"], schema=_sig_schemas(m)[0]),
        id_c, "signature_store_delete",
    )
    upto = sm.last_fold(path, m["folds"])
    batch = ids.toDF(id_c).dropDuplicates().withColumn(
        "__upto_batch", F.lit(-1 if upto is None else upto).cast("long")
    )
    batch.write.mode("append").parquet(f"{path}/{m['tombstones']}")
    # a delete publishes nothing: the snapshot is still the manifest
    return _load_signatures(spark, path, m=m)[0]


def signature_store_compact(
    spark, path: str, *, sweep: bool = False
) -> SignatureStore:
    """Fold the streamed fold partitions and pending tombstones into ONE
    new base generation ((base ∪ folds) − tombstones), published behind
    a single atomic manifest flip: loads stop paying the per-call union
    + anti-join, and tombstoned signatures physically disappear. No-op
    when there is nothing to fold.

    ONLY run this with the ingestion stream STOPPED and its checkpoint
    committed: a micro-batch retried across the compaction would find
    its own rows already merged into the base (its fold partition no
    longer exists to exclude), band-match itself, and emit an empty
    output partition. Between streaming runs is the safe window —
    exactly when you'd compact any log-structured store.

    ``sweep`` (default OFF) deletes the superseded generation dirs right
    after the flip — only safe with no concurrent readers; default
    keeps them for out-of-band GC."""
    m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    # the serving view (folds unioned, watermarked tombstones applied) is
    # what gets materialized — compaction can never drift from what loads
    # were already serving
    store, pending = _load_signatures(spark, path, m=m)
    if not pending:
        return store
    # "pairs" is rotated to a fresh (not-yet-existing, reads as absent)
    # dir too: the pair cache was derived from the pre-compaction
    # generation and its fingerprint would fail anyway — dropping the
    # reference lets GC reclaim it
    new = sm.new_generation(
        path, m, _SIG_COMPONENTS, ("sigs", "tombstones", "folds", "pairs")
    )
    store.sigs.write.parquet(f"{path}/{new['sigs']}")
    m = sm.publish(
        path, m, new, _SIG_COMPONENTS, sweep=sweep, drop=("pairs_meta",)
    )
    return _load_signatures(spark, path, m=m)[0]


def signature_store_gc(path: str, *, grace_seconds: float = 900.0) -> dict:
    """Out-of-band reclaim of superseded signature-store generations —
    run from a quiet window (the same slot as compactions); see
    ``sources/store_manifest.gc_store`` (incl. the ``grace_seconds``
    mid-publish guard)."""
    return sm.gc_store(path, _SIG_COMPONENTS, grace_seconds=grace_seconds)


def _pair_params(threshold, ngram, num_hashes, bands, max_bucket_size) -> dict:
    """The LSH/verify parameters a pair cache is keyed by: pairs computed
    at one parameterization are silently wrong for any other, so load
    re-checks every one of these before serving the cache."""
    return {
        "threshold": float(threshold),
        "ngram": int(ngram),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "max_bucket_size": None if max_bucket_size is None else int(max_bucket_size),
    }


def _sig_fingerprint(path: str, m: dict) -> str:
    return sm.state_fingerprint(
        path, [m[c] for c in ("sigs", "tombstones", "folds")]
    )


def signature_store_build_pairs(
    df: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    *,
    threshold: float,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Persist the VERIFIED near-dup pair list ``(id_a, id_b, jaccard)``
    as an optional component of the signature store at ``path``.

    The signature store already shares the dominant shingle+hash pass;
    what the CC family re-pays per run is LSH banding + the exact-Jaccard
    verify (~2.3 s of dedup_minhash_cc_stored's 3.3 s at sf0.1, per the
    r7 bench deltas). The verified pair set is TINY — 8,078 pairs for
    50k docs measured — so persisting it costs almost nothing and lets
    ``minhash_components(pairs=...)`` run ONLY the connected-components
    loop.

    Staleness: the pairs are derived state. The manifest entry records a
    content fingerprint (``store_manifest.state_fingerprint``) of the
    sigs/tombstones/folds directories it was computed from; ANY change —
    a tombstone append (no manifest flip!), a streamed fold partition, a
    compaction, a rebuild — changes that fingerprint and
    :func:`load_pair_cache` refuses the cache. Compaction additionally
    rotates the manifest's ``pairs`` reference to a fresh dir so GC
    reclaims the stale cache. Published like every other generation:
    fully written, then one atomic manifest flip (expected-guarded)."""
    spark = df.sparkSession
    m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    store = _load_signatures(spark, path, m=m)[0]
    pairs = minhash_dedup_pairs(
        df, id_col, text_col,
        ngram=ngram, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket_size=max_bucket_size,
        signatures=store,
    )
    meta = {
        **_pair_params(threshold, ngram, num_hashes, bands, max_bucket_size),
        "fingerprint": _sig_fingerprint(path, m),
    }
    new = sm.new_generation(path, m, _SIG_COMPONENTS, ("pairs",))
    pairs.write.parquet(f"{path}/{new['pairs']}")
    sm.publish(
        path, m, {**new, "pairs_meta": json.dumps(meta)}, _SIG_COMPONENTS
    )
    return spark.read.parquet(f"{path}/{new['pairs']}")


def load_pair_cache(
    spark,
    path: str,
    *,
    threshold: float,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame | None:
    """The persisted verified-pair list for the store at ``path``, or
    ``None`` when it is absent, was built at different LSH/verify
    parameters, or is STALE (the sigs/tombstones/folds content
    fingerprint no longer matches the one recorded at build time — see
    :func:`signature_store_build_pairs`). ``None`` means "recompute",
    never "serve something close"."""
    m = sm.snapshot(path, _SIG_COMPONENTS, "signature store")
    raw = m.get("pairs_meta")
    if not raw:
        return None
    meta = json.loads(raw)
    want = _pair_params(threshold, ngram, num_hashes, bands, max_bucket_size)
    if {k: meta.get(k) for k in want} != want:
        return None
    if _sig_fingerprint(path, m) != meta.get("fingerprint"):
        return None
    return sm.read_optional(spark, path, m["pairs"])


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays.

    Pass plain COLUMN references, not expensive expressions: ``a`` and
    ``b`` are each referenced twice (intersect + union), so an inlined
    shingle builder would compute every shingle array twice per row —
    use :func:`append_exact_jaccard` for the text-pair verify shape."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def append_exact_jaccard(
    df: DataFrame, a_col: str, b_col: str, *, ngram: int = 3
) -> DataFrame:
    """Append ``jaccard`` = exact shingle Jaccard of two TEXT columns,
    with the shingle arrays MATERIALIZED as columns first and the union
    taken by the size identity |A∪B| = |A|+|B|−|A∩B| (valid because
    :func:`shingles` returns distinct elements). The naive
    ``jaccard(shingles(a), shingles(b))`` references each shingle
    expression twice and higher-order functions run interpreted (no
    codegen CSE), so every pair paid four shingle constructions plus an
    array_union hash build — measured 2.4× slower on the sf1 verify
    stage (9.6 s → 4.0 s, round 11; the dominant term behind
    dedup_minhash_lsh_stored's 0.81 linear ratio, VERDICT r10 #8)."""
    out = (
        df.withColumn("__sa", shingles(F.col(a_col), ngram))
        .withColumn("__sb", shingles(F.col(b_col), ngram))
        .withColumn(
            "__int", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
        )
        .withColumn(
            "__uni", F.size("__sa") + F.size("__sb") - F.col("__int")
        )
    )
    j = F.when(F.col("__uni") == 0, F.lit(0.0)).otherwise(
        F.col("__int") / F.col("__uni")
    )
    return out.withColumn("jaccard", F.round(j, 4)).drop(
        "__sa", "__sb", "__int", "__uni"
    )


def _band_keys(
    sigs: DataFrame, id_col: str, *, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature row into ``bands`` ``(__id, key)`` rows, the
    LSH bucket keys: key = hash of (band id, the band's signature slice)
    — equal slices in the SAME band <=> equal keys. One projection, no
    shuffle.

    The band id rides only as the hash SEED (r14): a separate 4-byte
    ``band`` column in every banded row bought nothing — keys from
    different bands collide only on a cross-band xxhash64 collision,
    the same ~2^-64-per-pair exposure the within-band bucket hashing
    already carries (and which the DuckDB oracle, which compares band
    slices directly, has never modeled). Dropping it narrows every
    banded shuffle row by the column plus its struct overhead — the
    banded-rows exchange is the LSH stage's one corpus-order shuffle,
    so its width is what the stage costs at scale (guide §2.3 narrower
    types / shuffle fewer bytes)."""
    return sigs.selectExpr(
        f"{quote_ident(id_col)} AS __id",
        _band_keys_sql(num_hashes=num_hashes, bands=bands),
    )


def _band_keys_sql(*, num_hashes: int, bands: int) -> str:
    """``explode(...) AS key``: the SQL text of :func:`_band_keys`'s
    generator over columns ``m0..m{num_hashes-1}``."""
    rows = num_hashes // bands
    keys = ", ".join(
        "xxhash64(" + ", ".join(
            [str(b)] + [f"m{b * rows + j}" for j in range(rows)]
        ) + ")"
        for b in range(bands)
    )
    return f"explode(array({keys})) AS key"


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 10_000,
    signatures: "SignatureStore | DataFrame | None" = None,
) -> DataFrame:
    """Banded-bucket candidate pairs BEFORE exact-Jaccard verification:
    the raw LSH fan-out ``(id_a, id_b)`` with ``id_a < id_b``, distinct.

    Exposed separately from :func:`minhash_dedup_pairs` so the candidate
    volume is observable — on a duplicate-heavy corpus the candidate set
    (not the verify) is what can go super-linear, and the bench sf1
    section records ``count()`` of this stage per round to catch that
    growth before it lands on a real cluster (VERDICT r4 next-round #6).

    ``signatures`` skips the shingle+signature pass — pass a
    :class:`SignatureStore` (parameter-checked) or a raw
    ``(id_col, m0..m{num_hashes-1})`` DataFrame. The store must cover
    every id in ``df``; ids absent from it simply generate no candidates.
    """
    if signatures is None:
        sigs = minhash_signatures(
            df, id_col, text_col, ngram=ngram, num_hashes=num_hashes
        )
    elif isinstance(signatures, SignatureStore):
        signatures.check(ngram=ngram, num_hashes=num_hashes)
        sigs = signatures.sigs
    else:
        sigs = signatures
    if f"m{num_hashes - 1}" not in sigs.columns:
        raise ValueError(
            f"signatures are missing column m{num_hashes - 1} — built "
            f"with fewer hashes than num_hashes={num_hashes}?"
        )
    banded = _band_keys(sigs, id_col, num_hashes=num_hashes, bands=bands)

    # Candidate pairs WITHOUT a self-join: group member ids per bucket
    # key (band id folded into the key's hash seed — see _band_keys),
    # then double-explode the id array (a, then b > a). A self-join
    # on the bucket key computes the whole shingle->signature pipeline TWICE
    # (Spark does not common-subexpression self-join branches and does not
    # canonicalize the two Exchanges as reusable) and shuffles the banded
    # rows twice; this shape scans the corpus once and shuffles once. The
    # explode fan-out is k^2/2 rows per k-member bucket — exactly the pairs
    # the join would have produced — and stays in whole-stage codegen.
    buckets = banded.groupBy("key").agg(
        F.collect_list("__id").alias("__ids")
    )
    # Degenerate-bucket guard: a bucket of k members yields k^2/2 candidate
    # pairs, so one boilerplate-heavy bucket (empty docs, a common template)
    # can quadratically dominate at scale. With grouped buckets the cap is a
    # free size() filter; dropped buckets skip pair candidates that are
    # mostly boilerplate-to-boilerplate.
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("__ids") <= max_bucket_size)
    candidates = (
        buckets.where(F.size("__ids") >= 2)
        .select(F.explode("__ids").alias("id_a"), F.col("__ids"))
        .select("id_a", F.explode("__ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return candidates


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
    signatures: "SignatureStore | DataFrame | None" = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified with exact Jaccard.

    Pipeline: shingle -> signature -> explode ``bands`` band keys -> shuffle
    on the band-seeded bucket key -> candidate pairs within buckets ->
    distinct -> verify.
    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b and jaccard >= t.
    ``max_bucket_size`` drops degenerate buckets before the pair join (see
    :func:`minhash_candidate_pairs`) — set None to disable. ``signatures``
    (a :class:`SignatureStore` or signature DataFrame) skips the
    signature pass; the exact-Jaccard verify still reads raw text for the
    candidate pairs only.
    """
    candidates = minhash_candidate_pairs(
        df, id_col, text_col, ngram=ngram, num_hashes=num_hashes,
        bands=bands, max_bucket_size=max_bucket_size,
        signatures=signatures,
    )
    # Verify candidates with exact Jaccard. Join the (small) candidate set
    # to the raw texts and build shingles AFTER the join, per pair: shingle
    # construction is the dominant per-row cost, and computing it for
    # |candidates| rows beats two more full-corpus shingle passes whenever
    # candidates << corpus (the whole point of LSH; measured ~25% faster
    # end-to-end at sf0.1). A doc in k pairs re-shingles k times — bounded
    # by the candidate count, which max_bucket_size already caps.
    texts = df.select(
        F.col(id_col).alias("__tid"), F.col(text_col).alias("__txt")
    )
    # Pair-long text fetch (r13, guide §2.3/§2.4): explode each pair into
    # its two legs, fetch text with ONE join against the corpus, regroup
    # by pair. The per-side shape (join texts-as-a then texts-as-b)
    # consumed the corpus text relation TWICE — two broadcast builds of
    # the whole corpus locally, and at corpus scale (past broadcast) two
    # full fat-row text shuffles; this shape pays one (probe at 20k
    # synthetic docs, SMJ regime: 47.3 -> 36.7 MB shuffled per run, and
    # one fewer corpus scan in the broadcast regime). The regroup shuffle
    # carries only 2|candidates| rows. `__legs == 2` reproduces the old
    # inner-join semantics exactly: a pair survives iff BOTH ids have a
    # text row in ``df`` (ids are unique per the operator contract, so
    # each leg matches at most once). A duplicate-id input is ill-defined
    # UPSTREAM of this point — minhash_signatures' groupBy already merges
    # duplicate ids into one signature over the union of their shingles —
    # so no legs-count policy can make the operator meaningful there; the
    # contract, not this filter, is the guard.
    long = candidates.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__tid")
    )
    joined = (
        long.join(texts, on="__tid")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(F.col("__tid") == F.col("id_a"), F.col("__txt"))
            ).alias("__ta"),
            F.max(
                F.when(F.col("__tid") == F.col("id_b"), F.col("__txt"))
            ).alias("__tb"),
            F.count(F.lit(1)).alias("__legs"),
        )
        .where(F.col("__legs") == 2)
        .drop("__legs")
    )
    return (
        append_exact_jaccard(joined, "__ta", "__tb", ngram=ngram)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str = "text", **kwargs
) -> DataFrame:
    """Greedy one-pass dedup: drop every row that near-duplicates a
    lower-id row. (Not full connected components — a chain a~b~c with
    a!~c keeps a and may keep c; see :func:`minhash_dedup_cc` for the
    transitive version.)"""
    pairs = minhash_dedup_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def minhash_components(
    df: DataFrame, id_col: str, text_col: str = "text",
    cc_stats: dict | None = None, pairs: DataFrame | None = None, **kwargs
) -> DataFrame:
    """Duplicate-cluster label per row: ``(id_col, component)`` where
    ``component`` is the smallest id transitively reachable through the
    minhash near-dup pair graph (rows in no pair label themselves).

    The transitive closure is computed distributed —
    :func:`graph.connected_components` (large-star/small-star DataFrame
    joins) over the LSH pair set, so a chain a~b~c collapses into ONE
    cluster even when a!~c directly. ``cc_stats`` (optional dict) receives
    the CC loop's observability numbers — input pair count, convergence
    rounds — for bench.py's cc_scale_probe.

    ``pairs``: a precomputed verified pair DataFrame ``(id_a, id_b, ...)``
    — typically :func:`load_pair_cache` — skips LSH + exact-verify
    entirely and runs only the CC loop. The caller owns parameter
    consistency (``load_pair_cache`` enforces it for persisted caches);
    the remaining kwargs are ignored when ``pairs`` is given."""
    from window_aggregation_spark.operators.graph import connected_components

    if pairs is None:
        pairs = minhash_dedup_pairs(df, id_col, text_col, **kwargs)
    comp = connected_components(pairs, stats=cc_stats).withColumnRenamed(
        "node", id_col
    )
    return df.select(id_col).join(comp, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("component"),
    )


def minhash_dedup_cc(
    df: DataFrame, id_col: str, text_col: str = "text", **kwargs
) -> DataFrame:
    """Connected-components dedup: keep exactly ONE representative (the
    minimum id) per transitive near-dup cluster — the fix for the greedy
    pass's chain artifact."""
    comp = minhash_components(df, id_col, text_col, **kwargs)
    keep = comp.where(F.col(id_col) == F.col("component")).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


def _merge_marked_windows(
    hits: DataFrame, id_col: str, window: int
) -> DataFrame:
    """Merge marked window positions ``(id_col, __pos)`` into maximal
    half-open spans ``(id_col, span_start, span_end, n_windows)`` —
    the per-doc lag + running-sum pass shared by the token-grain
    (:func:`duplicated_spans`) and sentence-grain
    (:func:`duplicated_sentence_spans`) operators, so the merge
    boundary (``pos <= prev + window``: overlapping OR adjacent)
    cannot drift between grains."""
    w = Window.partitionBy(id_col).orderBy("__pos")
    prev = F.lag("__pos").over(w)
    flagged = hits.withColumn(
        "__new",
        F.when(
            prev.isNull() | (F.col("__pos") <= prev + F.lit(window)),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    grped = flagged.withColumn(
        "__grp",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        grped.groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + F.lit(window)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def _merge_spans_sql(id_col: str, window: int, hits_cte: str) -> str:
    """The DuckDB rendering of :func:`_merge_marked_windows` over a CTE
    ``hits_cte`` with columns ``({id_col}, pos)`` — shared by both span
    oracles for the same no-drift reason."""
    return f"""
        flagged AS (
          SELECT {id_col}, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                        OR pos <= lag(pos) OVER w + {window}
                      THEN 0 ELSE 1 END AS newf
          FROM {hits_cte}
          WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)),
        grped AS (
          SELECT {id_col}, pos,
                 sum(newf) OVER (PARTITION BY {id_col} ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM flagged)
        SELECT {id_col}, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + {window} AS BIGINT) AS span_end,
               count(*) AS n_windows
        FROM grped GROUP BY {id_col}, grp
    """


def _token_windows(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """``(id_col, __pos, __h)`` — every length-``window`` TOKEN run of
    every document, hashed with the portable hash; the token-grain twin
    of :func:`_sentence_windows`, shared by the whole-corpus and
    incremental token-span operators so the window convention cannot
    fork."""
    # Short docs are dropped by a when-guard INSIDE the explode, not a
    # .where: a Filter on size(__toks) gets predicate-pushed below the
    # projection with the tokenizer expression substituted into its
    # condition, so every row paid the full-text tokenizer TWICE (once in
    # the pushed Filter, once in the Project — Spark does not CSE across
    # Filter and Project, r13 plan audit). when() without otherwise()
    # yields NULL for short docs and explode(NULL) emits no row —
    # identical semantics, one tokenizer pass. The length() bound below
    # is a provably NECESSARY condition for `window` tokens ([a-z0-9]+
    # matches are >= 1 char and separated by >= 1 char, so `window`
    # tokens need >= 2*window-1 chars ON THE LOWERED STRING, the one the
    # tokenizer scans). r13 measured the lowered length directly —
    # length(lower(text)) — which re-ran the full lower() copy of every
    # document in the Filter on top of the tokenizer's own lower() in
    # the Project (no CSE across Filter/Project, the very duplication
    # this guard exists to avoid). r14: bound the RAW length instead.
    # lower() can LENGTHEN text, but by at most 3x per character
    # (Unicode SpecialCasing lowercase mappings top out at 3 code
    # units — the Lithuanian accented i-forms; U+0130 is 2), so
    # lowered >= 2w-1 requires raw >= ceil((2w-1)/3) — a necessary
    # bound with ZERO per-row compute (length() of the stored string),
    # still pushable to the scan. Docs between the two bounds (raw
    # short, lowered long enough in principle) just run the tokenizer
    # and die at the explode guard like any other short doc;
    # length(NULL) is NULL, dropped like the old size-of-NULL filter.
    base = df.where(
        F.length(F.col(text_col)) >= -(-(2 * window - 1) // 3)
    ).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    return base.select(
        id_col,
        F.explode(
            F.when(
                F.size("__toks") >= window,
                F.sequence(F.lit(0), F.size("__toks") - F.lit(window)),
            )
        ).alias("__pos"),
        F.col("__toks"),
    ).select(
        id_col,
        "__pos",
        portable_hash64(
            F.concat_ws(
                " ", F.slice("__toks", F.col("__pos") + 1, window)
            )
        ).alias("__h"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated token SPANS — exact substring dedup at
    rolling-window granularity (the doc-level near-dup operators say two
    docs are similar; this says WHICH contiguous stretches are literally
    repeated across the corpus, the thing you cut before training since
    verbatim-repeated passages dominate memorization).

    Every length-``window`` token window is hashed (portable md5-derived
    hash, so the whole result is oracle-checkable); a window duplicated
    across >= ``min_docs`` distinct documents marks its positions, and
    overlapping/adjacent marked windows merge into maximal spans per doc.
    Returns ``(id_col, span_start, span_end, n_windows)`` with token
    half-open bounds ``[span_start, span_end)``.

    Scale shape: the window stream is O(total tokens) rows off a single
    scan (explode + slice, all codegen); duplicated hashes come from one
    map-side-combined count-distinct shuffle on the hash; marked
    positions re-enter via an equi-join on the hash; span merging is one
    per-doc window pass (lag + running sum — integers only, no floats
    anywhere). No self-joins, no all-pairs anything.
    """
    wins = _token_windows(df, id_col, text_col, window)
    dup = (
        wins.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__d"))
        .where(F.col("__d") >= min_docs)
        .select("__h")
    )
    hits = wins.join(dup, on="__h").select(id_col, "__pos")
    return _merge_marked_windows(hits, id_col, window)


def duplicated_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
    min_docs: int = 2,
) -> str:
    """DuckDB mirror of :func:`duplicated_spans` (1-based inclusive list
    slicing == Spark's ``slice(arr, pos+1, window)``)."""
    from window_aggregation_spark.operators.text import TOKEN_RE

    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    h = portable_hash64_duck(
        f"array_to_string(toks[pos + 1 : pos + {window}], ' ')"
    )
    return f"""
        WITH raw AS (
          SELECT {id_col}, {arr} AS toks FROM {table}),
        base AS (
          SELECT {id_col}, toks FROM raw
          WHERE len(toks) >= {window}),
        pos AS (
          SELECT {id_col}, toks,
                 unnest(generate_series(0, len(toks) - {window})) AS pos
          FROM base),
        wins AS (SELECT {id_col}, pos, {h} AS h FROM pos),
        dup AS (
          SELECT h FROM (
            SELECT h, count(DISTINCT {id_col}) AS d FROM wins GROUP BY h)
          WHERE d >= {min_docs}),
        hits AS (SELECT {id_col}, pos FROM wins WHERE h IN (SELECT h FROM dup)),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


def cut_token_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    alias: str = "cut_text",
) -> DataFrame:
    """Apply a span-removal policy: given ``spans`` rows ``(id_col,
    span_start, span_end)`` (half-open token bounds, e.g. from
    :func:`duplicated_spans` — possibly filtered by the caller's keep-one
    /-cut-everywhere policy), return ``df`` with ``alias`` = the text
    minus those token ranges. Docs with no spans pass through unchanged.

    Shape: spans collapse to one array per doc (shuffle on the id — span
    counts per doc are small by construction), then removal is ONE
    codegen projection: ``filter(tokens, (t, i) -> no span contains i)``
    — no token explode, no Python.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__spans")
    )
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda sp: (i >= sp["s"]) & (i < sp["e"]),
        ),
    )
    return (
        df.join(per_doc, on=id_col, how="left")
        .withColumn(
            alias,
            F.when(F.col("__spans").isNull(), F.concat_ws(" ", toks)).otherwise(
                F.concat_ws(" ", kept)
            ),
        )
        .drop("__spans")
    )


def _sentence_windows(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """``(id_col, __pos, __h)`` — every length-``window`` sentence run
    of every document, hashed with the portable hash. Shared by the
    whole-corpus and incremental sentence-span operators so the window
    convention cannot fork."""
    from window_aggregation_spark.operators.text import sentence_array

    # Short docs are dropped by a when-guard INSIDE the explode, not a
    # .where: sentence extraction is three regex passes over the whole
    # text, and a Filter on size(__sents) gets predicate-pushed below
    # the projection with the WHOLE extraction expression substituted
    # into its condition — every row paid it twice (r13 plan audit; see
    # the identical note in :func:`_token_windows`). when() without
    # otherwise() yields NULL for short docs and explode(NULL) emits no
    # row — identical semantics, one extraction pass. The length()
    # bound is a provably NECESSARY condition for `window` sentences
    # (every SENT_RE match consumes >= 1 char; sentence_array maps NULL
    # to [], and length(NULL) is NULL — dropped either way): cheap,
    # recompute-free, pushable to the scan.
    base = df.where(F.length(text_col) >= window).select(
        F.col(id_col), sentence_array(text_col).alias("__sents")
    )
    return base.select(
        id_col,
        F.explode(
            F.when(
                F.size("__sents") >= window,
                F.sequence(F.lit(0), F.size("__sents") - F.lit(window)),
            )
        ).alias("__pos"),
        F.col("__sents"),
    ).select(
        id_col,
        "__pos",
        portable_hash64(
            F.concat_ws(
                " ", F.slice("__sents", F.col("__pos") + 1, window)
            )
        ).alias("__h"),
    )


def duplicated_sentence_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
) -> DataFrame:
    """C4's cross-document SENTENCE-span dedup (Raffel et al. 2020
    §2.2: "we removed any duplicate three-sentence span ... discarding
    all but one") — :func:`duplicated_spans`'s machinery re-grained
    from token windows to sentence windows, with the paper's keep-one
    policy built in: every length-``window`` sentence run is hashed
    (portable md5-derived hash, oracle-checkable); runs occurring more
    than once CORPUS-WIDE (within- or cross-document) mark all
    occurrences EXCEPT the globally first (ordered by ``(id, pos)`` —
    deterministic); marked windows merge into maximal per-doc spans.
    Returns ``(id_col, span_start, span_end, n_windows)`` with
    half-open SENTENCE-index bounds; apply with
    :func:`cut_sentence_spans`.

    Scale shape (same as the token variant): the window stream is
    O(total sentences) rows off one scan; the occurrence count AND the
    global first-occurrence rank share ONE shuffle on the hash; span
    merging is one per-doc window pass. No self-joins, no all-pairs.
    """
    wins = _sentence_windows(df, id_col, text_col, window)
    # __rn > 1 alone marks non-first occurrences of duplicated windows:
    # a second row_number in a hash group IS the duplication proof (the
    # earlier count(*)-over-hash conjunct was dead logic, r11 review)
    worder = Window.partitionBy("__h").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    hits = (
        wins.withColumn("__rn", F.row_number().over(worder))
        .where(F.col("__rn") > 1)
        .select(id_col, "__pos")
    )
    return _merge_marked_windows(hits, id_col, window)


def duplicated_sentence_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
) -> str:
    """DuckDB mirror of :func:`duplicated_sentence_spans` (1-based
    inclusive list slicing == Spark's ``slice(arr, pos+1, window)``)."""
    from window_aggregation_spark.operators.text import sentence_array_duck

    h = portable_hash64_duck(
        f"array_to_string(sents[pos + 1 : pos + {window}], ' ')"
    )
    return f"""
        WITH base AS (
          SELECT {id_col}, {sentence_array_duck(text_col)} AS sents
          FROM {table}),
        long_enough AS (
          SELECT {id_col}, sents FROM base WHERE len(sents) >= {window}),
        pos AS (
          SELECT {id_col}, sents,
                 unnest(generate_series(0, len(sents) - {window})) AS pos
          FROM long_enough),
        wins AS (SELECT {id_col}, pos, {h} AS h FROM pos),
        hits AS (
          SELECT {id_col}, pos FROM (
            SELECT {id_col}, pos,
                   row_number() OVER (PARTITION BY h
                     ORDER BY {id_col} ASC, pos ASC) AS rn
            FROM wins)
          WHERE rn > 1),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


def sentence_spans_against(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
    strategy: str = "auto",
) -> DataFrame:
    """Incremental C4 span dedup — the steady-state pipeline shape: mark
    every length-``window`` sentence run in NEW documents that already
    occurs anywhere in the EXISTING corpus, without re-deduping the
    corpus itself. The corpus keeps everything (it was deduped when it
    was built); every new-side occurrence of a corpus window is marked
    — no keep-one exception, unlike :func:`duplicated_sentence_spans`,
    because the kept copy already lives in the corpus. Returns the same
    ``(id_col, span_start, span_end, n_windows)`` spans; apply with
    :func:`cut_sentence_spans`. New-vs-new duplication is deliberately
    NOT handled here — run :func:`duplicated_sentence_spans` over the
    new batch first (or after) if batches can self-duplicate.

    ``corpus`` is either the corpus DataFrame (one-shot shape: its text
    is scanned, hashed, and reduced to a distinct 8-byte-hash set in
    this plan) or a persisted :class:`SentenceHashStore` (steady-state
    shape: the hash set was built ONCE by
    :func:`build_sentence_hash_store` and each batch reads only the
    hash parquet — the corpus text is never rescanned). The two paths
    are value-identical on the same corpus state (pinned by the
    ``dedup_sentence_spans_stored`` gate row, same-oracle pattern as
    ``dedup_minhash_lsh_stored``).

    Scale shape: the corpus side reduces to DISTINCT window hashes (one
    map-side-combined shuffle carrying 8-byte hashes — at 100 TB: the
    :class:`SentenceHashStore` artifact); the new batch joins against
    it on the hash and merges spans per doc. The corpus text is scanned
    at most once and never carried past the hash.

    ``strategy`` sizes the hash join (VERDICT r12 #3): ``"auto"``
    broadcasts a store at/under :data:`SPAN_HASH_BROADCAST_MAX` hashes
    and shuffles on ``__h`` above it — at 100 TB the hash set is TBs,
    far past any broadcast budget, so the shuffle regime IS the scale
    shape; ``"broadcast"``/``"shuffle"`` force a regime. Both regimes
    are value-identical (pinned by the ``dedup_sentence_spans_shuffle``
    gate row, which shares the stored twin's oracle verbatim).
    """
    return _spans_against(
        new, corpus, id_col, text_col, window=window, grain="sentence",
        strategy=strategy,
    )


def _spans_against(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str,
    *,
    window: int,
    grain: str,
    strategy: str,
) -> DataFrame:
    """Grain-generic corpus-hit span marker behind
    :func:`sentence_spans_against` / :func:`token_spans_against` — one
    window table per grain (:data:`_WINDOW_GRAINS`), one join regime
    resolver (:func:`_resolve_span_strategy`), so the two grains cannot
    fork on join strategy or window convention."""
    resolved = _resolve_span_strategy(corpus, strategy)
    if isinstance(corpus, SentenceHashStore):
        corpus.check(window=window, grain=grain)
        # folds may repeat a hash the base (or another fold) already
        # holds — distinct here, or every duplicate multiplies the join
        # hits and the same window merges twice into a double-counted
        # span. Map-side combine makes this one cheap 8-byte shuffle.
        corpus_h = corpus.hashes.select("__h").distinct()
    else:
        corpus_h = (
            _WINDOW_GRAINS[grain](corpus, id_col, text_col, window)
            .select("__h")
            .distinct()
        )
    hits = (
        _WINDOW_GRAINS[grain](new, id_col, text_col, window)
        .join(_hint_span_corpus(corpus_h, resolved), on="__h")
        .select(id_col, "__pos")
    )
    return _merge_marked_windows(hits, id_col, window)


def sentence_spans_increment(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
    strategy: str = "auto",
) -> DataFrame:
    """The BATCH-INGEST span policy — what a steady-state C4 pipeline
    actually applies to each arriving batch, combining both dedup
    relations in ONE pass over the batch windows:

    - a window that already exists in the CORPUS is cut from EVERY
      batch occurrence (the kept copy lives in the corpus —
      :func:`sentence_spans_against`'s relation);
    - a window duplicated WITHIN the batch (and not in the corpus)
      keeps its globally-first batch occurrence by ``(id, pos)`` and
      cuts the rest (:func:`duplicated_sentence_spans`'s keep-one
      relation).

    Running the two operators separately can NOT be composed correctly
    after the fact: each returns merged spans in the original sentence
    index space, but cutting one set shifts the indices the other was
    computed against — so the combined policy must mark hits at window
    grain before the single merge+cut, which is exactly what this does.
    Returns the usual ``(id_col, span_start, span_end, n_windows)``;
    apply with :func:`cut_sentence_spans`.

    ``corpus`` is a DataFrame or (the steady-state shape) a persisted
    :class:`SentenceHashStore`. Scale shape: one batch window pass,
    one left join against the corpus hash set, one row_number over the
    batch's window-hash shuffle — the corpus is never rescanned when
    served from the store, and the batch text never shuffles (ids +
    hashes only). ``strategy`` sizes the corpus join (VERDICT r12 #3):
    ``auto`` broadcasts a store at/under
    :data:`SPAN_HASH_BROADCAST_MAX` hashes; above it the join runs as
    a sort-merge on ``__h`` whose shuffle is SHARED with the keep-one
    row_number (same key — the join's output partitioning already
    satisfies the window, so the shuffle regime adds ZERO exchanges
    over broadcast; plan-pinned in ``tests/test_plan_quality.py``)."""
    return _spans_increment(
        new, corpus, id_col, text_col, window=window, grain="sentence",
        strategy=strategy,
    )


def token_spans_increment(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
    strategy: str = "auto",
) -> DataFrame:
    """The BATCH-INGEST policy at TOKEN grain (r13 — VERDICT r12 #4):
    what the steady-state VERBATIM-PASSAGE loop applies per arriving
    batch — corpus-known token windows cut from every batch occurrence
    (:func:`token_spans_against`'s relation), windows duplicated
    within the batch keep the globally-first occurrence
    (:func:`duplicated_spans`'s grain with the keep-one policy) — in
    ONE pass over the batch windows, for the same index-soundness
    reason as the sentence twin (cutting one relation's spans shifts
    the indices the other was computed against, so the hits must be
    marked before the single merge+cut). Returns token-bound spans;
    apply with :func:`cut_token_spans`. Same store/strategy contract
    as :func:`sentence_spans_increment` (grain-checked, so a sentence
    store raises instead of matching nothing)."""
    return _spans_increment(
        new, corpus, id_col, text_col, window=window, grain="token",
        strategy=strategy,
    )


def _spans_increment(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str,
    *,
    window: int,
    grain: str,
    strategy: str,
) -> DataFrame:
    """Grain-generic combined batch-ingest span policy behind
    :func:`sentence_spans_increment` / :func:`token_spans_increment`."""
    resolved = _resolve_span_strategy(corpus, strategy)
    if isinstance(corpus, SentenceHashStore):
        corpus.check(window=window, grain=grain)
        corpus_h = corpus.hashes.select("__h").distinct()
    else:
        corpus_h = (
            _WINDOW_GRAINS[grain](corpus, id_col, text_col, window)
            .select("__h")
            .distinct()
        )
    wins = _WINDOW_GRAINS[grain](new, id_col, text_col, window)
    worder = Window.partitionBy("__h").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    hits = (
        wins.join(
            _hint_span_corpus(
                corpus_h.withColumn("__in_corpus", F.lit(True)), resolved
            ),
            "__h",
            "left",
        )
        .withColumn("__rn", F.row_number().over(worder))
        .where(F.col("__in_corpus").isNotNull() | (F.col("__rn") > 1))
        .select(id_col, "__pos")
    )
    return _merge_marked_windows(hits, id_col, window)


def sentence_spans_increment_oracle_sql(
    new_table: str,
    corpus_table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
) -> str:
    """DuckDB mirror of :func:`sentence_spans_increment`."""
    from window_aggregation_spark.operators.text import sentence_array_duck

    h = portable_hash64_duck(
        f"array_to_string(sents[pos + 1 : pos + {window}], ' ')"
    )

    def wins(table: str, cte: str) -> str:
        return f"""
        {cte}_base AS (
          SELECT {id_col}, {sentence_array_duck(text_col)} AS sents
          FROM {table}),
        {cte}_long AS (
          SELECT {id_col}, sents FROM {cte}_base
          WHERE len(sents) >= {window}),
        {cte}_pos AS (
          SELECT {id_col}, sents,
                 unnest(generate_series(0, len(sents) - {window})) AS pos
          FROM {cte}_long),
        {cte} AS (SELECT {id_col}, pos, {h} AS h FROM {cte}_pos)"""

    return f"""
        WITH {wins(corpus_table, "cw")},
        {wins(new_table, "nw")},
        corpus_h AS (SELECT DISTINCT h FROM cw),
        hits AS (
          SELECT {id_col}, pos FROM (
            SELECT {id_col}, pos, h,
                   row_number() OVER (PARTITION BY h
                     ORDER BY {id_col} ASC, pos ASC) AS rn
            FROM nw)
          WHERE rn > 1 OR h IN (SELECT h FROM corpus_h)),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


def token_spans_against(
    new: DataFrame,
    corpus: "DataFrame | SentenceHashStore",
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
    strategy: str = "auto",
) -> DataFrame:
    """Incremental VERBATIM-PASSAGE dedup (r12) — the token-grain twin
    of :func:`sentence_spans_against`, and the decontamination-shaped
    check a training pipeline runs on every arriving batch: mark every
    length-``window`` TOKEN run in NEW documents that already occurs
    anywhere in the EXISTING corpus (every new-side occurrence — the
    kept copy lives in the corpus), without re-scanning or re-deduping
    the corpus. Same grain as :func:`duplicated_spans` (window=15
    tokens ≈ the memorization-length passages you cut before
    training); returns the usual ``(id_col, span_start, span_end,
    n_windows)`` token-bound spans; apply with :func:`cut_token_spans`.

    ``corpus`` is a DataFrame or a :class:`SentenceHashStore` built
    with ``grain="token"`` (the grain is persisted and re-checked — a
    sentence-grain store raises instead of matching nothing). Scale
    shape: identical to the sentence twin — the corpus reduces to (or
    is already persisted as) a distinct 8-byte-hash set, one join on
    the hash, one per-doc merge pass; the store is ~1 hash per corpus
    token, still orders of magnitude smaller than the text it
    replaces. ``strategy`` as in :func:`sentence_spans_against`."""
    return _spans_against(
        new, corpus, id_col, text_col, window=window, grain="token",
        strategy=strategy,
    )


def token_spans_against_oracle_sql(
    new_table: str,
    corpus_table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
) -> str:
    """DuckDB mirror of :func:`token_spans_against`."""
    from window_aggregation_spark.operators.text import TOKEN_RE

    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    h = portable_hash64_duck(
        f"array_to_string(toks[pos + 1 : pos + {window}], ' ')"
    )

    def wins(table: str, cte: str) -> str:
        # materialize-then-filter in separate CTEs: DuckDB does not CSE
        # textual expression copies, and `WHERE len({arr}) >= k` in the
        # same SELECT would tokenize every document twice (the exact
        # double-eval _token_windows' Spark-side comment warns about)
        return f"""
        {cte}_raw AS (
          SELECT {id_col}, {arr} AS toks FROM {table}),
        {cte}_base AS (
          SELECT {id_col}, toks FROM {cte}_raw
          WHERE len(toks) >= {window}),
        {cte}_pos AS (
          SELECT {id_col}, toks,
                 unnest(generate_series(0, len(toks) - {window})) AS pos
          FROM {cte}_base),
        {cte} AS (SELECT {id_col}, pos, {h} AS h FROM {cte}_pos)"""

    return f"""
        WITH {wins(corpus_table, "cw")},
        {wins(new_table, "nw")},
        corpus_h AS (SELECT DISTINCT h FROM cw),
        hits AS (
          SELECT {id_col}, pos FROM nw
          WHERE h IN (SELECT h FROM corpus_h)),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


def token_spans_increment_oracle_sql(
    new_table: str,
    corpus_table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 15,
) -> str:
    """DuckDB mirror of :func:`token_spans_increment` — the token-CTE
    window builder of :func:`token_spans_against_oracle_sql` under the
    combined corpus-OR-within-batch hit predicate of
    :func:`sentence_spans_increment_oracle_sql`."""
    from window_aggregation_spark.operators.text import TOKEN_RE

    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    h = portable_hash64_duck(
        f"array_to_string(toks[pos + 1 : pos + {window}], ' ')"
    )

    def wins(table: str, cte: str) -> str:
        # materialize-then-filter in separate CTEs (see
        # token_spans_against_oracle_sql — DuckDB does not CSE textual
        # expression copies)
        return f"""
        {cte}_raw AS (
          SELECT {id_col}, {arr} AS toks FROM {table}),
        {cte}_base AS (
          SELECT {id_col}, toks FROM {cte}_raw
          WHERE len(toks) >= {window}),
        {cte}_pos AS (
          SELECT {id_col}, toks,
                 unnest(generate_series(0, len(toks) - {window})) AS pos
          FROM {cte}_base),
        {cte} AS (SELECT {id_col}, pos, {h} AS h FROM {cte}_pos)"""

    return f"""
        WITH {wins(corpus_table, "cw")},
        {wins(new_table, "nw")},
        corpus_h AS (SELECT DISTINCT h FROM cw),
        hits AS (
          SELECT {id_col}, pos FROM (
            SELECT {id_col}, pos, h,
                   row_number() OVER (PARTITION BY h
                     ORDER BY {id_col} ASC, pos ASC) AS rn
            FROM nw)
          WHERE rn > 1 OR h IN (SELECT h FROM corpus_h)),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


class SentenceHashStore:
    """A persisted corpus span-window hash set — the artifact
    :func:`sentence_spans_against` promises ("the 8-byte-hash set you
    persist next to the corpus and reuse per batch", VERDICT r11 #1).

    At 100 TB the whole point of the incremental span dedup is NOT
    rescanning the corpus per batch, yet without this store every
    ``sentence_spans_against`` call recomputed the corpus windows —
    the recompute IS the cost the operator exists to avoid. Build the
    set once (:func:`build_sentence_hash_store` — one sentence+hash
    pass over the corpus, persisting ~8 bytes per window, orders of
    magnitude smaller than text), serve every batch from the parquet
    scan, and fold each accepted batch's own windows back with
    :func:`sentence_hash_store_add` so the next batch also dedups
    against everything admitted since the build.

    Same manifest/fencing lifecycle as :class:`SignatureStore`
    (``sources/store_manifest.py``): folds accumulate under
    ``span_hash_folds/batch_id=N`` (overwrite-per-epoch, so a replayed
    batch REPLACES its rows — idempotent), and
    :func:`sentence_hash_store_compact` merges base+folds into a fresh
    distinct generation behind an atomic manifest flip.

    No tombstones, deliberately: a window hash is a SET member
    contributed by every document containing that sentence run —
    deleting one document cannot soundly remove the hash without a
    refcount (another doc may still hold the run), and an unsoundly
    removed hash would let the next batch re-admit text the corpus
    still contains. Takedown-scale deletions rebuild the store from
    the filtered corpus (one pass — the same cost the original build
    paid); per-doc tombstoning is the SignatureStore's job where
    signatures ARE per-doc.

    ``window`` and ``grain`` are persisted and re-checked at use: a
    store built at a different span grain than the consuming call
    raises instead of silently matching nothing. ``grain`` is
    ``"sentence"`` (C4's unit — :func:`sentence_spans_against` /
    :func:`sentence_spans_increment`) or ``"token"`` (verbatim-passage
    windows — :func:`token_spans_against`, the decontamination grain;
    ~1 hash per corpus token, still ~8 bytes vs the text). The hash
    embeds the :func:`..text.sentence_array` / :func:`tokens`
    convention — a store predates any change to those, so bump stores
    when the convention changes.
    """

    def __init__(self, hashes: DataFrame, *, window: int, n_base: int,
                 grain: str = "sentence", folds: DataFrame | None = None):
        if grain not in _WINDOW_GRAINS:
            raise ValueError(f"unknown grain: {grain!r}")
        self.hashes = hashes
        self.window = window
        self.grain = grain
        # size bookkeeping for the join auto-strategy: n_base is the
        # DISTINCT base count persisted at build/compact time, folds the
        # un-compacted fold partitions (their rows are counted lazily,
        # once, only when a strategy decision asks — a per-micro-batch
        # load pays nothing for it)
        self.n_base = n_base
        self._folds = folds
        self._n_serving: int | None = None

    def serving_size(self) -> int:
        """UPPER BOUND on the served hash-set size, for strategy
        selection: the persisted base count plus the fold partitions'
        raw row count. Hashes repeated across base/folds are counted
        twice — deliberately the safe direction (an overcount can only
        push a borderline broadcast to shuffle, never broadcast a set
        bigger than believed)."""
        if self._n_serving is None:
            extra = self._folds.count() if self._folds is not None else 0
            self._n_serving = int(self.n_base) + int(extra)
        return self._n_serving

    def check(self, *, window: int, grain: str = "sentence") -> None:
        if (window, grain) != (self.window, self.grain):
            raise ValueError(
                f"span-hash store was built with window={self.window}, "
                f"grain={self.grain!r}; call requested window={window}, "
                f"grain={grain!r} — the persisted hashes are of a "
                "different span grain and would match nothing"
            )


# Component -> directory names of a span-hash store (the manifest
# protocol versions them on compaction — same convention as
# _SIG_COMPONENTS). The manifest holds the params (window, grain) and
# the stats (``n_hashes``, the strategy-selection size), so the flip
# that publishes a compacted hashes generation publishes its count too.
_SPANHASH_COMPONENTS = {
    "hashes": "span_hashes",
    "folds": "span_hash_folds",
}

#: Largest corpus hash set the span-join auto strategy will broadcast
#: (count of 8-byte hashes; 4M ≈ 32 MB raw, comfortably inside executor
#: broadcast budgets with HashedRelation overhead). Above it the join
#: runs shuffle-on-``__h`` — at 100 TB the store is billions of hashes
#: (TBs), far past ANY broadcast budget, and the docstring's old
#: "broadcast-small" assumption was the scale-killer VERDICT r12 flagged
#: (watch item / next-round #3).
SPAN_HASH_BROADCAST_MAX = 4_000_000

# fold partitions are (__h) parquet under batch_id=N dirs; reads give
# the schema explicitly so an all-empty fold set (every batch so far
# cut to empty) still loads instead of failing parquet schema inference
_SPANHASH_FOLD_SCHEMA = "__h BIGINT, batch_id BIGINT"
# the base hash set, read with its schema on every store: the column and
# its type are fixed by the window builders, never by the input
_SPANHASH_SCHEMA = "__h BIGINT"


def _resolve_span_strategy(
    corpus: "DataFrame | SentenceHashStore", strategy: str
) -> str:
    """Resolve a span-join ``strategy`` knob to an executable regime:

    - ``"broadcast"`` / ``"shuffle"``: forced (the caller knows best);
    - ``"auto"`` with a :class:`SentenceHashStore`: pick by the store's
      own size — ``broadcast`` at or under
      :data:`SPAN_HASH_BROADCAST_MAX` hashes, ``shuffle`` above (the
      store knows its size from build/compact-time ``n_hashes`` plus a
      lazy fold count — no extra user action, VERDICT r12 #3);
    - ``"auto"`` with a DataFrame corpus: ``"planner"`` — no hint,
      Catalyst/AQE decide from their own size estimates.
    """
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(
            f"unknown span-join strategy: {strategy!r} "
            "(auto | broadcast | shuffle)"
        )
    if strategy != "auto":
        return strategy
    if not isinstance(corpus, SentenceHashStore):
        return "planner"
    if corpus.serving_size() <= SPAN_HASH_BROADCAST_MAX:
        return "broadcast"
    return "shuffle"


def _hint_span_corpus(corpus_h: DataFrame, resolved: str) -> DataFrame:
    """Apply the resolved regime to the corpus hash-set side of the span
    join. ``shuffle`` pins a sort-merge join — user join-strategy hints
    outrank size estimates in JoinSelection, so AQE cannot demote the
    plan back to broadcast at fixture scale (the regime must be testable
    at the scale we can run)."""
    if resolved == "broadcast":
        return F.broadcast(corpus_h)
    if resolved == "shuffle":
        return corpus_h.hint("merge")
    return corpus_h

# grain -> the shared window builder ALL span operators at that grain
# use (one table, so a store and its consumers cannot disagree on what
# a window is)
_WINDOW_GRAINS = {
    "sentence": _sentence_windows,
    "token": _token_windows,
}


def _span_params(m: dict) -> tuple[int, str, int]:
    """``(window, grain, n_hashes)`` from manifest ``m``'s record."""
    md = sm.meta(m)
    p = md["params"]
    return int(p["window"]), p["grain"], int(md["stats"]["n_hashes"])


def build_sentence_hash_store(
    corpus: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    *,
    window: int = 3,
    grain: str = "sentence",
    mode: str = "overwrite",
) -> "SentenceHashStore":
    """One window+hash pass over the corpus at the chosen ``grain``,
    persisting the DISTINCT window-hash set under ``path``
    (``span_hashes/`` parquet; window, grain and the hash count in the
    build's manifest). Returns the store re-read from disk, so
    downstream plans run against exactly what was persisted."""
    if grain not in _WINDOW_GRAINS:
        raise ValueError(f"unknown grain: {grain!r}")
    sm.guard_build(
        path, mode,
        "the hash set is grown per admitted batch via "
        "sentence_hash_store_add, never by re-running the builder",
    )
    spark = corpus.sparkSession
    hashes = (
        _WINDOW_GRAINS[grain](corpus, id_col, text_col, window)
        .select("__h")
        .distinct()
    )
    hashes.write.mode(mode).parquet(f"{path}/span_hashes")
    # count the WRITTEN parquet (columnless scan, footer-cheap), not the
    # plan — the count drives the join auto-strategy, so it must be the
    # store's truth, not a recompute that could drift from it
    n_hashes = spark.read.schema(_SPANHASH_SCHEMA).parquet(
        f"{path}/span_hashes"
    ).count()
    m = sm.publish_build(
        path, _SPANHASH_COMPONENTS, {"window": window, "grain": grain},
        {"n_hashes": n_hashes},
    )
    return _open_span_store(spark, path, m)


def load_sentence_hash_store(
    spark, path: str, *, exclude_folds_from: int | None = None,
) -> "SentenceHashStore":
    """Load a persisted span-hash store; the hashes stay a lazy
    parquet scan (the params come from the manifest). Fold
    partitions written by :func:`sentence_hash_store_add` union in
    here; the base written at build time is never touched after the
    fact (until a compaction flips a new generation). Existence checks
    go through the Hadoop FS layer so folds on object stores are seen
    too.

    ``exclude_folds_from``: the streaming span-ingest loop passes its
    CURRENT epoch id and every fold with ``batch_id >=`` it is
    excluded — a replayed micro-batch never sees its own
    previously-folded window hashes (without this, every kept
    first-copy of a batch retried after its fold would read as a
    corpus duplicate, be cut, and the replay would overwrite the
    output partition with over-cut documents — silent data loss), and
    a fresh-checkpoint restart replaying SEVERAL epochs reconstructs
    each epoch's original store view too, because earlier epochs can
    no longer see LATER epochs' folds (ADVICE r12)."""
    return _open_span_store(
        spark, path,
        sm.snapshot(path, _SPANHASH_COMPONENTS, "sentence-hash store"),
        exclude_folds_from,
    )


def _open_span_store(
    spark, path: str, m: dict, exclude_folds_from: int | None = None
) -> "SentenceHashStore":
    """The span-hash store of manifest ``m``; with the params in the
    manifest, no Spark job."""
    window, grain, n_base = _span_params(m)
    base = spark.read.schema(_SPANHASH_SCHEMA).parquet(f"{path}/{m['hashes']}")
    # explicit schema: a stream whose batches so far were ALL cut to
    # empty leaves only empty fold partitions, and schema inference over
    # zero part-files would fail the load
    folds = sm.folds_before(
        sm.read_optional(
            spark, path, m["folds"], schema=_SPANHASH_FOLD_SCHEMA
        ),
        exclude_folds_from,
    )
    if folds is not None:
        base = base.unionByName(folds.select("__h"))
    return SentenceHashStore(
        base, window=window, grain=grain, n_base=n_base, folds=folds,
    )


def sentence_hash_store_add(
    new: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    *,
    batch_id: int,
    reload: bool = True,
) -> "SentenceHashStore | None":
    """Fold an ADMITTED batch's window hashes into the store, so the
    next batch dedups against everything accepted since the build —
    pass the batch AFTER cutting (:func:`cut_sentence_spans` output,
    or the post-filter survivors): folding pre-cut text would poison
    the set with windows the corpus never admitted, and later
    re-submissions of that rejected content would be wrongly cut.

    ``batch_id`` keys an overwrite-per-epoch fold partition
    (``span_hash_folds/batch_id=N`` — the :mod:`..streaming`
    ingest-loop convention): a replayed batch REPLACES its own rows
    instead of appending duplicates, so retries are idempotent.
    Duplicate hashes ACROSS folds/base are harmless for correctness
    (serving distincts the union) and disappear at the next
    :func:`sentence_hash_store_compact`."""
    spark = new.sparkSession
    m = sm.snapshot(path, _SPANHASH_COMPONENTS, "sentence-hash store")
    window, grain, _ = _span_params(m)
    hashes = (
        _WINDOW_GRAINS[grain](new, id_col, text_col, window)
        .select("__h")
        .distinct()
    )
    hashes.write.mode("overwrite").parquet(
        f"{path}/{m['folds']}/batch_id={int(batch_id)}"
    )
    # reload=False: the streaming loop discards the return (it reloads
    # with exclude_folds_from at the NEXT epoch anyway). A fold publishes
    # nothing, so the snapshot is still the current manifest
    return _open_span_store(spark, path, m) if reload else None


def sentence_hash_store_compact(
    spark, path: str, *, sweep: bool = False,
    keep_folds_from: int | None = None,
) -> "SentenceHashStore":
    """Merge the fold partitions into ONE new distinct base generation
    behind a single atomic manifest flip: serving stops paying the
    per-call union+distinct over every fold ever folded, and the same
    flip publishes the merged ``n_hashes``, so the join auto-strategy
    keeps seeing the store's true size. No-op when there are no folds.

    ``keep_folds_from`` (r13 — the mid-stream compaction contract):
    folds with ``batch_id >=`` it are NOT merged; they are carried into
    the new fold generation verbatim. The streaming ingest loop passes
    its CURRENT epoch id, so that epoch's fold stays individually
    excludable — a batch retried right after an in-loop compaction
    still reconstructs the store view it saw the first time
    (``exclude_folds_from`` has nothing to exclude for the MERGED
    epochs, which is correct: they are committed and, under Structured
    Streaming's single-uncommitted-batch recovery, never replay).
    Without it (None — the offline form), run compaction with the
    ingest loop STOPPED, and note that a compacted store starts a new
    lineage: a fresh-checkpoint FULL replay over it is no longer
    epoch-by-epoch reconstructible (the folds it would exclude are in
    the base now).

    ``sweep`` deletes the superseded generation dirs right after the
    flip — only safe with no concurrent readers; default keeps them for
    :func:`sentence_hash_store_gc`."""
    m = sm.snapshot(path, _SPANHASH_COMPONENTS, "sentence-hash store")
    folds = sm.read_optional(
        spark, path, m["folds"], schema=_SPANHASH_FOLD_SCHEMA
    )
    if folds is None:
        return _open_span_store(spark, path, m)
    new = sm.new_generation(path, m, _SPANHASH_COMPONENTS, ("hashes", "folds"))
    spark.read.schema(_SPANHASH_SCHEMA).parquet(
        f"{path}/{m['hashes']}"
    ).unionByName(
        sm.folds_before(folds, keep_folds_from).select("__h")
    ).distinct().write.parquet(f"{path}/{new['hashes']}")
    n_hashes = spark.read.schema(_SPANHASH_SCHEMA).parquet(
        f"{path}/{new['hashes']}"
    ).count()
    if keep_folds_from is not None:
        kept = folds.where(F.col("batch_id") >= int(keep_folds_from))
        if kept.head(1):
            # carry the un-merged recent folds into the new generation,
            # keyed exactly as sentence_hash_store_add writes them
            kept.write.partitionBy("batch_id").parquet(
                f"{path}/{new['folds']}"
            )
    m = sm.publish(
        path, m, new, _SPANHASH_COMPONENTS, sweep=sweep,
        stats={"n_hashes": n_hashes},
    )
    return _open_span_store(spark, path, m)


def sentence_hash_store_gc(path: str, *, grace_seconds: float = 900.0) -> dict:
    """Out-of-band reclaim of superseded sentence-hash-store generations
    — run from a quiet window (the same slot as compactions); see
    ``sources/store_manifest.gc_store``."""
    return sm.gc_store(path, _SPANHASH_COMPONENTS, grace_seconds=grace_seconds)


def sentence_spans_against_oracle_sql(
    new_table: str,
    corpus_table: str,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 3,
) -> str:
    """DuckDB mirror of :func:`sentence_spans_against`."""
    from window_aggregation_spark.operators.text import sentence_array_duck

    h = portable_hash64_duck(
        f"array_to_string(sents[pos + 1 : pos + {window}], ' ')"
    )

    def wins(table: str, cte: str) -> str:
        return f"""
        {cte}_base AS (
          SELECT {id_col}, {sentence_array_duck(text_col)} AS sents
          FROM {table}),
        {cte}_long AS (
          SELECT {id_col}, sents FROM {cte}_base
          WHERE len(sents) >= {window}),
        {cte}_pos AS (
          SELECT {id_col}, sents,
                 unnest(generate_series(0, len(sents) - {window})) AS pos
          FROM {cte}_long),
        {cte} AS (SELECT {id_col}, pos, {h} AS h FROM {cte}_pos)"""

    return f"""
        WITH {wins(corpus_table, "cw")},
        {wins(new_table, "nw")},
        corpus_h AS (SELECT DISTINCT h FROM cw),
        hits AS (
          SELECT {id_col}, pos FROM nw
          WHERE h IN (SELECT h FROM corpus_h)),
        {_merge_spans_sql(id_col, window, 'hits')}
    """


def cut_sentence_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    alias: str = "cut_text",
) -> DataFrame:
    """Apply sentence-span removal (the C4 keep-one cut): given
    ``spans`` rows ``(id_col, span_start, span_end)`` in half-open
    SENTENCE-index bounds (from :func:`duplicated_sentence_spans`),
    return ``df`` with ``alias`` = the document rebuilt from its
    sentences minus those ranges. ALL docs are rebuilt from the
    canonical sentence array (single-spaced — the
    :func:`..text.sentence_array` convention, mirroring
    :func:`cut_token_spans`'s rebuild-from-tokens), so cut and uncut
    documents come back in the same normal form."""
    from window_aggregation_spark.operators.text import sentence_array

    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    joined = df.join(per_doc, on=id_col, how="left").withColumn(
        "__sents", sentence_array(text_col)
    )
    kept = F.filter(
        F.col("__sents"),
        lambda s, i: ~F.exists(
            F.col("__spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return (
        joined.withColumn(
            alias,
            F.when(
                F.col("__spans").isNull(),
                F.array_join(F.col("__sents"), " "),
            ).otherwise(F.array_join(kept, " ")),
        )
        .drop("__spans", "__sents")
    )


def cut_sentence_spans_oracle_sql(
    table: str,
    spans_sql: str,
    id_col: str,
    text_col: str = "text",
    *,
    alias: str = "cut_text",
) -> str:
    """DuckDB mirror of :func:`cut_sentence_spans` over ``table`` with
    spans from ``spans_sql`` (a query returning ``(id_col, span_start,
    span_end)``). Parallel unnests zip positionally (0-based pos, like
    Spark's filter-lambda index); the anti-join drops sentences any
    span covers; string_agg rebuilds in order; docs with no sentences
    come back as the empty string (Spark array_join([]) == '')."""
    from window_aggregation_spark.operators.text import sentence_array_duck

    return f"""
        WITH src AS (
          SELECT {id_col}, {sentence_array_duck(text_col)} AS sents
          FROM {table}),
        sp AS ({spans_sql}),
        spos AS (
          SELECT {id_col}, unnest(sents) AS sent,
                 unnest(range(0, len(sents))) AS pos
          FROM src),
        kept AS (
          SELECT p.{id_col}, p.sent, p.pos
          FROM spos p
          WHERE NOT EXISTS (
            SELECT 1 FROM sp
            WHERE sp.{id_col} = p.{id_col}
              AND p.pos >= sp.span_start AND p.pos < sp.span_end)),
        rebuilt AS (
          SELECT {id_col},
                 string_agg(sent, ' ' ORDER BY pos) AS {alias}
          FROM kept GROUP BY {id_col})
        SELECT s.{id_col}, coalesce(r.{alias}, '') AS {alias}
        FROM src s LEFT JOIN rebuilt r USING ({id_col})
    """


def canonical_per_cluster(
    df: DataFrame,
    id_col: str,
    score_col: str,
    component_col: str = "component",
    *,
    alias: str = "keep",
) -> DataFrame:
    """Append ``alias`` = this row is its cluster's canonical survivor:
    the highest ``score_col`` (ties broken by smallest ``id_col``) within
    each ``component_col`` group. The keep-best half of cluster dedup —
    CC labels say *what* is duplicated; this picks *which copy* survives
    (the standard choice is the quality-classifier argmax, not the
    arbitrary min-id the plain CC representative gives you).

    One hash shuffle on the component key + a row_number window; scores
    stay attached, so downstream re-weighting (instead of hard dropping)
    is a filter-free projection."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(component_col)
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    )
    return df.withColumn(alias, F.row_number().over(w) == F.lit(1))


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

# portable_hash64 yields 60-bit hashes, so simhash bits 60-63 carry no
# signal (their per-token contribution is always -1, the bit never sets) —
# both the hash assembly and the pigeonhole chunking run over exactly these
# bits. A degenerate chunk over dead bits quadratically inflates candidate
# pairs (measured 4x slower at sf0.1 before this was accounted for).
SIMHASH_EFFECTIVE_BITS = 60


def simhash_chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) per pigeonhole chunk, covering all effective bits;
    the last chunk absorbs the remainder. Shared with the DuckDB oracle."""
    width = SIMHASH_EFFECTIVE_BITS // n_chunks
    return [
        (
            i * width,
            width if i < n_chunks - 1 else SIMHASH_EFFECTIVE_BITS - i * width,
        )
        for i in range(n_chunks)
    ]


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """60-bit SimHash of each row's token stream -> (id_col, simhash long).

    Shape chosen for scale AND local speed: explode tokens, hash each once,
    then ONE groupBy with 64 plain ``sum`` aggregates (per-bit +1/-1
    contributions; positive sum -> bit set). Plain sums run inside
    whole-stage codegen with map-side partial aggregation, so the shuffle
    carries 64 longs per document — unlike an array-fold expression, which
    Catalyst evaluates interpreted (measured ~50x slower).
    """
    nbits = SIMHASH_EFFECTIVE_BITS
    hashed = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.col(text_col))).alias("__t"),
    ).select(id_col, portable_hash64(F.col("__t")).alias("__h"))
    sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"__b{i}")
            for i in range(nbits)
        ]
    )
    value = F.lit(0).cast("long")
    for i in range(nbits):
        value = value.bitwiseOR(
            F.when(F.col(f"__b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select(F.col(id_col), value.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance <= ``max_hamming``.

    Candidate generation by the pigeonhole principle: the effective hash
    bits split into ``max_hamming + 1`` chunks — a pair differing in at most
    ``max_hamming`` bits must agree on at least one whole chunk — so a
    shuffle on (chunk_idx, chunk_value) finds every qualifying pair without
    an O(n^2) join. More chunks = smaller chunks = more spurious candidates;
    the exact ``bit_count`` verify filters those.
    """
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_EFFECTIVE_BITS:
        raise ValueError(f"max_hamming must be < {SIMHASH_EFFECTIVE_BITS}")
    bounds = simhash_chunk_bounds(n_chunks)
    base = simhash(df, id_col, text_col).select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__sh")
    )
    chunked = base.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sh"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("val"),
                    )
                    for i, (off, w) in enumerate(bounds)
                ]
            )
        ).alias("ck"),
    ).select("__id", "__sh", "ck.chunk", "ck.val")

    # Pairs without a self-join (same rationale as minhash_dedup_pairs):
    # collect (id, simhash) members per (chunk, val) bucket, double-explode.
    # One corpus scan + one shuffle instead of two of each.
    buckets = chunked.groupBy("chunk", "val").agg(
        F.collect_list(F.struct("__id", "__sh")).alias("__ms")
    )
    return (
        buckets.where(F.size("__ms") >= 2)
        .select(F.explode("__ms").alias("a"), F.col("__ms"))
        .select("a", F.explode("__ms").alias("b"))
        .where(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# blocked exact n-gram Jaccard (the SQL-oracle-able variant)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    block_prefix: int = 40,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-n-gram Jaccard for pairs sharing a text-prefix blocking
    key. Blocking bounds the join to same-prefix groups (one shuffle on the
    prefix); exact and fully SQL-expressible.

    Shingles are built per DOC before the join (each branch shingles the
    corpus once). The per-pair alternative used in minhash verification is
    worse here: prefix blocks are coarse, so same-prefix candidate pairs
    can far outnumber docs (measured slower at sf0.1)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.substring(F.col(text_col), 1, block_prefix).alias("__blk"),
        shingles(F.col(text_col), ngram).alias("__sh"),
    )
    # merge hint: a self-join's sides are the same cardinality, so the
    # broadcast Spark picks from local stats can never hold at corpus scale
    # (and its driver-side build of shingle arrays measured slower locally)
    l, r = base.hint("merge").alias("l"), base.hint("merge").alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.__blk") == F.col("r.__blk"),
                F.col("l.__id") < F.col("r.__id"),
            ],
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round(jaccard(F.col("l.__sh"), F.col("r.__sh")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(a) * norm(b))


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.9,
    mode: str = "bucketed",
    nbits: int = 8,
    dim: int = 64,
    multi_probe: bool = True,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity (id_a < id_b, rounded sim).

    ``mode="bucketed"`` — the default and the 100 TB path. Hyperplane-LSH
    buckets both sides (``similarity.hyperplane_buckets``; one side also
    probes every 1-bit-flip bucket when ``multi_probe``), a cogrouped
    ``applyInPandas`` runs a BLAS block-matmul PER BUCKET to surface
    candidates (with a small sub-threshold margin), and each distinct
    candidate pair is then verified ONCE by the expression-level
    :func:`cosine` fold — so the emitted similarity is bit-reproducible in
    any engine, independent of BLAS summation order. Nothing is collected
    to the driver; per-task memory is one bucket (~|corpus| / 2^nbits
    rows — size ``nbits`` so that fits an executor). Approximate by
    construction: pairs whose codes differ in >1 bit are missed, P(bit
    differs) = angle/pi per plane — at cosine 0.9 and nbits=8 the expected
    code distance is ~1.1, so single-flip multi-probe recovers most true
    pairs (recall is regression-tested against the exact path).

    ``mode="broadcast"`` — exact all-pairs, for corpora that fit in memory:
    the corpus is collected and broadcast once as a normalized float64
    matrix (~1 GB per 2M x 64-dim vectors) and each partition matmuls its
    block against it. Guarded by ``max_broadcast_rows``: exceeding it
    raises instead of OOMing the driver. A pair-explosion join with
    expression-level dot products was measured ~40x slower than BLAS.
    """
    import numpy as np
    import pandas as pd

    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    if mode == "bucketed":
        return _embedding_dup_pairs_bucketed(
            rows, threshold, nbits=nbits, dim=dim, multi_probe=multi_probe
        )
    if mode != "broadcast":
        raise ValueError(
            f"embedding_dup_pairs: unknown mode {mode!r} "
            "(expected 'bucketed' or 'broadcast')"
        )

    n = rows.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"embedding_dup_pairs(mode='broadcast'): corpus has {n} rows, "
            f"over the max_broadcast_rows={max_broadcast_rows} budget — the "
            "driver collect + broadcast would not survive this size. Use "
            "mode='bucketed' (approximate, distributed) instead."
        )
    spark = df.sparkSession
    corpus = rows.toPandas()
    ids = corpus["id"].to_numpy()
    mat = np.stack(corpus["v"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def block(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            q = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ all_mat.T
            qi, ci = np.nonzero(np.round(sims, 4) >= threshold)
            qa = pdf["id"].to_numpy()[qi]
            cb = all_ids[ci]
            keep = qa < cb
            yield pd.DataFrame(
                {
                    "id_a": qa[keep],
                    "id_b": cb[keep],
                    "cos_sim": np.round(sims[qi, ci][keep], 4),
                }
            )

    return rows.mapInPandas(block, schema="id_a long, id_b long, cos_sim double")


# BLAS candidate prefilter margin: the cogroup matmul only has to not MISS
# a pair the fold verification would accept; BLAS-vs-fold summation-order
# differences are ~1e-12, so 1e-3 of slack is orders of magnitude safe.
_BLAS_MARGIN = 1e-3


def _embedding_dup_pairs_bucketed(
    rows: DataFrame,
    threshold: float,
    *,
    nbits: int,
    dim: int,
    multi_probe: bool,
) -> DataFrame:
    import numpy as np
    import pandas as pd

    # local import: similarity imports `cosine` from this module at top level
    from window_aggregation_spark.operators.similarity import (
        hyperplane_buckets,
    )

    bucket = hyperplane_buckets(vec_col="v", nbits=nbits, dim=dim)
    if multi_probe:
        probes = F.array(
            bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(nbits)]
        )
        left = rows.select("id", "v", F.explode(probes).alias("__bkt"))
    else:
        left = rows.select("id", "v", bucket.alias("__bkt"))
    right = rows.select("id", "v", bucket.alias("__bkt"))
    floor = threshold - _BLAS_MARGIN

    empty = pd.DataFrame(
        {
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "__va": pd.Series([], dtype=object),
            "__vb": pd.Series([], dtype=object),
        }
    )

    def block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        a = np.stack(lpdf["v"].to_numpy()).astype(np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        b = np.stack(rpdf["v"].to_numpy()).astype(np.float64)
        b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = a @ b.T
        ai, bi = np.nonzero(sims >= floor)
        ida = lpdf["id"].to_numpy()[ai]
        idb = rpdf["id"].to_numpy()[bi]
        keep = ida < idb
        ai, bi = ai[keep], bi[keep]
        return pd.DataFrame(
            {
                "id_a": ida[keep],
                "id_b": idb[keep],
                "__va": lpdf["v"].to_numpy()[ai],
                "__vb": rpdf["v"].to_numpy()[bi],
            }
        )

    cand = (
        left.groupBy("__bkt")
        .cogroup(right.groupBy("__bkt"))
        .applyInPandas(
            block,
            schema=f"id_a long, id_b long, "
            f"__va array<float>, __vb array<float>",
        )
        # multi-probe finds a pair from both endpoints; verify each pair once
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = F.round(cosine(F.col("__va"), F.col("__vb")), 4)
    return (
        cand.withColumn("cos_sim", sim)
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def minhash_dedup_against(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    corpus_signatures: "SignatureStore | DataFrame | None" = None,
    verify: str = "exact",
) -> DataFrame:
    """Incremental (cross-corpus) near-dup detection: which ``new`` docs
    near-duplicate something ALREADY IN ``corpus``. Returns
    ``(new_id, corpus_id, jaccard)`` with jaccard >= threshold.

    This is the ingestion-time shape: the corpus is 100 TB and static, the
    new batch is small. Both sides get signatures + band keys, the join
    runs on the band-seeded bucket key with the NEW side broadcast —
    the corpus's banded rows are never shuffled. Pass ``corpus_signatures`` (the
    :class:`SignatureStore` built once by :func:`build_signature_store` —
    THE serving configuration) and the corpus text is touched only to
    verify the few candidates; every ingestion batch then costs
    O(new batch) plus the candidate verify, never a corpus signature
    pass. ``verify`` picks how candidates are confirmed:

    - ``"exact"`` (default): exact Jaccard over recomputed shingles, same
      as :func:`minhash_dedup_pairs`. Touches corpus TEXT for candidate
      rows — one column-pruned corpus join per call.
    - ``"estimate"``: the standard MinHash estimator — the fraction of
      agreeing signature components (its expected value IS the Jaccard,
      stderr ~ 1/sqrt(num_hashes) ≈ 0.125 at the default 64). With a
      signature store this makes ingestion touch ZERO corpus bytes —
      the shape to serve continuously at 100 TB. The returned column is
      named ``jaccard`` either way (it estimates the same quantity), but
      a borderline pair can land on the other side of ``threshold`` than
      the exact mode puts it.

    Contract: ``corpus_signatures`` must cover exactly the ids of
    ``corpus`` — a store built over corpus+new would report new-vs-new
    pairs as corpus hits (build the store over the corpus, ingest, THEN
    fold the accepted batch in).
    """
    if verify not in ("exact", "estimate"):
        raise ValueError(f"verify must be 'exact' or 'estimate', got {verify!r}")
    nsig = minhash_signatures(
        new, id_col, text_col, ngram=ngram, num_hashes=num_hashes
    )
    if corpus_signatures is None:
        csig = minhash_signatures(
            corpus, id_col, text_col, ngram=ngram, num_hashes=num_hashes
        )
    elif isinstance(corpus_signatures, SignatureStore):
        corpus_signatures.check(ngram=ngram, num_hashes=num_hashes)
        csig = corpus_signatures.sigs
    else:
        csig = corpus_signatures
    if f"m{num_hashes - 1}" not in csig.columns:
        raise ValueError(
            f"corpus signatures are missing column m{num_hashes - 1} — "
            f"built with fewer hashes than num_hashes={num_hashes}?"
        )
    if verify == "estimate":
        return _estimated_matches(
            nsig, csig, id_col, num_hashes=num_hashes, bands=bands,
            threshold=threshold,
        ).dropDuplicates(["new_id", "corpus_id"])
    nband = _band_keys(nsig, id_col, num_hashes=num_hashes, bands=bands)
    cband = _band_keys(csig, id_col, num_hashes=num_hashes, bands=bands)
    candidates = (
        F.broadcast(nband.withColumnRenamed("__id", "new_id"))
        .join(cband.withColumnRenamed("__id", "corpus_id"), on="key")
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    ntexts = new.select(
        F.col(id_col).alias("new_id"), F.col(text_col).alias("__ta")
    )
    ctexts = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(text_col).alias("__tb")
    )
    joined = candidates.join(F.broadcast(ntexts), on="new_id").join(
        ctexts, on="corpus_id"
    )
    return (
        append_exact_jaccard(joined, "__ta", "__tb", ngram=ngram)
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def _estimated_matches(
    nsig: DataFrame,
    csig: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """``(new_id, corpus_id, jaccard)`` with the signature-agreement
    estimate ``jaccard >= threshold``, once per band the two signatures
    share (a pair that shares k bands appears k times).

    The estimate is taken AT the band join: each broadcast new-side band
    row carries its document's signature (packed as ``array<int>``: every
    component is below the 2^31-1 modulus), each corpus band row its
    own. So ``nsig`` has one consumer: the batch's shingle+signature pass
    runs once. A second consumer (band keys on one side, the estimator's
    signatures on the other) is two shuffle stages over the batch
    whenever exchange reuse fails, as it does for a cached batch (AQE
    plans a cached relation as a query stage of its own per reference).
    The corpus signatures are scanned once too (the candidate pairs no
    longer join back to them), and only matches above the threshold
    reach a shuffle. The broadcast holds ``bands`` rows per batch
    document, ~300 bytes each at the default 64 hashes: about 4.7 KB per
    document, against ~0.8 KB for band keys plus signatures broadcast
    apart. SQL text: the same trees as Column-built expressions at a
    fraction of the plan-build cost."""
    idq = quote_ident(id_col)
    keys = _band_keys_sql(num_hashes=num_hashes, bands=bands)
    packed = ", ".join(f"CAST(m{i} AS INT)" for i in range(num_hashes))
    new_bands = nsig.selectExpr(
        f"{idq} AS new_id", f"array({packed}) AS __n", keys
    )
    corpus_bands = csig.selectExpr(
        f"{idq} AS corpus_id",
        *[f"m{i}" for i in range(num_hashes)],
        keys,
    )
    agree = " + ".join(
        ["0"] + [f"CAST((__n[{i}] = m{i}) AS INT)" for i in range(num_hashes)]
    )
    return (
        corpus_bands.join(F.broadcast(new_bands), on="key")
        .selectExpr(
            "new_id", "corpus_id",
            f"round(({agree}) / {num_hashes}, 4) AS jaccard",
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_new_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The ingestion filter itself: ``new`` minus anything that
    near-duplicates the existing corpus. The duplicate ids are distinct,
    so at most one row per batch document, and broadcast: the anti-join
    does not shuffle the batch."""
    pairs = minhash_dedup_against(new, corpus, id_col, text_col, **kwargs)
    dupes = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return new.join(F.broadcast(dupes), on=id_col, how="left_anti")
