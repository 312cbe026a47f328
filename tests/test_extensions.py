"""Behavioral tests for the extension operators (dedup / similarity /
multimodal) beyond the suite's oracle checks: recall against exact ground
truth, determinism, stub contracts, batch shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.operators import dedup as dd
from window_aggregation_spark.operators import multimodal as mm
from window_aggregation_spark.operators import similarity as sim
from window_aggregation_spark.sources.io import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist at module teardown: a leaked cache entry makes the
    # session-wide CacheManager substitute InMemoryRelation into every
    # LATER test's plan over the same base relation, silently changing
    # the plan shapes test_plan_quality pins (the suite only stayed
    # green because test_lm happens to clearCache() in between)
    df = read_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = read_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_exact_dedup_deterministic_representative(spark):
    df = spark.createDataFrame(
        [(3, "k"), (1, "k"), (2, "k"), (9, "j")], "id int, key string"
    )
    out = dd.exact_dedup(df, ["key"], order_by=["id"]).collect()
    assert {(r["key"], r["id"]) for r in out} == {("k", 1), ("j", 9)}


def test_minhash_recall_against_exact_jaccard(docs):
    """Every high-similarity pair found by the exact blocked-Jaccard pass
    must be recovered by MinHash-LSH (64 hashes / 16 bands catches
    jaccard >= ~0.5 pairs with probability ~1)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(
            docs, "doc_id", block_prefix=40, threshold=0.6
        ).collect()
    }
    assert exact, "fixture should contain near-duplicate pairs"
    found = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    missed = exact - found
    assert len(missed) <= max(1, len(exact) // 10), (
        f"minhash missed {len(missed)}/{len(exact)} strong pairs: {missed}"
    )


def test_minhash_dedup_removes_only_losers(docs):
    pairs = dd.minhash_dedup_pairs(docs, "doc_id", threshold=0.3)
    losers = {r["id_b"] for r in pairs.collect()}
    kept = dd.minhash_dedup(docs, "doc_id", threshold=0.3)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids.isdisjoint(losers)
    assert kept_ids | losers == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


def test_simhash_pairs_have_low_hamming(docs):
    rows = dd.simhash_dedup_pairs(docs, "doc_id", max_hamming=4).collect()
    assert rows
    assert all(r["hamming"] <= 4 for r in rows)
    # verified against directly-computed simhash distance
    sh = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs, "doc_id").collect()}
    for r in rows[:20]:
        xor = sh[r["id_a"]] ^ sh[r["id_b"]]
        assert bin(xor & (2**64 - 1)).count("1") == r["hamming"]


def test_connected_components_vs_union_find(spark):
    """Star-contraction labels must equal a driver-side union-find ground
    truth on a random graph (including multi-hop chains and isolated-pair
    components)."""
    import random

    from window_aggregation_spark.operators.graph import connected_components

    rng = random.Random(123)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    truth = {n: find(n) for n in nodes}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == truth


def test_token_windows_length_prefilter_measures_lowered_text(spark):
    """The pushable length pre-filter must be a NECESSARY-only
    condition: lower() can LENGTHEN text (U+0130 'İ' lowers to 'i' + a
    combining dot), so a naive raw-length >= 2*window-1 bound could
    wrongly drop a doc whose LOWERED form has enough tokens. 'İa' is 2
    raw chars (< 3 = 2*2-1) but tokenizes to ['i', 'a'] — with window=2
    it must still emit a window. r14 bounds the RAW length by
    ceil((2w-1)/3) (3x is Unicode's max lowercase expansion), which
    keeps 'İa' (2 >= 1) without re-running lower() in the filter; and a
    doc that is genuinely too short must emit none (it passes the cheap
    bound and dies at the explode guard)."""
    from window_aggregation_spark.operators.dedup import _token_windows

    df = spark.createDataFrame(
        [(1, "İa"), (2, "x")], "doc_id long, text string"
    )
    rows = _token_windows(df, "doc_id", "text", 2).collect()
    assert [r["doc_id"] for r in rows] == [1], rows


def test_connected_components_star_early_exit(spark):
    """The star-forest flag (r13) must stop the loop ON the converged
    round: a min-rooted star input converges with ZERO star-step rounds,
    and a 4-hop chain still needs rounds — with labels identical to the
    digest-only loop's on both (the flag is a sufficient fixpoint test;
    the digest comparison remains as the fallback terminator)."""
    from window_aggregation_spark.operators.graph import (
        connected_components,
    )

    star = spark.createDataFrame(
        [(1, 5), (1, 9), (1, 7), (20, 30)], "id_a long, id_b long"
    )
    st = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(star, stats=st).collect()
    }
    assert st["rounds"] == 0, "star-forest input must skip the loop"
    assert got == {1: 1, 5: 1, 9: 1, 7: 1, 20: 20, 30: 20}

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    st = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(chain, stats=st).collect()
    }
    assert st["rounds"] >= 1, "a chain is not a fixpoint"
    assert got == {n: 1 for n in (1, 2, 3, 4, 5)}


def test_minhash_cc_merges_chains(spark):
    """A chain a~b~c with a!~c must collapse to one cluster (the greedy
    pass's documented gap); minhash_dedup_cc keeps exactly the min id."""
    # sliding 35-token windows shifted by 6: adjacent bigram-Jaccard = 0.70
    # (>= 0.55, LSH-catchable), ends = 0.48 (< 0.55 -> no direct 1~3 pair)
    toks = [f"tok{i:02d}" for i in range(1, 48)]
    doc = lambda lo: " ".join(toks[lo : lo + 35])  # noqa: E731
    other = "completely different words nothing shared here at all ok then"
    df = spark.createDataFrame(
        [(1, doc(0)), (2, doc(6)), (3, doc(12)), (4, other)],
        "doc_id long, text string",
    )
    kw = dict(ngram=2, threshold=0.55)
    comp = {
        r["doc_id"]: r["component"]
        for r in dd.minhash_components(df, "doc_id", **kw).collect()
    }
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(df, "doc_id", **kw).collect()
    }
    # the chain really is a chain: no direct 1~3 pair above threshold
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == 4
    kept = sorted(
        r["doc_id"] for r in dd.minhash_dedup_cc(df, "doc_id", **kw).collect()
    )
    assert kept == [1, 4]


def test_duplicated_spans_boundaries_and_merge(spark):
    """A verbatim passage shared by two docs yields one merged span per
    doc covering exactly the passage; within-doc-only repetition is NOT
    flagged (min_docs counts distinct docs); short docs are skipped."""
    shared = " ".join(f"s{i}" for i in range(8))  # 8 shared tokens
    rows = [
        # doc 1: 3 unique tokens, passage at positions 3..10
        (1, "u1 u2 u3 " + shared + " t1 t2"),
        # doc 2: passage at positions 0..7
        (2, shared + " z1 z2 z3 z4"),
        # doc 3: repeats ITS OWN phrase twice but shares nothing
        (3, "a1 a2 a3 a4 a5 a1 a2 a3 a4 a5 b1 b2"),
        # doc 4: shorter than the window
        (4, "w1 w2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in dd.duplicated_spans(df, "doc_id", window=4).collect()
    }
    # doc 1: dup windows start at 3..7 (each 4-token window inside the
    # passage), merged to [3, 11); doc 2: [0, 8)
    assert spans[1] == (3, 11, 5)
    assert spans[2] == (0, 8, 5)
    assert 3 not in spans and 4 not in spans


def test_cut_token_spans_removes_exactly_the_spans(spark):
    """Composing duplicated_spans -> cut_token_spans removes the shared
    passage from every doc and nothing else; span-free docs keep their
    (normalized) text unchanged."""
    shared = " ".join(f"s{i}" for i in range(8))
    rows = [
        (1, "u1 u2 u3 " + shared + " t1 t2"),
        (2, shared + " z1 z2 z3 z4"),
        (3, "only unique words here nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dd.duplicated_spans(df, "doc_id", window=4)
    got = {
        r["doc_id"]: r["cut_text"]
        for r in dd.cut_token_spans(df, spans, "doc_id").collect()
    }
    assert got[1] == "u1 u2 u3 t1 t2"
    assert got[2] == "z1 z2 z3 z4"
    assert got[3] == "only unique words here nothing shared"


def test_canonical_per_cluster(spark):
    """keep = quality argmax per cluster; ties break to the smallest id;
    a singleton cluster trivially keeps itself."""
    rows = [
        # cluster 10: 7 beats 5; id 2 wins the 0.9-tie against id 3
        (1, 10, 0.5), (2, 10, 0.9), (3, 10, 0.9),
        # cluster 20: singleton
        (4, 20, 0.1),
        # cluster 30: NULL score sorts last (desc puts NULL after values)
        (5, 30, None), (6, 30, 0.2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, component long, s double")
    got = {
        r["doc_id"]: r["keep"]
        for r in dd.canonical_per_cluster(df, "doc_id", "s").collect()
    }
    assert got == {1: False, 2: True, 3: False, 4: True, 5: False, 6: True}


def _clustered_vectors(spark, n_clusters=50, copies=3, dim=64, noise=0.02):
    """Synthetic corpus with known near-dups: each cluster is one base
    vector plus small noise, so intra-cluster cosine is ~1/(1+noise^2)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((n_clusters, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(copies):
            v = base[c] + noise * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_bucketed_no_driver_collect(emb, monkeypatch):
    """The bucketed mode must never collect the corpus to the driver
    (round-2 verdict: the broadcast path's toPandas dies at scale)."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side toPandas() in bucketed path")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    out = dd.embedding_dup_pairs(emb, threshold=0.4, nbits=4)
    assert out.count() > 0  # executes end-to-end without a driver collect


def test_embedding_bucketed_recall_vs_exact(spark):
    """On a clustered corpus (cosine ~0.998 within clusters) the bucketed
    path must recover nearly all exact pairs, with identical similarity
    values on the pairs it returns."""
    df = _clustered_vectors(spark)
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dd.embedding_dup_pairs(
            df, threshold=0.95, mode="broadcast"
        ).collect()
    }
    # nbits trades recall for bucket size: 6 bits -> ~P(code distance<=1)
    # ~0.93 at cosine ~0.97 (8 bits measured 0.887 on this fixture)
    bucketed = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dd.embedding_dup_pairs(df, threshold=0.95, nbits=6).collect()
    }
    assert len(exact) >= 100  # the fixture really contains near-dups
    hits = set(exact) & set(bucketed)
    assert len(hits) / len(exact) >= 0.9
    for pair in hits:
        assert abs(exact[pair] - bucketed[pair]) < 1e-9


def test_embedding_broadcast_guard_raises(emb):
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        dd.embedding_dup_pairs(
            emb, threshold=0.4, mode="broadcast", max_broadcast_rows=10
        )
    with pytest.raises(ValueError, match="unknown mode"):
        dd.embedding_dup_pairs(emb, mode="banana")


def test_ann_lsh_recall_vs_bruteforce(emb):
    queries = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    exact = sim.cosine_topk(queries, corpus, k=5)
    approx = sim.ann_lsh_topk(queries, corpus, k=5, nbits=4)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4-bit hyperplane LSH on 10-cluster data: recall is approximate by
    # design; assert it beats random bucketing by a wide margin
    assert recall >= 0.3, f"LSH recall {recall:.2f} suspiciously low"
    # every approx neighbor must share the query's bucket -> sims correct
    sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:
            assert sims[key] == pytest.approx(r["cos_sim"], abs=1e-6)


def test_quantized_topk_recall_vs_bruteforce(emb):
    """int8 coarse + exact re-rank loses recall ONLY to quantization of
    the coarse ordering — with 4x overfetch on this fixture it should be
    near-perfect, and every returned cos_sim is full-precision exact."""
    queries = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    exact = sim.cosine_topk(queries, corpus, k=5)
    approx = sim.quantized_topk(queries, corpus, k=5, overfetch=4)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"quantized recall {recall:.2f} too low"
    sims = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()
    }
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:
            assert sims[key] == pytest.approx(r["cos_sim"], abs=1e-6)


def test_quantized_topk_full_overfetch_equals_exact(emb):
    """With the shortlist covering the whole corpus the coarse ordering
    is irrelevant — the re-rank must reproduce cosine_topk exactly
    (rank, id, and similarity)."""
    queries = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    n = corpus.count()
    exact = {
        (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in sim.cosine_topk(queries, corpus, k=5).collect()
    }
    full = {
        (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in sim.quantized_topk(
            queries, corpus, k=5, overfetch=(n // 5) + 1
        ).collect()
    }
    assert full == exact


def test_quantized_topk_prequantized_corpus_identical(emb, tmp_path):
    """A corpus written once with qvec/qscale (parquet round trip) must
    give byte-identical results to on-the-fly quantization — the
    build-once path the 4x scan saving depends on."""
    queries = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    path = str(tmp_path / "quantized_corpus")
    sim.quantize_embeddings(corpus).write.mode("overwrite").parquet(path)
    stored = emb.sparkSession.read.parquet(path)
    live = {
        (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in sim.quantized_topk(queries, corpus, k=5).collect()
    }
    pre = {
        (r["query_id"], r["nn_rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in sim.quantized_topk(
            queries, stored, k=5, qvec_col="qvec", qscale_col="qscale"
        ).collect()
    }
    assert pre == live


def test_quantized_topk_qcols_must_be_paired(emb):
    """qvec_col/qscale_col are an explicit pair — naming only one is a
    usage error, and a corpus that merely HAPPENS to carry a 'qvec'
    column is never silently scored with it (detection is opt-in, not
    name-sniffed)."""
    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.where(F.col("vec_id") >= 5)
    with pytest.raises(ValueError, match="together"):
        sim.quantized_topk(queries, corpus, qvec_col="qvec")
    # an unrelated column named qvec is ignored by the default path
    decoy = corpus.withColumn("qvec", F.array(F.lit(0))).withColumn(
        "qscale", F.lit(0.0)
    )
    clean = {
        (r["query_id"], r["nn_rank"]): r["neighbor_id"]
        for r in sim.quantized_topk(queries, corpus, k=3).collect()
    }
    with_decoy = {
        (r["query_id"], r["nn_rank"]): r["neighbor_id"]
        for r in sim.quantized_topk(queries, decoy, k=3).collect()
    }
    assert with_decoy == clean


def test_quantize_embeddings_reconstruction(spark):
    """q·scale reconstructs each component within half a quantization
    step; the all-zero vector quantizes to zeros with scale 0."""
    rows = [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}
    assert got[2]["qvec"] == [0, 0, 0, 0] and got[2]["qscale"] == 0.0
    q, s = got[1]["qvec"], got[1]["qscale"]
    for orig, qi in zip(rows[0][1], q):
        assert abs(qi * s - orig) <= s / 2 + 1e-9
    assert max(abs(x) for x in q) == 127


def test_ivf_recall_vs_bruteforce(emb):
    queries = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    exact = sim.cosine_topk(queries, corpus, k=5)
    approx = sim.ivf_topk(queries, corpus, k=5, n_centroids=16, nprobe=4)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall {recall:.2f} suspiciously low"
    # every returned similarity must agree with the exact computation
    sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:
            assert sims[key] == pytest.approx(r["cos_sim"], abs=1e-6)


def test_ivf_kmeans_centroids_improve_recall(emb):
    """Distributed spherical Lloyd refinement must beat the raw
    deterministic-sample codebook at equal nprobe on this clustered
    fixture (measured 0.44 -> 0.56 at 3 iterations; both runs are
    deterministic: fixed seed sample, stable argsort tie-breaks)."""
    queries = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(queries, corpus, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.ivf_topk(
                queries, corpus, k=5, n_centroids=16, nprobe=4, **kw
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_sample = recall()
    r_kmeans = recall(centroids="kmeans", kmeans_iters=3)
    assert r_kmeans > r_sample, (r_kmeans, r_sample)


def test_ivf_kmeans_rejects_expr_assignment(emb):
    with pytest.raises(ValueError, match="sample"):
        sim.ivf_topk(
            emb, emb, assign="expr", centroids="kmeans"
        )
    with pytest.raises(ValueError, match="centroids"):
        sim.ivf_topk(emb, emb, centroids="banana")


def test_ivf_expr_assignment_matches_numpy(emb):
    """The oracle-checkable expression assignment and the numpy block-matmul
    assignment must pick the same lists (both break near-ties by centroid
    index; the two cosine computations only diverge in final ulps, far from
    any assignment boundary on this data)."""
    queries = emb.where(F.col("vec_id") < 8)
    corpus = emb.where(F.col("vec_id") >= 8)
    a = sorted(map(tuple, sim.ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=4).collect()))
    b = sorted(map(tuple, sim.ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=4, assign="expr"
    ).collect()))
    assert a == b


def test_multimodal_decode_stub_and_schema(docs):
    payloads = mm.attach_binary_payload(docs.limit(50))
    assert dict(payloads.dtypes)["payload"] == "binary"
    feats = mm.decode_image_features(payloads, n_features=8)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r["feat"]) == 8
        assert r["feat"][0] == float(r["n_bytes"])  # deterministic fake
    # real decoding is implemented now, but these payloads are text bytes,
    # not images — the real-decoder path must refuse them loudly
    with pytest.raises(Exception, match="PNG"):
        mm.decode_image_features(payloads, use_real_decoder=True).collect()
    mm.require_decoder("audio")  # WAV PCM decode is implemented (stdlib wave)
    mm.require_decoder("video")  # AVI/DIB decode is implemented (r6);
    # codecs beyond DIB/MJPEG raise per payload inside decode_avi_features
    with pytest.raises(NotImplementedError, match="hologram"):
        mm.require_decoder("hologram")


def test_multimodal_png_metadata_expression_parse(spark):
    """Width/height parsed from real PNG header bytes, JVM-side only."""
    import struct

    def fake_png(w: int, h: int) -> bytes:
        return (
            bytes.fromhex("89504E470D0A1A0A")
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
            + b"\x08\x02\x00\x00\x00" + b"fakebody"
        )

    rows = [
        (1, bytearray(fake_png(640, 480))),
        (2, bytearray(fake_png(1920, 1080))),
        (3, bytearray(b"not a png at all, just bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mm.extract_png_meta(df).collect()}
    assert (out[1]["png_width"], out[1]["png_height"]) == (640, 480)
    assert (out[2]["png_width"], out[2]["png_height"]) == (1920, 1080)
    assert out[3]["is_png"] is False and out[3]["png_width"] is None


def test_multimodal_frame_sampling(docs):
    payloads = mm.attach_binary_payload(docs.limit(10))
    frames = mm.sample_frames(payloads, every_n_bytes=64, max_frames=4)
    pdf = frames.toPandas()
    assert set(pdf.columns) == {"doc_id", "frame_idx", "frame_bytes"}
    per_doc = pdf.groupby("doc_id").size()
    assert (per_doc <= 4).all() and (per_doc >= 1).all()


def test_dedup_new_against_corpus_filters_only_cross_dupes(spark, sf_dir):
    """The ingestion filter drops exactly the new docs with a corpus
    near-dup partner; intra-batch duplicates are NOT its business (run the
    self variant on the survivors for that)."""
    from pyspark.sql import functions as F

    from window_aggregation_spark.operators import dedup as dd
    from window_aggregation_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 7 = 3")
    corpus = docs.where("doc_id % 7 <> 3")
    pairs = dd.minhash_dedup_against(new, corpus, "doc_id", threshold=0.3)
    flagged = {r["new_id"] for r in pairs.collect()}
    assert flagged  # fixture has cross-split near-dups
    kept = {
        r["doc_id"]
        for r in dd.dedup_new_against_corpus(
            new, corpus, "doc_id", threshold=0.3
        ).collect()
    }
    all_new = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert kept == all_new - flagged


def test_quality_model_score_behavior(spark):
    """Model scores must be in (0,1), rank running prose above punctuation
    walls and empty docs, and stay a pure codegen projection."""
    from pyspark.sql import functions as F

    from window_aggregation_spark.operators.text import quality_model_score

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs on "
                "to the hills for a while before it rests in the shade"),
            (2, "!!! ;;; ,,, ... !!! ;;; ,,, ... !!! ;;;"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = quality_model_score(df)
    scores = {r["doc_id"]: r["model_score"] for r in out.collect()}
    assert all(0.0 < s < 1.0 for s in scores.values())
    assert scores[1] > scores[2]
    assert scores[1] > scores[3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_ivf_expr_empty_corpus_returns_empty(spark, emb):
    """An empty (or all-null-vector) corpus yields an empty result rather
    than a VOID-typed literal-array analysis error (r5 review)."""
    queries = emb.where(F.col("vec_id") < 3)
    empty = emb.where(F.lit(False))
    out = sim.ivf_topk(queries, empty, k=3, assign="expr")
    assert out.count() == 0


# ---------------------------------------------------------------------------
# persisted minhash signature store (round 6)
# ---------------------------------------------------------------------------

def test_signature_store_backed_pairs_equal_recompute(docs, tmp_path):
    """The store-backed path must be indistinguishable from the recompute
    path: identical pair sets with identical jaccard values, and identical
    CC component labels — the property the *_stored suite twins pin
    against the driver oracle at sf0.01."""
    store = dd.build_signature_store(docs, "doc_id", str(tmp_path / "s"))
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_dedup_pairs(docs, "doc_id", threshold=0.3).collect()
    }
    stored = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_dedup_pairs(
            docs, "doc_id", threshold=0.3, signatures=store
        ).collect()
    }
    assert plain == stored
    plain_cc = {
        (r["doc_id"], r["component"])
        for r in dd.minhash_components(docs, "doc_id", threshold=0.3).collect()
    }
    stored_cc = {
        (r["doc_id"], r["component"])
        for r in dd.minhash_components(
            docs, "doc_id", threshold=0.3, signatures=store
        ).collect()
    }
    assert plain_cc == stored_cc


def test_signature_store_load_and_param_guard(docs, spark, tmp_path):
    """load_signature_store reads back the persisted params; consuming a
    store with mismatched ngram/num_hashes raises instead of silently
    bucketing on wrong signatures, and a raw signature DataFrame missing
    columns is rejected."""
    path = str(tmp_path / "s2")
    dd.build_signature_store(docs, "doc_id", path, ngram=3, num_hashes=32)
    store = dd.load_signature_store(spark, path)
    assert (store.ngram, store.num_hashes) == (3, 32)
    assert "m31" in store.sigs.columns and "m32" not in store.sigs.columns
    with pytest.raises(ValueError, match="built with ngram"):
        dd.minhash_dedup_pairs(
            docs, "doc_id", num_hashes=64, signatures=store
        )
    with pytest.raises(ValueError, match="missing column m63"):
        dd.minhash_dedup_pairs(
            docs, "doc_id", num_hashes=64, signatures=store.sigs
        )
    # matching params work end-to-end off the loaded store
    n = dd.minhash_dedup_pairs(
        docs, "doc_id", num_hashes=32, bands=8, threshold=0.3,
        signatures=store,
    ).count()
    assert n >= 0


def test_signature_store_backed_incremental_equals_recompute(
    docs, tmp_path
):
    """The ingestion-time serving shape: a store built ONCE over the
    corpus, every new batch checked against it without a corpus signature
    pass. Must return exactly the recompute path's pairs, and the
    param-mismatch guard must fire here too."""
    new = docs.where("doc_id % 7 = 3")
    corpus = docs.where("doc_id % 7 <> 3")
    store = dd.build_signature_store(
        corpus, "doc_id", str(tmp_path / "corpus_sigs")
    )
    plain = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in dd.minhash_dedup_against(
            new, corpus, "doc_id", threshold=0.3
        ).collect()
    }
    stored = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in dd.minhash_dedup_against(
            new, corpus, "doc_id", threshold=0.3, corpus_signatures=store
        ).collect()
    }
    assert plain and plain == stored
    with pytest.raises(ValueError, match="built with ngram"):
        dd.minhash_dedup_against(
            new, corpus, "doc_id", num_hashes=32, corpus_signatures=store
        )


def test_repetition_signals_hand_values(spark):
    """Gopher repetition metrics against hand-computed values, incl. the
    short-doc totality edge cases (0/1/2-token docs keep rows; a 2-token
    doc has a bigram but no trigram -> dup frac NULL)."""
    from window_aggregation_spark.operators.text import repetition_signals

    rows = [
        # 6 tokens: bigrams [ab,ba,ab,ba,ab] -> top 'a b' 3/5;
        # trigrams [aba,bab,aba,bab] -> all duplicated -> 4/4
        (1, "a b a b a b"),
        # 4 distinct tokens: no repeated bigram (1/3), no dup trigram (0/2)
        (2, "w x y z"),
        (3, "only"),       # 1 token: no grams at all -> NULL, NULL
        (4, ""),           # 0 tokens
        (5, "two tokens"),  # bigram family only: top 1/1, dup NULL
        (6, None),          # NULL text == empty doc (totality guarantee)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_tokens,
            r.top_ngram_frac and round(r.top_ngram_frac, 6),
            r.dup_ngram_frac if r.dup_ngram_frac is None
            else round(r.dup_ngram_frac, 6),
            r.repetitive,
        )
        for r in repetition_signals(df).collect()
    }
    assert got == {
        1: (6, round(3 / 5, 6), 1.0, True),
        2: (4, round(1 / 3, 6), 0.0, True),  # 1/3 > 0.20 top threshold
        3: (1, None, None, False),
        4: (0, None, None, False),
        5: (2, 1.0, None, True),
        6: (0, None, None, False),
    }


def test_gopher_quality_signals_hand_values(spark):
    """Gopher quality rules against hand-computed values on inputs the
    fixture corpus can't produce: bullets, ellipsis lines, symbol junk,
    letterless words, empty/NULL docs — plus the rule-override path."""
    from window_aggregation_spark.operators.text import (
        quality_signals_gopher,
    )

    rows = [
        # 8 words, all letters, 2 stopwords ('the','of'); mean len
        # = 30/8 = 3.75. Fails ONLY the 50-word minimum.
        (1, "the size of a good corpus grows daily"),
        # bullets: 3 of 4 lines start with a bullet (0.75 <= 0.9 ok),
        # 2 of 4 end with '...' (0.5 > 0.3 -> fail); the 2 ellipses
        # also count per word: 2 / 11 whitespace words ~= 0.18 > 0.1
        (2, "- the first...\n* the second\n• the third...\nplain line"),
        # 4 of 6 words have no letter -> alpha frac 1/3 < 0.8; '#'s:
        # 3 hashes / 6 words = 0.5 > 0.1
        (3, "the 123 456 ### 99 with"),
        (4, ""),     # 0 words: every fraction NULL -> fail
        (5, None),   # NULL text == empty doc
        # the paper tests '#' and '...' ratios SEPARATELY ("either
        # symbol" > 0.1), never their sum: 1 hash + 1 ellipsis over 12
        # words = 0.083 each (both pass) though the sum would be 0.167
        # (ellipsis mid-text so the line-END rule stays out of the way)
        (6, "the pace... of work and that we have kept with # more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in quality_signals_gopher(df).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["stopword_hits"]) == (8, 2)
    assert r1["mean_word_len"] == 30 / 8
    assert (r1["hash_word_ratio"], r1["alpha_word_frac"]) == (0.0, 1.0)
    assert r1["quality_pass"] is False  # word-count minimum only
    r2 = out[2]
    assert r2["bullet_line_frac"] == 3 / 4
    assert r2["ellipsis_line_frac"] == 2 / 4
    assert r2["ellipsis_word_ratio"] == 2 / 11  # 11 whitespace words
    assert r2["quality_pass"] is False
    r3 = out[3]
    assert r3["alpha_word_frac"] == 2 / 6
    assert r3["hash_word_ratio"] == 3 / 6
    assert r3["quality_pass"] is False
    r6 = out[6]
    assert r6["hash_word_ratio"] == 1 / 12
    assert r6["ellipsis_word_ratio"] == 1 / 12
    # both symbol rules pass at 1/12 <= 0.1 (a summed ratio of 2/12
    # would wrongly fail); doc 6 still fails only the 50-word minimum
    relaxed6 = {
        r.doc_id: r.quality_pass
        for r in quality_signals_gopher(
            df, rules={"min_words": 5}
        ).collect()
    }
    assert relaxed6[6] is True
    for d in (4, 5):
        assert out[d]["n_words"] == 0
        assert out[d]["mean_word_len"] is None
        assert out[d]["quality_pass"] is False
    # rule overrides: relax the word minimum and doc 1 passes
    relaxed = {
        r.doc_id: r.quality_pass
        for r in quality_signals_gopher(
            df, rules={"min_words": 5}
        ).collect()
    }
    assert relaxed[1] is True and relaxed[3] is False
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown quality rules"):
        quality_signals_gopher(df, rules={"min_wordz": 1})
    # the ORACLE generator must reject the same typo, or a differential
    # test with a misspelled override silently compares different
    # thresholds
    from window_aggregation_spark.operators.text import (
        quality_signals_gopher_oracle_sql,
    )

    with _pytest.raises(ValueError, match="unknown quality rules"):
        quality_signals_gopher_oracle_sql(rules={"min_wordz": 1})
    # pure projection: no exchange anywhere in the plan
    plan = (
        quality_signals_gopher(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_repetition_signals_full_table_hand_values(spark):
    """The full Gopher n-gram table (top 2..4, dup 5..10) against
    hand-computed values: per-family NULLs where the doc is too short to
    form that family's grams, the published per-n thresholds, and the
    plan invariant that adding families never adds exchanges."""
    from window_aggregation_spark.operators.text import (
        GOPHER_DUP_NGRAM_THRESHOLDS,
        GOPHER_TOP_NGRAM_THRESHOLDS,
        repetition_signals_table,
    )

    assert GOPHER_TOP_NGRAM_THRESHOLDS == {2: 0.20, 3: 0.18, 4: 0.16}
    assert GOPHER_DUP_NGRAM_THRESHOLDS == {
        5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
    }
    rows = [
        # 12 tokens of a repeated 4-cycle "a b c d": n-gram windows =
        # 13-n, each gram determined by its phase (start mod 4), so the
        # phase with the most starts is the top gram and duplicate
        # occurrences = windows whose phase has >= 2 starts:
        #   n=2: 11 windows, phases (3,3,3,2) -> top 3/11
        #   n=3: 10, (3,3,2,2) -> 3/10;  n=4: 9, (3,2,2,2) -> 3/9
        #   n=5: 8, (2,2,2,2) -> dup 8/8;  n=6: 7, (2,2,2,1) -> 6/7
        #   n=7: 6, (2,2,1,1) -> 4/6;     n=8: 5, (2,1,1,1) -> 2/5
        #   n=9: 4 distinct -> 0.0;       n=10: 3 distinct -> 0.0
        (1, "a b c d a b c d a b c d"),
        # 10 distinct tokens: every family defined, no repeats anywhere
        (2, "p q r s t u v w x y"),
        (3, "one"),  # 1 token: no family forms -> all NULL
        (4, None),   # NULL text == empty doc
        # 5 distinct tokens: 2..5-gram families defined, 6..10 NULL;
        # top-2 frac 1/4 = 0.25 > 0.20 -> repetitive on that rule alone
        (5, "j k l m n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_signals_table(df)
    cols = out.columns
    assert cols == [
        "doc_id", "n_tokens",
        "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "dup_5gram_frac", "dup_6gram_frac", "dup_7gram_frac",
        "dup_8gram_frac", "dup_9gram_frac", "dup_10gram_frac",
        "repetitive",
    ]
    got = {
        r.doc_id: tuple(
            v if v is None else round(v, 6) for v in tuple(r)[1:]
        )
        for r in out.collect()
    }
    assert got == {
        1: (12, round(3 / 11, 6), round(3 / 10, 6), round(3 / 9, 6),
            1.0, round(6 / 7, 6), round(4 / 6, 6), round(2 / 5, 6),
            0.0, 0.0, True),
        2: (10, round(1 / 9, 6), round(1 / 8, 6), round(1 / 7, 6),
            0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False),
        3: (1, None, None, None, None, None, None, None, None, None,
            False),
        4: (0, None, None, None, None, None, None, None, None, None,
            False),
        5: (5, round(1 / 4, 6), round(1 / 3, 6), round(1 / 2, 6),
            0.0, None, None, None, None, None, True),
    }
    # scale-shape pin: 9 families ride the SAME two exchanges as one
    # (gram counts + per-doc rollup; the union's short-doc branch adds
    # scans, not shuffles)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange") <= 2, plan


def test_duplicated_sentence_spans_keep_first_and_cut(spark):
    """VERDICT r10 #3: C4's three-sentence-span dedup at sentence grain
    — a 3-sentence passage shared by three docs (with different
    surroundings, so line/doc-grain dedup can't see it) is kept ONLY in
    the globally-first occurrence (lowest (id, pos)); cut_sentence_spans
    removes it from the rest and rebuilds every doc in the canonical
    single-spaced sentence form. The DuckDB oracles mirror both steps."""
    import duckdb as _duck
    import pandas as pd

    shared = "And more here. Also this one. Plus a final sentence."
    docs = [
        (1, f"Doc one opens uniquely. {shared} Doc one closes."),
        (2, f"Doc two differs up front! {shared}"),
        (3, f"{shared} Doc three trails off."),
        (4, "No duplication lives here. Honest. Entirely original text."),
        (5, "Too short."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = dd.duplicated_sentence_spans(df, "doc_id", window=3)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in spans.collect()
    }
    # doc 1 holds the first occurrence (pos 1) -> untouched; docs 2, 3
    # lose exactly the shared window (doc 2 at pos 1, doc 3 at pos 0)
    assert got == {(2, 1, 4, 1), (3, 0, 3, 1)}
    cut = {
        r.doc_id: r.cut_text
        for r in dd.cut_sentence_spans(df, spans, "doc_id").collect()
    }
    assert cut[1] == f"Doc one opens uniquely. {shared} Doc one closes."
    assert cut[2] == "Doc two differs up front!"
    assert cut[3] == "Doc three trails off."
    assert cut[4] == "No duplication lives here. Honest. Entirely original text."
    assert cut[5] == "Too short."
    con = _duck.connect()
    con.register("docs_t", pd.DataFrame(docs, columns=["doc_id", "text"]))
    spans_sql = dd.duplicated_sentence_spans_oracle_sql("docs_t", "doc_id")
    want_spans = {
        tuple(int(x) for x in r) for r in con.execute(
            f"SELECT doc_id, span_start, span_end, n_windows "
            f"FROM ({spans_sql})"
        ).fetchall()
    }
    assert want_spans == got
    want_cut = dict(con.execute(dd.cut_sentence_spans_oracle_sql(
        "docs_t", spans_sql, "doc_id")).fetchall())
    assert {int(k): v for k, v in want_cut.items()} == cut


def test_sentence_spans_against_incremental(spark):
    """Incremental C4: a new batch's spans are marked wherever their
    3-sentence windows already live in the corpus — EVERY new-side
    occurrence (the kept copy is in the corpus), no keep-one exception —
    while novel text and the corpus itself stay untouched; the DuckDB
    oracle mirrors it exactly."""
    import duckdb as _duck
    import pandas as pd

    shared = "And more here. Also this one. Plus a final sentence."
    corpus = [
        (1, f"Corpus doc opens. {shared}"),
        (2, "Entirely corpus-only text lives here. Truly. Really. Yes."),
    ]
    new = [
        (10, f"New doc leads in! {shared} New doc trails off."),
        (11, "Fresh sentences only. Nothing borrowed at all. Honest."),
        (12, f"{shared}"),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    ndf = spark.createDataFrame(new, "doc_id long, text string")
    spans = dd.sentence_spans_against(ndf, cdf, "doc_id", window=3)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in spans.collect()
    }
    assert got == {(10, 1, 4, 1), (12, 0, 3, 1)}
    cut = {
        r.doc_id: r.cut_text
        for r in dd.cut_sentence_spans(ndf, spans, "doc_id").collect()
    }
    assert cut[10] == "New doc leads in! New doc trails off."
    assert cut[11] == "Fresh sentences only. Nothing borrowed at all. Honest."
    assert cut[12] == ""
    con = _duck.connect()
    con.register("corpus_t", pd.DataFrame(corpus, columns=["doc_id", "text"]))
    con.register("new_t", pd.DataFrame(new, columns=["doc_id", "text"]))
    want = {
        tuple(int(x) for x in r)
        for r in con.execute(
            dd.sentence_spans_against_oracle_sql(
                "new_t", "corpus_t", "doc_id"
            )
        ).fetchall()
    }
    assert want == got


def test_sentence_spans_increment_combines_both_relations(spark):
    """The batch-ingest policy (r12): corpus-duplicate windows cut from
    EVERY batch occurrence; batch-internal duplicates keep the
    globally-first batch occurrence; a window that is BOTH (in corpus
    and batch-duplicated) is cut everywhere. One window pass — and the
    result differs from either standalone operator, which is the point
    (composing their merged spans after the fact would mis-index).
    DuckDB oracle mirrors exactly."""
    import duckdb as _duck
    import pandas as pd

    shared = "And more here. Also this one. Plus a final sentence."
    batch_dup = "Batch novel alpha. Batch novel beta. Batch novel gamma."
    corpus = [
        (1, f"Corpus doc opens. {shared}"),
    ]
    new = [
        # corpus window -> cut here AND in doc 12 (no keep-one)
        (10, f"New doc leads in! {shared} New doc trails off."),
        # batch-internal dup -> doc 11 keeps it (first by id), 13 cuts
        (11, f"{batch_dup}"),
        (12, f"{shared}"),
        (13, f"Something else first? {batch_dup}"),
        (14, "Fresh sentences only. Nothing borrowed at all. Honest."),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    ndf = spark.createDataFrame(new, "doc_id long, text string")
    spans = dd.sentence_spans_increment(ndf, cdf, "doc_id", window=3)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in spans.collect()
    }
    assert got == {(10, 1, 4, 1), (12, 0, 3, 1), (13, 1, 4, 1)}
    cut = {
        r.doc_id: r.cut_text
        for r in dd.cut_sentence_spans(ndf, spans, "doc_id").collect()
    }
    assert cut[10] == "New doc leads in! New doc trails off."
    assert cut[11] == batch_dup          # the kept batch copy
    assert cut[13] == "Something else first?"
    assert cut[14].startswith("Fresh sentences only.")
    con = _duck.connect()
    try:
        con.register(
            "corpus_t", pd.DataFrame(corpus, columns=["doc_id", "text"])
        )
        con.register("new_t", pd.DataFrame(new, columns=["doc_id", "text"]))
        want = {
            tuple(int(x) for x in r)
            for r in con.execute(
                dd.sentence_spans_increment_oracle_sql(
                    "new_t", "corpus_t", "doc_id"
                )
            ).fetchall()
        }
    finally:
        con.close()
    assert want == got
    # served from the persisted store == recomputed from the corpus
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        store = dd.build_sentence_hash_store(cdf, "doc_id", f"{tmp}/sh")
        via_store = {
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in dd.sentence_spans_increment(
                ndf, store, "doc_id", window=3
            ).collect()
        }
    assert via_store == got


def test_span_hash_store_grains(spark, tmp_path):
    """r12 grain generalization: a token-grain store serves
    token_spans_against identically to the corpus recompute; grain is
    persisted and re-checked (a sentence-grain store raises in the
    token operator and vice versa — never a silent zero-match)."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(1, "alpha " * 20 + "one two three four five six seven eight "
             "nine ten eleven twelve thirteen fourteen fifteen tail")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "lead in words " + "one two three four five six seven "
              "eight nine ten eleven twelve thirteen fourteen fifteen "
              "and novel trailing content here")],
        "doc_id long, text string",
    )
    tok = dd.build_sentence_hash_store(
        corpus, "doc_id", str(tmp_path / "tok"), grain="token", window=15
    )
    assert tok.grain == "token"
    direct = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.token_spans_against(
            new, corpus, "doc_id", window=15
        ).collect()
    )
    via = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.token_spans_against(
            new, tok, "doc_id", window=15
        ).collect()
    )
    assert direct == via and direct  # non-trivial and equal
    sent = dd.build_sentence_hash_store(
        corpus, "doc_id", str(tmp_path / "sent")
    )
    with _pytest.raises(ValueError, match="grain"):
        dd.token_spans_against(new, sent, "doc_id", window=15)
    with _pytest.raises(ValueError, match="grain"):
        dd.sentence_spans_against(new, tok, "doc_id", window=3)


def test_span_join_strategy_resolution_and_equivalence(spark, tmp_path):
    """r13 (VERDICT r12 #3): the span-hash join sizes itself from the
    store — auto broadcasts at/under SPAN_HASH_BROADCAST_MAX and
    shuffles above; a DataFrame corpus defers to the planner; forced
    regimes are value-identical; folds grow the
    serving-size bound (overcount-safe); compaction refreshes it."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(i, f"First bit {i % 4}. Second bit {i % 3}. Third bit {i % 2}. "
             f"Tail {i}.") for i in range(30)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"First bit {i % 4}. Second bit {i % 3}. Third bit "
                   f"{i % 2}. Fresh {i}.") for i in range(12)],
        "doc_id long, text string",
    )
    store = dd.build_sentence_hash_store(corpus, "doc_id",
                                         str(tmp_path / "s"))
    assert store.serving_size() == store.n_base
    # auto at fixture scale resolves to broadcast; above the cap, shuffle
    assert dd._resolve_span_strategy(store, "auto") == "broadcast"
    small_cap = dd.SentenceHashStore(
        store.hashes, window=3, n_base=dd.SPAN_HASH_BROADCAST_MAX + 1
    )
    assert dd._resolve_span_strategy(small_cap, "auto") == "shuffle"
    # a DataFrame corpus carries no size: the planner decides
    assert dd._resolve_span_strategy(corpus, "auto") == "planner"
    with _pytest.raises(ValueError, match="strategy"):
        dd.sentence_spans_against(new, store, "doc_id",
                                  strategy="hash_partition")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for op in (dd.sentence_spans_against, dd.sentence_spans_increment):
        b = rows(op(new, store, "doc_id", strategy="broadcast"))
        s = rows(op(new, store, "doc_id", strategy="shuffle"))
        a = rows(op(new, store, "doc_id", strategy="auto"))
        assert b == s == a and b, op.__name__

    # folds raise the bound (raw fold rows — the overcount direction);
    # compaction folds them into a fresh exact base count
    before = store.serving_size()
    grown = dd.sentence_hash_store_add(
        new, "doc_id", str(tmp_path / "s"), batch_id=0
    )
    assert grown.serving_size() > before
    compacted = dd.sentence_hash_store_compact(spark, str(tmp_path / "s"))
    assert compacted.n_base == compacted.hashes.distinct().count()
    assert compacted.serving_size() == compacted.n_base


def test_token_spans_increment_keep_one_and_corpus_cut(spark):
    """token_spans_increment combines both relations in one pass: a
    corpus-known run is cut from EVERY batch occurrence, a within-batch
    duplicate run keeps its globally-first (id, pos) occurrence."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon known corpus run here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # doc 10: the corpus run (cut) behind a fresh lead
            (10, "fresh lead alpha beta gamma delta epsilon"),
            # docs 11/12 share a NEW run -> 11 keeps (first), 12 cut
            (11, "one two three four five unique suffix"),
            (12, "other head one two three four five"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id): (r.span_start, r.span_end)
        for r in dd.token_spans_increment(
            new, corpus, "doc_id", window=5
        ).collect()
    }
    assert spans == {10: (2, 7), 12: (2, 7)}  # 11 keeps its copy


def test_codegen_path_canary(spark, sf_dir):
    """The test session runs whole-stage codegen OFF by default (r14 —
    janino compile per unique tiny plan cost ~12% of suite wall-clock;
    see conftest). This canary keeps the CODEGEN execution path covered
    in CI for the suite's widest plan — the 64-aggregate minhash
    signature groupBy — by running it both ways at runtime and requiring
    bit-identical results (codegen is an execution strategy, never a
    semantics change). The driver's oracle gate and bench run codegen-on
    plain sessions, but this fails closer to the change."""
    from window_aggregation_spark.operators.dedup import minhash_signatures
    from window_aggregation_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).limit(120)
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        interpreted = sorted(
            tuple(r) for r in minhash_signatures(docs, "doc_id").collect()
        )
        spark.conf.set(key, "true")
        codegen = sorted(
            tuple(r) for r in minhash_signatures(docs, "doc_id").collect()
        )
    finally:
        spark.conf.set(key, before)
    assert interpreted == codegen and len(codegen) > 0


def test_codegen_path_canary_fused_rank_lookup(spark):
    """The same codegen-vs-interpreted check for the explode + window
    shape: the fused percentile rank lookup (count/rank Window ->
    Generate inline -> one last() lookup Window per aggregate), both
    directions, with nulls and a null-only group."""
    from window_aggregation_spark.operators.window_aggregation import (
        window_aggregate,
    )
    from window_aggregation_spark.spec import (
        AggregateDef,
        Direction,
        OrderKey,
        WindowPlan,
        WindowSpecDef,
    )

    df = spark.createDataFrame(
        [(i, i % 4, float((i * 37) % 23)) for i in range(120)]
        + [(200, 0, None), (201, 9, None)],
        "id int, g int, v double",
    )

    def run(direction):
        plan = WindowPlan(
            spec=WindowSpecDef(
                partition_by=("g",),
                order_by=(OrderKey("v", Direction.parse(direction)),),
            ),
            aggregates=(
                AggregateDef("med", "median", field="v"),
                AggregateDef("p25", "discrete_percentile", field="v",
                             args=("0.25",)),
            ),
        )
        out = window_aggregate(df, plan)
        jplan = out._jdf.queryExecution().executedPlan().toString()
        assert "Generate inline" in jplan and "Window [" in jplan
        return sorted(tuple(r) for r in out.collect())

    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    try:
        for direction in ("ascending", "descending"):
            spark.conf.set(key, "false")
            interpreted = run(direction)
            spark.conf.set(key, "true")
            codegen = run(direction)
            assert interpreted == codegen and len(codegen) == 122
    finally:
        spark.conf.set(key, before)
