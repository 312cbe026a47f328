"""The bench probes are part of the per-round evidence chain — pin their
structure and invariants at sf0.001 so a probe regression can't silently
produce a malformed BENCH record. Timings themselves are not asserted."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


@pytest.fixture(scope="module", autouse=True)
def _codegen_on(spark):
    """This module's tests are COMPUTE-heavy (real probe workloads /
    vector math), where whole-stage codegen pays for its compile cost —
    measured 2x slower interpreted for the CC scale probe (8.9 -> 19.3 s)
    when r14 turned codegen off session-wide for the tiny-plan majority.
    Flip it back on for this module only (runtime-settable conf)."""
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, before)


def test_scaled_dir_builder_shifts_keys_and_remaps_text(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "scaled")
    bench._ensure_scaled_dir(spark, sf_dir, out_dir, copies=2)
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = spark.read.parquet(f"{out_dir}/documents.parquet")
    assert big.count() == 2 * src.count()
    # copies must not collide on ids, and copy 1's text is re-mapped
    assert big.select("doc_id").distinct().count() == big.count()
    li = spark.read.parquet(f"{out_dir}/lineitem.parquet")
    src_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert li.count() == 2 * src_li.count()
    # second build is a no-op (idempotence marker)
    bench._ensure_scaled_dir(spark, sf_dir, out_dir, copies=2)
    assert (tmp_path / "scaled" / "_BUILT").exists()


def test_cc_scale_probe_shape(spark, sf_dir):
    out = bench.cc_scale_probe(spark, sf_dir, scales=(1,))
    s = out["scales"]["1x"]
    assert s["documents"] > 0
    assert s["cc_rounds"] >= 1
    assert s["verified_pairs"] <= s["candidate_pairs"]
    assert s["component_rows"] == s["documents"]


def test_spread_scale_probe_shape(spark, sf_dir):
    ids_before = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs()
        .keySet().toArray()
    }
    out = bench.spread_scale_probe(spark, sf_dir, scales=(1,))
    s = out["scales"]["1x"]
    assert s["documents"] > 0
    # at fixture scale the one sub-MB documents file cannot fill one
    # max-size split per core, so the spread must be ACTIVE here (the
    # probe's point is to record where it turns off as the input grows;
    # spread_target returns only None or defaultParallelism)
    assert s["spread_target"] is not None and s["spread_target"] >= 1
    for name in (
        "pipeline_gopher_filter", "dedup_minhash_lsh",
        "dedup_substring_spans",
    ):
        assert s[name]["sec"] > 0
    # the probe must not leave its builds' barrier checkpoints pinned for
    # the rest of the session (review finding r14: the gopher build
    # localCheckpoints the spread corpus per rep) — the per-scale
    # persisted-RDD diff cleanup has to restore the pre-probe id set
    ids_after = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs()
        .keySet().toArray()
    }
    # no NEW ids may survive the probe; pre-existing ids are allowed to
    # DISAPPEAR (the ContextCleaner GCs earlier tests' blocks at any time)
    assert ids_after - ids_before == set(), (
        f"probe leaked persisted RDDs: {sorted(ids_after - ids_before)}"
    )


def test_calibration_probe_shape(spark):
    """The noise-control workload (VERDICT r9 #2): positive times,
    median is the middle sample, and the workload string names what
    was run (the recording must be self-describing)."""
    out = bench.calibration_probe(spark, reps=3)
    assert len(out["times_sec"]) == 3
    assert all(t > 0 for t in out["times_sec"])
    assert out["median_sec"] == sorted(out["times_sec"])[1]
    assert "xxhash64" in out["workload"]


def test_scaled_docs_copies_are_not_near_duplicates(spark, sf_dir, tmp_path):
    """Past 9 copies the single-rotation remap would repeat; the composed
    two-alphabet remap must keep copy 0 and copy 9 texts distinct."""
    out = str(tmp_path / "docs12x")
    bench._ensure_scaled_docs(spark, sf_dir, out, 12)
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{out}/documents.parquet")
    base = df.where(F.col("doc_id") < 10**9).select(
        F.col("doc_id").alias("k"), F.col("text").alias("t0"))
    copy9 = df.where(
        (F.col("doc_id") >= 9 * 10**9) & (F.col("doc_id") < 10 * 10**9)
    ).select((F.col("doc_id") - 9 * 10**9).alias("k"),
             F.col("text").alias("t9"))
    j = base.join(copy9, "k")
    assert j.count() > 0
    assert j.where(F.col("t0") == F.col("t9")).count() == 0


def test_calibrated_headline_value():
    """VERDICT r10 #2: the calibrated headline divides the raw value by
    (run calibration / pinned reference). With r10's own recorded
    medians the factor is ~1.0 (the reference IS their geometric mean);
    a 2x-slower host halves the calibrated value."""
    base = bench.calibrated_value(
        44.2, {"median_sec": 0.157}, {"median_sec": 0.115}
    )
    assert abs(base["host_factor"] - 1.0) < 0.02
    assert abs(base["value_calibrated"] - 44.2) < 1.0
    slow = bench.calibrated_value(
        44.2, {"median_sec": 0.314}, {"median_sec": 0.230}
    )
    assert abs(slow["host_factor"] - 2.0) < 0.04
    assert abs(slow["value_calibrated"] - 22.1) < 1.0


def test_vs_prev_round_diagnostic(monkeypatch):
    """The per-query shift diagnostic: median ratio over common queries
    against the newest BENCH_r*.json record, empty-safe, and guarded
    against cross-scale-factor comparison (a ratio across sf is noise)."""
    import json
    from pathlib import Path

    recs = sorted(Path(bench.__file__).parent.glob("BENCH_r*.json"))
    assert recs, "repo carries BENCH records"
    rec = json.loads(recs[-1].read_text())["parsed"]
    prev = rec["queries"]
    monkeypatch.setenv(
        "SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{rec['sf']}"
    )
    same = bench.vs_prev_round(dict(prev))
    assert same["vs_prev_round"]["median_query_ratio"] == 1.0
    assert same["vs_prev_round"]["n_common"] == len(prev)
    assert bench.vs_prev_round({"nonexistent_query": 1.0}) == {}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    assert bench.vs_prev_round(dict(prev)) == {}


def test_write_detail_guarded_cannot_clobber_other_sf(tmp_path):
    """VERDICT r12 what's-wrong #2: two rounds running, an off-sf smoke
    run overwrote the committed sf0.1 recording. The guard must (a)
    always write the per-sf file, (b) refuse to touch the canonical
    BENCH_DETAIL.json when it records a DIFFERENT sf, (c) allow
    same-sf refresh and --force, (d) claim corrupt/missing recordings."""
    import json

    d = str(tmp_path)
    # fresh dir: canonical + per-sf both written
    r1 = bench.write_detail_guarded({"sf": 0.1, "value": 1}, d)
    assert r1["canonical"] and r1["per_sf"].endswith("BENCH_DETAIL.0.1.json")
    assert json.load(open(f"{d}/BENCH_DETAIL.json"))["sf"] == 0.1

    # off-sf smoke run: per-sf written, canonical untouched
    r2 = bench.write_detail_guarded({"sf": 0.001, "value": 2}, d)
    assert r2["canonical"] is None and "sf=0.001" in r2["skipped_reason"]
    assert json.load(open(f"{d}/BENCH_DETAIL.json"))["value"] == 1
    assert json.load(open(f"{d}/BENCH_DETAIL.0.001.json"))["value"] == 2

    # same-sf refresh overwrites; --force crosses sf
    r3 = bench.write_detail_guarded({"sf": 0.1, "value": 3}, d)
    assert r3["canonical"] is not None
    assert json.load(open(f"{d}/BENCH_DETAIL.json"))["value"] == 3
    r4 = bench.write_detail_guarded({"sf": 0.001, "value": 4}, d, force=True)
    assert r4["canonical"] is not None
    assert json.load(open(f"{d}/BENCH_DETAIL.json"))["sf"] == 0.001

    # corrupt recording is claimed rather than wedging the run
    with open(f"{d}/BENCH_DETAIL.json", "w") as f:
        f.write("{not json")
    r5 = bench.write_detail_guarded({"sf": 0.1, "value": 5}, d)
    assert r5["canonical"] is not None
    assert json.load(open(f"{d}/BENCH_DETAIL.json"))["value"] == 5
