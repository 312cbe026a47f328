"""Corpus-preparation operators for training-data pipelines: deterministic
splits, token-budget shard packing, PII redaction.

Extension scope (SURVEY §2.5) — the reference engine stops at windowed
aggregation; these are the surrounding operations a 100 TB pretraining
corpus pipeline needs between dedup and the trainer:

- :func:`split_by_hash` — train/val/test assignment that is a pure
  projection (no shuffle, no sampling state): a portable 60-bit md5 hash
  of the id modulo a grain, cut at cumulative weight thresholds. The same
  row lands in the same split on any engine, any run, any cluster size —
  which is the property that matters for reproducible eval holdouts
  (``sample()`` is seed-and-partitioning dependent; this is not).
- :func:`pack_by_token_budget` — assign documents to fixed-token-budget
  training shards by their exclusive prefix sum of token counts in a
  global deterministic order. The global cumulative sum is the classic
  single-task trap (one ``Window.orderBy`` with no partition key
  serializes the whole corpus through one core); this reuses the
  two-phase chunked decomposition of :mod:`.skew` (local sums per
  order-range chunk + tiny broadcast offsets), so no task ever owns more
  than ~1/chunks of the corpus.
- :func:`redact_pii` — email / IPv4 / phone masking as three nested
  ``regexp_replace`` calls: pure whole-stage-codegen projection, no
  Python in the path. Patterns are deliberately restricted to the regex
  dialect intersection (no lookaround, no backreferences) so the exact
  same patterns run on Java regex (Spark) and RE2 (DuckDB/BigQuery) —
  pinned cross-engine by the ``corpus_redact_pii`` suite oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from window_aggregation_spark.operators.dedup import (
    portable_hash64,
    portable_hash64_duck,
)
from window_aggregation_spark.operators.skew import salted_running_agg
from window_aggregation_spark.operators.text import (
    NON_WS_RE,
    TOKEN_RE,
    lf_lines,
    lf_lines_duck,
    tokens,
)
from window_aggregation_spark.session import checkpoint

# Hash grain for split thresholds: weights are quantized to 1/1_000_000,
# plenty for any realistic split ratio and small enough that the 60-bit
# hash is uniform across residues.
SPLIT_GRAIN = 1_000_000


def _split_cuts(splits: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper residue bound) per split, in insertion order;
    the last split absorbs rounding residue so bounds always cover the
    grain."""
    total = sum(splits.values())
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    names = list(splits)
    cuts: list[tuple[str, int]] = []
    acc = 0.0
    for name in names[:-1]:
        acc += splits[name]
        cuts.append((name, int(round(acc / total * SPLIT_GRAIN))))
    cuts.append((names[-1], SPLIT_GRAIN))
    return cuts


def split_by_hash(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    *,
    alias: str = "split",
) -> DataFrame:
    """Append ``alias`` = deterministic split name per row.

    The residue ``portable_hash64(id) % SPLIT_GRAIN`` is compared against
    cumulative weight thresholds (insertion order of ``splits``). Pure
    codegen projection — no shuffle, no RNG, no driver state — and the
    portable hash makes the assignment reproducible in any SQL engine
    (see :func:`split_by_hash_oracle_expr`).
    """
    residue = F.pmod(
        portable_hash64(F.col(id_col).cast("string")), F.lit(SPLIT_GRAIN)
    )
    expr = None
    for name, bound in _split_cuts(splits):
        cond = residue < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn(alias, expr)


def split_leakage_safe(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    *,
    text_col: str = "text",
    alias: str = "split",
    threshold: float = 0.5,
    component_col: str = "component",
    **minhash_kwargs,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the hash that decides the split is taken over the NEAR-DUP
    CLUSTER id (transitive minhash components), not the document id, so
    every member of a duplicate cluster lands in the same split. Plain
    :func:`split_by_hash` puts two 95%-identical documents in train and
    test with probability ~2·p·(1−p) each — the classic contamination
    that inflates eval scores; here that probability is exactly zero by
    construction.

    Appends ``component_col`` (the cluster label — min reachable id;
    singletons label themselves, so for them the assignment equals the
    plain hash split) and ``alias`` to ``df``. Cost on top of the plain
    split: the minhash+LSH+CC pass (bucketed, never all-pairs) plus one
    id-keyed join back — both already the pinned scale shapes. The split
    itself stays a pure codegen projection over the component id, and
    DuckDB reproduces the whole assignment bit-for-bit (recursive-CTE
    closure + :func:`split_by_hash_oracle_expr` on the component)."""
    from window_aggregation_spark.operators.dedup import minhash_components

    comp = minhash_components(
        df, id_col, text_col, threshold=threshold, **minhash_kwargs
    ).withColumnRenamed("component", component_col)
    labeled = split_by_hash(comp, component_col, splits, alias=alias)
    return df.join(labeled, on=id_col)


def split_by_hash_oracle_expr(id_expr: str, splits: dict[str, float]) -> str:
    """DuckDB CASE expression mirroring :func:`split_by_hash` bit-for-bit."""
    residue = (
        f"(({portable_hash64_duck(f'CAST({id_expr} AS VARCHAR)')}) % {SPLIT_GRAIN}"
        f" + {SPLIT_GRAIN}) % {SPLIT_GRAIN}"
    )
    arms = " ".join(
        f"WHEN {residue} < {bound} THEN '{name}'"
        for name, bound in _split_cuts(splits)
    )
    return f"CASE {arms} END"


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    *,
    chunks: int = 32,
    alias: str = "shard",
) -> DataFrame:
    """Append ``alias`` = training-shard id such that documents fill shards
    of ~``budget`` tokens in ``id_col`` order.

    A document starting at exclusive prefix offset ``p`` lands in shard
    ``floor(p / budget)`` — contiguous greedy fill where a shard overflows
    by at most its final document (the standard sequence-packing shape; an
    exact bin pack is NP-hard and order-destroying). ``id_col`` must be
    unique (it is the deterministic global order) and ``tokens_col``
    non-negative integers.

    Scale: the global running sum uses the two-phase chunked decomposition
    (:func:`.skew.salted_running_agg` with no partition key) — local
    windows per order-range chunk plus a broadcast of ``chunks`` offset
    rows — instead of a single-task global window. Token counts are
    integral longs, so the chunked sum is bit-equal to the plain window.
    """
    run = salted_running_agg(
        df,
        [],
        id_col,
        tokens_col,
        agg="sum",
        chunks=chunks,
        alias="__run_tok",
    )
    exclusive = F.col("__run_tok") - F.col(tokens_col)
    return run.withColumn(
        alias, F.floor(exclusive / F.lit(budget)).cast("long")
    ).drop("__run_tok")


def shard_manifest(
    packed: DataFrame,
    id_col: str,
    tokens_col: str,
    *,
    shard_col: str = "shard",
) -> DataFrame:
    """Per-shard manifest over :func:`pack_by_token_budget` output: doc
    count, token mass, and the id range each shard covers — the dataset
    index a trainer (or a resumable reader) consumes instead of listing
    files. One map-side-combined aggregate whose result is |shards| rows;
    write it next to the shards.

    Because packing is contiguous in ``id_col`` order, the manifest's
    ``[first_id, last_id]`` ranges are disjoint and ordered — pinned in
    tests — so a reader can binary-search its resume point.
    """
    return (
        packed.groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
        )
        .orderBy(shard_col)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    *,
    chunks: int = 32,
) -> DataFrame:
    """Concat-and-chop sequence packing: lay every document's tokens
    end-to-end in ``id_col`` order and cut the stream every ``seq_len``
    tokens — the batch-construction step of an LLM training pipeline
    (each cut is one fixed-length training sequence; documents crossing a
    cut are split across sequences, exactly like GPT-style packing).

    Appends per-document placement metadata a loader materializes
    sequences from without ever re-scanning neighbours:

    - ``tok_start`` — the document's global token offset (exclusive
      prefix sum)
    - ``seq_first`` / ``seq_last`` — the first/last sequence ids the
      document's tokens land in (``seq_last - seq_first`` = number of
      cuts through the document); empty documents pin both to the
      sequence at their offset
    - ``off_in_seq`` — the document's starting offset inside
      ``seq_first``

    Scale: like :func:`pack_by_token_budget`, the global running sum is
    the two-phase chunked decomposition (no single-task window); token
    counts are integral longs, so it is bit-equal to a plain window
    cumsum — which is what the suite oracle recomputes.
    """
    run = salted_running_agg(
        df,
        [],
        id_col,
        tokens_col,
        agg="sum",
        chunks=chunks,
        alias="__run_tok",
    )
    start = (F.col("__run_tok") - F.col(tokens_col)).cast("long")
    end = F.col("__run_tok").cast("long")
    seq_first = F.floor(start / F.lit(seq_len)).cast("long")
    return (
        run.withColumn("tok_start", start)
        .withColumn("seq_first", seq_first)
        .withColumn(
            "seq_last",
            F.greatest(
                seq_first, F.floor((end - 1) / F.lit(seq_len)).cast("long")
            ),
        )
        .withColumn("off_in_seq", F.pmod(start, F.lit(seq_len)).cast("long"))
        .drop("__run_tok")
    )


# Regex dialect intersection (Java regex AND RE2): character classes,
# bounded repetition — no lookaround, no backrefs, and NO \b: Java's \b
# treats non-ASCII letters as word characters (the documented JDK
# \b-vs-\w inconsistency) while RE2's \b is ASCII, so "10.0.0.1的"
# redacts under RE2 but silently survives under Java. Boundary-
# sensitive patterns use explicit CONSUMING guard groups instead —
# (^|[^0-9A-Za-z_]) reproduces the ASCII word boundary identically in
# both engines, with the guard re-emitted via a capture reference —
# and run `passes` times: a consumed trailing guard can hide an
# immediately following match, and after one pass every survivor's
# neighbors are replacement text, so two passes reach the fixed point.
PII_PATTERNS: list[tuple[str, str, str, int]] = [
    # local@domain.tld — conservative on purpose: over-matching text is
    # worse than missing an exotic address when scrubbing a corpus.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>", 1),
    # dotted quad behind ASCII-word-boundary guards. Known over-match:
    # the tail of a 5+-segment version string ("v1.2.3.4.5" ->
    # "v1.<IP>") — '.' is a boundary, exactly like \b treated it.
    ("ipv4",
     r"(^|[^0-9A-Za-z_])(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})"
     r"($|[^0-9A-Za-z_])",
     "{1}<IP>{3}", 2),
    # international-ish phone: leading + optional, 9+ digits with
    # space/hyphen separators, digit terminated (so it never eats a
    # trailing period). Dots are NOT separators — IPv4 stays disjoint.
    ("phone", r"\+?\d[\d \-]{7,}\d", "<PHONE>", 1),
]


def redact_pii(text: Column) -> Column:
    """Mask emails, IPv4 addresses, and phone numbers in ``text``.

    Nested ``regexp_replace`` calls, applied in :data:`PII_PATTERNS`
    order (email before phone, so a phone-looking local part is already
    collapsed); ``{1}``/``{3}`` in a replacement template are the guard
    groups, rendered as Java's ``$n``. Whole-stage codegen; ~one pass
    per pattern application."""
    out = text
    for _, pattern, repl, passes in PII_PATTERNS:
        java_repl = _render_pii_template(repl, "$\\1")
        for _ in range(passes):
            out = F.regexp_replace(out, pattern, java_repl)
    return out


def _render_pii_template(repl: str, group_fmt: str) -> str:
    """Rewrite every ``{n}`` group reference in a replacement template
    to the engine's syntax (``$n`` Java, ``\\n`` RE2) — total over any
    group number, so a new pattern's template can't silently emit a
    literal ``{2}``."""
    import re as _re

    return _re.sub(r"\{(\d)\}", group_fmt, repl)


def redact_pii_oracle_expr(text_expr: str) -> str:
    """DuckDB rendering of :func:`redact_pii` — same patterns, same
    order and pass counts; RE2 needs the explicit ``'g'`` flag and
    spells group references ``\\n`` where Java spells ``$n``."""
    out = text_expr
    for _, pattern, repl, passes in PII_PATTERNS:
        escaped = pattern.replace("'", "''")
        sql_repl = _render_pii_template(repl, "\\\\\\1")
        for _ in range(passes):
            out = f"regexp_replace({out}, '{escaped}', '{sql_repl}', 'g')"
    return out


def prune_frequent_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_doc_frac: float = 0.5,
    alias: str = "pruned",
) -> DataFrame:
    """C4-style boilerplate pruning by document frequency: drop every token
    that appears in more than ``max_doc_frac`` of all documents, preserving
    the original token order of what remains. Returns ``(id_col, alias)``
    with one row per input document (fully-pruned docs keep an empty
    string).

    Scale shape: posexplode (no shuffle) -> per-doc-distinct + docfreq
    count (two shuffles over (token, doc) then token, both with map-side
    combine) -> the frequent-token set, which is tiny BY CONSTRUCTION
    (tokens in >50% of a 100 TB corpus number in the hundreds), is
    broadcast into a left-anti join — the full token stream is never
    shuffled for the filter — then one groupBy(doc) reassembles. The doc
    count enters lazily via a broadcast cross join of a 1-row aggregate, so
    the whole operator is a single plan with no driver-side action.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    docfreq = (
        toks.select(id_col, "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    frequent = (
        docfreq.crossJoin(F.broadcast(n_docs))
        .where(F.col("__df") > F.lit(max_doc_frac) * F.col("__n_docs"))
        .select("tok")
    )
    kept = toks.join(F.broadcast(frequent), on="tok", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias(alias)
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col(alias), F.lit("")).alias(alias))
    )


def prune_duplicated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_doc_frac: float = 0.05,
    alias: str = "pruned_text",
    strategy: str = "array",
    blocklist_join_threshold: int = 4096,
) -> DataFrame:
    """Cross-document LINE-level boilerplate removal (the C4/CCNet
    cleaning step): drop every line that appears in more than
    ``max_doc_frac`` of all documents — nav bars, cookie banners,
    footers, license headers — keeping each document's remaining lines
    in order. The within-document complement is
    :func:`..text.repetition_signals_lines` (which SCORES docs);
    this one EDITS them. Returns ``(id_col, alias, n_pruned_lines)``.

    Line conventions match ``repetition_signals_lines``: CRLF
    normalized to LF, lines split on LF; lines with no non-whitespace
    character are never counted and never removed (blank lines are
    document structure, not boilerplate). NULL text reads as the empty
    document.

    Scale shape — the corpus text is NEVER shuffled: document frequency
    runs over per-doc-distinct content lines (two map-side-combined
    shuffles on the line key), the offending-line set — tiny BY
    CONSTRUCTION (lines in > ``max_doc_frac`` of N docs number at most
    total-line-occurrences / (frac·N)) — collapses to a ONE-ROW array
    aggregate that broadcast-cross-joins back, and reconstruction is a
    pure projection ``filter(lines, ln -> !array_contains(...))`` +
    rejoin. Unlike :func:`prune_frequent_tokens` there is no
    groupBy(doc) reassembly pass: the line array never leaves its row.
    The doc count enters lazily via a second 1-row broadcast aggregate,
    so the whole operator is one plan with no driver-side action.

    Blocklist-scale fallback (round 11 — VERDICT r10 next-round #5):
    the fast path's membership test is a linear scan per line, O(lines
    × |bl|) per document — fine at the published 0.05–0.30 fractions
    where |bl| stays in the tens, quadratic-ish when a tiny
    ``max_doc_frac`` on a boilerplate-heavy corpus grows |bl| into the
    thousands. ``strategy``:

    - ``"array"`` (default): the one-row broadcast-array projection
      above — one plan, no driver action.
    - ``"join"``: broadcast-HASH-join the per-doc-distinct exploded
      content lines against the frequent-line set (hash probe, not
      linear scan), ``collect_set`` the hits into a PER-DOC blocklist
      (only lines the doc actually contains, so the projection's scan
      is bounded by the doc's own hit count), and rejoin on the doc
      id. Costs one extra groupBy(id)+join pair of shuffles carrying
      only ids + matched lines — never the corpus text.
    - ``"auto"``: count the frequent lines (one tiny driver action over
      the already-aggregated line keys) and pick ``"array"`` when
      |bl| <= ``blocklist_join_threshold`` (default 4096: at ~60-char
      boilerplate lines that is a ~0.25 MB broadcast array and ≤4096
      equality probes per line — past it the hash join wins; measured
      crossover in ``OPTIMIZATION_r14.md``, "Retired probes").

    All strategies are value-identical; the fallback hash-matching the
    fast path is pinned in ``tests/test_corpus.py``. ``"auto"``
    checkpoints the frequent-line set before counting it, so the count
    and the chosen strategy share one document-frequency pass.
    """
    if strategy not in ("array", "join", "auto"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    base = df.select(
        F.col(id_col), lf_lines(text_col).alias("__lines")
    )
    content = base.select(
        id_col, F.explode("__lines").alias("__ln")
    ).where(F.col("__ln").rlike(NON_WS_RE))
    n_docs = df.select(F.count(F.lit(1)).alias("__n_docs"))
    frequent_lines = (
        content.distinct()
        .groupBy("__ln")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("__df") > F.lit(max_doc_frac) * F.col("__n_docs"))
        .select("__ln")
    )
    if strategy == "auto":
        # checkpoint BEFORE counting: the count is a full run of the
        # document-frequency aggregation (the operator's dominant
        # shuffles), and without truncation the chosen strategy's plan
        # would re-run the identical aggregation from scratch — auto
        # would cost two corpus passes instead of one (r11 self-review)
        frequent_lines = checkpoint(frequent_lines, eager=True)
        n_bl = frequent_lines.count()
        strategy = "array" if n_bl <= blocklist_join_threshold else "join"
    if strategy == "array":
        pruned = base.crossJoin(
            F.broadcast(frequent_lines.agg(
                F.collect_list("__ln").alias("__bl")
            ))
        )
    else:
        per_doc_bl = (
            content.distinct()
            .join(F.broadcast(frequent_lines), "__ln")
            .groupBy(id_col)
            .agg(F.collect_set("__ln").alias("__bl_hits"))
        )
        # materialize the coalesced per-doc blocklist as a COLUMN before
        # the lambda references it (the measured interpreted-HOF
        # re-evaluation pitfall, OPTIMIZATION_r14.md "Retired probes")
        pruned = base.join(per_doc_bl, on=id_col, how="left").withColumn(
            "__bl",
            F.coalesce(F.col("__bl_hits"), F.array().cast("array<string>")),
        )
    kept = F.filter(
        F.col("__lines"),
        lambda ln: ~(
            ln.rlike(NON_WS_RE) & F.array_contains(F.col("__bl"), ln)
        ),
    )
    return pruned.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(alias),
        (F.size("__lines") - F.size(kept)).cast("int")
        .alias("n_pruned_lines"),
    )


def prune_duplicated_lines_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    max_doc_frac: float = 0.05,
    alias: str = "pruned_text",
) -> str:
    """DuckDB mirror of :func:`prune_duplicated_lines` — same CRLF
    normalization, same blank-line exemption, same one-row
    frequent-line array cross join, same rejoin."""
    return f"""
        WITH base AS (
          SELECT {id_col}, {lf_lines_duck(text_col)} AS lines
          FROM {table}),
        cand AS (
          SELECT DISTINCT {id_col}, unnest(lines) AS ln FROM base),
        freq AS (
          SELECT ln FROM (
            SELECT ln, count(*) AS df FROM cand
            WHERE regexp_matches(ln, '{NON_WS_RE}')
            GROUP BY ln)
          WHERE df > {max_doc_frac!r} * (SELECT count(*) FROM {table})),
        bl AS (
          SELECT coalesce(list(ln), []) AS bl FROM freq),
        kept AS (
          SELECT {id_col}, lines,
                 list_filter(lines, x -> NOT (
                   regexp_matches(x, '{NON_WS_RE}') AND list_contains(bl, x)
                 )) AS k
          FROM base, bl)
        SELECT {id_col},
               -- coalesce: DuckDB array_to_string([]) is NULL, Spark
               -- array_join([]) is '' (the r9 shingle-oracle finding)
               coalesce(array_to_string(k, chr(10)), '') AS {alias},
               CAST(len(lines) - len(k) AS INT) AS n_pruned_lines
        FROM kept
    """


def prune_frequent_tokens_oracle_sql(
    table: str, id_col: str, text_col: str = "text", *,
    max_doc_frac: float = 0.5, alias: str = "pruned",
) -> str:
    """DuckDB mirror of :func:`prune_frequent_tokens` (parallel unnests zip
    positionally, giving the 0-based pos of Spark's posexplode)."""
    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    return f"""
        WITH base AS (SELECT {id_col}, {arr} AS toks FROM {table}),
        tok_pos AS (
          SELECT {id_col}, unnest(toks) AS tok,
                 unnest(range(0, len(toks))) AS pos
          FROM base),
        freq AS (
          SELECT tok FROM (
            SELECT tok, count(DISTINCT {id_col}) AS df FROM tok_pos GROUP BY tok)
          WHERE df > {max_doc_frac!r} * (SELECT count(*) FROM {table})),
        rebuilt AS (
          SELECT {id_col}, string_agg(tok, ' ' ORDER BY pos) AS {alias}
          FROM tok_pos
          WHERE tok NOT IN (SELECT tok FROM freq)
          GROUP BY {id_col})
        SELECT d.{id_col}, coalesce({alias}, '') AS {alias}
        FROM {table} d LEFT JOIN rebuilt USING ({id_col})
    """


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition statistics:
    ``(id_col, n_tok, n_uniq, dup_token_frac, top_bigram_count,
    top_bigram_frac)`` — the standard signals for filtering degenerate
    repetitive documents from a training corpus.

    Token counts are pure projections; the top-bigram count builds bigrams
    with slice+arrays_zip (codegen, no window shuffle), then two
    aggregations on (doc, bigram) and (doc). One row per input document
    (zero-token docs report zeros).

    Related: :func:`..text.repetition_signals` is the FILTER-grade
    variant of the same Gopher family — exact unrounded fractions,
    duplicate-n-gram coverage, NULL (not 0.0) where the metric is
    undefined, and a thresholded verdict column. This one feeds the
    quality-model pipeline (rounded scalar features); keep the two
    conventions distinct — both are pinned by their own oracles."""
    arr = tokens(F.col(text_col))
    base = df.select(F.col(id_col), arr.alias("__toks"))
    n_tok = F.size("__toks")
    # zip_with-free shifted pairing: arrays_zip pads the shorter (shifted)
    # side with null structs; the post-explode filter drops the tail pad.
    shifted = F.slice(
        F.col("__toks"), 2, F.greatest(n_tok - 1, F.lit(0))
    )
    pairs = base.select(
        id_col,
        F.explode(
            F.arrays_zip(F.col("__toks").alias("a"), shifted.alias("b"))
        ).alias("bg"),
    ).where(F.col("bg.b").isNotNull())
    top = (
        pairs.groupBy(id_col, "bg.a", "bg.b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"))
    )
    stats = base.select(
        id_col,
        n_tok.alias("n_tok"),
        F.size(F.array_distinct("__toks")).alias("n_uniq"),
    )
    out = stats.join(top, on=id_col, how="left")
    dup_frac = F.when(
        F.col("n_tok") > 0,
        F.round(F.lit(1.0) - F.col("n_uniq") / F.col("n_tok"), 4),
    ).otherwise(F.lit(0.0))
    top_cnt = F.coalesce(F.col("__top"), F.lit(0).cast("long"))
    top_frac = F.when(
        F.col("n_tok") > 1, F.round(top_cnt / (F.col("n_tok") - 1), 4)
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_tok",
        "n_uniq",
        dup_frac.alias("dup_token_frac"),
        top_cnt.alias("top_bigram_count"),
        top_frac.alias("top_bigram_frac"),
    )


def repetition_profile_oracle_sql(
    table: str, id_col: str, text_col: str = "text"
) -> str:
    """DuckDB mirror of :func:`repetition_profile` (lead() window builds
    the same bigrams the slice+zip projection does)."""
    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    return f"""
        WITH base AS (SELECT {id_col}, {arr} AS toks FROM {table}),
        tok_pos AS (
          SELECT {id_col}, unnest(toks) AS tok,
                 unnest(range(0, len(toks))) AS pos
          FROM base),
        big AS (
          SELECT {id_col}, tok AS a,
                 lead(tok) OVER (PARTITION BY {id_col} ORDER BY pos) AS b
          FROM tok_pos),
        mx AS (
          SELECT {id_col}, max(c) AS top FROM (
            SELECT {id_col}, a, b, count(*) AS c FROM big
            WHERE b IS NOT NULL GROUP BY {id_col}, a, b)
          GROUP BY {id_col})
        SELECT s.{id_col},
               CAST(len(toks) AS INT) AS n_tok,
               CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
               CASE WHEN len(toks) > 0
                    THEN round(1.0 - len(list_distinct(toks))
                               / len(toks), 4)
                    ELSE 0.0 END AS dup_token_frac,
               CAST(coalesce(top, 0) AS BIGINT) AS top_bigram_count,
               CASE WHEN len(toks) > 1
                    THEN round(coalesce(top, 0) / (len(toks) - 1), 4)
                    ELSE 0.0 END AS top_bigram_frac
        FROM base s LEFT JOIN mx USING ({id_col})
    """


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def _duck_shingles(text_expr: str, n: int) -> str:
    """DuckDB mirror of :func:`.dedup.shingles` for token ``n``-grams
    (distinct; a doc shorter than ``n`` tokens yields its whole token
    string as the single shingle, same as the Spark side)."""
    toks = f"regexp_extract_all(lower({text_expr}), '{TOKEN_RE}')"
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return f"""
        CASE WHEN len({toks}) <= {n - 1}
             THEN [coalesce(array_to_string({toks}, ' '), '')]
             ELSE list_distinct(list_transform(
                    generate_series(1, len({toks}) - {n - 1}), i -> {parts}))
        END
    """


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ngram: int = 5,
    bench_text_col: str = "text",
    mode: str = "broadcast",
    expected_bench_grams: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Per-document count of distinct token ``ngram``-grams shared with a
    benchmark/eval set, plus a ``contaminated`` flag — the standard
    train-set decontamination pass (drop or flag any training document that
    contains a verbatim n-gram from an eval benchmark).

    ``mode="broadcast"`` (default): the benchmark side is SMALL by
    definition (eval suites are thousands of documents, not billions) —
    its distinct n-gram set is built with one shuffle over benchmark rows
    only and **broadcast**. The 100 TB training side is never shuffled for
    the match: explode doc n-grams (projection), broadcast-hash left join
    against the benchmark set, then one map-side-combined ``groupBy(id)``
    to count hits. Every document survives to the output (``shingles``
    emits the whole token string for sub-``ngram`` docs, so no doc has
    zero shingles).

    ``mode="bloom"``: for benchmark-gram sets past the broadcast budget
    (a consolidated eval registry, or decontaminating against another
    CORPUS). The gram strings never broadcast — only a bloom filter of
    them (~10 bits/gram at 1 % fpp, built by
    :func:`~.bloom_join.build_bloom_filter`); doc grams are cut by the
    codegen bit-tests BEFORE any shuffle, and the survivors (~true hits
    + fpp of the rest) meet the benchmark grams in a plain shuffled
    left-semi join that removes the false positives — so the RESULT is
    identical to broadcast mode (the suite twin shares one oracle).
    ``expected_bench_grams`` sizes the filter (None = one count() job);
    an under-sized filter saturates and silently degrades to shuffling
    more survivors, never to wrong output.

    Reuses :func:`.dedup.shingles` (distinct n-grams per doc), so the
    overlap count is a count of *distinct* shared n-grams.
    """
    from window_aggregation_spark.operators.dedup import shingles

    if mode not in ("broadcast", "bloom"):
        raise ValueError(f"mode must be 'broadcast' or 'bloom': {mode!r}")
    bench_grams = (
        bench.select(F.explode(shingles(F.col(bench_text_col), ngram)).alias("__g"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), ngram)).alias("__g")
    )
    if mode == "bloom":
        from window_aggregation_spark.operators.bloom_join import (
            bloom_prefilter,
            build_bloom_filter,
        )

        # the gram set is consumed up to three times (count, filter
        # build, exact semi-join) — materialize its explode+distinct
        # once instead of re-shuffling the benchmark text per consumer
        bench_grams = checkpoint(bench_grams, eager=True)
        n = (
            expected_bench_grams
            if expected_bench_grams is not None
            else bench_grams.count()
        )
        bf = build_bloom_filter(
            bench_grams, "__g", expected_items=max(1, n), fpp=fpp
        )
        hits = (
            bloom_prefilter(doc_grams, bf, "__g")
            .join(bench_grams, on="__g", how="left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_ngrams"))
        )
        return (
            docs.select(id_col)
            .join(hits, on=id_col, how="left")
            .select(
                id_col,
                F.coalesce(F.col("n_overlap_ngrams"), F.lit(0))
                .cast("long")
                .alias("n_overlap_ngrams"),
            )
            .withColumn("contaminated", F.col("n_overlap_ngrams") > 0)
        )
    return (
        doc_grams.join(
            F.broadcast(bench_grams.withColumn("__hit", F.lit(1))),
            on="__g",
            how="left",
        )
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap_ngrams")
        )
        .withColumn("contaminated", F.col("n_overlap_ngrams") > 0)
    )


def decontaminate_oracle_sql(
    table: str,
    bench_where: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ngram: int = 5,
) -> str:
    """DuckDB mirror of :func:`decontaminate` where the benchmark set is
    ``SELECT * FROM table WHERE bench_where``."""
    sh = _duck_shingles(text_col, ngram)
    return f"""
        WITH bench AS (
          SELECT DISTINCT unnest({sh}) AS g FROM {table} WHERE {bench_where}),
        grams AS (
          SELECT {id_col}, unnest({sh}) AS g FROM {table})
        SELECT d.{id_col},
               CAST(count(b.g) AS BIGINT) AS n_overlap_ngrams,
               count(b.g) > 0 AS contaminated
        FROM grams d LEFT JOIN bench b ON d.g = b.g
        GROUP BY d.{id_col}
    """


# ---------------------------------------------------------------------------
# stratified sampling / data mixing
# ---------------------------------------------------------------------------

def _rate_bounds(rates: dict[str, float]) -> dict[str, int]:
    """Per-stratum integer residue bounds (quantized once, in Python, so
    Spark and any oracle compare against the exact same literals)."""
    out = {}
    for name, rate in rates.items():
        if not (0.0 <= rate <= 1.0):
            raise ValueError(f"sampling rate for {name!r} must be in [0, 1]")
        out[name] = int(round(rate * SPLIT_GRAIN))
    return out


# Sentinel standing in for a NULL stratum/id inside hash keys and grouping:
# Spark's concat_ws SKIPS a NULL element and its separator ('salt:id') while
# DuckDB's concat keeps the ':' literals around an ignored NULL ('salt::id'),
# so without a coalesce the two engines hash different bytes for the same
# NULL-stratum row. Coalescing to one fixed string on BOTH sides makes the
# keys byte-identical everywhere. A real stratum equal to the sentinel would
# collide with NULL — acceptable for a salt key, documented contract.
_NULL_SENTINEL = "__null__"


def _sample_residue(strata_col: str, id_col: str, salt: str) -> Column:
    """Salted per-row residue: hashing ``salt:stratum:id`` decorrelates the
    sample from :func:`split_by_hash` (same hash of the bare id would make
    "sample 10%" systematically pick the same rows as "first 10% of train",
    collapsing holdout structure). NULL stratum/id coalesce to
    ``_NULL_SENTINEL`` so Spark and the DuckDB oracle hash identical
    bytes (see sentinel comment above)."""
    key = F.concat_ws(
        ":",
        F.lit(salt),
        F.coalesce(F.col(strata_col).cast("string"), F.lit(_NULL_SENTINEL)),
        F.coalesce(F.col(id_col).cast("string"), F.lit(_NULL_SENTINEL)),
    )
    return F.pmod(portable_hash64(key), F.lit(SPLIT_GRAIN))


def _sample_residue_duck(strata_col: str, id_col: str, salt: str) -> str:
    key = (
        f"concat('{salt}', ':', "
        f"coalesce(CAST({strata_col} AS VARCHAR), '{_NULL_SENTINEL}'), ':', "
        f"coalesce(CAST({id_col} AS VARCHAR), '{_NULL_SENTINEL}'))"
    )
    h = portable_hash64_duck(key)
    return f"(({h}) % {SPLIT_GRAIN} + {SPLIT_GRAIN}) % {SPLIT_GRAIN}"


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    *,
    default_rate: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing primitive: keep
    each row with its stratum's rate (e.g. ``{"web": 0.3, "code": 1.0}``
    to re-weight sources into a training mix).

    Pure whole-stage-codegen filter: no shuffle, no RNG state, no driver
    action; the same row survives on any engine, any run, any cluster size
    (``df.sample`` is seed- AND partitioning-dependent, so it is not
    reproducible across repartitions — this is). Strata absent from
    ``rates`` get ``default_rate``.
    """
    bounds = _rate_bounds(rates)
    default_bound = _rate_bounds({"_": default_rate})["_"]
    residue = _sample_residue(strata_col, id_col, salt)
    bound = None
    for name, b in bounds.items():
        cond = F.col(strata_col) == F.lit(name)
        bound = (
            F.when(cond, F.lit(b))
            if bound is None
            else bound.when(cond, F.lit(b))
        )
    bound_expr = (
        F.lit(default_bound) if bound is None else bound.otherwise(default_bound)
    )
    return df.where(residue < bound_expr)


def stratified_sample_oracle_where(
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    *,
    default_rate: float = 0.0,
    salt: str = "strat",
) -> str:
    """DuckDB WHERE clause mirroring :func:`stratified_sample`."""
    bounds = _rate_bounds(rates)
    default_bound = _rate_bounds({"_": default_rate})["_"]
    residue = _sample_residue_duck(strata_col, id_col, salt)
    arms = " ".join(
        f"WHEN {strata_col} = '{name}' THEN {b}" for name, b in bounds.items()
    )
    case = f"CASE {arms} ELSE {default_bound} END" if arms else str(default_bound)
    return f"({residue}) < ({case})"


def _share_tokens(
    targets: dict[str, float], budget_tokens: int
) -> dict[str, int]:
    """Per-source token quota, quantized ONCE in Python so Spark and the
    oracle compare against the exact same integer literals."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    total = sum(targets.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"mixture shares sum to {total} > 1")
    out = {}
    for name, share in targets.items():
        if share < 0:
            raise ValueError(f"mixture share for {name!r} must be >= 0")
        out[name] = int(round(share * budget_tokens))
    return out


def mix_to_token_budget(
    df: DataFrame,
    source_col: str,
    targets: dict[str, float],
    budget_tokens: int,
    id_col: str,
    text_col: str = "text",
    *,
    salt: str = "mix",
) -> DataFrame:
    """Data mixing solved from a TOKEN budget: given target mixture shares
    per source (``{"web": 0.5, "code": 0.3, "books": 0.2}``) and a total
    token budget, derive each source's keep-rate from its actual token
    mass and sample deterministically at that rate — the operator behind
    "train on N tokens with this domain mixture" specs, where the inputs
    are shares of *tokens*, not of documents (sources differ wildly in
    doc length, so doc-rate sampling gets the mixture wrong).

    keep-rate_s = min(1, share_s·budget / tokens_s): an over-represented
    source is downsampled to its quota; an under-represented one is kept
    whole (upsampling is the trainer's job — epochs/weights — not the
    sampler's; the achieved-vs-target gap is visible in the output).

    Scale shape: one map-side-combined ``groupBy(source)`` whose result is
    |sources| rows (broadcast back), then a pure codegen filter — the
    corpus itself is never shuffled. Sampling reuses the salted-residue
    machinery of :func:`stratified_sample`, so membership is reproducible
    across engines, runs, and cluster sizes. Sources absent from
    ``targets`` are dropped (their share is 0).

    Returns ``(id_col, source_col, n_tok)`` for the surviving rows.
    """
    quotas = _share_tokens(targets, budget_tokens)
    base = df.where(
        F.col(source_col).isin(list(quotas))
    ).select(
        F.col(id_col),
        F.col(source_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tok"),
    )
    totals = base.groupBy(source_col).agg(F.sum("n_tok").alias("__tok"))
    quota = None
    for name, q in quotas.items():
        cond = F.col(source_col) == F.lit(name)
        quota = (
            F.when(cond, F.lit(q)) if quota is None else quota.when(cond, F.lit(q))
        )
    # bound = min(GRAIN, ceil(quota·GRAIN / tokens_s)) — double arithmetic
    # in the same order on both engines, so the cut is bit-identical.
    bound = F.least(
        F.lit(SPLIT_GRAIN),
        F.ceil(
            quota.cast("double") * F.lit(SPLIT_GRAIN) / F.col("__tok")
        ),
    )
    residue = _sample_residue(source_col, id_col, salt)
    return (
        base.join(F.broadcast(totals), on=source_col)
        .where(residue < bound)
        .select(id_col, source_col, "n_tok")
    )


def mix_to_token_budget_oracle_sql(
    source_col: str,
    targets: dict[str, float],
    budget_tokens: int,
    id_col: str,
    text_col: str = "text",
    *,
    salt: str = "mix",
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`mix_to_token_budget`."""
    quotas = _share_tokens(targets, budget_tokens)
    srcs = ", ".join(f"'{s}'" for s in quotas)
    arms = " ".join(
        f"WHEN {source_col} = '{name}' THEN {q}" for name, q in quotas.items()
    )
    residue = _sample_residue_duck(source_col, id_col, salt)
    return f"""
        WITH toks AS (
          SELECT {id_col}, {source_col},
                 CAST(len(regexp_extract_all(lower({text_col}),
                      '{TOKEN_RE}')) AS BIGINT) AS n_tok
          FROM {table} WHERE {source_col} IN ({srcs})),
        tot AS (SELECT {source_col}, sum(n_tok) AS t
                FROM toks GROUP BY {source_col})
        SELECT k.{id_col}, k.{source_col}, k.n_tok
        FROM toks k JOIN tot USING ({source_col})
        WHERE ({residue}) < least({SPLIT_GRAIN},
              ceil(CAST((CASE {arms} END) AS DOUBLE) * {SPLIT_GRAIN} / t))
    """


def take_n_per_stratum(
    df: DataFrame,
    strata_col: str,
    n: int,
    id_col: str,
    *,
    salt: str = "strat",
    safety: float = 4.0,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` deterministic rows per stratum: the
    ``n`` smallest salted hash residues (ties broken by id). Equivalent to
    ``ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY residue, id) <= n``
    — but that plain window shuffles the ENTIRE corpus to rank it, and a
    dominant stratum (half the web) serializes through few tasks.

    Scale shape — threshold pre-prune + exact rescue:

    1. one cheap ``groupBy(stratum).count()`` (map-side combined, output is
       |strata| rows, broadcast);
    2. keep rows with ``residue < safety * n / count * GRAIN`` — a pure
       projection that discards ~everything when ``count >> n``, since
       residues are uniform;
    3. strata where the prune kept fewer than ``min(n, count)`` rows (the
       threshold undershot — possible, just exponentially unlikely at
       ``safety=4``) are *rescued*: their full row set re-enters via a
       broadcast semi-join, replacing their pruned subset;
    4. ``row_number`` ranks only the survivors — ~``safety*n`` rows per
       stratum instead of the corpus.

    Steps 2–4 are one lazy plan; the result is bit-identical to the plain
    window ranking (the n smallest residues of a stratum all lie below any
    threshold that keeps ≥ n rows, and undershot strata are ranked in
    full), so the oracle can be the plain ROW_NUMBER query.
    """
    # All grouping/joining/ranking runs on ``__strat`` — the stratum
    # coalesced to a string sentinel — because equi-joins are null-unsafe:
    # joining on the raw column would silently DROP every NULL-stratum row,
    # while the claimed-equivalent plain ROW_NUMBER ranking (and the DuckDB
    # oracle) keep NULL as its own partition. Contract: stratum values must
    # be injective under CAST AS STRING and none may equal the sentinel.
    residue = _sample_residue(strata_col, id_col, salt).alias("__res")
    base = df.withColumn("__res", residue).withColumn(
        "__strat",
        F.coalesce(F.col(strata_col).cast("string"), F.lit(_NULL_SENTINEL)),
    )
    counts = base.groupBy("__strat").agg(F.count(F.lit(1)).alias("__cnt"))
    with_cnt = base.join(F.broadcast(counts), on="__strat")
    thresh = F.least(
        F.lit(SPLIT_GRAIN),
        F.ceil(F.lit(float(safety) * n) / F.col("__cnt") * SPLIT_GRAIN),
    )
    pruned = with_cnt.where(F.col("__res") < thresh)
    # Rescue = strata whose prune kept fewer than min(n, count) rows,
    # INCLUDING zero (coalesce on the left join) — one |strata|-row plan
    # instead of the former short-strata groupBy + empty-strata anti-join
    # + distinct union (three extra exchanges for identical output).
    kept = pruned.groupBy("__strat").agg(F.count(F.lit(1)).alias("__kept"))
    rescue = (
        counts.join(F.broadcast(kept), on="__strat", how="left")
        .where(
            F.coalesce(F.col("__kept"), F.lit(0))
            < F.least(F.lit(n), F.col("__cnt"))
        )
        .select("__strat")
    )
    candidates = pruned.join(
        F.broadcast(rescue), on="__strat", how="left_anti"
    ).select(base.columns).unionByName(
        base.join(F.broadcast(rescue), on="__strat", how="left_semi")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__strat").orderBy(F.col("__res"), F.col(id_col))
    return (
        candidates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__res", "__rn", "__strat")
    )


def take_n_per_stratum_oracle_sql(
    table: str,
    strata_col: str,
    n: int,
    id_col: str,
    cols: str,
    *,
    salt: str = "strat",
) -> str:
    """DuckDB mirror: the PLAIN window ranking :func:`take_n_per_stratum`
    is provably equivalent to — which is exactly the point of the oracle."""
    residue = _sample_residue_duck(strata_col, id_col, salt)
    return f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY {strata_col}
                   ORDER BY {residue}, {id_col}) AS rn
          FROM {table})
        WHERE rn <= {n}
    """


# ---------------------------------------------------------------------------
# reproducible corpus shuffle
# ---------------------------------------------------------------------------

def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    salt: str = "shuffle",
    num_partitions: int | None = None,
    alias: str = "shuffle_key",
) -> DataFrame:
    """Reproducible global shuffle — the training-order randomization pass:
    rows globally ordered by a salted portable hash of the id (ties by id),
    so the "random" order is identical on any engine, any run, any cluster
    size, and changing ``salt`` is a fresh epoch permutation.

    Scale shape: ``repartitionByRange`` + ``sortWithinPartitions`` — Spark's
    scale-safe global sort (range boundaries from a sampled sketch, every
    partition sorts locally; no single task ever owns the global order,
    unlike a bare ``Window.orderBy`` rank). The hash key is kept in the
    output (``alias``) so downstream shard writers and resumed epochs can
    re-derive position without re-sorting.
    """
    key = F.pmod(
        portable_hash64(
            F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
        ),
        F.lit(SPLIT_GRAIN),
    )
    out = df.withColumn(alias, key)
    n = num_partitions or out.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"
    )
    return out.repartitionByRange(
        int(n), F.col(alias), F.col(id_col)
    ).sortWithinPartitions(F.col(alias), F.col(id_col))


def deterministic_shuffle_key_duck(id_expr: str, salt: str = "shuffle") -> str:
    """DuckDB rendering of the shuffle key."""
    h = portable_hash64_duck(f"concat('{salt}', ':', CAST({id_expr} AS VARCHAR))")
    return f"(({h}) % {SPLIT_GRAIN} + {SPLIT_GRAIN}) % {SPLIT_GRAIN}"


# ---------------------------------------------------------------------------
# context-window chunking
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
    keep_empty: bool = False,
) -> DataFrame:
    """Split each document into token chunks of ``chunk_tokens`` with
    ``overlap`` tokens of context carried between consecutive chunks — the
    context-window splitting step between corpus prep and the trainer.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk is the first one
    whose window reaches the end of the document (no degenerate tail that
    is pure overlap). Output: ``(id, chunk_id, chunk_text, n_tokens)``,
    one row per chunk, ``chunk_id`` 0-based.

    Pure projection + ``posexplode`` — no shuffle, no Python; the token
    array is built once per document and sliced per chunk inside codegen.
    Empty documents produce no rows unless ``keep_empty`` (then one empty
    chunk 0), so a count of output rows is a count of real training
    chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("chunk_documents requires 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    # number of chunks: ceil(max(n - overlap, 0) / stride), minimum 1 when
    # the doc has any tokens (or keep_empty)
    n = F.size(toks)
    n_chunks = F.ceil(F.greatest(n - F.lit(overlap), F.lit(0)) / F.lit(stride))
    n_chunks = F.greatest(
        n_chunks, F.lit(1) if keep_empty else (n > 0).cast("long")
    ).cast("int")
    # sequence(0, -1) yields a DESCENDING [0, -1] (Spark infers step -1
    # when start > stop), so zero-chunk docs need an explicit empty array
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(ids).alias("__pos", "chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return base.select(
        id_col,
        F.col("chunk_id"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), start + 1, chunk_tokens)
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.size(F.col("__toks")) - start
        ).cast("int").alias("n_tokens"),
    )


def chunk_documents_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> str:
    """DuckDB mirror of :func:`chunk_documents` (keep_empty=False)."""
    stride = chunk_tokens - overlap
    arr = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}')"
    return f"""
        WITH base AS (
          SELECT {id_col}, {arr} AS toks,
                 CAST(greatest(ceil(greatest(len({arr}) - {overlap}, 0)
                                    / {stride}.0),
                               CASE WHEN len({arr}) > 0 THEN 1 ELSE 0 END)
                      AS INT) AS nc
          FROM {table}),
        chunks AS (
          SELECT {id_col}, toks,
                 CAST(unnest(range(0, nc)) AS INT) AS chunk_id
          FROM base)
        SELECT {id_col}, chunk_id,
               array_to_string(toks[chunk_id * {stride} + 1 :
                                    chunk_id * {stride} + {chunk_tokens}],
                               ' ') AS chunk_text,
               CAST(least({chunk_tokens},
                          len(toks) - chunk_id * {stride}) AS INT)
                 AS n_tokens
        FROM chunks
    """


# ---------------------------------------------------------------------------
# weighted sampling without replacement
# ---------------------------------------------------------------------------

_U_DENOM = float(1 << 60)  # portable_hash64 is 60-bit -> (h+1)/2^60 in (0,1]


def weighted_sample_n(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    *,
    salt: str = "ws",
) -> DataFrame:
    """Exactly-n weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis exponential-sort): each row draws the deterministic
    pseudo-uniform ``u = (portable_hash64(salt:id) + 1) / 2^60`` and the
    ``n`` rows with the largest ``ln(u) / weight`` survive — equivalent
    to ranking by ``u^(1/w)``, so a row's survival probability is
    proportional to its weight, with no replacement and no RNG state.

    Deterministic on any engine / cluster size / partitioning (unlike
    ``df.sample``): ``u`` is exact on both sides (bigint + 1, cast to
    double, divided by a power of two), and the single transcendental
    ``ln`` would need two sort keys within ~1 ulp of each other at the
    cutoff to flip a row — with n distinct md5-derived uniforms the
    nearest-pair gap is ~1/n^2, orders of magnitude above 1e-16.

    Rows with NULL, NaN, or non-positive weight are excluded (a
    zero-weight row must never be sampled and the ln/w key would be
    undefined — and NaN compares > 0 under both engines' total ordering
    and would sort FIRST, hijacking sample slots). NULL ids coalesce to
    ``_NULL_SENTINEL`` so both engines hash identical bytes.

    Scale shape: a pure codegen projection followed by a global top-n —
    Spark's TakeOrderedAndProject computes per-partition partial top-n
    and merges ONLY n rows per partition on the driver-side reduce: no
    global sort, no shuffle of the corpus.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    w = F.col(weight_col).cast("double")
    h = portable_hash64(
        F.concat(
            F.lit(salt), F.lit(":"),
            F.coalesce(F.col(id_col).cast("string"), F.lit(_NULL_SENTINEL)),
        )
    )
    u = (h + F.lit(1)).cast("double") / F.lit(_U_DENOM)
    key = F.log(u) / w
    return (
        df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__wkey")
    )


def weighted_sample_n_oracle_sql(
    table: str,
    id_col: str,
    weight_col: str,
    n: int,
    *,
    select_cols: str,
    salt: str = "ws",
) -> str:
    """DuckDB SQL mirroring :func:`weighted_sample_n` op-for-op (same
    hash, same (h+1)/2^60 uniform, same ln-then-divide association)."""
    h = portable_hash64_duck(
        f"concat('{salt}', ':', "
        f"coalesce(CAST({id_col} AS VARCHAR), '{_NULL_SENTINEL}'))"
    )
    return f"""
    SELECT {select_cols} FROM (
      SELECT *,
             LN(CAST(({h}) + 1 AS DOUBLE) / CAST({_U_DENOM!r} AS DOUBLE))
               / CAST({weight_col} AS DOUBLE) AS __wkey
      FROM {table}
      WHERE {weight_col} IS NOT NULL
        AND NOT isnan(CAST({weight_col} AS DOUBLE))
        AND CAST({weight_col} AS DOUBLE) > 0
      ORDER BY __wkey DESC, {id_col} ASC LIMIT {n})
    """


def filter_blocklisted_pages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    words,
    strategy: str = "auto",
    blocklist_join_threshold: int = 4096,
) -> DataFrame:
    """The C4 dirty-word PAGE filter (Raffel et al. 2020 §2.2, public:
    "removed any page that contained any word on the [blocklist]") as a
    bring-your-own-list operator — :func:`..text.c4_clean` deliberately
    does not bundle a word list, this is the operator a deployment
    plugs its curated list into. Word-grain, case-insensitive matching
    under the repo's ``[a-z0-9]+`` tokenizer: a listed word hits iff it
    occurs as a whole token ('class' never hits on a list containing
    'ass'; phrases are rejected at validation — split them into their
    decisive single word or pre-mark pages upstream).

    Appends ``(n_blocklist_hits, blocklist_pass)`` to the input:
    ``n_blocklist_hits`` counts the DISTINCT listed words present
    (occurrence counts would make the verdict depend on list
    duplicates; the list is deduped on entry), ``blocklist_pass`` is
    the C4 keep verdict (zero hits). Callers filter on the verdict.

    ``words`` is a Python list/tuple of words, or a single-column
    DataFrame for lists that live in storage. ``strategy``:

    - ``"array"``: one ``array_intersect`` against a literal array —
      a pure projection fused into the scan, zero shuffles. The
      membership probe is a hash set build per row over the doc's
      tokens; the right bound is the broadcast-literal size, same
      calculus as :func:`prune_duplicated_lines`.
    - ``"join"``: explode per-doc-DISTINCT tokens, hash-join against
      the blocklist relation, count hits per doc, left-join the counts
      back on the id. The token-matching shuffles carry only
      (id, token), and the blocklist side is a relation the planner can
      broadcast or sort-merge as its size demands: the 100 TB shape for
      six-figure lists no literal array should hold. The count
      re-attach join is id-keyed: the hit-count side is (id, count)
      rows for hit docs only (usually broadcast-able), and when a
      caller keeps only the verdict columns — the normal
      filter-pipeline shape, pinned by the suite row — column pruning
      empties the corpus side down to ids, so no exchange ever carries
      document text; a caller that carries the text THROUGH a
      sort-merge-scale re-attach pays one id-keyed payload shuffle,
      the same price as any enrichment join.
    - ``"auto"``: the list size is KNOWN driver-side (unlike
      prune_duplicated_lines' lazily-counted frequent-line set, a
      Python list needs no action to measure): ``len(words) <=
      blocklist_join_threshold`` picks array, above it join; a
      DataFrame list always routes to join.

    Both strategies are value-identical (pinned in tests). NULL text
    reads as the empty page: zero hits, passes.
    """
    if strategy not in ("array", "join", "auto"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(text)

    if isinstance(words, DataFrame):
        if strategy == "array":
            raise ValueError(
                "strategy='array' needs an in-memory word list; a "
                "DataFrame blocklist routes through strategy='join'"
            )
        wcol = words.columns[0]
        bl = words.select(
            F.lower(F.col(wcol).cast("string")).alias("__bl_word")
        ).distinct()
        resolved = "join"
    else:
        seen, norm = set(), []
        for w in words:
            lw = str(w).lower()
            if not lw or not all(c.isascii() and c.isalnum() for c in lw):
                raise ValueError(
                    f"blocklist word {w!r} is not a single "
                    f"[a-z0-9]+ token (phrases are not supported)"
                )
            if lw not in seen:
                seen.add(lw)
                norm.append(lw)
        if strategy == "auto":
            resolved = (
                "array" if len(norm) <= int(blocklist_join_threshold)
                else "join"
            )
        else:
            resolved = strategy
        if resolved == "join":
            spark = df.sparkSession
            bl = spark.createDataFrame(
                [(w,) for w in norm], "__bl_word string"
            )

    if resolved == "array":
        if norm:
            hits = F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in norm])
            ))
        else:
            hits = F.lit(0)
        return df.select(
            "*",
            hits.cast("int").alias("n_blocklist_hits"),
            (hits == 0).alias("blocklist_pass"),
        )

    # join regime: per-doc-distinct tokens so the count is distinct
    # listed words present, matching array_intersect's set semantics
    doc_toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(toks)).alias("__tok")
    )
    hit_counts = (
        doc_toks.join(bl, doc_toks["__tok"] == bl["__bl_word"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_hits"))
    )
    joined = df.join(hit_counts, on=id_col, how="left")
    n_hits = F.coalesce(F.col("__n_hits"), F.lit(0)).cast("int")
    return joined.select(
        *[F.col(c) for c in df.columns],
        n_hits.alias("n_blocklist_hits"),
        (n_hits == 0).alias("blocklist_pass"),
    )


def filter_blocklisted_pages_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    words,
    select_cols: str | None = None,
) -> str:
    """DuckDB mirror of :func:`filter_blocklisted_pages` — same
    tokenizer, same distinct-words-present count (``list_filter`` over
    the DEDUPED word list against the token list, so list duplicates
    cannot inflate the count in either engine), same NULL-text-as-empty
    coalesce. One formulation serves both operator strategies: the
    value-identity of array vs join is an operator-side invariant the
    shared oracle string then hash-checks end to end."""
    seen, norm = set(), []
    for w in words:
        lw = str(w).lower()
        if lw not in seen:
            seen.add(lw)
            norm.append(lw)
    toks = (
        f"regexp_extract_all(lower(coalesce({text_col}, '')), "
        f"'{TOKEN_RE}')"
    )
    wl = "[" + ", ".join(f"'{w}'" for w in norm) + "]"
    hits = (
        f"len(list_filter({wl}, w -> list_contains({toks}, w)))"
        if norm else "0"
    )
    cols = select_cols if select_cols is not None else f"{id_col}"
    return (
        f"SELECT {cols}, CAST({hits} AS INT) AS n_blocklist_hits, "
        f"({hits}) = 0 AS blocklist_pass FROM {table}"
    )
