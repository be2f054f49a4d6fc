"""Corpus-assembly operators: the steps between "cleaned documents"
and "training batches" in a large-scale pipeline — sequence packing,
deterministic corpus shuffling with split assignment, and source
mixing to target weights.

These extend the reference's batch-ETL surface (scripts/
transformation.py's clean→aggregate→write shape) with the corpus-prep
stages an LLM data pipeline runs after dedup/quality filtering.  All
randomness is md5-derived (engine-portable, reproducible), all
arithmetic is integer-exact, so every operator is value-checkable
against a DuckDB oracle.

Scale notes (100 TB):
- ``pack_sequences`` shuffles once on the shard key (``source``) and
  sorts within shards; shards are the parallel unit, so a skewed
  source is handled by splitting it into sub-shards upstream (the
  pack ids stay deterministic because offsets are per-shard).
- ``shuffle_split`` is a pure projection (zero shuffle): the shuffle
  ORDER is the hash key itself — consumers export in key order with
  ``repartitionByRange(shuffle_key)``, which Spark range-samples
  without a global sort bottleneck.
- ``source_mix`` aggregates per-source counts (|sources| rows),
  derives integer keep-thresholds on the driver-free broadcast path,
  and rescans the corpus once with a broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table

CTX_TOKENS = 256  # pack capacity (tokens) — fixed for determinism

#: fraction boundaries for split assignment, in percent of hash space
TRAIN_PCT = 80
VAL_PCT = 90  # [80, 90) val, [90, 100) test


def _hash_mod(prefix: str, key, mod: int) -> F.Column:
    """First 8 md5 hex digits of ``prefix || key`` as BIGINT, mod m —
    the repo-wide portable deterministic draw (same digits DuckDB
    extracts with ``('0x' || substr(md5(...), 1, 8))::BIGINT``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % mod
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid head to
    tail per source shard in doc_id order and cut every ``CTX_TOKENS`` tokens
    — the standard packing used to build fixed-length training
    contexts without padding waste.

    Emits one row per document with its shard stream offset, the pack
    it starts in, and how many packs it spans (a document longer than
    the remaining pack space crosses the boundary — concat-then-chunk
    semantics, not greedy bin packing, so the mapping is a pure
    prefix-sum and needs ONE shuffle on the shard key).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select("source", "doc_id", n_tokens.alias("n_tokens"))
    # Materialize the prefix sum ONCE as a column: deriving all three
    # outputs from the same window expression would otherwise evaluate
    # the running sum once per reference in the Window operator.
    cum = sized.withColumn("cum", F.sum("n_tokens").over(w))
    off = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "source",
        "doc_id",
        "n_tokens",
        off.alias("offset_in_shard"),
        F.floor(off / CTX_TOKENS).cast("long").alias("pack_id"),
        (F.floor((F.col("cum") - 1) / CTX_TOKENS) - F.floor(off / CTX_TOKENS) + 1)
        .cast("long")
        .alias("n_packs_spanned"),
    )


def shuffle_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + train/val/test assignment.

    The shuffle order IS the md5 key: sorting by ``shuffle_key``
    produces the same permutation on any engine, any partitioning, any
    run — unlike ``df.orderBy(rand())``.  Split membership uses an
    INDEPENDENT hash draw (different prefix), so resizing the split
    fractions never re-shuffles the order, and vice versa.

    This operator is a zero-shuffle projection; the exporter applies
    ``repartitionByRange("shuffle_key")`` at write time, which samples
    range bounds instead of globally sorting through one partition.
    """
    docs = load_table(spark, sf_dir, "documents")
    split_pct = _hash_mod("split-", F.col("doc_id"), 100)
    return docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("shuffle-"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
        _hash_mod("shuffle-", F.col("doc_id"), 1024)
        .cast("int")
        .alias("shuffle_bucket"),
        F.when(split_pct < TRAIN_PCT, F.lit("train"))
        .when(split_pct < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _source_weight() -> F.Column:
    """Deterministic integer mixing weight per source: 1 + (numeric
    suffix mod 3) — src0→1, src1→2, src2→3, src3→1, …  Stands in for
    a configured mixing table; integer weights keep every downstream
    threshold exact."""
    return 1 + (
        F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("long") % 3
    )


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each source so the kept corpus matches target mixing
    weights, keeping ALL of the bottleneck source (the one whose
    supply-to-weight ratio is smallest).

    Mechanics: with per-source supply n_s and weight W_s, the
    bottleneck s* minimizes n_s/W_s; every source keeps
    ``floor(1e6 * W_s * n_s* / (W_s* * n_s))`` parts-per-million of its
    documents via an md5 draw.  All thresholds are BIGINT arithmetic —
    bit-identical across engines.  Tie on the ratio breaks to the
    smaller source name (compared as exact integer cross-products, no
    float ratios anywhere).

    Plan shape: one |sources|-row aggregate, a 1-row bottleneck
    reduction crossed back over the source table, and ONE corpus rescan
    with a broadcast join — the same stats-rescore shape as
    ``outliers.price_outliers``.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("weight", _source_weight())
    )
    # Bottleneck = argmin n_s/W_s, compared exactly: a/b < c/d  ⟺
    # a*d < c*b for positive integers.  min_by over a sortable struct
    # gives the argmin in one reduction; the (n*1e6)/w integer quotient
    # ranks identically to the rational and ties break on source asc.
    star = counts.agg(
        F.min_by(
            F.struct("n_docs", "weight"),
            F.struct(
                (F.col("n_docs") * 1000000 / F.col("weight")).cast("long"),
                F.col("source"),
            ),
        ).alias("s")
    ).select(
        F.col("s.n_docs").alias("n_star"), F.col("s.weight").alias("w_star")
    )
    cuts = counts.crossJoin(F.broadcast(star)).select(
        "source",
        (
            (F.lit(1000000) * F.col("weight") * F.col("n_star"))
            / (F.col("w_star") * F.col("n_docs"))
        )
        .cast("long")
        .alias("cut_ppm"),
    )
    drawn = docs.select(
        "doc_id", "source", _hash_mod("mix-", F.col("doc_id"), 1000000).alias("draw")
    )
    return (
        drawn.join(F.broadcast(cuts), "source")
        .where(F.col("draw") < F.col("cut_ppm"))
        .select("doc_id", "source", "cut_ppm")
    )


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl corpus diff: classify every document as added /
    removed / changed between two snapshots by fingerprint — the
    operator that turns "re-crawl everything" into "process the
    delta" (the day-2 economics of a 100 TB corpus).

    Snapshots are derived deterministically from the documents table
    (the same device as benchmark_contamination's doc_id slicing):
    the PREVIOUS snapshot lacks doc_id % 7 == 3 (docs added since) and
    saw a shorter text for doc_id % 11 == 0 (docs edited since);
    doc_id % 13 == 5 has since been deleted (removed rows).

    Plan: two scans of the corpus joined full-outer on doc_id — the
    join key is the primary key, so at scale both sides bucket/
    co-partition on doc_id and the join is shuffle-free against a
    bucketed snapshot store; fingerprints travel, text does not.
    """
    docs = load_table(spark, sf_dir, "documents")
    prev = (
        docs.where((F.col("doc_id") % 7) != 3)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    (F.col("doc_id") % 11) == 0,
                    F.substring(
                        F.col("text"), 1, F.length("text") - F.lit(5)
                    ),
                ).otherwise(F.col("text"))
            ).alias("fp_prev"),
        )
    )
    curr = docs.where((F.col("doc_id") % 13) != 5).select(
        "doc_id", F.md5(F.col("text")).alias("fp_curr")
    )
    joined = prev.join(curr, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_prev").isNull(), F.lit("added"))
        .when(F.col("fp_curr").isNull(), F.lit("removed"))
        .when(F.col("fp_prev") != F.col("fp_curr"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select("doc_id", status.alias("status"))
        .where(F.col("status") != "unchanged")
    )


QUALITY_ACCEPT_PPM = 500000  # peak acceptance rate at quality 1.0


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: accept each document with probability
    proportional to its quality score (peak 50% at quality 1.0) via a
    deterministic md5 draw — upweights clean text in the kept corpus
    without a separate filter/sort pass.

    The acceptance threshold is floor(quality * 500000) ppm: quality
    is a deterministic double computed identically on both engines
    (see text.quality_scores), so the floor is bit-stable and the
    draw replays exactly in SQL.  Pure projection over one scan —
    the same zero-shuffle shape as the quality gate.
    """
    from .text import quality_scores

    scored = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    cut = F.floor(F.col("quality_score") * QUALITY_ACCEPT_PPM).cast("long")
    draw = _hash_mod("qsample-", F.col("doc_id"), 1000000)
    return (
        scored.select(
            "doc_id", "quality_score", cut.alias("cut_ppm"), draw.alias("draw")
        )
        .where(F.col("draw") < F.col("cut_ppm"))
        .select("doc_id", "quality_score", "cut_ppm")
    )


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus pipeline funnel: quality gate → exact dedup →
    near-dup cluster canonicalization → per-language survivor counts
    and token totals — the report every corpus build publishes
    ("started with N docs, kept M, here is where the rest went"), and
    the proof that the operator suite COMPOSES: this chains
    text.quality_gate, dedup.exact_duplicates and
    dedup.duplicate_clusters as DataFrame stages in one lazy plan.

    Keep rules at each stage (each strictly narrows the previous):
    - gated: quality_gate's reason string is empty
    - exact-canonical: doc_id is the minimum among its md5(text) twins
    - near-canonical: doc is not in any LSH duplicate cluster, or IS
      the cluster minimum (the canonical survivor)

    Scale: the gate is scan-speed; exact dedup shuffles (fp, doc_id)
    once; the cluster map is candidate-sized (tiny vs the corpus) and
    joins as a broadcast; the final rollup is a |langs|-row aggregate.
    """
    from . import dedup as D
    from .text import quality_gate

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5("text").alias("fp"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    gate = quality_gate(spark, sf_dir).select("doc_id", "keep")
    canon = D.exact_duplicates(spark, sf_dir).select("fp", "keep_id")
    clusters = D.duplicate_clusters(spark, sf_dir)

    per_doc = (
        docs.join(gate, "doc_id")
        .join(canon, "fp")
        .join(F.broadcast(clusters), "doc_id", "left")
    )
    gated = F.col("keep")
    exact_keep = F.col("doc_id") == F.col("keep_id")
    near_keep = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col("doc_id")
    )
    final = gated & exact_keep & near_keep
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(gated, 1)).alias("n_gated"),
        F.count(F.when(gated & exact_keep, 1)).alias("n_after_exact"),
        F.count(F.when(final, 1)).alias("n_final"),
        F.coalesce(
            F.sum(F.when(final, F.col("n_tokens"))), F.lit(0)
        ).alias("n_tokens_final"),
    )


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE check: near-duplicate document pairs that
    straddle split boundaries — the defect that silently inflates eval
    scores (a test doc whose near-twin sits in train).  Run after
    shuffle_split and before any eval set ships.

    Composition: LSH candidate pairs (already verified-near by the
    banding curve) joined twice against the split assignment; pairs
    within one split are benign and dropped.  Output is the pair list
    with both splits, ordered split names first (train<val via string
    sort is wrong — we emit raw names; consumers aggregate).  Plan:
    the split map is a zero-shuffle projection joined by doc_id onto
    the candidate pairs (candidate-sized, tiny vs the corpus), so the
    whole check costs ~one LSH pass regardless of corpus size.
    """
    from . import dedup as D

    splits = shuffle_split(spark, sf_dir).select("doc_id", "split")
    pairs = D.lsh_candidate_pairs(spark, sf_dir)
    a = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "split_a", "doc_b", "split_b")
    )


# Fixed-size sample target; interpolated into the registered oracle.
FIXED_SAMPLE_N = 200


def fixed_size_sample(
    spark: SparkSession, sf_dir: str, n: int = FIXED_SAMPLE_N
) -> DataFrame:
    """Deterministic EXACTLY-n uniform sample: rank documents by a
    content-independent md5 draw over doc_id and keep the n smallest —
    the reproducible replacement for reservoir sampling (same n rows on
    any engine, any partitioning, any day; df.sample() guarantees
    neither size nor membership).  The eval-set / human-audit draw
    every corpus pipeline needs.

    Scale shape: the hash is map-side; the global top-n is
    TakeOrderedAndProject (per-partition heaps, no full sort, no
    single-partition window) — the same plan as ordered_head.
    """
    from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (
        portable_hash32,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            portable_hash32("doc_id", prefix="fsample").alias("draw"),
        )
        .orderBy("draw", "doc_id")
        .limit(n)
    )


def dedup_token_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline accounting: per language, how many documents and
    whitespace tokens the corpus holds BEFORE and AFTER exact dedup,
    with the removal rate in exact ppm — the before/after ledger every
    curation run reports (and the input to source-mix rebalancing after
    dedup shifts the distribution).

    Composition: exact dedup's keep rule (min doc_id per md5(text)
    family) evaluated INLINE as a window over fp — one shuffle on fp,
    one language rollup; no join back to the corpus.
    """
    from pyspark.sql import Window as _W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5("text").alias("fp"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    keep = (
        F.min("doc_id").over(_W.partitionBy("fp")) == F.col("doc_id")
    ).cast("long")
    flagged = docs.select("lang", "n_tokens", keep.alias("kept"))
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("kept").alias("docs_after"),
        F.sum("n_tokens").alias("tokens_before"),
        F.sum(F.col("n_tokens") * F.col("kept")).alias("tokens_after"),
        F.expr(
            "(SUM(n_tokens) - SUM(n_tokens * kept)) * 1000000"
            " div SUM(n_tokens)"
        ).alias("removed_token_ppm"),
    )


TEMP_ALPHA_PCT = 50  # temperature exponent alpha = 0.5 (sqrt scaling)


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source rebalance (sample source s with probability
    proportional to p_s^alpha, alpha = 0.5): upweights the tail
    sources, damps the head, the standard fix for head-source
    domination in corpus mixing.

    With alpha = 1/2 the scaled share is sqrt(n_s) / SUM(sqrt(n_t))
    (the 1/N factors cancel), so the only float op is sqrt + one
    division, rounded to 9 decimals on both engines (the Wilson-CI
    determinism device).  `epochs` = share * N / n_s is how many times
    each source's documents repeat per corpus-sized epoch under the
    scaled mix.

    Plan: one |sources|-row aggregate and a 1-row total crossJoin —
    no corpus rescan at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The |sources|-row aggregate feeds BOTH the totals and the final
    # projection — materialize it once or the corpus scan duplicates
    # into each subtree (the plan-reuse lesson).
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt("n_docs")).alias("z"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("n_docs * 1000000 div n_total").alias("natural_ppm"),
            F.round(F.sqrt("n_docs") / F.col("z"), 9).alias("temp_share"),
            F.round(
                F.sqrt("n_docs") / F.col("z") * F.col("n_total")
                / F.col("n_docs"),
                9,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


def datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus "dataset card" panel: docs, tokens, exact-duplicate
    counts and dup ppm per (source, lang), per source, per lang, and
    globally — ONE GROUPING SETS aggregate over one scan (a CUBE minus
    nothing here, but expressed sparsely so adding dimensions stays
    an explicit choice).

    The duplicate flag is the standard keeper rule (min doc_id per
    md5(text) survives) computed inline as a window — the same rule
    the dedup ledger uses, so the card's dup numbers reconcile with
    the pipeline's.  `level` = grouping_id disambiguates rollup rows
    from genuine NULL dimension values.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.md5("text").alias("fp"),
    )
    from pyspark.sql import Window as _W

    flagged = base.withColumn(
        "is_dup",
        (
            F.min("doc_id").over(_W.partitionBy("fp")) != F.col("doc_id")
        ).cast("long"),
    )
    return (
        flagged.groupingSets(
            [["source", "lang"], ["source"], ["lang"], []],
            "source",
            "lang",
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("is_dup").alias("n_dup_docs"),
            F.grouping_id("source", "lang").alias("level"),
        )
        .select(
            "source",
            "lang",
            "level",
            "n_docs",
            "n_tokens",
            "n_dup_docs",
            F.expr("n_dup_docs * 1000000 div n_docs").alias("dup_ppm"),
        )
    )


TOKEN_BUDGET = 20_000  # selection budget (tokens)


def budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the best documents that fit a token budget — the data-
    selection step of corpus curation (train on the top-quality slice
    the compute budget affords), in the SCALABLE two-phase form:

    phase 1 aggregates tokens per integer quality score (the
    |distinct-scores|-row table is model-sized, so its descending
    cumulative sum may run in one partition); phase 2 keeps whole
    score buckets that fit entirely, and fills the ONE boundary
    bucket by doc_id order with a per-bucket running sum — no global
    sort of the corpus, no single-partition pass over data rows.

    Quality = distinct-token ratio in integer ppm (type-token ratio,
    the junk-document signal), deterministic in any engine.  Returns
    kept docs with their bucket decision ('full' or 'boundary').
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000"
            " div size(split(text, ' '))"
        ).alias("score_ppm"),
    ).localCheckpoint(eager=False)  # feeds bucket stats AND the pick
    per_score = scored.groupBy("score_ppm").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    ws = Window.orderBy(F.desc("score_ppm")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    buckets = per_score.select(
        "score_ppm",
        "bucket_tokens",
        F.coalesce(F.sum("bucket_tokens").over(ws), F.lit(0)).alias(
            "cum_before"
        ),
    ).where(F.col("cum_before") < TOKEN_BUDGET)
    full = buckets.where(
        F.col("cum_before") + F.col("bucket_tokens") <= TOKEN_BUDGET
    ).select("score_ppm", F.lit("full").alias("decision"))
    boundary = buckets.where(
        F.col("cum_before") + F.col("bucket_tokens") > TOKEN_BUDGET
    ).select(
        "score_ppm",
        (F.lit(TOKEN_BUDGET) - F.col("cum_before")).alias("remaining"),
    )
    kept_full = scored.join(F.broadcast(full), "score_ppm")
    wb = Window.partitionBy("score_ppm").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    kept_boundary = (
        scored.join(F.broadcast(boundary), "score_ppm")
        .withColumn("run", F.sum("n_tokens").over(wb))
        .where(F.col("run") <= F.col("remaining"))
        .select(
            "score_ppm",
            "doc_id",
            "n_tokens",
            F.lit("boundary").alias("decision"),
        )
    )
    return (
        kept_full.select("score_ppm", "doc_id", "n_tokens", "decision")
        .unionByName(kept_boundary)
        .orderBy(F.desc("score_ppm"), "doc_id")
    )


def gate_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DECISION TABLE: one row per document with the final
    keep/drop verdict and a fixed-order reason string combining every
    gate in the pipeline — quality heuristics (short / low_ttr /
    stopword_heavy), exact-dup keeper rule ('duplicate' for every
    non-minimal copy), and both LM screens ('high_ce',
    'high_bigram_ce').  An unexplained boolean is an un-debuggable
    corpus; this is the shipped artifact a curation run writes next
    to its output.

    Composition semantics (not a fused kernel): each gate is the SAME
    operator registered elsewhere, joined on doc_id — at scale these
    are the already-materialized per-gate tables, and this query is
    the cheap final join.  GROUP BY reasons on the output gives the
    drop histogram for free.
    """
    from .text import (
        bigram_cross_entropy,
        quality_gate,
        unigram_cross_entropy,
    )

    quality = quality_gate(spark, sf_dir).select(
        "doc_id", F.col("reasons").alias("q_reasons")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    dup = docs.select(
        "doc_id",
        (
            F.min("doc_id").over(Window.partitionBy("fp"))
            != F.col("doc_id")
        ).alias("is_dup"),
    )
    uce = unigram_cross_entropy(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("uce_keep")
    )
    bce = bigram_cross_entropy(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("bce_keep")
    )
    joined = (
        quality.join(dup, "doc_id")
        .join(uce, "doc_id")
        .join(bce, "doc_id")
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("q_reasons") != "", F.col("q_reasons")),
        F.when(F.col("is_dup"), F.lit("duplicate")),
        F.when(~F.col("uce_keep"), F.lit("high_ce")),
        F.when(~F.col("bce_keep"), F.lit("high_bigram_ce")),
    )
    return joined.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    ).orderBy("doc_id")


def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates
    across splits: the split is a hash of the near-dup CLUSTER id,
    not the document id, so every member of a cluster lands together
    by construction (corpus_split_leakage measures the problem; this
    is the fix).  Singleton documents are their own cluster.

    Scale: cluster labels come from the LSH connected-components
    operator (hash-bucketed candidate generation, log-round
    propagation); the split itself is a row-local projection over the
    labeled corpus.  Same TRAIN/VAL percent thresholds as
    shuffle_split, drawn with an independent 'clsplit-' prefix.
    """
    from data_pipeline_for_e_commerce_shop_spark.operators.dedup import (
        duplicate_clusters,
    )

    clusters = duplicate_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = docs.join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    pct = _hash_mod("clsplit-", F.col("cluster_id"), 100)
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.when(pct < TRAIN_PCT, F.lit("train"))
        .when(pct < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")
