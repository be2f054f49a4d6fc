"""Text-analysis operators over the `documents` table (repo charter).

All pure JVM-side array/string expressions — no explode, no UDF: each
query is a single map-side projection or one aggregation, so at 100 TB
they run at scan speed with full whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators.layout import fan_out
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table

# n-gram-heuristic language lexicons (stopword stand-ins; the synthetic
# corpus is a word bag, so this demonstrates the operator shape — swap
# lexicons for real fastText-style profiles in production).
LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "order", "key"],
    "de": ["data", "merge", "window", "batch"],
    "es": ["join", "filter", "row", "table"],
    "fr": ["spark", "query", "stream", "vector"],
}

STOPWORDS = ["the", "a", "and", "of", "to"]


def _toks() -> Column:
    return F.split(F.col("text"), " ")


def _hit_count(words: list[str]) -> Column:
    """# tokens in the lexicon — list_filter/list_contains portable."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(_toks(), lambda t: F.array_contains(arr, t)))


def lang_score_cols() -> list[Column]:
    """One `score_<lang>` hit-count column per lexicon language —
    project these ONCE, then run the argmax over the column refs."""
    return [
        _hit_count(w).alias(f"score_{lang}") for lang, w in LEXICONS.items()
    ]


def pred_lang_over_scores() -> tuple[Column, Column]:
    """(pred_lang, best_score) argmax over ALREADY-PROJECTED
    `score_<lang>` columns — deterministic tie-break (score desc, lang
    asc).  The when-chain embeds its running `best` once per level, so
    it MUST reference cheap column refs, never the hit-count
    expressions directly: inlining them would copy the split+filter
    subtree O(2^|langs|) times into the plan."""
    pred = None
    best = None
    for lang in sorted(LEXICONS):  # asc order = tie-break priority
        s = F.col(f"score_{lang}")
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    return pred, best


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-vote language ID: per-language hit counts in one pass,
    argmax with deterministic tie-break (score desc, lang asc)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", *lang_score_cols())
    pred, best = pred_lang_over_scores()
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        best.cast("long").alias("pred_score"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token/char counts, type-token ratio,
    stopword ratio, mean token length — plus a composite score.

    Ratios divide exact ints; the composite keeps to +,* of those
    (deterministic double)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length("text")
    n_stop = _hit_count(STOPWORDS)
    ttr = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    mean_tok_len = (n_chars - (n_tokens - 1)) / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        n_chars.cast("long").alias("n_chars"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        (ttr * 0.5 + stop_ratio * 0.25 + F.lit(0.25)).alias("quality_score"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens
    (``[a-z]+|[0-9]+|[^a-z0-9 ]`` — letters, digit runs, punctuation as
    singles): the standard pre-tokenizer split shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_toks()).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("long")
        .alias("re_tokens"),
        F.ceil(F.length("text") / 4).cast("long").alias("len4_token_estimate"),
    )


TFIDF_TOPK = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Three aggregates over ONE tokenized explode: term frequency per
    (doc, term), document frequency per term, corpus size; then
    score = tf * ln((N+1)/(df+1)) and a per-doc top-k window.  The
    doc-frequency table is term-keyed (vocabulary-sized, far smaller
    than the corpus at scale) and joins back by term hash-partitioned.
    The corpus count rides the SAME plan as a broadcast 1-row aggregate
    crossJoined onto the vocabulary table — no eager docs.count() job,
    so the whole operator is one action with one corpus scan shared by
    Catalyst.  Scores are rounded to 9 decimals so JVM and libm ln()
    agree bitwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))  # 1-row corpus count, vocab-sized result
    )
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            9,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


def rare_token_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rare-token score per document — the
    deterministic stand-in for a CCNet-style LM perplexity filter: a
    document dominated by tokens that are rare ACROSS the corpus is
    likely junk (OCR noise, boilerplate markup, wrong language).

    A token is "rare" iff its corpus frequency is strictly below the
    corpus MEAN frequency — tested as the integer cross-product
    ``n * vocab_size < corpus_tokens`` (no division, bit-exact in any
    engine).  Per doc: token count, rare-instance count and fraction,
    and the minimum corpus frequency seen (the OOV-proxy).

    Scale: the frequency table is vocabulary-sized (≪ corpus), so it
    rides back onto the token stream as a BROADCAST join; the 1-row
    corpus totals crossJoin onto it in the same plan (no eager count
    job).  At a 100 TB corpus a raw token vocabulary can outgrow the
    broadcast limit (~10M+ types) — drop the hint there and the same
    plan shuffles on `token`, still vocabulary-keyed.  Final rollup is
    one groupBy(doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks()).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    totals = freq.agg(
        F.sum("n").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    marked = freq.crossJoin(F.broadcast(totals)).select(
        "token",
        "n",
        (F.col("n") * F.col("vocab_size") < F.col("corpus_tokens")).alias(
            "is_rare"
        ),
    )
    n_rare = F.count(F.when(F.col("is_rare"), True))
    return (
        toks.join(F.broadcast(marked), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            n_rare.alias("n_rare_tokens"),
            (n_rare / F.count(F.lit(1))).alias("rare_frac"),
            F.min("n").alias("min_token_freq"),
        )
    )


def zipf_top_terms(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Corpus-wide term frequencies, top-k with rank — the Zipf head.

    One explode + one groupBy(term): partial aggregation combines
    map-side, so the shuffle carries one row per (partition, term), not
    per token.  The top-k runs as `orderBy().limit(k)` — Spark plans
    TakeOrderedAndProject (per-partition partial top-k, merged on the
    driver), so no task ever sorts the whole vocabulary; the rank
    window then runs over only the k survivors.  Deterministic
    tie-break on term.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_toks()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = freq.orderBy(F.col("n").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "term", "n", "rank"
    )


BIGRAM_TOPK = 20


def bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequencies, top-k — the n-gram statistics a
    tokenizer-training / contamination-check pipeline pulls.

    Bigrams are built with a JVM-side `transform` over the token array
    (adjacent-pair zip) — no UDF, no self-join; then the same
    explode → partial-agg → TakeOrdered shape as the unigram Zipf
    head.  The `size >= 2` guard keeps `sequence` from generating a
    descending range on single-token docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), i ->"
        " concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
    )
    freq = (
        docs.select(_toks().alias("toks"))
        .where(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = [F.col("n").desc(), F.col("bigram").asc()]
    top = freq.orderBy(*order).limit(BIGRAM_TOPK)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "bigram", "n", "rank"
    )


# Quality-gate thresholds: drop reasons are checked in this order and
# concatenated, so the reason string is deterministic.
GATE_MIN_TOKENS = 8
GATE_MIN_TTR = 0.45
GATE_MAX_STOP_RATIO = 0.35


def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop gate over the quality features with REASON CODES — the
    form a training-data filter actually ships (an unexplained boolean
    is an un-debuggable corpus).

    Pure projection over quality_scores' single pass: stays at scan
    speed; the reasons string is a fixed-order concat so it is
    reproducible and groupable (`GROUP BY reasons` gives the drop
    histogram for free).
    """
    feats = quality_scores(spark, sf_dir)
    checks = [
        ("short", F.col("n_tokens") < GATE_MIN_TOKENS),
        ("low_ttr", F.col("type_token_ratio") < GATE_MIN_TTR),
        ("stopword_heavy", F.col("stopword_ratio") > GATE_MAX_STOP_RATIO),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    return feats.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


# Per-language sampling rates (percent) for the stratified sample: the
# shape of a real training-mix re-weighting (upsample scarce languages,
# downsample dominant ones).
STRATA_RATES = {"en": 20, "de": 40, "es": 60, "fr": 80, "zh": 90}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: keep a doc iff
    md5('sample-'||doc_id) mod 100 < rate(lang).

    ``df.sample`` is seeded per-partition — its output changes with
    partitioning and engine, so it can never be oracle-checked or
    reproduced across reruns of a 100 TB job.  Hash-bucket sampling is
    a pure row-local predicate: reproducible anywhere, pushes down to
    the scan, trivially re-weightable by editing the rate map, and
    honest about being a [0,100) bucket draw per key.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sample-"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate_map = F.create_map(
        *[F.lit(x) for kv in STRATA_RATES.items() for x in kv]
    )
    return (
        docs.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate_map[F.col("lang")])
        .select("doc_id", "lang", "bucket")
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text + a 60-bit numeric prefix for compact join keys."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    fp = F.md5(norm)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp60"),
    )


# Chunking geometry: 32-token windows every 24 tokens (8-token overlap).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    context-window packing step of an LLM training-data pipeline.

    Chunk starts are `sequence(0, n_tokens-1, stride)`, so the last
    chunk may be short (kept: a training pipeline drops or pads them
    downstream — that policy belongs to the consumer, not the
    splitter).  All slicing is JVM-side array math inside one
    projection + explode: no UDF, no shuffle at all — the operator is
    embarrassingly parallel and runs at scan speed at any SF.  The
    empty-doc guard keeps `sequence` from a descending range.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(sequence(0, size(toks) - 1, {stride}), s ->"
        f" named_struct("
        f"   'chunk_id', CAST(s div {stride} AS BIGINT),"
        f"   'chunk_text', concat_ws(' ', slice(toks, s + 1, {tokens})),"
        f"   'n_tokens', size(slice(toks, s + 1, {tokens}))))"
    )
    return (
        docs.select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 repetition filters, adapted to the word-bag corpus): the
    fraction of repeated words, the share of the single most frequent
    word, and the fraction of duplicated word 3-grams.

    Everything is a single map-side projection — array ops plus one
    higher-order `aggregate` run-length scan over the SORTED token
    array for the max-frequency word (sorting the per-doc array is
    O(n log n) per row, NOT a shuffle).  No explode, no groupBy: at
    100 TB this runs at scan speed with full whole-stage codegen,
    which is exactly what a pre-training quality filter needs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    base = docs.select(
        "doc_id",
        toks.alias("ws"),
        F.array_sort(toks).alias("sorted_ws"),
    )
    n = F.size("ws")
    nd = F.size(F.array_distinct("ws"))
    # Max run length in the sorted array == max frequency of any word.
    top = F.aggregate(
        F.col("sorted_ws"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("ws", i),
                F.element_at("ws", i + 1),
                F.element_at("ws", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    scored = base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        nd.cast("long").alias("n_distinct_words"),
        (F.lit(1.0) - nd / n).alias("word_rep_ratio"),
        top.cast("long").alias("top_word_count"),
        (top / n).alias("top_word_ratio"),
        tri.alias("tg"),
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "word_rep_ratio",
        "top_word_count",
        "top_word_ratio",
        F.size("tg").cast("long").alias("n_trigrams"),
        F.when(F.size("tg") > 0, F.lit(1.0) - F.size(F.array_distinct("tg")) / F.size("tg"))
        .otherwise(F.lit(0.0))
        .alias("trigram_dup_ratio"),
    )


def stopword_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning stage: drop stopword tokens, fingerprint the
    cleaned text.

    Pure scan-speed projection — split, a higher-order filter over the
    token array (no explode, no shuffle), re-join, md5 fingerprint.
    The fingerprint makes the transform oracle-checkable byte-for-byte
    and feeds the exact-dedup stage downstream (cleaning BEFORE
    fingerprinting is what lets near-identical boilerplate collapse).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(toks, lambda x: ~x.isin(*STOPWORDS))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("clean_fp"),
    )


def chunk_udtf_class():
    """Python UDTF (Spark 4 table function): 16-token document chunks.

    The remaining Python-extension surface beside the six Arrow/pandas
    shapes: a LATERAL-joinable table function.  Row-at-a-time Python —
    the API-coverage demo and escape hatch for generators that don't
    vectorise; the set-oriented equivalent (explode over a transform,
    text.overlap_chunks) is the hot-path form.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, n_tokens int, chunk_fp string")
    class ChunkDoc:
        def eval(self, text: str):
            import hashlib

            # '' must chunk like the oracle's string_split('', ' ')
            # = [''] — only None maps to no rows
            toks = text.split(" ") if text is not None else []
            for i in range(0, len(toks), 16):
                piece = toks[i : i + 16]
                yield (
                    i // 16,
                    len(piece),
                    hashlib.md5(" ".join(piece).encode()).hexdigest(),
                )

    return ChunkDoc


def udtf_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents LATERAL-joined with the chunking UDTF: one output row
    per 16-token chunk with its md5 fingerprint (byte-exact oracle)."""
    spark.udtf.register("chunk_doc", chunk_udtf_class())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT doc_id, c.chunk_no, c.n_tokens, c.chunk_fp"
        " FROM udtf_docs, LATERAL chunk_doc(text) c"
    )


# Winnowing geometry (MOSS, Schleimer et al. 2003): word 3-gram hashes,
# minimum selected per sliding window of 4 consecutive hashes.
# Interpolated into the registered oracle SQL so they cannot drift.
WINNOW_K = 3
WINNOW_W = 4
# Fingerprints shared by more docs than this are boilerplate, not
# similarity signal — dropped before the pair join (also the skew guard).
WINNOW_MAX_DF = 100


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: hash every word k-gram, then
    keep the MINIMUM hash of each sliding window of w consecutive
    k-gram hashes (k = WINNOW_K, w = WINNOW_W).  Guarantees: any
    shared substring of at least
    k + w - 1 words produces at least one shared fingerprint, and the
    selected set is position-independent — the local-similarity
    detector exact-hash dedup misses and shingle-Jaccard only
    approximates.

    Pure JVM array expressions (one split, two transforms, one
    array_min fold per window) — scan-speed at 100 TB, no explode
    until the final distinct-fingerprint emit, whose fan-out is
    ~|tokens|/w per doc.  Hashes are portable_hash32-compatible md5
    prefixes, bit-identical in DuckDB.

    Returns exploded (doc_id, fingerprint) distinct rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Spread a single-split scan over the per-doc hash/window work.
    docs = fan_out(docs, "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = F.expr(
        f"case when size(toks) >= {WINNOW_K} then"
        f" transform(sequence(1, size(toks) - {WINNOW_K - 1}),"
        f" i -> CAST(conv(substring(md5(concat_ws(' ',"
        f" slice(toks, i, {WINNOW_K}))), 1, 8), 16, 10) AS BIGINT))"
        f" else array() end"
    )
    hashed = toks.select("doc_id", grams.alias("hs"))
    fps = F.expr(
        f"case when size(hs) >= {WINNOW_W} then"
        f" transform(sequence(1, size(hs) - {WINNOW_W - 1}),"
        f" i -> array_min(slice(hs, i, {WINNOW_W})))"
        f" when size(hs) > 0 then array(array_min(hs))"
        f" else array() end"
    )
    return hashed.select(
        "doc_id",
        F.explode(F.array_distinct(fps)).alias("fingerprint"),
    )


def winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-similarity pairs from shared winnowing fingerprints: docs
    sharing >= 2 selected fingerprints, scored by exact fingerprint
    Jaccard in ppm — catches COPIED PASSAGES between otherwise
    different documents (the MOSS use case; LSH needs global
    similarity, this needs one k+w-1-word overlap region).

    Scale shape: candidate generation is a fingerprint-keyed equi
    self-join (hash-partitioned); boilerplate fingerprints (document
    frequency > WINNOW_MAX_DF) are dropped first — both the precision filter
    and the skew guard, same device as the TF-IDF rare-token cut.  The
    per-doc fingerprint totals reuse one aggregation.
    """
    # Materialize the fingerprint table ONCE: the df filter, the size
    # table, and both join sides would otherwise each re-execute the
    # tokenize/hash/window lineage (the pagerank plan-reuse lesson —
    # at scale this is the persisted fingerprint index).
    fp = winnow_fingerprints(spark, sf_dir).localCheckpoint(eager=False)
    keep = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= WINNOW_MAX_DF)
        .select("fingerprint")
    )
    fp = fp.join(keep, "fingerprint").localCheckpoint(eager=False)
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fingerprint")
    shared = (
        a.join(b, "fingerprint")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("fp_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr(
                "n_shared * 1000000 div (fp_a + fp_b - n_shared)"
            ).alias("jac_ppm"),
        )
    )


# BM25 constants (k1 = 1.2, b = 0.75 — the Robertson defaults) and the
# deterministic demo query; interpolated into the registered oracle.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["data", "stream", "merge"]
BM25_TOPK = 25


def bm25_score_sql() -> str:
    """The BM25 score as ONE SQL expression string over columns
    (tf_i, df_i, dl, n_docs, sum_dl) — evaluated VERBATIM by both
    Spark (F.expr) and DuckDB (oracle interpolation), so the floating
    expression tree cannot drift between engines.  All constants pass
    through CAST(... AS DOUBLE) up front: a bare `1.2` literal parses
    as DECIMAL in both engines and would switch intermediates to
    decimal arithmetic asymmetrically."""
    k1 = f"CAST({BM25_K1} AS DOUBLE)"
    b = f"CAST({BM25_B} AS DOUBLE)"
    terms = [
        f"(ln(CAST(1 AS DOUBLE) + (CAST(n_docs AS DOUBLE) - df_{i}"
        f" + CAST(0.5 AS DOUBLE)) / (df_{i} + CAST(0.5 AS DOUBLE)))"
        f" * (tf_{i} * ({k1} + CAST(1 AS DOUBLE)))"
        f" / (tf_{i} + {k1} * (CAST(1 AS DOUBLE) - {b}"
        f" + {b} * dl * CAST(n_docs AS DOUBLE) / sum_dl)))"
        for i in range(len(BM25_QUERY))
    ]
    return " + ".join(terms)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the document corpus against a fixed query —
    the lexical-retrieval scorer every RAG/recall pipeline runs next
    to the ANN tier (its embedding counterpart is ann_brute_topk).

    Parity discipline: tf, df, doclen and N are exact integers; the
    floating part (idf = ln(1 + (N - df + .5)/(df + .5)), the length
    normalization, and the FIXED-ORDER sum over query terms) is an
    identical expression tree on both engines, rounded to 9 digits
    before ranking — ln and IEEE arithmetic agree far below 1e-9.
    Ties break by doc_id, so top-k is fully deterministic.

    Scale shape: corpus statistics (N, avgdl via sum(dl), per-term df)
    reduce to ONE 1-row aggregate riding as a broadcast crossJoin; the
    per-doc score is then a pure map-side projection — one scan, one
    tiny broadcast, one TakeOrderedAndProject for the top-k.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    tf_cols = [
        F.size(F.filter("toks", lambda x: x == F.lit(t))).alias(f"tf_{i}")
        for i, t in enumerate(BM25_QUERY)
    ]
    per_doc = toks.select(
        "doc_id", F.size("toks").alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    # Fixed-order explicit sum (never an aggregate over exploded terms:
    # float addition order must match the oracle); the expression
    # string itself is SHARED with the oracle — see bm25_score_sql.
    score = F.expr(bm25_score_sql())
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "dl",
        *[F.col(f"tf_{i}").alias(f"tf_{t}") for i, t in enumerate(BM25_QUERY)],
        F.round(score, 9).alias("bm25"),
    )
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.where(F.col("bm25") > 0)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOPK)
        .drop("rk")
    )


# Keep threshold for the unigram cross-entropy gate (nats/token);
# interpolated into the registered oracle SQL.  Calibrated on the
# synthetic corpus (ce range ~[3.38, 3.70] nats/token at sf0.01, so
# 3.5 keeps the typical mass and drops the divergent tail — with a
# threshold outside the observed range the gate branch would never
# execute under test).  Production pipelines fit it to a held-out
# clean sample, CCNet-style.
UNIGRAM_CE_MAX = 3.5


def unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: per-document cross-entropy
    under the corpus's own unigram language model — the CCNet/Gopher
    screen where documents whose token distribution diverges from the
    corpus (gibberish, boilerplate, wrong-language) score high and are
    dropped.  ce = -(1/n)·Σ ln p(tok_i), p = corpus_count/total.

    Float-parity discipline: ln p is computed PER TOKEN (deterministic
    scalar), and the per-document Σ is a SEQUENTIAL fold over the
    tokens in position order on both engines — Spark's aggregate() HOF
    with 0.0 init vs DuckDB's seedless list_reduce; 0.0 + x == x
    exactly, so the two folds produce bit-identical sums (the
    survival-curve fold device).  Never a SUM() aggregate, whose
    accumulation order is partition-dependent.

    Scale shape: one tokenize-explode feeds both the vocabulary counts
    and the scoring join (term-keyed, vocabulary-sized build side —
    AQE broadcasts it while it fits); the corpus total rides as a
    1-row broadcast.  The fold happens on per-doc arrays after a
    doc-keyed shuffle — state bounded by document length.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    scored = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "pos",
            F.expr("ln(CAST(n AS DOUBLE) / total)").alias("lnp"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(pos, lnp))),"
            " s -> s.lnp), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("s"),
    )
    ce = F.round((-F.col("s")) / F.col("n_tokens"), 9)
    return folded.select(
        "doc_id",
        "n_tokens",
        ce.alias("ce_nats"),
        (ce <= UNIGRAM_CE_MAX).alias("keep"),
    )


PHRASE_QUERY = ("slow", "hash", "batch")  # contiguous-token phrase


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index phrase search: docs containing the
    query words CONTIGUOUSLY, with the exact occurrence count.

    Shape: tokenize -> posexplode -> keep only the query terms (at
    scale this read is the prebuilt positional postings table, term ->
    [(doc, pos)], and the filter is an index lookup, not a scan) ->
    ONE groupBy(doc_id) collecting per-term position arrays -> a
    phrase hit is a position p with term_i at p+i for all i, i.e. the
    intersection of the shifted position arrays.  No self-join, no
    per-row regex; the oracle takes the naive road (every window
    tested per doc) — same answer, opposite algorithm.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    postings = toks.where(F.col("term").isin(*PHRASE_QUERY))
    per_term = [
        F.sort_array(
            F.collect_list(
                F.when(F.col("term") == w, F.col("pos"))
            )
        ).alias(f"p{i}")
        for i, w in enumerate(PHRASE_QUERY)
    ]
    grouped = postings.groupBy("doc_id").agg(*per_term)
    def _shift_by(d: int):
        # NOTE: F.transform treats a 2-arg lambda as (element, index),
        # so the shift must be captured in a closure, never a default
        # second parameter.
        return lambda x: x - d

    hits = F.col("p0")
    for i in range(1, len(PHRASE_QUERY)):
        hits = F.array_intersect(
            hits, F.transform(F.col(f"p{i}"), _shift_by(i))
        )
    return (
        grouped.select("doc_id", F.size(hits).alias("n_matches"))
        .where(F.col("n_matches") >= 1)
        .orderBy("doc_id")
    )


BPE_ROUNDS = 4  # learned merge rules


def bpe_merge_fold_sql(a_col: str, b_col: str) -> str:
    """The greedy left-to-right BPE merge of pair (a, b) over symbol
    array `s`, as ONE aggregate() fold (shared shape with the DuckDB
    oracle's list_reduce): append each symbol, except when the
    accumulator ends with `a` and the symbol is `b` — then replace the
    tail with the merged token.  The fold IS greedy BPE: a just-merged
    token can never equal `a` (it is strictly longer than `a`), so no
    double-merge can occur."""
    return (
        "aggregate(s, cast(array() as array<string>), (acc, x) ->"
        " case when size(acc) > 0"
        f" and element_at(acc, -1) = {a_col} and x = {b_col}"
        " then concat(slice(acc, 1, size(acc) - 1),"
        f" array(concat({a_col}, {b_col})))"
        " else concat(acc, array(x)) end)"
    )


def bpe_merges(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """Learn the first `rounds` BPE merge rules from the corpus — the
    tokenizer-training primitive, distributed.

    Shape (the way real corpus-scale BPE trainers run): the corpus
    collapses ONCE to the word-TYPE table (word, count) — vocabulary-
    sized, not corpus-sized; each round counts adjacent symbol pairs
    weighted by word count (explode over the vocab), takes the argmax
    pair with a fully-tiebroken ORDER BY ... LIMIT 1 (a 1-row
    broadcast, never a driver collect), and applies the merge to every
    word type with a greedy aggregate() fold.  Per-round lineage is
    cut with a lazy localCheckpoint so `rounds` plans don't nest.

    Returns (merge_round, left_sym, right_sym, pair_count) — the
    ordered merge table a tokenizer would ship.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word",
            "n",
            F.expr("filter(split(word, ''), x -> x != '')").alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    merge_steps = []
    for r in range(1, rounds + 1):
        pairs = (
            words.select(
                "n",
                F.explode(
                    # sequence(1, 0) REVERSES in Spark (it is not
                    # empty like DuckDB's generate_series) — guard the
                    # single-symbol words explicitly.
                    F.expr(
                        "case when size(s) >= 2 then"
                        " transform(sequence(1, size(s) - 1),"
                        " i -> struct(element_at(s, i) AS a,"
                        " element_at(s, i + 1) AS b))"
                        " else cast(array() as"
                        " array<struct<a: string, b: string>>) end"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1)
        merge_steps.append(
            best.select(
                F.lit(r).alias("merge_round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .select("word", "n", F.expr(bpe_merge_fold_sql("a", "b")).alias("s"))
            .localCheckpoint(eager=False)
        )
    out = merge_steps[0]
    for m in merge_steps[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_round")


NB_TEST_MOD = 5  # doc_id % MOD == 0 is the held-out evaluation split


def nb_language_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out confusion matrix of the NB classifier — the per-doc
    predictions come from nb_doc_predictions (shared with the McNemar
    paired comparison); see its docstring for the full plan story."""
    pred = nb_doc_predictions(spark, sf_dir)
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def nb_doc_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND
    evaluated inside the engine: add-1-smoothed per-language token
    log-probabilities fit on the train split (doc_id % NB_TEST_MOD
    != 0), held-out confusion matrix on the rest — ML training as
    aggregation, the way corpus-scale classifiers (quality gates,
    lang-ID) are actually fit.

    Model = three aggregates over one tokenize pass: (lang, term)
    counts, per-lang token totals, train vocabulary size; priors from
    doc counts.  The model table is the FULL vocab x lang grid (the
    +1 smoothing makes unseen-in-lang terms ln(1/(tot+V)) — identical
    to the OOV default, so scoring needs no special cases beyond one
    coalesce).  Scoring: test tokens cross the |langs|-row stats
    table, left-join the model, and each (doc, lang) score is a
    SEQUENTIAL position-ordered fold of per-token ln p (the
    unigram-CE float-parity device) plus the prior; argmax by (score
    desc, lang asc).

    Scale: model is vocab x |langs| (broadcastable until ~10M types;
    past that the same plan shuffles term-keyed), scoring is one
    token-stream join, folds are per-doc state.  Returns the
    confusion matrix (true_lang, pred_lang, n_docs).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    train = docs.where(F.col("doc_id") % NB_TEST_MOD != 0)
    test = docs.where(F.col("doc_id") % NB_TEST_MOD == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    trt = train.select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    ).localCheckpoint(eager=False)  # feeds counts, totals, and vocab
    cnt = trt.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    ltot = trt.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    vocab = trt.select("term").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    n_train = train.agg(F.count(F.lit(1)).alias("n_docs"))
    prior = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.expr("ln(CAST(nd AS DOUBLE) / n_docs)").alias("pr"),
        )
    )
    model = (
        vocab.crossJoin(F.broadcast(ltot))
        .crossJoin(F.broadcast(v))
        .join(cnt, ["lang", "term"], "left")
        .select(
            "term",
            "lang",
            F.expr(
                "ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (tot + v))"
            ).alias("lp"),
        )
    )
    tet = test.select(
        "doc_id",
        "true_lang",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    scored = (
        tet.crossJoin(F.broadcast(ltot))
        .crossJoin(F.broadcast(v))
        .join(model, ["lang", "term"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            "pos",
            F.coalesce(
                "lp", F.expr("ln(1.0 / (tot + v))")
            ).alias("lp"),
        )
    )
    folded = (
        scored.groupBy("doc_id", "true_lang", "lang")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(pos, lp))), s -> s.lp),"
                " CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("s")
        )
        .join(F.broadcast(prior), "lang")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            F.round(F.col("pr") + F.col("s"), 9).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        folded.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("pred_lang"))
    )
    return pred


BIGRAM_CE_MAX = 3.2  # keep threshold (nats)
BIGRAM_LAMBDA_PCT = 70  # interpolation weight on the bigram term


def bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality gate — the KenLM-shaped upgrade
    of the unigram screen: per-token p = 0.7·p(cur|prev) + 0.3·p(cur),
    first tokens score on the unigram alone, ce = -(1/n)·Σ ln p.
    Repetitive/templated text scores LOW here even when its unigram
    distribution looks normal (the bigram term captures local
    structure) — the complementary failure mode to unigram CE.

    Model = two vocabulary-sized count tables from one tokenize pass
    (unigram counts; bigram counts keyed (prev, cur) with context
    totals derived from them — NOT from unigram counts, which would
    miscount doc-final tokens).  Scoring joins are term-/bigram-keyed;
    the per-doc Σ is the SEQUENTIAL position-ordered fold (float
    parity device); the interpolation arithmetic is the same literal
    expression on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "cur"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.withColumn("prev", F.lag("cur").over(wd)).localCheckpoint(
        eager=False  # feeds both count tables AND the scoring join
    )
    uni = seq.groupBy("cur").agg(F.count(F.lit(1)).alias("cu"))
    tot = uni.agg(F.sum("cu").alias("total"))
    bi = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)  # feeds context totals AND join
    )
    ctx = bi.groupBy("prev").agg(F.sum("cb").alias("cp"))
    lam = BIGRAM_LAMBDA_PCT / 100.0
    scored = (
        seq.join(uni, "cur")
        .crossJoin(F.broadcast(tot))
        .join(bi, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("prev").isNull(),
                F.expr("ln(CAST(cu AS DOUBLE) / total)"),
            )
            .otherwise(
                F.expr(
                    f"ln({lam} * (CAST(cb AS DOUBLE) / cp)"
                    f" + {1.0 - lam} * (CAST(cu AS DOUBLE) / total))"
                )
            )
            .alias("lnp"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(pos, lnp))),"
            " s -> s.lnp), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("s"),
    )
    ce = F.round((-F.col("s")) / F.col("n_tokens"), 9)
    return folded.select(
        "doc_id",
        "n_tokens",
        ce.alias("ce_nats"),
        (ce <= BIGRAM_CE_MAX).alias("keep"),
    )


TEXTRANK_ITER = 2
TEXTRANK_TOPK = 20
TEXTRANK_MIN_W = 2


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords: damped integer PageRank over
    the adjacent-token co-occurrence graph (stopwords dropped, edge
    weight = corpus-wide adjacency count pruned at TEXTRANK_MIN_W) —
    the graph-centrality keyword extractor beside RAKE's
    degree/frequency heuristic.  Same integer-exact transfer device
    as graph.part_pagerank (floor pr·w DIV outw, 85/100 damping), so
    the unrolled oracle replays the identical trajectory.

    Scale: one tokenize pass to adjacent pairs (posexplode +
    self-join on position+1 — shuffle keyed on (doc, pos)); the word
    graph is vocabulary-sized, so each iteration's edges⋈scores join
    broadcasts the score table.
    """
    from data_pipeline_for_e_commerce_shop_spark.operators.graph import (
        PR_D_DEN,
        PR_D_NUM,
        PR_SCALE,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).where(~F.col("w").isin(STOPWORDS))
    pairs = (
        toks.alias("x")
        .join(
            toks.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.pos") + 1 == F.col("y.pos")),
        )
        .where(F.col("x.w") != F.col("y.w"))
        .select(
            F.least(F.col("x.w"), F.col("y.w")).alias("wa"),
            F.greatest(F.col("x.w"), F.col("y.w")).alias("wb"),
        )
    )
    und = (
        pairs.groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .where(F.col("w") >= TEXTRANK_MIN_W)
    )
    edges = (
        und.select(F.col("wa").alias("src"), F.col("wb").alias("dst"), "w")
        .unionByName(
            und.select(
                F.col("wb").alias("src"), F.col("wa").alias("dst"), "w"
            )
        )
        .localCheckpoint(eager=False)
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    nodes = outw.select(F.col("src").alias("word"))
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN
    pr = nodes.select(
        "word", F.lit(PR_SCALE).cast("long").alias("pr")
    )
    for _ in range(TEXTRANK_ITER):
        contrib = (
            edges.join(
                F.broadcast(pr.select(F.col("word").alias("src"), "pr")),
                "src",
            )
            .join(F.broadcast(outw), "src")
            .select("dst", F.expr("pr * w div outw").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        pr = nodes.join(
            F.broadcast(
                contrib.select(F.col("dst").alias("word"), "inflow")
            ),
            "word",
            "left",
        ).select(
            "word",
            (
                F.lit(base)
                + F.expr(
                    f"{PR_D_NUM} * coalesce(inflow, 0) div {PR_D_DEN}"
                )
            ).cast("long").alias("pr"),
        )
    from pyspark.sql import Window

    wn = Window.orderBy(F.col("pr").desc(), F.col("word").asc())
    return (
        pr.withColumn("rank", F.row_number().over(wn))
        .where(F.col("rank") <= TEXTRANK_TOPK)
        .select("rank", "word", "pr")
        .orderBy("rank")
    )


# Kneser-Ney discount (x100, interpolated into the oracle so the two
# sides cannot drift).  0.75 is the classic absolute-discount choice.
KN_DISCOUNT_PCT = 75


def kneser_ney_cross_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc cross-entropy under an interpolated Kneser-Ney bigram
    LM — the smoothing that actually shipped in pre-neural LMs (and
    still powers KenLM-style quality filters): the backoff mass goes
    to the CONTINUATION unigram P_cont(w) = (N1+(.,w)+1)/(B+V)
    (how many distinct contexts w follows, add-1 over bigram types B
    plus vocab V), not the raw unigram — so frequent-but-burnt tokens
    ("francisco") stop inflating backoff probability.

    P(w|v) = (max(c(v,w) - D, 0) + D . N1+(v,.) . P_cont(w)) / c(v),
    D = 0.75; doc-initial tokens score ln P_cont.  All counts are
    exact integers from ONE tokenize pass; the per-doc sum is the
    sequential position-ordered fold (float-parity device); the
    scoring expression is the same literal on both engines.

    Scale shape mirrors bigram_cross_entropy: vocabulary-sized count
    tables, term-keyed scoring joins, no collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "cur"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.withColumn("prev", F.lag("cur").over(wd)).localCheckpoint(
        eager=False
    )
    bi = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)  # feeds 4 derived tables + join
    )
    ctx = bi.groupBy("prev").agg(
        F.sum("cb").alias("cp"),
        F.count(F.lit(1)).alias("n1p"),  # N1+(v, .)
    )
    cont = bi.groupBy("cur").agg(F.count(F.lit(1)).alias("cont"))
    btot = bi.agg(F.count(F.lit(1)).alias("b_types"))
    vtot = seq.agg(F.countDistinct("cur").alias("v_size"))
    d = KN_DISCOUNT_PCT / 100.0
    scored = (
        seq.join(F.broadcast(cont), "cur", "left")
        .join(bi, ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(vtot))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("prev").isNull(),
                F.expr(
                    "ln((CAST(coalesce(cont, 0) AS DOUBLE) + 1)"
                    " / (b_types + v_size))"
                ),
            )
            .otherwise(
                F.expr(
                    f"ln((greatest(CAST(cb AS DOUBLE) - {d}, 0.0)"
                    f" + {d} * n1p"
                    " * ((CAST(coalesce(cont, 0) AS DOUBLE) + 1)"
                    " / (b_types + v_size))) / cp)"
                )
            )
            .alias("lnp"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(pos, lnp))),"
            " s -> s.lnp), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("s"),
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        F.round((-F.col("s")) / F.col("n_tokens"), 9).alias("kn_ce_nats"),
    )
