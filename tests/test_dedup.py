"""Dedup-clustering semantics: the connected-components output must be
consistent with the candidate-pair graph it was built from."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F  # noqa: N812

from data_pipeline_for_e_commerce_shop_spark.operators import dedup


def test_connected_components_long_chain(spark):
    """A path graph of 200 nodes (diameter 199) must converge within
    the default star-round budget — the property plain min-label
    propagation (rounds = diameter) does NOT have — and label every
    node with the chain minimum."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    # driver_threshold=0 forces the DISTRIBUTED star loop (the size
    # gate would otherwise shortcut a 199-edge graph to union-find)
    out = {r.doc_id: r.cluster_id for r in
           dedup.connected_components(spark, pairs, driver_threshold=0).collect()}
    assert out == {i: 0 for i in range(n)}


def test_connected_components_raises_when_budget_too_small(spark):
    """Loop exhaustion must raise, never return unconverged labels."""
    import pytest

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        dedup.connected_components(
            spark, pairs, max_iter=1, driver_threshold=0
        )


def test_connected_components_paths_agree(spark):
    """The driver union-find shortcut and the distributed star loop
    must produce the IDENTICAL labeling on the same graph (chains,
    a triangle, an isolated pair, shared-minimum merges)."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (40, 41), (41, 42), (42, 40), (7, 3)],
        "doc_a long, doc_b long",
    )
    fast = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(spark, pairs).collect()
    )
    slow = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(
            spark, pairs, driver_threshold=0
        ).collect()
    )
    assert fast == slow
    assert fast == [(3, 3), (5, 3), (7, 3), (9, 3), (20, 20), (21, 20),
                    (40, 40), (41, 40), (42, 40)]


def test_connected_components_big_path_evaluates_input_once(spark, tmp_path):
    """On the big-graph path the size probe and the loop share one
    materialisation of the pair frame: each upstream row is evaluated
    exactly once.  A pass-through UDF appends a line per evaluation to
    a file (an accumulator would miss the rows of a task the limit
    probe stops early)."""
    log = str(tmp_path / "evals")

    def tap(x):
        with open(log, "a") as f:
            f.write(f"{x}\n")
        return x

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    ).select(F.udf(tap, "long")("doc_a").alias("doc_a"), "doc_b")
    out = {r.doc_id: r.cluster_id for r in
           dedup.connected_components(spark, pairs, driver_threshold=0).collect()}
    assert out == {i: 0 for i in range(n + 1)}
    with open(log) as f:
        assert sorted(int(x) for x in f) == list(range(n))


def test_duplicate_clusters_consistent(spark, sf_dir):
    pairs = dedup.lsh_candidate_pairs(spark, sf_dir).collect()
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(spark, sf_dir).collect()
    }
    # Every matched pair ends up in the same cluster (transitivity).
    for p in pairs:
        assert clusters[p.doc_a] == clusters[p.doc_b]
    # The cluster id IS the canonical survivor: the minimum member.
    members = defaultdict(list)
    for d, c in clusters.items():
        members[c].append(d)
    for c, ms in members.items():
        assert c == min(ms)
    # Exactly the nodes that appear in some pair are clustered.
    in_pairs = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    assert set(clusters) == in_pairs


def test_chunk_level_duplicates_bounds(spark, sf_dir):
    """Per-doc chunk counts must match the chunker at stride==size, and
    exact-duplicate documents must show 100% chunk-level duplication."""
    from pyspark.sql import functions as F

    from data_pipeline_for_e_commerce_shop_spark.operators import text

    df = dedup.chunk_level_duplicates(spark, sf_dir)
    rows = {r.doc_id: r for r in df.collect()}
    n_chunks = {
        r.doc_id: r.n
        for r in text.chunk_documents(
            spark, sf_dir, tokens=text.CHUNK_TOKENS, stride=text.CHUNK_TOKENS
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {d: r.n_chunks for d, r in rows.items()} == n_chunks
    # whole-document exact dups => every chunk is duplicated
    for fam in dedup.exact_duplicates(spark, sf_dir).where("n_copies > 1").collect():
        assert rows[fam.keep_id].dup_chunk_rate == 1.0


def test_connected_components_hypothesis_random_graphs(spark):
    """Hypothesis: on arbitrary small random graphs, the size-gated
    union-find path labels every node with its true component minimum
    (checked against an independent pure-Python BFS closure)."""
    from hypothesis import given, settings, strategies as st

    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=12, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=40))
    def check(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components(spark, pairs).collect()
        }
        # independent closure: BFS over adjacency
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        seen: set[int] = set()
        for start in adj:
            if start in seen:
                continue
            comp, stack = set(), [start]
            while stack:
                x = stack.pop()
                if x in comp:
                    continue
                comp.add(x)
                stack.extend(adj[x] - comp)
            seen |= comp
            m = min(comp)
            for x in comp:
                assert got[x] == m, (x, got[x], m)
        assert set(got) == set(adj)

    check()


def test_winnowing_shared_passage_guarantee(spark, tmp_path):
    """Winnowing's detection guarantee: two documents sharing a
    contiguous passage of at least k + w - 1 words MUST share at least
    one fingerprint, regardless of where the passage sits."""
    from data_pipeline_for_e_commerce_shop_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    passage = " ".join(f"p{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    rows = [
        (1, "alpha beta " + passage + " gamma delta", "en"),
        (2, "one two three four five " + passage, "en"),
        (3, "totally unrelated words only here now", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    fps = winnow_fingerprints(spark, d)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "shared passage produced no shared fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_semantic_dedup_keeps_centroid_closest(spark, sf_dir):
    """SemDeDup keep-rule property: within every cluster, the member
    closest to the centroid (sq_dist asc, vec_id asc) is ALWAYS kept,
    and dropped rows outnumber zero only if some pair crossed tau."""
    labeled = dedup.semantic_dedup(spark, sf_dir)
    rows = labeled.collect()
    best: dict[int, tuple] = {}
    for r in rows:
        key = (r["sq_dist"], r["vec_id"])
        if r["cluster_id"] not in best or key < best[r["cluster_id"]][0]:
            best[r["cluster_id"]] = (key, r["keep"])
    assert all(kept for _, kept in best.values()), (
        "a cluster's closest-to-centroid member was dropped"
    )
    # Full corpus labeled exactly once.
    assert len(rows) == labeled.select("vec_id").distinct().count()


def test_duplicated_spans_synthetic(spark, tmp_path):
    """Exact-span dedup on a constructed corpus: a 10-token passage
    shared by docs 1 and 2 must surface as ONE maximal span covering
    exactly those 10 tokens in each doc; doc 3 (unique text) must not
    appear.  Maximality: overlapping duplicated windows merge."""
    from data_pipeline_for_e_commerce_shop_spark.operators.dedup import (
        SPAN_TOKENS,
        duplicated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(SPAN_TOKENS + 2))  # 10 toks
    rows = [
        (1, "u1a u1b " + shared + " u1c u1d u1e", "en"),
        (2, shared + " v1 v2 v3 v4 v5 v6 v7", "en"),
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in duplicated_spans(spark, d).collect()}
    assert set(out) == {1, 2}
    n = SPAN_TOKENS + 2
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == n
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == n
    assert out[1]["dup_ppm"] == n * 1_000_000 // out[1]["n_tokens"]


def test_duplicated_spans_short_docs_do_not_crash(spark, tmp_path):
    """Documents shorter than the window width must produce no
    windows (Spark's sequence(1, n<1) REVERSES instead of returning
    empty — regression for the slice(t, 0, k) crash)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.dedup import (
        SPAN_TOKENS,
        duplicated_spans,
    )

    long_shared = " ".join(f"s{i}" for i in range(SPAN_TOKENS))
    rows = [
        (1, "a b c", "en"),                       # < k tokens
        (2, "x", "en"),                           # single token
        (3, long_shared, "en"),                   # exactly k, dup of 4
        (4, long_shared, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in duplicated_spans(spark, d).collect()}
    assert set(out) == {3, 4}
    assert out[3]["dup_tokens"] == SPAN_TOKENS


def test_bpe_merges_hypothesis_vs_pure_python(spark, tmp_path):
    """Hypothesis: on arbitrary tiny corpora the distributed BPE
    trajectory equals an independent pure-Python reference (greedy
    merge, count-desc then lexicographic tie-break)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from data_pipeline_for_e_commerce_shop_spark.operators.text import (
        bpe_merges,
    )

    word = st.text(alphabet="ab", min_size=1, max_size=5)
    corpus = st.lists(word, min_size=1, max_size=12)

    def python_bpe(words: list[str], rounds: int):
        # word-type table with counts, greedy fold per round
        types = Counter(words)
        seqs = {w: list(w) for w in types}
        out = []
        for _ in range(rounds):
            pairs: Counter = Counter()
            for w, n in types.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] += n
            if not pairs:
                break
            (a, b), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((a, b, cnt))
            for w in seqs:
                s, acc = seqs[w], []
                for x in s:
                    if acc and acc[-1] == a and x == b:
                        acc[-1] = a + b
                    else:
                        acc.append(x)
                seqs[w] = acc
        return out

    idx = [0]

    @settings(max_examples=8, deadline=None)
    @given(corpus)
    def check(words):
        exp = python_bpe(words, rounds=2)
        if not exp:
            return  # degenerate: only single-char words
        idx[0] += 1
        d = str(tmp_path / f"c{idx[0]}")
        spark.createDataFrame(
            [(1, " ".join(words), "en")],
            "doc_id long, text string, lang string",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = [
            (r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_merges(spark, d, rounds=len(exp)).collect()
        ]
        assert got == exp, (words, got, exp)

    check()


def test_duplicated_spans_hypothesis_vs_pure_python(spark, tmp_path):
    """Hypothesis: on arbitrary tiny corpora the span report equals an
    independent pure-Python sweep (hash windows, count, merge
    intervals)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from data_pipeline_for_e_commerce_shop_spark.operators.dedup import (
        SPAN_TOKENS,
        duplicated_spans,
    )

    tok = st.sampled_from(["x", "y", "z"])
    doc = st.lists(tok, min_size=1, max_size=20)
    corpus = st.lists(doc, min_size=1, max_size=4)

    def python_spans(docs: list[list[str]], k: int):
        wins: Counter = Counter()
        per_doc = []
        for toks in docs:
            ws = [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            per_doc.append(ws)
            wins.update(ws)
        out = {}
        for did, (toks, ws) in enumerate(zip(docs, per_doc), start=1):
            starts = [i + 1 for i, w in enumerate(ws) if wins[w] >= 2]
            if not starts:
                continue
            spans, cur = [], [starts[0], starts[0] + k - 1]
            for s in starts[1:]:
                if s - (cur[1] - k + 1) <= k:
                    cur[1] = s + k - 1
                else:
                    spans.append(tuple(cur))
                    cur = [s, s + k - 1]
            spans.append(tuple(cur))
            dup = sum(b - a + 1 for a, b in spans)
            out[did] = (len(spans), dup, len(toks))
        return out

    idx = [0]

    @settings(max_examples=8, deadline=None)
    @given(corpus)
    def check(docs):
        idx[0] += 1
        d = str(tmp_path / f"s{idx[0]}")
        rows = [
            (i + 1, " ".join(toks), "en") for i, toks in enumerate(docs)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["n_tokens"])
            for r in duplicated_spans(spark, d).collect()
        }
        assert got == python_spans(docs, SPAN_TOKENS), (docs, got)

    check()
