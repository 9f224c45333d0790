"""Dedup / similarity / text-analysis operator tests over the driver's
documents and embeddings tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_quant_spark.operators import dedup, similarity, text
from polars_quant_spark.sources.bars import load_table


def test_exact_dedup_groups(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["Hello, World!", "hello world", "different doc", "HELLO   world"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = dedup.exact_dedup(df).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups[1] == 3  # 1,2,4 normalize identically
    assert groups[3] == 1


def test_minhash_finds_near_dupes(spark):
    # A one-word edit in a ~60-token doc → Jaccard ≈ 0.95; with 8 bands of
    # r=2 the all-bands-miss probability is < 1e-7 for ANY permutation
    # family, so the assertion doesn't depend on the hash constants.
    base = " ".join(
        f"token{i} filler{i % 7} word{i % 11}" for i in range(20)
    )
    near = base.replace("filler3", "changed", 1)
    other = "completely unrelated content about database query engines and shuffles"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    df = spark.createDataFrame(pdf)
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.3, bands=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_ngram_jaccard_exact_values(spark):
    # doc1/doc2 3-shingle sets: {abc, bcd, cde} vs {abc, bcd, cdf} →
    # |∩|=2, |∪|=4 → jaccard exactly 0.5. Inverted-index exactness: no
    # LSH involved, so the pair MUST appear (no probabilistic miss).
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c d e", "a b c d f", "totally different words here now"],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert got == {(1, 2): 0.5}
    # threshold above the exact value excludes the pair
    assert dedup.ngram_jaccard_pairs(df, threshold=0.6).count() == 0


def test_jaccard_identical_is_one(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": ["x y z w v"], "b": ["x y z w v"]}))
    val = df.select(dedup.jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    assert val == 1.0


def test_simhash_close_for_near_dupes(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    near = base.replace("dog", "cat")
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [base, near]})
    df = spark.createDataFrame(pdf)
    rows = df.select(dedup.simhash("text").alias("sh")).collect()
    h1, h2 = rows[0]["sh"], rows[1]["sh"]
    assert bin(h1 ^ h2).count("1") <= 8  # near dupes → small hamming distance


def test_cosine_topk_self_is_top1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.cosine_topk(emb, queries, k=5).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    for qid, vid in top1.items():
        assert qid == vid  # each vector's nearest neighbour is itself


def test_connected_components_multi_hop(spark):
    """A chain 1-2-3-4 (diameter 3) plus a separate pair must collapse to
    two components labeled by their min ids — exercises >1 propagation
    round."""
    pdf = pd.DataFrame(
        {"id_a": [1, 2, 3, 10], "id_b": [2, 3, 4, 11]}
    )
    comp = dedup.connected_components(spark.createDataFrame(pdf)).collect()
    labels = {r["u"]: r["component"] for r in comp}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_deep_chain(spark):
    """A 300-link path (diameter 299, the boilerplate-chain topology from
    VERDICT r10 #4) must fully converge inside the default max_iter=20 —
    plain min-label propagation needs 299 rounds and silently returned
    unconverged labels; pointer jumping compresses label chains
    geometrically, so 20 rounds cover diameters past 2^18."""
    n = 300
    pdf = pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    comp = dedup.connected_components(spark.createDataFrame(pdf)).collect()
    labels = {r["u"]: r["component"] for r in comp}
    assert len(labels) == n
    assert set(labels.values()) == {0}
    st = dedup.last_cc_stats
    assert (st["rounds"], st["jump_rounds"], st["converged"]) == (10, 7, True)


def test_connected_components_job_count(spark):
    """Locks the Spark job count of the 300-link chain's components call
    (it is eager: every round checkpoints and probes). The arc list with
    self-loops read once, one join and one aggregate per plain round and a
    single-job ``isEmpty`` probe start 68 jobs here; the previous body (a
    union of two pair reads, a node ``distinct``, a labels ⋈ proposals
    join and a ``limit(1).count()`` probe) started 100 on the same input."""
    n = 300
    pdf = pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    edges = spark.createDataFrame(pdf)
    sc = spark.sparkContext
    group = "test_connected_components_job_count"
    sc.setJobGroup(group, group)
    try:
        dedup.connected_components(edges)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert dedup.last_cc_stats["rounds"] == 10
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 68


def _union_find_components(pairs):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize(
    "pairs",
    [
        [],
        [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3)],
        [(1, 1), (2, 2), (2, 3), (4, 4)],
        [(5, i) for i in (1, 2, 3, 4, 6, 7, 8)],
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 13), (13, 14)],
        [(7, 3)],
    ],
    ids=["empty", "dup_and_reversed", "self_loops", "star", "two_paths", "single_edge"],
)
def test_connected_components_matches_union_find(spark, pairs):
    """Every node gets the min id of its component, as a pure-Python
    union-find computes it, on the degenerate inputs the arc list must
    handle: no edges, repeated and reversed pairs, self-loops, a star, two
    disjoint paths and one edge."""
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    comp = dedup.connected_components(edges).collect()
    labels = {r["u"]: r["component"] for r in comp}
    assert len(comp) == len(labels)
    assert labels == _union_find_components(pairs)
    assert dedup.last_cc_stats["converged"]


def test_sliding_window_chain_fires_pointer_jumps(spark):
    """The tools/docs_replica.py planted-chain construction, through the
    REAL minhash pipeline (the 300-link test above feeds synthetic edges):
    doc i = 62 digit tokens at stride 2, so exact trigram Jaccard is
    (60−2d)/(60+2d) ≥ 0.5 iff hop distance d ≤ 10. Correlated minhash
    misses fragment the chain into deep PATH components whose diameter
    exceeds the plain-propagation regime — the corpus shape VERDICT r12 #5
    asked to see exercising connected_components' jump schedule. Minhash
    is deterministic, so the component structure and CC stats are pinned
    exactly (measured once, stable across runs/hosts)."""
    n = 300
    texts = [" ".join(f"q{j}" for j in range(2 * i, 2 * i + 62)) for i in range(n)]
    pdf = pd.DataFrame({"doc_id": range(n), "text": texts})
    out = dedup.minhash_dedup(spark.createDataFrame(pdf), threshold=0.5)
    comps: dict[int, list[int]] = {}
    for r in out.collect():
        comps.setdefault(r["keep_id"], []).append(r["doc_id"])
    sizes = sorted((len(v) for v in comps.values()), reverse=True)
    assert len(comps) == 10 and sizes[0] == 88
    # every component is a contiguous id range (path topology, no leaks
    # across a break) and every doc is accounted for exactly once
    assert sorted(i for v in comps.values() for i in v) == list(range(n))
    for keep, members in comps.items():
        assert keep == min(members)
        assert max(members) - min(members) == len(members) - 1
    st = dedup.last_cc_stats
    assert (st["rounds"], st["jump_rounds"], st["converged"]) == (5, 2, True)
    # round-14 observability: one wall per round, one per jump block
    assert len(st["round_s"]) == 5 and len(st["jump_s"]) == 2
    assert all(w > 0 for w in st["round_s"] + st["jump_s"])


def test_minhash_dedup_end_to_end(spark):
    base = " ".join(f"tok{i} fill{i % 5}" for i in range(30))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, base + " extra", base.replace("fill1", "x", 1), "unrelated thing entirely"],
        }
    )
    out = dedup.minhash_dedup(spark.createDataFrame(pdf), threshold=0.3, bands=8)
    rows = {r["doc_id"]: (r["keep_id"], r["is_canonical"]) for r in out.collect()}
    assert rows[1] == (1, True)
    assert rows[2] == (1, False) and rows[3] == (1, False)
    assert rows[4] == (4, True)


def test_cosine_topk_np_matches_exact(spark, sf_dir):
    """The GEMM scale path must reproduce the HOF exact path row-for-row
    after the engine-wide 6-dp rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = (
        similarity.cosine_topk(emb, queries, k=7)
        .orderBy("query_id", "rank")
        .collect()
    )
    fast = (
        similarity.cosine_topk_np(emb, queries, k=7)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert len(exact) == len(fast)
    for e, f in zip(exact, fast):
        assert (e["query_id"], e["vec_id"], e["rank"]) == (
            f["query_id"], f["vec_id"], f["rank"],
        )
        assert f["cos_sim"] == pytest.approx(e["cos_sim"], abs=2e-6)


def test_ivf_topk_mostly_agrees_with_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=3).collect()
    approx = similarity.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4).collect()
    # self-match must survive the IVF route
    approx_top1 = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    for qid, vid in approx_top1.items():
        assert qid == vid
    assert len(exact) == 6


def _recall(exact_rows, approx_rows):
    ex: dict = {}
    ap: dict = {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx_rows:
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    return hits / sum(len(v) for v in ex.values())


def test_kmeans_ivf_improves_recall(spark, sf_dir):
    """2 Lloyd's rounds must not lose recall@10 vs the raw md5-seeded
    buckets, and must help on the probe-starved setting (trained centroids
    balance the buckets, so nprobe buckets cover more of the true
    neighborhood)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10).collect()
    kw = dict(k=10, n_centroids=16, nprobe=2)
    hashed = similarity.ivf_topk(emb, queries, **kw).collect()
    trained = similarity.ivf_topk(emb, queries, train_rounds=2, **kw).collect()
    r_hash = _recall(exact, hashed)
    r_train = _recall(exact, trained)
    assert r_train >= r_hash - 1e-9, (r_train, r_hash)
    # absolute floor is corpus-dependent (probe-starved on the tiny test
    # SF); the load-bearing assertion is trained ≥ hashed above
    assert r_train >= 0.35


def test_language_id_on_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = docs.select("lang", text.detect_language("text").alias("pred")).collect()
    assert {r["pred"] for r in out} <= {"en", "es", "de", "fr", "und"}


def test_quality_and_tokens(spark):
    pdf = pd.DataFrame(
        {"text": ["The quick brown fox is in the garden with the dog.", "x!!!", ""]}
    )
    df = spark.createDataFrame(pdf)
    rows = df.select(
        text.token_count("text").alias("n"),
        text.quality_score("text").alias("q"),
        text.fingerprint("text").alias("fp"),
    ).collect()
    assert rows[0]["n"] == 11
    assert rows[0]["q"] > rows[1]["q"]
    assert rows[2]["n"] == 0
    assert len(rows[0]["fp"]) == 32


def test_token_frequencies_counts(spark):
    import pandas as pd
    from polars_quant_spark.operators import text as T

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["the cat the dog", "the cat", "bird"]}
    )
    df = spark.createDataFrame(pdf)
    got = {r["token"]: (r["freq"], r["n_docs"]) for r in T.token_frequencies(df).collect()}
    assert got == {"the": (3, 2), "cat": (2, 2), "dog": (1, 1), "bird": (1, 1)}


def test_contamination_flags_overlap(spark):
    import pandas as pd
    from polars_quant_spark.operators import dedup

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon",   # shares 3-shingles with probe
                    "totally different words here now",
                    "alpha beta gamma delta epsilon",   # exact dup of 1
                ],
            }
        )
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"probe_id": [100], "text": ["alpha beta gamma delta epsilon"]})
    )
    out = dedup.contamination(corpus, probes, min_shared=2)
    rows = {(r["probe_id"], r["doc_id"]): (r["n_shared"], r["overlap_ratio"]) for r in out.collect()}
    # docs 1 and 3 share all 3 shingles with the probe; doc 2 shares none
    assert set(rows) == {(100, 1), (100, 3)}
    assert rows[(100, 1)] == (3, 1.0)
    assert rows[(100, 3)] == (3, 1.0)


def test_repetition_stats_values(spark):
    import pandas as pd
    from polars_quant_spark.operators import text as T

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b a b a b",   # bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
                    "x y z",         # xy,yz → no repetition
                    "solo",          # <2 tokens: one degenerate gram
                ],
            }
        )
    )
    got = {
        r["doc_id"]: (r["dup_ngram_ratio"], r["top_ngram_share"])
        for r in T.repetition_stats(df, n=2).collect()
    }
    assert got[1] == (1 - 2 / 5, 3 / 5)
    assert got[2] == (0.0, 0.5)
    assert got[3] == (0.0, 1.0)


def test_pack_documents_invariants(spark, sf_dir):
    from polars_quant_spark.operators import text as T
    from polars_quant_spark.sources.bars import load_table
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    budget = 64
    out = T.pack_documents(docs, budget=budget, shards=4).toPandas()
    toks = docs.select("doc_id", T.token_count("text").alias("n")).toPandas()
    n_by_doc = dict(zip(toks.doc_id, toks.n))

    # each doc's spans tile [0, n) exactly, in pack order, with no gaps
    for doc_id, grp in out.groupby("doc_id"):
        g = grp.sort_values("pack_id")
        assert g.doc_tok_start.iloc[0] == 0
        assert g.doc_tok_end.iloc[-1] == n_by_doc[doc_id]
        assert (g.doc_tok_end.values[:-1] == g.doc_tok_start.values[1:]).all()
        assert (g.doc_tok_end > g.doc_tok_start).all()

    # every pack except each shard's last holds exactly `budget` tokens
    out["span"] = out.doc_tok_end - out.doc_tok_start
    sizes = out.groupby(["shard", "pack_id"])["span"].sum()
    for shard, grp in sizes.groupby(level=0):
        full, tail = grp.iloc[:-1], grp.iloc[-1]
        assert (full == budget).all()
        assert 0 < tail <= budget


def test_remove_duplicated_spans_cuts_boilerplate(spark):
    # 12 docs all carry the 2-token boilerplate "buy now" up front; each
    # doc's tail is unique. max_docs=10 bans exactly that span.
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(12)),
            "text": [f"buy now unique{i} content{i} tail{i} piece{i}" for i in range(12)],
        }
    )
    out = text.remove_duplicated_spans(
        spark.createDataFrame(pdf), width=2, max_docs=10
    ).collect()
    assert len(out) == 12
    for r in out:
        i = r["doc_id"]
        assert r["clean_text"] == f"unique{i} content{i} tail{i} piece{i}"
        assert r["n_spans"] == 3 and r["n_dropped"] == 1


def test_oov_stats_against_known_vocab(spark):
    # corpus freqs: "a"×4, "b"×2, "c"×1, "d"×1 → vocab_size=2 keeps {a, b};
    # doc 2 has 2 OOV instances of 4 tokens.
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a a b b", "a a c d"]})
    out = {r["doc_id"]: r for r in text.oov_stats(spark.createDataFrame(pdf), vocab_size=2).collect()}
    assert out[1]["n_oov"] == 0 and out[1]["oov_ratio"] == 0.0
    assert out[2]["n_tokens"] == 4 and out[2]["n_oov"] == 2 and out[2]["oov_ratio"] == 0.5


def test_winnow_guarantee_shared_run(spark):
    # Winnowing guarantee (k=3, w=4): any shared run of ≥ w+k−1 = 6 tokens
    # yields at least one common fingerprint; disjoint docs share none.
    shared = "alpha beta gamma delta epsilon zeta"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                f"one two {shared} three four five six",
                f"nine ten eleven {shared} twelve thirteen",
                "totally different words with nothing common here at all",
            ],
        }
    )
    fps = text.winnow_fingerprints(spark.createDataFrame(pdf), k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[1] & by_doc[2]  # shared run → common fingerprint
    assert not (by_doc[1] & by_doc.get(3, set()))
    assert not (by_doc[2] & by_doc.get(3, set()))


def test_select_token_budget_greedy_prefix(spark):
    # Equal-quality docs (same text shape) tie-break by doc_id: with a
    # budget of 2.5 docs' tokens, exactly docs 1 and 2 fit.
    base = "the cat and the dog sat with the fox near the tree today fine"
    pdf = pd.DataFrame({"doc_id": [3, 1, 2], "text": [base, base, base]})
    n = len(base.split())
    out = {
        r["doc_id"]: r
        for r in text.select_token_budget(
            spark.createDataFrame(pdf), budget=int(2.5 * n)
        ).collect()
    }
    assert [out[i]["selected"] for i in (1, 2, 3)] == [True, True, False]
    assert all(out[i]["n_tokens"] == n for i in (1, 2, 3))


def test_scrub_pii_masks_all_kinds(spark):
    import pandas as pd
    from polars_quant_spark.operators import text as T

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": ["mail a.b+c@x-y.org ip 192.168.0.1 call 555-123-4567 done"],
            }
        )
    )
    row = df.select(
        T.scrub_pii("text").alias("s"), *[c.alias(k) for k, c in T.pii_counts("text").items()]
    ).collect()[0]
    assert row["s"] == "mail [EMAIL] ip [IP] call [PHONE] done"
    assert (row["EMAIL"], row["IP"], row["PHONE"]) == (1, 1, 1)


def test_quantize_embeddings_roundtrip(spark, sf_dir):
    # int8 codes stay in range; dequantized vectors keep cosine ≈ 1 with
    # the originals (64-dim, symmetric scale → error ≤ scale/2 per coord).
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    q = similarity.quantize_embeddings(emb)
    joined = q.join(emb, "vec_id").select(
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias("mx"),
        similarity.cosine(
            similarity.dequantize(F.col("qvec"), F.col("scale")), F.col("embedding")
        ).alias("fid"),
    )
    rows = joined.collect()
    assert all(r["mx"] <= 127 for r in rows)
    assert all(r["fid"] > 0.999 for r in rows)


def test_interval_overlap_join_equals_nl(spark, sf_dir):
    # binned interval×interval join must emit exactly the NL overlap pairs,
    # each exactly once (first-shared-bin dedup), across bin widths that
    # are smaller than, comparable to, and larger than the interval spans.
    from polars_quant_spark.operators.asof import interval_overlap_join
    from polars_quant_spark.sources.bars import bars

    b = bars(spark, sf_dir).select("symbol", "t")
    a = b.where(F.col("t") % 13 == 0).select(
        "symbol", F.col("t").alias("a_lo"), (F.col("t") + 21).alias("a_hi")
    )
    c = b.where(F.col("t") % 17 == 0).select(
        "symbol", F.col("t").alias("b_lo"), (F.col("t") + 30).alias("b_hi")
    )
    nl = (
        a.join(c, "symbol")
        .where((F.col("a_lo") < F.col("b_hi")) & (F.col("b_lo") < F.col("a_hi")))
        .select("symbol", "a_lo", "b_lo")
    )
    expected = sorted(map(tuple, nl.collect()))
    for width in (8, 32, 128):
        got = sorted(
            map(
                tuple,
                interval_overlap_join(
                    a, c, "a_lo", "a_hi", "b_lo", "b_hi", width, by="symbol"
                )
                .select("symbol", "a_lo", "b_lo")
                .collect(),
            )
        )
        assert got == expected, f"width={width}"


def test_binned_range_join_equals_broadcast_nl(spark, sf_dir):
    """The binned hash plan must produce exactly the NL join's pairs."""
    from polars_quant_spark.operators.asof import binned_range_join, range_join
    from polars_quant_spark.sources.bars import bars

    import pandas as pd

    b = bars(spark, sf_dir).select("symbol", "t")
    # deterministic intervals per symbol: [k*37, k*37 + width_k); built as a
    # fresh frame (not b's lineage) so the NL self-join stays unambiguous
    mx = {r[0]: r[1] for r in b.groupBy("symbol").agg(F.max("t")).collect()}
    iv_rows = [
        (s, k * 37, k * 37 + (k % 5) * 13 + 4)
        for s, m in sorted(mx.items())
        for k in range(m // 37 + 1)
    ]
    iv = spark.createDataFrame(
        pd.DataFrame(iv_rows, columns=["symbol", "lo", "hi"])
    )
    nl = range_join(b, iv, "t", "lo", "hi", by="symbol")
    binned = binned_range_join(b, iv, "t", "lo", "hi", bin_width=32, by="symbol")
    # the NL join keeps both sides' key column — qualify via the left frame
    nl_rows = nl.select(b["symbol"], "t", "lo", "hi").collect()
    assert sorted(map(tuple, nl_rows)) == sorted(
        map(tuple, binned.select("symbol", "t", "lo", "hi").collect())
    )
    # plan shape: hash join on the bin, not a nested loop
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        binned.explain("formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()


def test_unigram_surprisal_orders_docs(spark):
    """A document of corpus-common tokens must score fewer bits/token than
    one made of hapaxes; n_tokens matches the shared tokenizer; scores are
    positive and finite."""
    rows = (
        [("common%d" % i, "the cat sat on the mat and the dog sat too") for i in range(5)]
        + [("rare", "zyxqv wqjkz plmnb vvxzq qqwwz")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.unigram_surprisal(df).collect()}
    assert out["common0"]["n_tokens"] == 11
    assert out["rare"]["n_tokens"] == 5
    assert 0 < out["common0"]["bits_per_token"] < out["rare"]["bits_per_token"]


def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """With lang=='en' as the target, English documents must average a
    higher importance log-ratio than each non-English language."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.dsir_logratios(docs, F.col("lang") == "en")
    means = {
        r["lang"]: r["m"]
        for r in out.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("logratio").alias("m"))
        .collect()
    }
    assert all(means["en"] > m for lang, m in means.items() if lang != "en")


def test_pca_project_matches_numpy(spark, sf_dir):
    """pca_project (distributed gram + driver eigh + codegen'd projection)
    agrees with a direct numpy PCA on the collected corpus to within the
    6dp gram quantization."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = 4
    out = (
        similarity.pca_project(emb, k=k)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(
        emb.toPandas().sort_values("vec_id")["embedding"].to_numpy()
    ).astype("float64")
    vals, vecs = np.linalg.eigh(np.cov(X.T))
    order = np.argsort(vals)[::-1][:k]
    W = vecs[:, order]
    sign = np.sign(W[np.argmax(np.abs(W), axis=0), np.arange(k)])
    W = W * sign
    ref = (X - X.mean(0)) @ W
    got = out[[f"pc{i}" for i in range(k)]].to_numpy()
    assert np.abs(got - ref).max() < 1e-3
    # variance concentrates in eigen-order
    var = got.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))


def test_bm25_ranks_term_rich_docs(spark):
    """A document rich in query terms outranks a single-hit one; documents
    with no query terms are absent; rare terms outweigh common ones."""
    rows = [
        ("rich", "model training data model training data extra words here"),
        ("single", "one model mention in a long piece of ordinary text " + "filler " * 20),
        ("none", "completely unrelated content about weather and cooking"),
    ] + [("pad%d" % i, "ordinary filler text piece %d" % i) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["score"] for r in
           text.bm25_scores(df, ["model", "training", "data"]).collect()}
    assert "none" not in out
    assert out["rich"] > out["single"] > 0


def test_tf_vectors_feed_similarity_stack(spark, sf_dir):
    """hashed_tf_vectors output drops into cosine_topk as embeddings:
    every doc's nearest neighbor under cosine is itself (sim 1.0)."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    v = text.hashed_tf_vectors(docs)
    q = v.limit(5).select(
        F.col("doc_id").alias("query_id"), F.col("tf_vec").alias("embedding")
    )
    c = v.select("doc_id", F.col("tf_vec").alias("embedding"))
    top1 = (
        similarity.cosine_topk(c, q, k=1, id_col="doc_id")
        .where(F.col("rank") == 1)
        .collect()
    )
    assert len(top1) == 5
    for r in top1:  # output contract names the corpus id column vec_id
        assert r["vec_id"] == r["query_id"] and r["cos_sim"] == 1.0


def test_pagerank_star_graph(spark):
    """On a star graph the hub outranks every leaf; total rank mass stays
    ~1 (undirected graph has no dangling loss); deterministic across runs."""
    from polars_quant_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(6)], ["src", "dst"]
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert all(out["hub"] > out[f"leaf{i}"] for i in range(6))
    assert abs(sum(out.values()) - 1.0) < 1e-3
    out2 = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert out == out2


# ---------------------------------------------------------------------------
# chunk_documents / exact_k_per_group / numeric_histogram
# ---------------------------------------------------------------------------


def test_chunk_documents_covers_every_token_with_overlap(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                " ".join(f"w{i}" for i in range(150)),  # multi-chunk
                " ".join(f"w{i}" for i in range(64)),   # exactly one window
                "single",                                # tiny
            ],
        }
    )
    out = (
        text.chunk_documents(spark.createDataFrame(pdf), size=64, stride=48)
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts advance by 48 and the union of [start,end) covers 0..150
    starts = [r["tok_start"] for r in by_doc[1]]
    assert starts == [0, 48, 96, 144]
    assert all(r["tok_end"] - r["tok_start"] <= 64 for r in by_doc[1])
    covered = set()
    for r in by_doc[1]:
        covered.update(range(r["tok_start"], r["tok_end"]))
    assert covered == set(range(150))
    # consecutive chunks overlap by size - stride = 16 (except the tail)
    assert by_doc[1][0]["tok_end"] - by_doc[1][1]["tok_start"] == 16
    # doc 2: one full window, no spurious second chunk beyond 64/48 rule
    assert [(r["tok_start"], r["tok_end"]) for r in by_doc[2]] == [(0, 64), (48, 64)]
    # doc 3: one 1-token chunk, text round-trips on the contract
    assert [(r["tok_start"], r["tok_end"], r["chunk_text"]) for r in by_doc[3]] == [
        (0, 1, "single")
    ]
    # chunk text matches the token slice for a middle chunk
    assert by_doc[1][1]["chunk_text"].split(" ")[0] == "w48"
    assert len(by_doc[1][1]["chunk_text"].split(" ")) == 64


def test_chunk_documents_rejects_bad_stride(spark):
    pdf = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    with pytest.raises(ValueError):
        text.chunk_documents(pdf, size=8, stride=9)
    with pytest.raises(ValueError):
        text.chunk_documents(pdf, size=8, stride=0)


def test_exact_k_per_group_counts_and_determinism(spark):
    from polars_quant_spark.operators.sketch import exact_k_per_group

    pdf = pd.DataFrame(
        {
            "g": ["a"] * 50 + ["b"] * 3 + ["c"] * 1,
            "k": list(range(54)),
        }
    )
    df = spark.createDataFrame(pdf)
    out = exact_k_per_group(df, "g", "k", 5).collect()
    by_g: dict = {}
    for r in out:
        by_g.setdefault(r["g"], set()).add(r["k"])
    assert len(by_g["a"]) == 5          # capped at k
    assert len(by_g["b"]) == 3          # whole small group kept
    assert by_g["c"] == {53}
    # pure function of (seed, key): identical on re-run
    again = exact_k_per_group(df, "g", "k", 5).collect()
    assert {(r["g"], r["k"]) for r in again} == {(r["g"], r["k"]) for r in out}
    # adding rows displaces at most |new rows| picks per group
    grown = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 51, "k": list(range(50)) + [999]})
    )
    picks2 = {
        r["k"] for r in exact_k_per_group(grown, "g", "k", 5).collect()
    }
    assert len(by_g["a"] & picks2) >= 4


def test_numeric_histogram_partitions_all_rows(spark):
    from polars_quant_spark.operators.sketch import numeric_histogram

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"x": rng.normal(100.0, 15.0, 500)})
    df = spark.createDataFrame(pdf)
    rows = numeric_histogram(df, "x", bins=10).collect()
    assert sum(r["n"] for r in rows) == 500
    assert all(0 <= r["bin"] < 10 for r in rows)
    # edges are an equi-width ladder: hi_edge - lo_edge constant-ish (6dp)
    widths = {round(r["hi_edge"] - r["lo_edge"], 4) for r in rows}
    assert len(widths) == 1
    lo = min(r["lo_edge"] for r in rows)
    hi = max(r["hi_edge"] for r in rows)
    assert lo <= pdf.x.min() + 1e-6 and hi >= pdf.x.max() - 1e-6


def test_numeric_histogram_constant_column(spark):
    from polars_quant_spark.operators.sketch import numeric_histogram

    df = spark.createDataFrame(pd.DataFrame({"x": [5.0] * 20}))
    rows = numeric_histogram(df, "x", bins=10).collect()
    assert len(rows) == 1 and rows[0]["n"] == 20 and rows[0]["bin"] == 0


def test_bpe_merges_match_reference_algorithm(spark):
    """The learned merge table equals a hand-rolled reference BPE (corpus
    frequency weighting, left-to-right non-overlap, (cnt DESC, a, b)
    tie-break) on a corpus designed to exercise overlap ('aaa') and
    repeated-pair ('xyxy') words."""
    import collections

    corpus = ["the cat sat on the mat", "the cat ate the rat aaa xyxy", "matter of fact the hat aaa"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(3), "text": corpus})
    )
    got = [
        (r["round"], r["pair_a"], r["pair_b"], r["merged"], r["cnt"])
        for r in text.bpe_merges(df, rounds=6).orderBy("round").collect()
    ]

    vocab = collections.Counter(
        w for t in corpus for w in t.lower().split()
    )
    sym_vocab = {tuple(w): c for w, c in vocab.items()}
    exp = []
    for rnd in range(6):
        pc: collections.Counter = collections.Counter()
        for syms, c in sym_vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((rnd + 1, a, b, a + b, cnt))
        nv: dict = {}
        for syms, c in sym_vocab.items():
            out_s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out_s.append(a + b)
                    i += 2
                else:
                    out_s.append(syms[i])
                    i += 1
            key = tuple(out_s)
            nv[key] = nv.get(key, 0) + c
        sym_vocab = nv
    assert got == exp


def test_containment_catches_short_doc_inside_long(spark):
    """A short doc fully embedded in a long one scores containment ≈ 1.0
    even when symmetric Jaccard is diluted far below threshold."""
    short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_doc = short + " " + " ".join(f"filler{i} pad{i} extra{i}" for i in range(40))
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [short, long_doc]})
    df = spark.createDataFrame(pdf)
    cont = dedup.containment_pairs(df, threshold=0.6, bands=8, num_hashes=16)
    rows = cont.collect()
    assert len(rows) == 1 and rows[0]["containment"] >= 0.99
    jac = dedup.minhash_dedup_pairs(df, threshold=0.6, bands=8, num_hashes=16)
    assert jac.count() == 0  # symmetric jaccard misses the same pair


def test_gram_overflow_guard_large_magnitudes(spark):
    # |x| = 2000 → q = 2e9, q² = 4e18 > 2⁶² — forces per-row chunking and
    # accumulator flushes; the DECIMAL merge must still be exact (ADVICE r2).
    rows = [(i, [2000.0, -2000.0, 1500.0]) for i in range(7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        (r["i"], r["j"]): int(r["s"])
        for r in similarity.embedding_gram_raw(df, "embedding").collect()
    }
    q = [2_000_000_000, -2_000_000_000, 1_500_000_000]
    for i in range(3):
        for j in range(i, 3):
            assert out[(i, j)] == 7 * q[i] * q[j]  # > 2⁶³: exact via partials


def test_gram_overflow_guard_rejects_unchunkable(spark):
    df = spark.createDataFrame(
        [(0, [4000.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="exact-gram bound"):
        similarity.embedding_gram_raw(df, "embedding").collect()


def test_cosine_topk_arrow_bit_exact_vs_expression(spark):
    rng = np.random.default_rng(17)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(300)]
    rows.append((300, [0.0] * 16))  # zero vector exercises the 0-guard
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.limit(7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, similarity.cosine_topk(df, qs, k=9).collect()))
    b = sorted(map(tuple, similarity.cosine_topk_arrow(df, qs, k=9).collect()))
    assert a == b  # bit-exact, including rounded sims and tie-broken ranks


def test_cosine_topk_auto_dispatches_and_matches(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # tiny threshold forces the Arrow path; huge forces the expression path
    lo = similarity.cosine_topk_auto(emb, qs, k=5, arrow_threshold_bytes=1)
    hi = similarity.cosine_topk_auto(emb, qs, k=5, arrow_threshold_bytes=1 << 40)
    # The branch choice must be visible in the plan, not just the values:
    # r3/r4's `f[7:]` URI mangling made getsize throw, so the except-arm
    # routed EVERYTHING to Arrow and a values-only assertion still passed.
    lo_plan = lo._jdf.queryExecution().analyzed().toString()
    hi_plan = hi._jdf.queryExecution().analyzed().toString()
    assert "mapInArrow" in lo_plan or "MapInArrow" in lo_plan
    assert "mapInArrow" not in hi_plan and "MapInArrow" not in hi_plan
    a = sorted(map(tuple, lo.collect()))
    b = sorted(map(tuple, hi.collect()))
    assert a == b and len(a) == 20  # dispatch moves the work, not the answer


def test_cosine_topk_auto_small_corpus_picks_expression_path(spark, sf_dir):
    """With the DEFAULT threshold, the sf0.001 embeddings file (~190 KB) must
    route to the pure-Column expression path — i.e. the file-size estimate
    succeeds on `file:` URIs (regression for the `f[7:]` mangling that made
    the low-latency branch dead code)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assert emb.inputFiles() and all(
        f.startswith("file:") for f in emb.inputFiles()
    )  # precondition: the URI-parsing arm is the one exercised
    qs = emb.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk_auto(emb, qs, k=3)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "mapInArrow" not in plan and "MapInArrow" not in plan
    assert out.count() == 6


def test_semantic_dedup_keeps_lowest_id_per_dup_group(spark):
    """SemDeDup decision semantics: an exact duplicate of a lower-id vector
    is dropped; the lowest id of each duplicate group and all
    non-duplicated vectors survive. Blocking cannot split exact duplicates
    (identical vectors share a nearest centroid)."""
    from polars_quant_spark.operators.similarity import semantic_dedup

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 2.0, 0.0, 0.0]),   # same direction as 3 -> dropped
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = semantic_dedup(df, threshold=0.99, n_blocks=2)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}  # decision for EVERY input
    assert rows[1]["keep"] and not rows[2]["keep"]
    assert rows[3]["keep"] and not rows[5]["keep"]
    assert rows[4]["keep"] and rows[6]["keep"]
    assert rows[2]["nn_lower_cos"] == 1.0
    assert rows[5]["nn_lower_cos"] == 1.0


def test_effective_blocks_scales_with_corpus(spark):
    """Round-9 scale fix: the IVF block count must grow with the corpus
    (a FIXED count makes the per-block self-join quadratic — the 64× smoke
    measured emb_semantic_dedup superlinear at 129.8× wall). At gate SFs
    the auto-scaled count must stay at the n_blocks floor so oracle values
    are unchanged."""
    from polars_quant_spark.operators.similarity import _effective_blocks

    small = spark.range(500).withColumnRenamed("id", "vec_id")
    assert _effective_blocks(small, 8, 256) == 8          # sf0.01 shape
    assert _effective_blocks(small, 8, None) == 8         # pinned
    big = spark.range(128_000).withColumnRenamed("id", "vec_id")
    assert _effective_blocks(big, 8, 256) == 500          # 64× shape
    assert _effective_blocks(big, 8, 100_000) == 8        # floor wins
    # round-10 √ regime (advisor: linear b made ASSIGNMENT quadratic):
    # beyond rows = target³ the min() switches to ⌈√(rows·target)⌉, so
    # both n·b and n²/b stay Θ(n^1.5). `rows` also skips the count job.
    assert _effective_blocks(small, 8, 256, rows=16_777_216) == 65_536  # crossover
    assert _effective_blocks(small, 8, 256, rows=100_000_000) == 160_000
    assert _effective_blocks(small, 8, 256, rows=128_000) == 500  # pre-crossover unchanged


def test_semantic_dedup_autoscaled_blocks_same_decisions(spark):
    """For THIS corpus — whose near-dup groups are exact duplicates, which
    share a nearest centroid at any block count — auto-scaling the block
    count changes only `bucket` labels, not the survivor set. This is NOT
    a general invariant (round-10 advisor): threshold-grazing pairs split
    across a Voronoi boundary at higher block counts are never scored,
    which can flip keep decisions — the recall caveat now documented on
    semantic_dedup/embedding_near_dupes themselves."""
    from polars_quant_spark.operators.similarity import semantic_dedup

    vecs = [(i, [float(i % 7 == 0) + 1.0, float(i % 3), float(i % 5), 1.0])
            for i in range(1, 61)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pinned = semantic_dedup(df, threshold=0.999, target_block_rows=None)
    scaled = semantic_dedup(df, threshold=0.999, target_block_rows=10)
    keep_pinned = {r["vec_id"]: r["keep"] for r in pinned.collect()}
    keep_scaled = {r["vec_id"]: r["keep"] for r in scaled.collect()}
    assert keep_pinned == keep_scaled


def test_minhash_signatures_exploded_reuse_and_count(spark):
    """Public affordances of minhash_signatures that round 9's doc-state
    rewrite removed the last internal consumer of: passing a pre-built
    exploded-shingle frame must give identical signatures, and
    with_count=True must report the distinct-shingle set size."""
    from polars_quant_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        ["doc_id", "text"],
    )
    ex = dedup.exploded_shingles(df, "text", "doc_id", 3)
    direct = dedup.minhash_signatures(df, num_hashes=4).collect()
    reused = dedup.minhash_signatures(df, num_hashes=4, exploded=ex).collect()
    key = lambda rows: sorted((r["_id"], r["h0"], r["h1"], r["h2"], r["h3"]) for r in rows)
    assert key(direct) == key(reused)
    counted = {
        r["_id"]: r["_n"]
        for r in dedup.minhash_signatures(df, num_hashes=4, with_count=True).collect()
    }
    sizes = {r["_id"]: r["n"] for r in ex.groupBy("_id").count().withColumnRenamed("count", "n").collect()}
    assert counted == sizes


# ---------------------------------------------------------------------------
# token_edit_pairs (SymSpell-style delete-one blocking)
# ---------------------------------------------------------------------------


def test_token_edit_pairs_finds_all_edit1_classes(spark):
    # substitution (1<->2), deletion/insertion (1<->3), exact dup (1<->5);
    # doc 4 is unrelated and must not pair with anything.
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "alpha beta gamma delta",
                "alpha beta THETA delta",   # one token substituted
                "alpha beta delta",          # one token deleted
                "wholly different content here",
                "Alpha beta gamma delta!",   # exact after normalization
            ],
        }
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.token_edit_pairs(spark.createDataFrame(pdf)).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (1, 5) in pairs
    assert pairs[(1, 5)] == 0  # normalized-identical
    assert pairs[(1, 3)] == len("gamma ")  # char-levenshtein of the cut token
    assert not any(4 in p for p in pairs)
    # transitivity through the shared key: 2 and 3 both differ from 1 by one
    # edit but are at token-edit 2 from each other — they share the drop-both
    # key "alpha beta delta", so they surface as a (verifiable) candidate.
    assert (2, 3) in pairs


def test_token_edit_pairs_max_dist_filters(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b c", "a b ccccccccccccccc"],
        }
    )
    df = spark.createDataFrame(pdf)
    assert dedup.token_edit_pairs(df).count() == 1
    assert dedup.token_edit_pairs(df, max_dist=3).count() == 0


def test_token_edit_pairs_bucket_cap_drops_degenerate_key(spark):
    # Ten unrelated single-token docs all emit the empty delete-one variant;
    # with the cap below the bucket size the shared-empty-key candidates
    # vanish, with a high cap they appear (documented blocking contract).
    pdf = pd.DataFrame({"doc_id": list(range(10)), "text": [f"tok{i}" for i in range(10)]})
    df = spark.createDataFrame(pdf)
    assert dedup.token_edit_pairs(df, max_bucket=5).count() == 0
    assert dedup.token_edit_pairs(df, max_bucket=100).count() == 45


# ---------------------------------------------------------------------------
# k_anonymize (operators/clean.py)
# ---------------------------------------------------------------------------


def test_k_anonymize_suppress_and_null_modes(spark):
    from polars_quant_spark.operators.clean import k_anonymize

    pdf = pd.DataFrame(
        {
            "rid": range(7),
            "city": ["a", "a", "a", "b", "b", None, None],
            "val": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
        }
    )
    df = spark.createDataFrame(pdf)
    sup = k_anonymize(df, ["city"], k=3).collect()
    assert sorted(r["rid"] for r in sup) == [0, 1, 2]
    assert all(r["k_group"] == 3 for r in sup)

    nulled = {r["rid"]: r for r in k_anonymize(df, ["city"], k=3, mode="null").collect()}
    assert len(nulled) == 7  # row count preserved
    assert nulled[0]["city"] == "a" and nulled[3]["city"] is None
    # NULL quasi values form their own cohort (eqNullSafe join)
    assert nulled[5]["k_group"] == 2 and nulled[5]["city"] is None


def test_k_anonymize_rejects_bad_args(spark):
    from polars_quant_spark.operators.clean import k_anonymize

    df = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2]}))
    with pytest.raises(ValueError):
        k_anonymize(df, [], k=2)
    with pytest.raises(ValueError):
        k_anonymize(df, ["a"], k=2, mode="redact")
    with pytest.raises(ValueError):
        k_anonymize(df.withColumnRenamed("b", "k_group"), ["a"], k=2)


# ---------------------------------------------------------------------------
# rp_lsh (random-hyperplane LSH ANN, operators/similarity.py)
# ---------------------------------------------------------------------------


def test_rp_lsh_signature_bounds_and_validation(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    sig = similarity.rp_lsh_signatures(emb, planes=5)
    rows = sig.collect()
    assert rows and all(0 <= r["bucket"] < 32 for r in rows)
    with pytest.raises(ValueError):
        similarity.rp_lsh_signatures(emb, planes=0)
    with pytest.raises(ValueError):
        similarity.rp_lsh_signatures(emb, planes=65)


def test_rp_lsh_signatures_keep_degenerate_vectors(spark):
    """ADVICE r10: an empty (or NULL) embedding must not vanish from the
    signature frame — posexplode_outer keeps one row and the NULL
    micro-unit sum maps every sign bit to 0 (bucket 0), matching the
    DuckDB twin's list_sum(empty)=NULL -> CASE -> 0 behavior."""
    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.125]), (2, []), (3, None)],
        "vec_id int, embedding array<double>",
    )
    rows = {r["_id"]: r["bucket"] for r in
            similarity.rp_lsh_signatures(df, planes=4).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == 0 and rows[3] == 0
    assert 0 <= rows[1] < 16


def test_rp_lsh_topk_self_query_ranks_first(spark, sf_dir):
    # A query that IS a corpus vector shares its own bucket (identical
    # signature), so it must come back as its own rank-1 hit at cos 1.0.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    top1 = {
        r["query_id"]: r
        for r in similarity.rp_lsh_topk(emb, queries, k=3, planes=6)
        .where(F.col("rank") == 1)
        .collect()
    }
    for qid, r in top1.items():
        assert r["vec_id"] == qid and r["cos_sim"] == 1.0


def test_rp_lsh_multiprobe_never_shrinks_candidates(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    single = similarity.rp_lsh_topk(emb, queries, k=50, planes=6, multiprobe=False)
    multi = similarity.rp_lsh_topk(emb, queries, k=50, planes=6, multiprobe=True)
    ns = {r["query_id"]: r["n"] for r in single.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    nm = {r["query_id"]: r["n"] for r in multi.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(nm[q] >= ns.get(q, 0) for q in nm)


def test_token_edit_pairs_recall_complete_on_planted_corpus(spark):
    # Recall-completeness claim, exercised at corpus scale in ONE job:
    # 60 seeded base docs (12-token, distinct vocabulary per doc) each get
    # one planted edit-1 variant — substitution, insertion, or deletion by
    # rotation — and EVERY planted pair must be recovered exactly once.
    import random

    rng = random.Random(7)
    rows, expected = [], set()
    for b in range(60):
        # no underscores: the shared tokenizer splits on non-alnum, and a
        # token that splits in two would turn one planted edit into two
        toks = [f"w{b}x{j}" for j in range(12)]
        base_id = 2 * b
        var_id = 2 * b + 1
        v = list(toks)
        kind = b % 3
        pos = rng.randrange(12)
        if kind == 0:
            v[pos] = f"sub{b}"
        elif kind == 1:
            v.insert(pos, f"ins{b}")
        else:
            del v[pos]
        rows.append((base_id, " ".join(toks)))
        rows.append((var_id, " ".join(v)))
        expected.add((base_id, var_id))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.token_edit_pairs(df).collect()
    }
    assert expected <= got
    # per-doc vocabularies are disjoint, so NOTHING beyond the planted
    # pairs may surface
    assert got == expected
