"""Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup (SURVEY.md §7 Phase 5).

Hash discipline: md5 (identical in Spark and DuckDB, so the oracle suite can
reproduce signatures bit-for-bit). Production note: xxhash64 is ~10× faster
and is a drop-in swap — the algorithms below only need *some* uniform hash.

Scale design:
* exact dedup — one hash-shuffle on the key; keeps min(doc_id) per group.
* MinHash — signatures are per-row projections (no shuffle!): higher-order
  array fns over the shingle array; the only shuffle is the band-bucket
  self-join, which is the point of LSH (candidates ≪ all-pairs). Skewed
  buckets (boilerplate shingles) are capped with a bucket-size limit.
* Jaccard verification — only on LSH candidates, array intersect/union.
* embedding near-dup — cosine over LSH-ish block joins, see similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_quant_spark.functions._util import widen
from polars_quant_spark.operators.text import tokens


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-canonical dedup: group by md5 of the normalized token
    stream, keep the smallest id. Returns (fingerprint, keep_id, n_dups)."""
    fp = F.md5(F.concat_ws(" ", tokens(text)))
    return (
        widen(df).select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles (space-joined), distinct, over the shared tokenizer."""
    toks = tokens(text)
    n = F.size(toks)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda j: F.concat_ws(" ", F.slice(toks, j, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def exploded_shingles(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = 3,
    do_widen: bool = True,
) -> DataFrame:
    """(id, shingle) rows — the codegen-friendly long form every MinHash
    stage builds on. (Spark higher-order-function lambdas are *interpreted*,
    not codegen'd; explode → ordinary md5/agg is ~30× faster and is also the
    shape that scales: shingle rows partition freely.)

    The input is widened first (see functions._util.widen) — the cheap
    pre-explode side is the right place to pay that shuffle. Pass
    ``do_widen=False`` for small frames that are broadcast downstream
    (e.g. contamination probes), where the rebalance is pure overhead."""
    if do_widen:
        df = widen(df)
    return df.select(
        F.col(id_col).alias("_id"), F.explode(shingles(text, k)).alias("_sh")
    )


# Universal-hash permutation family for MinHash: hᵢ(s) = (aᵢ·x + bᵢ) mod p
# over x = first 32 bits of md5(shingle). One md5 per shingle row (the only
# hash both engines share bit-for-bit) and num_hashes codegen'd
# multiply-adds — instead of num_hashes md5 calls. p = 2³¹−1 (Mersenne
# prime); products stay < 2⁶² so BIGINT/long arithmetic is exact on both
# engines. The constants are arbitrary fixed values shared with the DuckDB
# twin via these module attributes.
#: observability for connected_components (rounds run, jump rounds taken,
#: converged-before-max_iter) — refreshed per call, read by scale smokes
last_cc_stats: dict = {}

MH_P = 2147483647
MH_A = [(2654435761 * (i + 1)) % MH_P for i in range(64)]
MH_B = [(40503 * (i + 1) + 97) % MH_P for i in range(64)]


def _shingle_lane(sh: Column) -> Column:
    """32-bit integer lane of md5(shingle), reduced mod p."""
    return F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long") % MH_P


def _mh_aggs(num_hashes: int) -> list:
    """The h0..h{n-1} universal-hash min aggregates — pure functions of
    num_hashes (~9 py4j round-trips each), memoized per gateway."""
    from polars_quant_spark.functions._util import cached_build

    return cached_build(
        ("mh_aggs", num_hashes),
        lambda: [
            F.min((F.lit(MH_A[i]) * F.col("_x") + F.lit(MH_B[i])) % MH_P).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    exploded: DataFrame | None = None,
    with_count: bool = False,
) -> DataFrame:
    """One row per doc: h0..h{n-1} BIGINT columns, hᵢ = min over shingles of
    the i-th universal-hash permutation of md5(shingle)'s 32-bit lane
    (see MH_A/MH_B/MH_P) — shared exactly with the DuckDB oracle. One md5
    per shingle row; one shuffle (groupBy id); the min-aggs are map-side
    combined. Pass `exploded` to reuse a persisted shingle frame;
    `with_count` adds the shingle-set size as `_n` in the same agg (saves
    consumers a second shuffle over the shingle rows)."""
    ex = exploded if exploded is not None else exploded_shingles(df, text, id_col, k)
    lane = ex.select("_id", _shingle_lane(F.col("_sh")).alias("_x"))
    aggs = list(_mh_aggs(num_hashes))
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("_n"))
    return lane.groupBy("_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidate pairs: split the signature into `bands` bands of
    r = num_hashes/bands rows, bucket by md5(band), self-join buckets.
    Returns distinct (id_a, id_b) with id_a < id_b.

    `max_bucket` drops degenerate buckets (boilerplate) — the standard skew
    guard; at 100 TB this is what keeps the self-join from exploding."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, text, id_col, num_hashes, k)
    return _lsh_candidates_from_sig(sig, num_hashes, bands, max_bucket)


def _lsh_candidates_from_sig(
    sig: DataFrame, num_hashes: int, bands: int, max_bucket: int = 1000
) -> DataFrame:
    r = num_hashes // bands
    # one explode of a literal band-struct array (plain constructors, fully
    # codegen'd) — a 4-way union would duplicate the signature aggregation
    # subtree in the plan and quadruple compile time
    from polars_quant_spark.functions._util import cached_build

    band_structs = cached_build(
        ("mh_band_structs", num_hashes, bands),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[F.col(f"h{b * r + i}").cast("string") for i in range(r)],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        ),
    )
    banded = sig.select("_id", F.explode(band_structs).alias("_bb")).select(
        "_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket")
    )
    # Cap degenerate buckets via an anti-join against the (tiny) oversized
    # set rather than a count-window: the groupBy pre-aggregates map-side
    # (the window shuffles every banded row — on a boilerplate-skewed corpus
    # that IS the skew it's guarding against), the oversized frame broadcasts,
    # and unlike a window the aggregate subtree is shared across both
    # self-join sides instead of recomputed per side.
    big = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_bucket)
        .select("band", "bucket")
    )
    kept = banded.join(F.broadcast(big), ["band", "bucket"], "leftanti")
    # Pair generation: group each surviving bucket's members into one
    # bounded array (≤ max_bucket ids, GUARANTEED by the anti join above —
    # the cap must stay count-based and run BEFORE the collect, or a
    # degenerate boilerplate bucket materializes an unbounded agg buffer)
    # and emit the cross pairs with two codegen'd explodes. Round-13
    # measurement: this replaces the former sort-merge SELF-JOIN of the
    # banded rows — two corpus-scale sorts plus the join — with one hash
    # aggregate over the same shuffle key; interleaved best-of-3 at sf0.1
    # read 1.19-1.50 s vs 1.34-1.64 s end-to-end for minhash_dedup_pairs,
    # consistently ~10-13% and one fewer exchange. The pair volume per
    # bucket (n² ≤ max_bucket²) is identical to what the join emitted.
    # The old join's merge pin is moot (the join is gone); the anti join's
    # broadcast side stays the bounded oversized-bucket list (≤
    # banded_rows/max_bucket entries by construction).
    buckets = (
        kept.groupBy("band", "bucket")
        .agg(F.collect_list("_id").alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    return (
        buckets.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(text_a: Column, text_b: Column, k: int = 3) -> Column:
    """Exact n-gram Jaccard similarity between two texts."""
    sa, sb = shingles(text_a, k), shingles(text_b, k)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verification →
    pairs over threshold. Returns (id_a, id_b, jaccard).

    Round-9 plan: ONE shuffle builds the entire per-doc state — the minhash
    signature, the shingle-set size, AND the shingle set itself
    (``collect_list`` over the already-distinct shingle rows) — and
    verification is a codegen'd ``array_intersect`` over the two candidate
    docs' shingle arrays. The r8 shape verified on the exploded shingle
    rows instead, which re-sorted the corpus-scaled frame twice for the
    merge-pinned joins (the pins are mandatory: AQE-less consumers —
    pagerank/CC via localCheckpoint — otherwise static-broadcast the
    explode-descended sides); moving the verify to doc-level arrays keeps
    every pin while shrinking the sorted frames from one-row-per-shingle to
    one-row-per-doc. |A∪B| = |A|+|B|−|A∩B|.

    Scale note: the per-doc shingle array is bounded by document length
    (a 1 M-token document carries a ~20 MB array row). For extreme-length
    corpora verify on exploded rows instead (``ngram_jaccard_pairs`` keeps
    that shape).

    Cache hygiene: the per-doc state frame is persisted internally and
    feeds the returned lazy result, so the pin cannot be dropped here; in
    a long-lived session running many corpus passes, consume the result
    inside ``session.released(spark)`` to release it (ADVICE r10)."""
    from polars_quant_spark.functions._util import round6

    hs = [f"h{i}" for i in range(num_hashes)]
    state = _minhash_doc_state(df, text, id_col, num_hashes, k)
    cand = _lsh_candidates_from_sig(state.select("_id", *hs), num_hashes, bands)
    # scale pin: state is one row per DOC (corpus-scaled true size) and
    # explode-descended (tiny static estimate) — merge, see
    # _lsh_candidates_from_sig for the full rationale
    a = state.select(
        F.col("_id").alias("id_a"),
        F.col("_n").alias("_na"),
        F.col("_shs").alias("_sa"),
    )
    b = state.select(
        F.col("_id").alias("id_b"),
        F.col("_n").alias("_nb"),
        F.col("_shs").alias("_sb"),
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    out = (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            round6(
                inter.cast("double")
                / (F.col("_na") + F.col("_nb") - inter)
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def _minhash_doc_state(
    df: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int,
    k: int,
) -> DataFrame:
    """One row per doc: minhash signature columns h0..h{n-1}, shingle-set
    size ``_n``, and the shingle set ``_shs`` — all from a single groupBy
    over the exploded shingle rows (tokenize/md5 happen exactly once, no
    persisted copy of the exploded frame needed). Persisted MEMORY_AND_DISK:
    ~one row per doc, spills instead of OOMing at corpus scale."""
    ex = exploded_shingles(df, text, id_col, k)
    lane = ex.select("_id", "_sh", _shingle_lane(F.col("_sh")).alias("_x"))
    aggs = _mh_aggs(num_hashes)
    return lane.groupBy("_id").agg(
        *aggs,
        F.count(F.lit(1)).alias("_n"),
        F.collect_list("_sh").alias("_shs"),
    ).persist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_posting: int = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard dedup via an inverted-index self-join — the
    classic non-probabilistic sibling of MinHash+LSH (reference scope:
    near-dup families, SURVEY §7 Phase 5). Returns (id_a, id_b, jaccard)
    for every pair with jaccard ≥ threshold — no LSH false negatives.

    Plan: explode shingles (codegen'd, see ``exploded_shingles``) → cap
    hot postings (shingles appearing in > ``max_posting`` docs are
    boilerplate; dropping them is the standard skew guard, applied
    identically in the DuckDB twin) → self-join on the shingle =
    inverted-index candidate generation fused with intersection counting
    (one groupBy) → |A∪B| = |A|+|B|−|A∩B|.

    Scale: cost is Σ_shingle count(shingle)², bounded by
    ``max_posting``·|postings|; every stage is a hash shuffle AQE can
    split on skew. For very low thresholds prefer ``minhash_dedup_pairs``
    (LSH prunes candidate volume); for threshold ≥ ~0.5 a positional
    prefix filter (join only on each doc's ⌊(1−t)·n⌋+1 rarest shingles)
    is the tighter production refinement of the same plan shape."""
    from polars_quant_spark.functions._util import round6

    ex = exploded_shingles(df, text, id_col, k).persist()
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    # hot postings are few: aggregate them (map-side combined) and anti-join,
    # instead of a count-window that shuffles every posting row un-combined
    # (same cap semantics; see _lsh_candidates_from_sig)
    hot = (
        ex.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_posting)
        .select("_sh")
    )
    capped = ex.join(F.broadcast(hot), "_sh", "leftanti").select("_id", "_sh")
    # scale pin: capped is explode-derived (see _lsh_candidates_from_sig)
    inter = (
        capped.select(F.col("_id").alias("id_a"), "_sh")
        .join(capped.select(F.col("_id").alias("id_b"), "_sh").hint("merge"), "_sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")).hint("merge"), "id_a"
        )
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")).hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            round6(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter"))
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def contamination(
    corpus: DataFrame,
    probes: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    probe_id: str = "probe_id",
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ `min_shared`
    k-token shingles with any probe (benchmark/eval) document. Returns
    (probe_id, doc_id, n_shared, overlap_ratio) where overlap_ratio =
    |shared| / |probe shingles|.

    Scale: the probe set is small by contract (an eval suite), so its
    exploded shingles broadcast — the corpus never shuffles; the only
    exchange is the (probe, doc) pair agg, map-side combined and bounded
    by actually-overlapping pairs. Shingle sets are distinct per doc
    (see `shingles`), so the equi-join count IS the exact intersection."""
    from polars_quant_spark.functions._util import round6

    ex = exploded_shingles(corpus, text, id_col, k)
    px = exploded_shingles(probes, text, probe_id, k, do_widen=False).select(
        F.col("_id").alias("_pid"), "_sh"
    )
    shared = (
        ex.join(F.broadcast(px), "_sh")
        .groupBy("_pid", "_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sizes = px.groupBy("_pid").agg(F.count(F.lit(1)).alias("_np"))
    return shared.join(F.broadcast(sizes), "_pid").select(
        F.col("_pid").alias(probe_id),
        F.col("_id").alias(id_col),
        "n_shared",
        round6(F.col("n_shared").cast("double") / F.col("_np")).alias("overlap_ratio"),
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation with ON-DEMAND POINTER JUMPING: each round takes the min
    label over neighbors, probes convergence on that plain step, and only
    when the round is BOTH unconverged AND past the shallow regime
    (round index ≥ 2) follows the candidate label one hop through the
    freshly-updated label map (label-of-label — the path-compression step
    of hash-to-min-style CC), so label chains compress geometrically and
    convergence is O(log diameter) instead of O(diameter).

    Why it matters at scale (VERDICT r10 #4, cost recovered per r11 #2):
    near-dup clusters are usually tiny and shallow, but boilerplate CHAINS
    (doc_i ~ doc_{i+1} with sliding content) produce components whose
    diameter grows with the corpus — plain propagation needs diameter
    rounds and silently returned UNCONVERGED labels past ``max_iter``.
    The common shallow corpus (star/clique clusters, diameter ≤ 2)
    converges on plain rounds alone and now pays ZERO jump joins — the
    probe runs before the jump, so even the detection round skips it —
    while a deep chain starts jumping at round 2 and 20 rounds still
    cover diameters past 10⁴ (d_k ≈ 3·2^(k-2); asserted on a 300-link
    chain in tests/test_pipeline_ops.py).

    The graph is read ONCE into a checkpointed ARC list: one ``explode``
    per pair emits (a,b), (b,a) and the self-loops (a,a), (b,b). Because
    every node is its own neighbor, a plain round is one join (arcs ⋈
    labels on v) and one ``groupBy("u")`` that yields both the new label
    (min over the closed neighborhood, which already includes the node's
    own label) and the old one (the label carried by the self-loop arc) —
    no separate node frame, no labels ⋈ proposals join. Round 0 joins
    nothing: every label is still its own id, so the arc's v IS its label.
    Duplicate arcs (repeated pairs, one self-loop per incident pair) only
    repeat terms of a min.

    Correctness of probing the PLAIN step: at a fixed point of the plain
    neighbor-min update, every edge (u,v) has label(u)=label(v) (else the
    larger side would lower), i.e. labels are uniform per component =
    min reachable id — the true answer — so the jump can never lower a
    label the plain probe called converged. Both steps only lower labels
    (the plain min runs over the node's own label too; the jump takes
    ``least`` with it). Each round is lineage-truncated
    (``localCheckpoint``) so plans stay constant-size.
    Returns (node, component). Each call updates the module-level
    ``last_cc_stats`` dict ({"rounds", "jump_rounds", "converged",
    "round_s", "jump_s"}) — observability for the scale smokes (VERDICT
    r12 #5 asked for the observed jump-round count at 1024×), zero cost
    on the plan."""
    import time as _time

    jsc = edges.sparkSession.sparkContext._jsc
    last_cc_stats.clear()
    # round_s[i] = wall of round i (plain step + probe + jump if taken);
    # jump_s[k] = wall of the k-th jump block alone (its eager checkpoint
    # materializes the label-of-label join) — round-14 (VERDICT r13 #4):
    # the 1024x cost split between plain rounds and jump rounds needs
    # per-round walls, not just counts. Observability only, zero plan cost.
    last_cc_stats.update(
        {
            "rounds": 0,
            "jump_rounds": 0,
            "converged": False,
            "round_s": [],
            "jump_s": [],
        }
    )

    def _pinned_ids() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    a, b = F.col(src), F.col(dst)
    arcs = edges.select(
        F.explode(
            F.array(
                *(
                    F.struct(x.alias("u"), y.alias("v"))
                    for x, y in ((a, b), (b, a), (a, a), (b, b))
                )
            )
        ).alias("_arc")
    ).select("_arc.u", "_arc.v")
    arcs = arcs.localCheckpoint()
    # identity labels: lazy, read only by a max_iter=0 fall-through
    labels = arcs.select("u").distinct().select("u", F.col("u").alias("label"))
    # Round-pin hygiene (r11 review): each round eagerly checkpoints 1-2
    # frames; once round i's final checkpoint is materialized (the
    # convergence probe forces it), round i-1's pins are dead weight — a
    # long-lived session calling this in a corpus loop would otherwise
    # accumulate ~2·rounds pinned RDDs per call. Track the ids created per
    # round and drop the previous round's after the current one lands.
    # (arcs and the final round's pins are never dropped — the returned
    # frame reads them.) Like session.released(), this diffs the
    # session-GLOBAL persistent-RDD id set: single-threaded driver
    # assumed (ADVICE r11) — concurrent pins from other driver threads
    # would be mis-attributed to a round and dropped.
    keep = _pinned_ids()
    prev_round: set[int] = set()
    for i in range(max_iter):
        t_round = _time.time()
        before = _pinned_ids()
        if i == 0:
            nbr = arcs.select("u", "v", F.col("v").alias("vlabel"))
        else:
            nbr = arcs.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("vlabel")),
                "v",
            )
        new = nbr.groupBy("u").agg(
            # a null id never joins a label, so it keeps a null one
            F.min(F.when(F.col("u").isNotNull(), F.col("vlabel"))).alias("newl"),
            F.min(F.when(F.col("u") == F.col("v"), F.col("vlabel"))).alias("label"),
        )
        new = new.localCheckpoint()
        done = new.where(F.col("newl") < F.col("label")).isEmpty()
        last_cc_stats["rounds"] = i + 1
        t_jump = _time.time()
        if not done and i >= 2:
            last_cc_stats["jump_rounds"] += 1
            # unconverged past the shallow regime — pointer jump: newl is a
            # node id, so look up ITS fresh label and adopt it if smaller;
            # label chains compress geometrically. Shallow graphs (done by
            # round 2's plain probe) never reach this join.
            hmap = new.select(
                F.col("u").alias("_mu"), F.col("newl").alias("_ml")
            )
            new = new.join(
                hmap, new["newl"] == hmap["_mu"], "left"
            ).select(
                "u",
                F.least(F.coalesce("_ml", "newl"), F.col("newl")).alias("newl"),
                "label",
            )
            new = new.localCheckpoint()
            last_cc_stats["jump_s"].append(round(_time.time() - t_jump, 3))
        last_cc_stats["round_s"].append(round(_time.time() - t_round, 3))
        # this round's checkpoints are now materialized: release last round's
        live = jsc.getPersistentRDDs()
        for rid in prev_round - keep:
            if live.containsKey(rid):
                live.get(rid).unpersist(False)
        prev_round = _pinned_ids() - before
        if done:
            last_cc_stats["converged"] = True
            return new.select("u", F.col("label").alias("component"))
        labels = new.select("u", F.col("newl").alias("label"))
    return labels.select("u", F.col("label").alias("component"))


def minhash_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end near-dedup: verified pairs → connected components →
    canonical keeper (min id) per cluster. Returns one row per document:
    (doc_id, keep_id, is_canonical); filter ``is_canonical`` to dedup."""
    pairs = minhash_dedup_pairs(df, text, id_col, num_hashes, bands, k, threshold)
    comp = connected_components(pairs)
    docs = df.select(F.col(id_col).alias("doc_id"))
    out = docs.join(
        comp.select(F.col("u").alias("doc_id"), "component"), "doc_id", "left"
    )
    return out.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("keep_id"),
        (F.coalesce("component", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


def simhash_df(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id_col, simhash) via the codegen path: explode tokens → one md5
    lane per token row → ``bits`` conditional SUM aggregates per doc (all
    map-side combined, one shuffle on the id) → sign-assemble the hash.

    Bit-identical to the ``simhash`` Column expression (everything is
    integer arithmetic), but ~O(bits×tokens) *codegen'd* work instead of
    interpreted nested HOF lambdas — the same explode→agg rebuild that made
    MinHash 30× faster (see exploded_shingles). Empty-token docs keep
    simhash 0 via the left join."""
    ex = widen(df).select(
        F.col(id_col).alias("_id"), F.explode(tokens(text)).alias("_tok")
    )
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
    lane = ex.select("_id", h.alias("_h"))

    def bit(j: int) -> Column:
        # (h >> j) & 1 in exact double arithmetic (h < 2^32), matching the
        # Column form and the DuckDB twin
        return F.floor(F.col("_h") / F.pow(F.lit(2.0), F.lit(j))).cast("long") % 2

    sums = lane.groupBy("_id").agg(
        *[
            F.sum(F.when(bit(j) == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"_b{j}")
            for j in range(bits)
        ]
    )
    acc: Column = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(
            F.col(f"_b{j}") > 0, F.pow(F.lit(2.0), F.lit(j)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    hashed = sums.select("_id", acc.alias("simhash"))
    # scale pin: hashed is one row PER DOC behind an explode-descended
    # aggregate, so its size estimate stays tiny at any corpus size and
    # the static planner would broadcast 10^8 rows at 100 TB (caught by
    # test_lsh_pipelines_never_broadcast_explode_derived_sides) -- see
    # _lsh_candidates_from_sig for the full rationale
    return (
        df.select(F.col(id_col))
        .join(hashed.withColumnRenamed("_id", id_col).hint("merge"), id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash over tokens: bit j is the sign of Σ_tokens (±1 per token
    depending on bit j of md5(token)). 32-bit (hex-parseable on both
    engines). Pure projection — the right shape for streaming ingest
    (one row in, one row out, no shuffle); batch pipelines should prefer
    ``simhash_df``, whose explode→agg form is codegen'd."""
    toks = tokens(text)
    # token hash: first 8 hex chars of md5 → 32-bit int
    hs = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))

    def bit(h, j):
        # (h >> j) & 1 — arithmetic form because shiftright needs a literal
        # shift amount; h < 2^32 so the double division is exact.
        return F.floor(h / F.pow(F.lit(2.0), j)).cast("long") % 2

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda s, h: s + F.when(bit(h, j) == 1, F.lit(1)).otherwise(F.lit(-1)),
            )
            > 0,
            F.pow(F.lit(2.0), j).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def simhash_near_dupes(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, banded:
    the hash is split into ``bands`` contiguous bit-bands and candidates
    are generated per exact-matching band. By pigeonhole, any pair within
    hamming ≤ bands−1 shares at least one untouched band, so with the
    default 4 bands the blocking is *complete* for max_hamming ≤ 3 — same
    result as all-pairs, at bucket-join cost (the r1 version blocked on
    the top half only and missed pairs whose diffs fell there). Returns
    distinct (id_a, id_b, hamming)."""
    assert bits % bands == 0
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash_df(df, text, id_col, bits).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_sh")
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sh"), b * width).bitwiseAND(F.lit(mask)).alias(
                    "val"
                ),
            )
            for b in range(bands)
        ]
    )
    banded = sh.select("_id", "_sh", F.explode(band_structs).alias("_bb")).select(
        "_id", "_sh", F.col("_bb.band").alias("band"), F.col("_bb.val").alias("val")
    )
    a = banded.select("band", "val", F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = banded.select("band", "val", F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # scale pin: both sides explode-derived (see _lsh_candidates_from_sig)
    return (
        a.join(b.hint("merge"), ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT —
    |A∩B| / min(|A|, |B|) — which catches a short document embedded in a
    longer one (quotes, wrappers, concatenations) that symmetric Jaccard
    dilutes below threshold. Same LSH candidate generation and doc-level
    array verification as ``minhash_dedup_pairs`` (see its round-9 plan
    note); only the final ratio differs. Returns (id_a, id_b, containment)
    over the threshold."""
    from polars_quant_spark.functions._util import round6

    hs = [f"h{i}" for i in range(num_hashes)]
    state = _minhash_doc_state(df, text, id_col, num_hashes, k)
    cand = _lsh_candidates_from_sig(state.select("_id", *hs), num_hashes, bands)
    # scale pin: state is one row per doc, explode-descended — merge (see
    # _lsh_candidates_from_sig)
    a = state.select(
        F.col("_id").alias("id_a"),
        F.col("_n").alias("_na"),
        F.col("_shs").alias("_sa"),
    )
    b = state.select(
        F.col("_id").alias("id_b"),
        F.col("_n").alias("_nb"),
        F.col("_shs").alias("_sb"),
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    out = (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            round6(
                inter.cast("double") / F.least(F.col("_na"), F.col("_nb"))
            ).alias("containment"),
        )
    )
    return out.where(F.col("containment") >= threshold)


def token_edit_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_dist: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """One-token-edit near-duplicate pairs via SymSpell-style delete-one
    blocking — the dedup class the other detectors straddle: documents
    differing by a single token edit (substitute / insert / delete), e.g.
    templated boilerplate with one slot filled differently, which MinHash
    at useful thresholds lumps with looser near-dups and exact dedup
    misses entirely. (Reference scope: near-dup families, SURVEY §7
    Phase 5 — same family as ``minhash_dedup_pairs``/``simhash_df``.)

    Blocking: each document emits the md5 of its normalized token stream
    plus the md5 of every delete-one variant (n_tokens + 1 keys). Any
    pair at token-level edit distance ≤ 1 is GUARANTEED to share a key
    (equal → full = full; substitution at i → drop-i = drop-i;
    insert/delete → full = drop-i), so the key-join is recall-complete
    for distance 1, and key-sharing pairs are at token-edit ≤ 2, so it
    is also a tight candidate filter. Returns (id_a, id_b, dist) where
    dist = CHARACTER levenshtein between the normalized token streams
    (both engines implement levenshtein identically); pass ``max_dist``
    to keep only pairs at or under it.

    Scale: key volume is Σ(n_tokens + 1) — linear in corpus tokens — and
    keys are fixed-width md5 hex, so the candidate shuffle never carries
    document text. Bucket sizes are bounded by true near-dup cluster
    sizes, not corpus size; buckets above ``max_bucket`` (degenerate
    boilerplate, e.g. the shared empty delete-variant of 1-token docs)
    are dropped by a broadcast anti-join — the standard skew guard,
    applied identically in the DuckDB twin. The pair self-join is
    merge-pinned: both sides descend from the key explode, the hazard
    class that must never broadcast (see ``_lsh_candidates_from_sig``).

    Cache hygiene: the exploded key frame is persisted internally and
    feeds the returned lazy result; in a long-lived session consume the
    result inside ``session.released(spark)`` to drop the pin (ADVICE
    r10).
    """
    toks = tokens(text)
    n = F.size(toks)
    norm = F.concat_ws(" ", toks)
    keys = F.array_distinct(
        F.concat(
            F.array(F.md5(norm)),
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.md5(F.concat_ws(" ", F.filter(toks, lambda x, j: j != i))),
            ),
        )
    )
    base = widen(df).where(n > 0)
    # ex feeds the hot-set agg AND both join probes: persist so the
    # tokenize/md5/explode work happens once (minhash_dedup_pairs discipline)
    ex = base.select(F.col(id_col).alias("_id"), F.explode(keys).alias("_k")).persist()
    hot = (
        ex.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_bucket)
        .select("_k")
    )
    capped = ex.join(F.broadcast(hot), "_k", "leftanti")
    cand = (
        capped.select(F.col("_id").alias("id_a"), "_k")
        .join(capped.select(F.col("_id").alias("id_b"), "_k").hint("merge"), "_k")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    names = base.select(F.col(id_col).alias("_id"), norm.alias("_s"))
    out = (
        cand.join(
            names.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa")).hint("merge"),
            "id_a",
        )
        .join(
            names.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb")).hint("merge"),
            "id_b",
        )
        .select("id_a", "id_b", F.levenshtein("_sa", "_sb").alias("dist"))
    )
    if max_dist is not None:
        out = out.where(F.col("dist") <= max_dist)
    return out
