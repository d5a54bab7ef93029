"""Deduplication operators — the LLM-training-pipeline core
(north-star extension over reference B17; the reference itself dedups
nothing, its upsert A2 is the only overwrite semantic).

Four tiers, each the idiomatic scale path:

- exact: hash-groupBy on the full text (one shuffle on a 32-byte
  digest at 100 TB — group by md5, not by the raw text, so shuffle
  rows stay tiny)
- MinHash + LSH banding: shingle -> 16-seed minhash signature ->
  band keys -> candidate pairs via equi-join on (band, key) -> exact
  Jaccard verify on candidates only. The O(n^2) pair space never
  materializes; the band join is the blocking step and its key is
  the shuffle key.
- SimHash: 32-bit signature via per-bit majority vote over token
  hashes; near-dup candidates blocked by 16-bit half (pigeonhole:
  hamming <= t pairs share a half for t <= 16), verified by bit_count
  of xor.
- embedding cosine: operators.similarity.embedding_near_dup_pairs.

All signatures are pure Catalyst expressions over md5_32 — portable
to the DuckDB oracle, no UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from torua_spark.functions.text import jaccard, md5_32, tokens

from torua_spark.functions.compat import round4
from torua_spark.operators.graph import _min_labels, _undirected
from torua_spark.sources.io import (
    PersistedIndex,
    clear_index_leftovers,
    heal_index,
    index_append,
    index_append_recover,
    index_compact,
    index_compact_recover,
    read_meta_sidecar,
    require_no_pending_append,
)

N_MINHASH = 16
N_BANDS = 8  # 2 rows per band

# Arithmetic permutation family for minhash: h_i = (A_i*(h%P) + B_i) % P.
# One md5 per shingle, 15 extra multiply-adds — instead of 16 md5 passes.
# P = 2^31-1 (Mersenne prime); A/B fixed odd constants, identical in the
# DuckDB oracle. Products stay < 2^52: exact in BIGINT and double.
MINHASH_P = 2147483647
MINHASH_A = [1093, 1549, 2039, 2539, 3041, 3571, 4099, 4621,
             5147, 5657, 6151, 6689, 7193, 7699, 8209, 8731]
MINHASH_B = [12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869,
             3145739, 6291469, 12582917, 25165843, 50331653, 100663319,
             201326611, 402653189]


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on text content, keeping the smallest doc_id.
    Grouping key is the md5 digest so the shuffle carries 32 bytes per
    row instead of the document body; min(doc_id) is the deterministic
    survivor rule."""
    return (
        documents.groupBy(F.md5("text").alias("_digest"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def _shingle_rows(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) rows via posexplode + lead window — measured
    ~6x faster than exploding a higher-order-function shingle array
    (HOF lambdas evaluate interpreted, per element). Emits the multiset
    (duplicates retained)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    # Explicit repartition: AQE coalesces shuffles by BYTES, but
    # exploded token rows are tiny and the downstream md5 work is
    # CPU-bound — byte-based coalescing would collapse it onto 2 tasks
    # and idle the rest of the machine. A user-specified partition
    # count is exempt from AQE coalescing.
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    tok = documents.repartition(parallelism, "doc_id").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    stepped = tok
    for j in range(1, n):
        stepped = stepped.withColumn(f"w{j}", F.lead("w", j).over(w))
    return stepped.filter(F.col(f"w{n-1}").isNotNull()).select(
        "doc_id",
        F.concat_ws(" ", "w", *[f"w{j}" for j in range(1, n)]).alias("s"),
    )


def _signatures_from_shingle_rows(sh_rows: DataFrame, n_hashes: int) -> DataFrame:
    ex = sh_rows.select(
        "doc_id", F.pmod(md5_32(F.col("s")), F.lit(MINHASH_P)).alias("hb")
    )
    aggs = [
        F.min(
            F.pmod(F.lit(MINHASH_A[i]) * F.col("hb") + F.lit(MINHASH_B[i]), F.lit(MINHASH_P))
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_signatures(documents: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) minhash signature over word 3-gram
    shingles.

    Plan shape (the 100 TB one): shingle rows -> ONE md5 per shingle
    -> n cheap arithmetic permutations -> partial+final min aggregation
    on doc_id. No wide array lambdas (an earlier 16-nested-transform
    formulation was ~100x slower: Catalyst re-evaluated the shingle
    pipeline per hash and fell out of codegen). min over the shingle
    multiset equals min over the distinct set, so no dedup pass is
    needed and the oracle's distinct-set formulation agrees."""
    return _signatures_from_shingle_rows(_shingle_rows(documents, 3), n_hashes)


def _band_key(i: int, rows: int) -> Column:
    parts = [F.col(f"mh{i * rows + j}") for j in range(rows)]
    return F.concat_ws("_", *[p.cast("string") for p in parts])


def _banded(sigs: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(doc_id, band, key) rows: one row per signature band."""
    rows = n_hashes // n_bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _band_key(b, rows).alias("key"))
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _lsh_pairs_from_sigs(sigs: DataFrame, n_hashes: int, n_bands: int,
                         max_bucket: int | None = None) -> DataFrame:
    banded = _banded(sigs, n_hashes, n_bands)
    return _bucket_pairs(banded, ["band", "key"], "doc_id",
                         "doc_a", "doc_b", max_bucket)


def _bucket_pairs(rows: DataFrame, bucket_cols: list[str], id_col: str,
                  a_col: str, b_col: str,
                  max_bucket: int | None = None,
                  star_reps: int = 2) -> DataFrame:
    """Distinct within-bucket id pairs (a < b) — the candidate join of
    every banded blocking scheme (MinHash LSH, SimHash, hyperplane).
    (The DISTINCT is load-bearing: true near-dups collide in MOST
    bands, so the multiset is ~an order of magnitude larger than the
    distinct set — deduping late was measured 2x slower at sf1.)

    ``max_bucket`` is the band-skew cap (VERDICT r2 #5): a hot bucket
    of B members — a near-duplicate FLOOD (one page boilerplate
    crawled a million times) or an adversarial collision — makes the
    self-join emit B^2 rows; at B=1e6 that is 1e12 candidates and no
    amount of executor parallelism survives the OUTPUT volume (AQE
    skew-split parallelizes the work, not the result). Buckets larger
    than the cap therefore emit a STAR pairing instead — every member
    against the bucket's ``star_reps`` smallest ids, O(k*B) linear
    rows.

    Recall contract of the capped mode (ADVICE r3): for a HOMOGENEOUS
    flood (all members true near-dups, the case the cap exists for)
    the verified duplicate CLUSTER is identical to exact mode — every
    member verifies against a representative and min-label connected
    components reconstructs the flood cluster. For a HETEROGENEOUS
    oversized bucket (a hash collision mixing unrelated docs with a
    true pair X~Y), a true pair is found only if X or Y is one of the
    k representatives — candidate-level connectivity is preserved but
    verified-cluster equivalence is NOT guaranteed; k bounds the loss
    (each extra representative is an independent chance, and a pair
    missed in one band can still surface via its other n_bands-1
    bucket memberships). Default None = exact all-pairs (the
    declared-query contract, hash-matched against the oracle's
    self-join)."""
    left = rows.select(*bucket_cols, F.col(id_col).alias(a_col))
    right = rows.select(*bucket_cols, F.col(id_col).alias(b_col))
    if max_bucket is None:
        pairs = (
            left.join(right, bucket_cols)
            .filter(F.col(a_col) < F.col(b_col))
        )
    else:
        # One extra per-bucket aggregate (size) — bucket-count sized,
        # rides the same shuffle key as the join itself.
        stats = rows.groupBy(*bucket_cols).agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        tagged = rows.join(stats, bucket_cols)
        small = tagged.filter(F.col("_bsz") <= max_bucket)
        pairs_small = (
            small.select(*bucket_cols, F.col(id_col).alias(a_col))
            .join(small.select(*bucket_cols, F.col(id_col).alias(b_col)),
                  bucket_cols)
            .filter(F.col(a_col) < F.col(b_col))
        )
        # Representatives = the k smallest ids per oversized bucket,
        # via a rank window (a per-bucket SORT, never a collect_list
        # of the B-member flood bucket on one executor).
        big = tagged.filter(F.col("_bsz") > max_bucket)
        wrep = Window.partitionBy(*bucket_cols).orderBy(id_col)
        reps = (
            big.withColumn("_rk", F.row_number().over(wrep))
            .filter(F.col("_rk") <= star_reps)
            .select(*bucket_cols, F.col(id_col).alias("_rep"))
        )
        pairs_big = (
            big.select(*bucket_cols, F.col(id_col).alias(b_col))
            .join(reps, bucket_cols)
            .filter(F.col("_rep") != F.col(b_col))
            .select(
                F.least(F.col("_rep"), F.col(b_col)).alias(a_col),
                F.greatest(F.col("_rep"), F.col(b_col)).alias(b_col),
            )
        )
        pairs = pairs_small.select(a_col, b_col).unionByName(
            pairs_big.select(a_col, b_col)
        )
    return pairs.select(a_col, b_col).distinct()


def minhash_lsh_pairs(documents: DataFrame,
                      n_hashes: int = N_MINHASH, n_bands: int = N_BANDS,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the signature.
    Returns distinct (doc_a, doc_b), doc_a < doc_b. ``max_bucket``
    star-links oversized buckets (see ``_bucket_pairs``) — the
    flood-safe mode for raw crawls."""
    sigs = minhash_signatures(documents, n_hashes)
    return _lsh_pairs_from_sigs(sigs, n_hashes, n_bands, max_bucket)


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5,
                        n_hashes: int = N_MINHASH, n_bands: int = N_BANDS) -> DataFrame:
    """Near-dup pairs: LSH candidates verified with exact word-3-gram
    Jaccard >= threshold. The verify join re-attaches shingle sets only
    for candidate docs (semi-join pruned).

    The shingle rows feed BOTH the minhash signatures and the verify
    sets — materialized once (localCheckpoint) instead of recomputing
    the tokenize+explode+md5 pipeline twice. At 100 TB this is a
    persist-to-storage of the (doc_id, shingle) relation, the single
    most reused intermediate of the dedup stack."""
    sh_rows = _shingle_rows(documents, 3).localCheckpoint()
    cands = _lsh_pairs_from_sigs(
        _signatures_from_shingle_rows(sh_rows, n_hashes), n_hashes, n_bands
    )
    return verify_jaccard(cands, sh_rows, threshold)


def verify_jaccard(cands: DataFrame, sh_rows: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate (doc_a, doc_b) pairs against
    the shared (doc_id, shingle) relation — factored out so callers
    that already hold the candidates (e.g. the declared composite
    running the LSH and verify tiers together) attach the verify
    without re-deriving shingles/signatures/bands."""
    # Distinct shingle sets (collect_set order is irrelevant:
    # array_intersect/size are order-insensitive).
    sh = sh_rows.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    return (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "shb"), "doc_b")
        .select(
            "doc_a", "doc_b",
            round4(jaccard(F.col("sha"), F.col("shb"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_corpus_contamination(train_docs: DataFrame, eval_docs: DataFrame,
                               threshold: float = 0.5,
                               n_hashes: int = N_MINHASH,
                               n_bands: int = N_BANDS) -> DataFrame:
    """Train/eval decontamination — the cross-corpus variant of the
    MinHash tier: find training documents whose word-3-gram Jaccard
    with any eval/benchmark document clears ``threshold``. (The
    reference dedups nothing; this is the LLM-pipeline north star —
    removing benchmark leakage from a pretraining corpus.)

    Returns (train_id, eval_id, jaccard), one row per contaminated
    (train, eval) pair.

    Scale shape: the eval side is benchmark-sized (thousands of docs,
    not billions), so its banded signatures and shingle sets BROADCAST
    — the train corpus does one signature aggregation and one
    broadcast-join band probe; no corpus×corpus shuffle exists
    anywhere. The exact-Jaccard verify then touches only candidate
    train docs (semi-join pruned before the shingle-set join). This is
    the same blocking geometry as the self-join tier but asymmetric:
    band equality is the blocking key, the small side rides the
    broadcast."""
    tr_sh = _shingle_rows(train_docs, 3).localCheckpoint()
    ev_sh = _shingle_rows(eval_docs, 3).localCheckpoint()
    tr_band = _banded(
        _signatures_from_shingle_rows(tr_sh, n_hashes), n_hashes, n_bands
    )
    ev_band = _banded(
        _signatures_from_shingle_rows(ev_sh, n_hashes), n_hashes, n_bands
    ).withColumnRenamed("doc_id", "eval_id")
    cands = (
        tr_band.join(F.broadcast(ev_band), ["band", "key"])
        .select(F.col("doc_id").alias("train_id"), "eval_id")
        .distinct()
    )
    tr_sets = tr_sh.groupBy("doc_id").agg(F.collect_set("s").alias("sha"))
    ev_sets = ev_sh.groupBy("doc_id").agg(F.collect_set("s").alias("shb"))
    return (
        cands.join(tr_sets.withColumnRenamed("doc_id", "train_id"), "train_id")
        .join(
            F.broadcast(ev_sets.withColumnRenamed("doc_id", "eval_id")), "eval_id"
        )
        .select(
            "train_id", "eval_id",
            round4(jaccard(F.col("sha"), F.col("shb"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_overlap_contamination(train_docs: DataFrame, eval_docs: DataFrame,
                                n: int = 8,
                                min_overlap: int = 2) -> DataFrame:
    """Exact n-gram collision decontamination — the GPT-3/PaLM family
    of methods (published as 13-gram overlap against benchmark text;
    `n` defaults to 8 here because this corpus averages ~54 words per
    doc). Complements `cross_corpus_contamination`: MinHash-Jaccard
    catches whole-document near-dups, n-gram collision catches a
    benchmark QUOTED INSIDE an otherwise-unrelated training doc,
    which document-level Jaccard dilutes below any threshold.

    Returns (train_id, eval_id, n_shared_ngrams) for pairs sharing at
    least ``min_overlap`` distinct word n-grams.

    Scale shape: grams travel as 8-byte md5_32 digests, never strings;
    the eval gram relation is benchmark-sized and BROADCAST, so the
    train corpus is a single scan+explode with a map-side hash-join
    filter — candidate rows surviving to the (pair) aggregation are
    only actual collisions. No corpus-sized shuffle beyond the final
    per-pair count."""
    def gram_digests(docs: DataFrame) -> DataFrame:
        return _shingle_rows(docs, n).select(
            "doc_id", md5_32(F.col("s")).alias("g")
        ).distinct()

    tr = gram_digests(train_docs).withColumnRenamed("doc_id", "train_id")
    ev = gram_digests(eval_docs).withColumnRenamed("doc_id", "eval_id")
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .filter(F.col("n_shared_ngrams") >= min_overlap)
    )


def incremental_near_dups(new_docs: DataFrame, corpus_docs: DataFrame,
                          index_sigs: DataFrame,
                          threshold: float = 0.5,
                          n_hashes: int = N_MINHASH,
                          n_bands: int = N_BANDS) -> DataFrame:
    """Incremental dedup of a NEW batch against a PERSISTED MinHash
    index — the daily-ingest shape: the historical corpus is never
    re-signatured (``index_sigs`` = `minhash_signatures` output loaded
    from storage); only the new batch tokenizes, and only CANDIDATE
    corpus docs (band collisions) re-tokenize for the exact-Jaccard
    verify. Returns (corpus_id, new_id, jaccard) pairs >= threshold.

    Scale: new batch ≪ corpus, so its banded signatures BROADCAST
    into the index probe; the verify's corpus-side shingling is
    semi-join pruned to candidates before the tokenizer runs — the
    full corpus text is never touched."""
    new_sh = _shingle_rows(new_docs, 3).localCheckpoint()
    new_band = _banded(
        _signatures_from_shingle_rows(new_sh, n_hashes), n_hashes, n_bands
    ).withColumnRenamed("doc_id", "new_id")
    idx_band = _banded(index_sigs, n_hashes, n_bands).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    cands = (
        idx_band.join(F.broadcast(new_band), ["band", "key"])
        .select("corpus_id", "new_id")
        .distinct()
    )
    cand_corpus = corpus_docs.join(
        cands.select(F.col("corpus_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    corpus_sets = _shingle_rows(cand_corpus, 3).groupBy("doc_id").agg(
        F.collect_set("s").alias("sha")
    )
    new_sets = new_sh.groupBy("doc_id").agg(F.collect_set("s").alias("shb"))
    return (
        cands.join(corpus_sets.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .join(F.broadcast(new_sets.withColumnRenamed("doc_id", "new_id")), "new_id")
        .select(
            "corpus_id", "new_id",
            round4(jaccard(F.col("sha"), F.col("shb"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(documents: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs blocking family) — the complete-recall
    counterpart to the probabilistic LSH tier: any pair with token
    Jaccard >= t MUST share a token inside each side's length
    (|x| - ceil(t*|x|) + 1) prefix when both token lists are sorted
    by ascending global document frequency, so blocking on prefix
    tokens is lossless and the exact verify keeps precision.

    Scale shape: rare tokens (the sort order) make tiny blocks — the
    candidate join is driven by the LEAST common set elements of each
    doc. The global-df relation is vocabulary-sized and the per-doc
    size relation is corpus-sized (one row per document): NEITHER is
    broadcast-hinted — at 100 TB a forced broadcast of either kills
    the job at plan time, so AQE chooses (broadcast when the measured
    build side fits, shuffle join otherwise). Candidates are pruned
    before the verify join by PPJoin's length filter (a true pair
    needs min(sz)/max(sz) >= t) and positional filter (the shared
    prefix token's positions bound the best-case overlap: 1 +
    min(sz_a - rn_a, sz_b - rn_b) >= t/(1+t) * (sz_a + sz_b)); both
    are lossless — a pair with Jaccard >= t always survives via its
    FIRST shared token in the df-ascending order, which sits inside
    both prefixes. The set representation is distinct word 3-gram
    SHINGLES (same as the minhash tier — unigram sets degenerate on
    a shared-vocabulary corpus where every doc resembles every
    other), produced by the explode+lead `_shingle_rows` pipeline
    and shared by the prefix AND verify sides (one shingle pass
    total; the HOF word_shingles formulation measured ~2x slower).
    Returns (doc_a, doc_b, jaccard)."""
    # One shingle pass, materialized: three consumers derive from it
    # (the token side of the prefix index, the global df aggregate,
    # and the verify-side sets) and Catalyst does no cross-branch
    # common-subexpression elimination — unpersisted, the explode+lead
    # pipeline ran 3x (measured ~2x the wall clock at sf0.1). A
    # cluster deployment materializes this relation to parquet
    # between tiers; MEMORY_AND_DISK persist is the local-mode
    # equivalent and spills rather than OOMs at corpus scale.
    sh = _shingle_rows(documents, 3).distinct().persist()
    tok = sh.select("doc_id", F.col("s").alias("t"))
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "t")
    # sz rides the SAME doc_id shuffle the row_number window needs —
    # no separate per-doc aggregation + join (that relation is one
    # row per document, exactly what must never be broadcast or
    # re-shuffled at corpus scale).
    wsz = Window.partitionBy("doc_id")
    prefix = (
        tok.join(dfreq, "t")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .filter(
            # ceil(t*sz - eps): when t*sz is mathematically an integer
            # but the IEEE product rounds a hair ABOVE it (e.g. t=0.55,
            # sz=20 -> 11.000000000000002), plain ceil would shorten
            # the prefix by one token and silently break the complete-
            # recall guarantee. The epsilon makes ceil land on the
            # exact integer; the DuckDB oracle applies the same guard.
            F.col("rn")
            <= F.col("sz")
            - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select("doc_id", "t", "rn", "sz")
        # persist(), not localCheckpoint(): the candidate self-join
        # consumes this relation on both sides and Catalyst does NOT
        # reuse the exchange across them (8 FileScans without this).
        # Lazy caching dedups the computation without an eager
        # blocking materialization — interleaved A/B at sf0.1:
        # persist ~4.4s, no-op ~4.5-8.8s, localCheckpoint ~7.5-9.3s.
        # The cache entry is prefix-relation-sized (tiny vs corpus).
        .persist()
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "t",
        F.col("rn").alias("rn_a"), F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "t",
        F.col("rn").alias("rn_b"), F.col("sz").alias("sz_b"),
    )
    thr = float(threshold)
    cands = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # PPJoin length filter: Jaccard >= t forces
        # min(sz)/max(sz) >= t (overlap <= min and >= t*max).
        .filter(
            F.least("sz_a", "sz_b")
            >= F.lit(thr) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
        )
        # PPJoin positional filter: via THIS shared token, best-case
        # overlap = 1 (this match) + what remains after each side's
        # position; a true pair needs overlap >= t/(1+t)*(sz_a+sz_b)
        # and always passes at its first shared token, so keeping a
        # pair when ANY generating row passes is lossless.
        .filter(
            F.lit(1)
            + F.least(
                F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
            )
            >= F.lit(thr / (1.0 + thr)) * (F.col("sz_a") + F.col("sz_b"))
            - F.lit(1e-9)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(F.collect_set("s").alias("tk"))
    out = (
        cands.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("ta")), "doc_a"
        )
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tb")), "doc_b")
        .select("doc_a", "doc_b", round4(jaccard(F.col("ta"), F.col("tb"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # Cache lifecycle (VERDICT r3 #3): the two persists above are
    # plan-deduped by Spark's CacheManager, so N invocations over the
    # same input map to the SAME two entries (pinned flat in
    # tests/test_skew.py::test_prefix_filter_cache_is_bounded) — no
    # per-call growth. They do live until released; callers that are
    # done with the result drop them with ``release_caches(out)``.
    out._torua_caches = (sh, prefix)
    return out


def release_caches(df: DataFrame) -> None:
    """Unpersist the intermediate relations an operator persisted while
    building ``df`` (attached as ``_torua_caches``). No-op for results
    that carry none. Lazy-safe in the sense that a later action on
    ``df`` still computes correctly — it just recomputes the
    intermediates — so call this after the result is materialized."""
    for c in getattr(df, "_torua_caches", ()):
        c.unpersist()


CANON_CC_ROUNDS = 12


def canonicalize_near_dups(documents: DataFrame, threshold: float = 0.5,
                           rounds: int = CANON_CC_ROUNDS,
                           pairs: DataFrame | None = None) -> DataFrame:
    """The step AFTER near-dup detection: group verified pairs into
    duplicate CLUSTERS (fixed-round min-label propagation over the
    pair graph) and pick one canonical survivor per cluster (longest
    text, doc_id tie-break) — what a training pipeline actually ships.

    The label loop runs a FIXED `rounds` count on both engines (not
    to-convergence), so the oracle can unroll it exactly; dup clusters
    are near-cliques with tiny diameters, making 12 rounds far past
    fixpoint in practice. The pair graph is orders of magnitude
    smaller than the corpus — the loop's tables are (dup-doc, label)
    only, never corpus-wide.

    Returns (cluster, n_docs, canonical_doc, chars_dropped)."""
    # ``pairs``: pass a precomputed/persisted (doc_a, doc_b) relation
    # to share the detection tier with other consumers (CorpusPipeline
    # materializes it once for cluster + membership use).
    if pairs is None:
        pairs = (
            ngram_jaccard_pairs(documents, threshold)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    # The pair graph is dup-docs only — usually minuscule next to the
    # corpus. Min-label messages are idempotent, so the symmetrized
    # pairs skip the dedup shuffle.
    labels = _min_labels(
        _undirected(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
            dedup=False,
        ),
        rounds,
    )
    mem = labels.join(
        documents.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w = Window.partitionBy("label").orderBy(F.col("n_chars").desc(), F.col("id").asc())
    ranked = mem.withColumn("r", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.when(F.col("r") == 1, F.col("id"))).alias("canonical_doc"),
            F.sum(F.when(F.col("r") > 1, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "chars_dropped"
            ),
        )
    )


def simhash_signatures(documents: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash over distinct tokens: bit j of the signature is the
    sign of sum over tokens of (+1 if bit j of hash(token) else -1).

    ``bits=32`` (default, the declared/oracle contract) hashes tokens
    with md5_32 — portable to DuckDB bit-for-bit. ``bits=64`` (the
    scale path — see simhash_near_dup_pairs on why 32 bits saturate
    around ~8M docs) hashes with the JVM-side xxhash64; same plan
    shape, pytest-verified against brute-force hamming rather than a
    SQL oracle. Bit 63 of the packed signature is the sign bit —
    encoded as the two's-complement term -2^63, so the full 64-bit
    pattern rides in one BIGINT.

    Plan shape: one token row per (doc, distinct token), then ``bits``
    sum(CASE ...) aggregates in a SINGLE partial+final aggregation on
    doc_id — not an explode over bit positions (which multiplies the
    token relation x``bits`` and needs a second shuffle). The shift
    amounts are literals, so every branch stays in whole-stage
    codegen.

    Same explicit repartition rationale as `_shingle_rows`: the corpus
    arrives in file-sized partitions but the hash+aggregate work is
    CPU-bound per token — spread it over the full parallelism."""
    if bits not in (32, 64):
        raise ValueError(f"simhash bits must be 32 or 64, got {bits}")
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    h = md5_32(F.col("t")) if bits == 32 else F.xxhash64(F.col("t"))
    tok = documents.repartition(parallelism, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("t")
    ).withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(bits):
        one = -(2 ** 63) if j == 63 else (1 << j)
        term = F.when(F.col(f"s{j}") >= 0, F.lit(one).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_near_dup_pairs(documents: DataFrame, max_hamming: int = 6,
                           sig_bits: int = 32, block_bits: int | None = None,
                           n_rows: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming,
    blocked on equal signature blocks (any pair sharing one block key
    becomes a candidate; pigeonhole guarantees FULL recall only for
    max_hamming < n_blocks, so this is a *candidate* blocker like LSH
    bands — standard practice; verified pairs are exact on the
    hamming check).

    Defaults — (sig_bits=32, two 16-bit halves) — are the declared/
    oracle contract, byte-identical to the original formulation. At
    scale the same sizing law as similarity.auto_band_bits applies:
    random-pair collisions per block grow as n^2 / 2^block_bits, so
    ``block_bits=None`` auto-sizes the block to
    max(16, ceil(log2(n/128))) — constant expected bucket, linear
    candidates. A 32-bit signature fits two >=16-bit blocks only up
    to ~8M docs (block width 17+ leaves just one block and zero
    hamming tolerance); past that pass ``sig_bits=64`` (xxhash64
    token hashes: 4x16-bit blocks at small n, 3x20-bit at 0.1B docs,
    down to 2x22-bit — pigeonhole tolerance 1 — at 0.3B) — recall for
    hamming <= n_blocks-1 stays exact, the tail past that is bought
    back with a second rotated table (Manku et al., WWW'07), or with
    128-bit signatures once two blocks is too few."""
    if block_bits is None:
        from torua_spark.operators.similarity import auto_band_bits

        if n_rows is None:
            n_rows = documents.count()
        block_bits = max(16, auto_band_bits(n_rows, min_bits=16))
    n_blocks = sig_bits // block_bits
    if n_blocks < 2:
        raise ValueError(
            f"sig_bits={sig_bits} with block_bits={block_bits} leaves "
            f"{n_blocks} block(s) — no hamming tolerance; use sig_bits=64 "
            f"(or longer signatures) at this corpus size"
        )
    sigs = simhash_signatures(documents, bits=sig_bits)
    mask = (1 << block_bits) - 1
    halves = sigs.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("part"),
                    F.shiftright(F.col("simhash"), i * block_bits)
                    .bitwiseAND(F.lit(mask)).alias("key"),
                )
                for i in range(n_blocks)
            ])
        ).alias("pk"),
    ).select("doc_id", "simhash", F.col("pk.part").alias("part"), F.col("pk.key").alias("key"))
    left = halves.select("part", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    right = halves.select("part", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        left.join(right, ["part", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_substring_spans(documents: DataFrame, k: int = 10,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """ExactSubstr span discovery (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499),
    re-expressed relationally instead of via a suffix array: every
    k-TOKEN window whose text occurs anywhere else in the corpus is a
    duplicate span — EXCEPT the corpus-globally-first occurrence
    (min (doc, pos)), which is kept so exactly one copy of every
    repeated passage survives. Returns merged per-document spans
    (doc_id, start, end) in token indices, end exclusive.

    Plan shape: tokenize -> window hashes (md5, engine-portable) ->
    ONE shuffle on the hash (partial+final agg for count + first
    occurrence) -> overlap merge as a per-document gaps-and-islands
    window. Everything is linear in corpus tokens x 1 (each token
    starts one window); at 100 TB swap md5 for xxhash64 and bucket the
    hash shuffle — the shape is unchanged.

    EXACTNESS (r9, proved not assumed): at token granularity this is
    not an approximation of the suffix-array construction — it is
    EXACT for the >= k threshold. A position is covered iff it lies
    inside some repeated substring of length >= k: any repeat of
    length L >= k has all L-k+1 of its k-subwindows repeated, so the
    window union reconstructs the full variable-length extent, and
    each subwindow's first occurrence sorts <= any longer window's,
    so the corpus-first copy survives intact. The k-doubling union
    (windows at k, 2k, 4k..., VERDICT r8 #8) is therefore a no-op —
    2k coverage is subsumed by k coverage — and was resolved by proof
    (tests/test_rag.py::test_exact_substring_spans_exact_for_threshold_k:
    brute-force reference over seeded random corpora + the Spark-side
    subsumption assertion) instead of shipped as dead construction.
    Repeats SHORTER than k are below the threshold by definition on
    both constructions (Lee et al. use 50 tokens); the only residual
    gap vs the paper is token vs byte granularity."""
    occ = _window_hashes(documents, k, id_col, text_col)
    # Window functions over h instead of groupBy(h) + self-join (r15,
    # guide §2.4): the old shape computed the tokenize/explode/md5
    # subtree TWICE (once under the aggregate, once on the probe side
    # of the join — the subtrees differ, so no ReusedExchange) and paid
    # two exchanges on h. One exchange, one pass, identical rows: every
    # occ row sees its hash's count and min(p), exactly what the join
    # delivered (the aggregate covered every h by construction).
    w_h = Window.partitionBy("h")
    dups = (
        occ.withColumn("c", F.count(F.lit(1)).over(w_h))
        .withColumn("first_p", F.min("p").over(w_h))
        .filter((F.col("c") >= 2) & (F.col("p") != F.col("first_p")))
        .select(id_col, "start", (F.col("start") + k).alias("end"))
    )
    return _merge_spans(dups, id_col)


_POS_LIMIT = 1 << 20  # packed-key position budget: 1M tokens per doc
_ID_LIMIT = 1 << 43   # |id| * 2^20 must fit a signed 64-bit packed key


def _window_hashes(documents: DataFrame, k: int, id_col: str,
                   text_col: str) -> DataFrame:
    """Shared ExactSubstr front half: tokenize (\\s+ on trimmed text),
    hash every k-token window with md5, attach the packed (doc, pos)
    key — (id, start, h, p). ONE definition on purpose: the DuckDB
    oracles and the incremental-equals-from-scratch equivalence both
    mirror this construction step-for-step, so a drift between copies
    would silently break the hash matches.

    Guards (all loud, never silent): ``id_col`` must be an integral
    type — the packed key is id * 2^20 + pos, and under ANSI a string
    id would raise mid-shuffle (non-ANSI: NULL keys = silent no-op
    dedup); a document with >= 2^20 tokens would collide packed keys
    across documents and mis-pick first occurrences, so it raises at
    the offending row instead; an |id| >= 2^43 would overflow the
    signed-64-bit packed key (ANSI: cryptic mid-shuffle raise,
    non-ANSI: silent first-occurrence mis-ranking), so it too raises
    at the offending row with a remap-to-surrogate message."""
    id_type = documents.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"exact-substring dedup needs an integral {id_col!r} for "
            f"the packed (doc, pos) first-occurrence key, got "
            f"{id_type}; map string/UUID ids to a surrogate long first"
        )
    toks = documents.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    packed = (
        F.when(
            F.col("start") >= F.lit(_POS_LIMIT),
            F.raise_error(
                F.lit(
                    f"document exceeds {_POS_LIMIT} tokens — packed "
                    f"first-occurrence keys would collide across documents"
                )
            ).cast("long"),
        )
        .when(
            # two comparisons, NOT abs(): abs(Long.MIN_VALUE) overflows
            # back to a negative under non-ANSI and would slip the
            # guard (r9 review)
            (F.col(id_col).cast("long") >= F.lit(_ID_LIMIT))
            | (F.col(id_col).cast("long") <= F.lit(-_ID_LIMIT)),
            F.raise_error(
                F.lit(
                    f"|{id_col}| exceeds {_ID_LIMIT} — id * 2^20 would "
                    f"overflow the signed-64-bit packed first-occurrence "
                    f"key and mis-rank first occurrences; map oversized "
                    f"(e.g. snowflake) ids to a dense surrogate long first"
                )
            ).cast("long"),
        )
        .otherwise(
            F.col(id_col).cast("long") * F.lit(_POS_LIMIT) + F.col("start")
        )
    )
    return (
        toks.filter(F.size("t") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.size("t") - k)).alias("start"),
            "t",
        )
        .select(
            id_col, "start",
            F.md5(
                F.array_join(F.slice("t", F.col("start") + 1, k), " ")
            ).alias("h"),
        )
        .withColumn("p", packed)
    )


def _merge_spans(dups: DataFrame, id_col: str) -> DataFrame:
    """Merge overlapping/adjacent (id, start, end) windows into spans:
    the per-document gaps-and-islands pass (running max(end) over the
    preceding rows marks island starts)."""
    w_prev = (
        Window.partitionBy(id_col).orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col).orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = dups.withColumn("prev_end", F.max("end").over(w_prev)).withColumn(
        "ni",
        F.when(
            F.col("prev_end").isNull() | (F.col("start") > F.col("prev_end")),
            1,
        ).otherwise(0),
    )
    return (
        flagged.withColumn("g", F.sum("ni").over(w_run))
        .groupBy(id_col, "g")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .drop("g")
    )


def exact_substring_dedup(documents: DataFrame, k: int = 10,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """ExactSubstr dedup: remove every duplicate k-token span found by
    :func:`exact_substring_spans` from its document, keeping the
    corpus-first copy. Returns (doc_id, clean_text, n_tokens,
    n_tokens_removed) for EVERY document — text is re-joined with
    single spaces (the canonical whitespace both engines agree on), so
    clean_text of an untouched document is its whitespace-normalized
    original."""
    spans = exact_substring_spans(documents, k, id_col, text_col)
    return _clean_from_spans(documents, spans, id_col, text_col)


def _clean_from_spans(documents: DataFrame, spans: DataFrame,
                      id_col: str, text_col: str) -> DataFrame:
    """Apply (id, start, end) removal spans to every document: covered
    token indices are anti-joined away and the survivors re-join with
    single spaces (canonical whitespace)."""
    toks = documents.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("t")
    )
    covered = spans.select(
        id_col,
        F.explode(F.sequence("start", F.col("end") - 1)).alias("idx"),
        F.lit(True).alias("_cov"),
    )
    tok_idx = toks.select(id_col, F.posexplode("t").alias("idx", "tok"))
    # ONE pass (r15, guide §1.2/§2.4): the old shape anti-joined away
    # covered tokens, aggregated the survivors, then joined a SECOND
    # scan of `documents` back on id for n_tokens. A left join with a
    # coverage marker + conditional aggregates computes all three
    # outputs in one grouping over one scan: posexplode emits >= 1 row
    # per document (split of "" is [""]), so every document groups;
    # covered is one row per (id, idx) (merged spans are disjoint), so
    # the join never multiplies; collect_list skips the NULL the CASE
    # leaves on covered tokens; array_join over the empty array is ''
    # — exactly the old coalesce(clean_text, '') for fully-covered
    # documents.
    joined = tok_idx.join(covered, [id_col, "idx"], "left")
    return joined.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN _cov IS NULL THEN struct(idx, tok) END"
            ")), s -> s.tok), ' ')"
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count(F.when(F.col("_cov").isNull(), F.lit(1)))
        .cast("long")
        .alias("kept_n"),
    ).select(
        id_col,
        "clean_text",
        "n_tokens",
        (F.col("n_tokens") - F.col("kept_n")).cast("long")
        .alias("n_tokens_removed"),
    )


def exact_substring_index_write(documents: DataFrame, path: str,
                                k: int = 10, id_col: str = "doc_id",
                                text_col: str = "text") -> None:
    """Persist the corpus's window-hash index for INCREMENTAL
    ExactSubstr: one row per distinct k-token window hash with its
    corpus-first packed (doc, pos) key, under ``{path}/grams`` (data
    in its own subtree like the IVF index's vectors/, so the
    compaction leg can publish via the whole-tree two-rename swap). Every hash is stored (a singleton in the base corpus makes
    any later occurrence a duplicate), so the index is ~one row per
    distinct window — at 100 TB, bucket it by hash so the daily probe
    join co-locates. A one-row ``_meta`` parquet records the max
    indexed id and k so the incremental probe and the append can
    VALIDATE their monotone-ingest-key precondition."""
    import shutil

    wins = _window_hashes(documents, k, id_col, text_col)
    # tear down the old data tree, then clear its crash artifacts,
    # immediately before the publish (the ivf_index_write ordering):
    # clearing earlier would leave the OLD index serving without its
    # journal guard if anything raised before the write began
    shutil.rmtree(f"{path}/grams", ignore_errors=True)
    clear_index_leftovers(path)
    wins.groupBy("h").agg(F.min("p").alias("first_p")).write.mode(
        "overwrite"
    ).parquet(f"{path}/grams")
    documents.select(
        F.max(F.col(id_col)).cast("long").alias("max_id"),
        F.lit(k).alias("k"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")


# The window-hash index as the shared persisted-index protocol sees it
# (sources/io.PersistedIndex). Packed (doc, pos) keys are monotone in
# (id, pos), so every row a batch appends has
# first_p >= (old_max + 1) << 20.
_SUBSTR_INDEX = PersistedIndex(
    tree="grams",
    partition_by=(),
    journal_ddl="old_max long, n_new long, k int, batch_max long",
    meta_ddl="max_id long, k int",
    count_col="n_new",
    in_batch=lambda old_max: F.col("first_p") >= (old_max + 1) << 20,
    rebuild="exact_substring_index_write",
    pending_error=(
        "window-hash index at {path} has an unfinished append "
        "(journal marker present): probes would silently miss "
        "base-corpus duplicates; run "
        "exact_substring_append_recover(spark, path), then retry"
    ),
)


def _require_grams_layout(path: str) -> None:
    """Loud, cause-naming rejection of the pre-r10 index layout (r10
    advice): ``exact_substring_index_write`` originally wrote the
    gram rows at the index ROOT; r10 moved them under ``grams/`` so
    the compaction leg can publish via the whole-tree two-rename
    swap. An old index fed to the new readers would otherwise die
    with a bare PATH_NOT_FOUND on ``{path}/grams`` that says nothing
    about the breaking format change."""
    import pathlib

    root = pathlib.Path(path)
    if (root / "grams").is_dir() or not root.is_dir():
        return  # r10 layout, or missing entirely (reader raises plainly)
    if any(root.glob("*.parquet")):
        raise ValueError(
            f"window-hash index at {path} uses the pre-r10 root-level "
            f"layout (parquet files at the index root, no grams/ "
            f"subtree); r10 moved index data under grams/ so "
            f"compaction can publish via the whole-tree swap — "
            f"rebuild it with exact_substring_index_write"
        )


def exact_substring_append_recover(spark, path: str) -> str | None:
    """Self-heal a crashed ``exact_substring_index_append`` from its
    journal: the index ends exactly at its pre- or post-append state.
    Outcomes and protocol: ``sources/io.PersistedIndex``. Returns the
    action taken (None when no journal exists)."""
    return index_append_recover(spark, path, _SUBSTR_INDEX)


def exact_substring_index_append(spark, path: str, new_docs: DataFrame,
                                 k: int = 10, id_col: str = "doc_id",
                                 text_col: str = "text") -> dict:
    """Daily-ingest APPEND into the persisted window-hash index (the
    fourth leg of the incremental ExactSubstr life cycle:
    write -> probe -> APPEND -> compact): after a batch is deduped
    against the index, append its window hashes so the NEXT batch
    dedups against base ∪ batch. Only hashes NOT already indexed are
    written (an existing hash keeps its corpus-first packed key — with
    monotone ingest ids the base occurrence always packs lower, so
    min(p) over the union IS the stored value), which keeps the index
    at one row per distinct window and makes the appended index
    EXACTLY the from-scratch ``exact_substring_index_write`` over
    base ∪ batch — the pinned equivalence.

    Cost: one window pass over the BATCH + one join of the batch's
    distinct hashes against the index (hash-bucketed at 100 TB so the
    join co-locates; nothing rewrites). Crash safety is the shared
    journaled append (``sources/io.PersistedIndex``); a crashed
    compaction or append is healed first, so a retry after any crash
    converges."""
    _require_grams_layout(path)
    heal_index(spark, path, _SUBSTR_INDEX)
    meta = read_meta_sidecar(spark, path)
    old_max = meta[0]["max_id"] if meta else None
    # ONE batch aggregate serves the precondition check and the
    # watermarks the journal and _meta record
    mm = new_docs.agg(
        F.min(F.col(id_col)).cast("long").alias("mn"),
        F.max(F.col(id_col)).cast("long").alias("mx"),
    ).collect()[0]
    batch_min, batch_max = mm["mn"], mm["mx"]
    wm_vals = [v for v in (batch_max, old_max) if v is not None]
    watermark_max = max(wm_vals) if wm_vals else None
    if meta:
        if meta[0]["k"] != k:
            raise ValueError(
                f"index at {path} was built with k={meta[0]['k']}, "
                f"append requested k={k} — window hashes don't compare"
            )
        if old_max is not None:
            if batch_min is not None and batch_min <= old_max:
                raise ValueError(
                    f"monotone-ingest-key precondition violated: batch "
                    f"min {id_col}={batch_min} <= max indexed id "
                    f"{old_max}; appending would mis-rank first "
                    f"occurrences (rebuild the index or re-key the "
                    f"batch)"
                )
    wins = _window_hashes(new_docs, k, id_col, text_col)
    idx_hashes = spark.read.parquet(f"{path}/grams").select("h")
    new_rows = (
        wins.groupBy("h").agg(F.min("p").alias("first_p"))
        .join(idx_hashes, "h", "left_anti")
        .localCheckpoint(eager=True)  # pin: counted for the journal,
        # then appended — recomputation between the two would race
    )
    n_new = new_rows.count()
    index_append(
        spark, path, _SUBSTR_INDEX, new_rows, old_max, n_new,
        {"max_id": watermark_max, "k": k},
    )
    return {"appended_hashes": n_new}


def exact_substring_compact_recover(path: str) -> str | None:
    """Self-heal a crashed ``exact_substring_index_compact``: the
    shared two-rename swap recovery
    (``sources/io.index_compact_recover``) on the grams tree."""
    return index_compact_recover(path, _SUBSTR_INDEX)


def exact_substring_index_compact(spark, path: str,
                                  target_mb: int = 128) -> dict:
    """Small-file COMPACTION for the appended window-hash index (the
    IVF compaction's twin): every ``exact_substring_index_append``
    lands >= one new file, so a daily cadence accumulates files
    linearly in days and the probe join pays a per-file open. One job
    rewrites the grams tree into ceil(bytes / target_mb) files
    range-partitioned on ``h`` (tight parquet min/max stats on the
    join key), content preserved exactly (pinned in tests). Healing,
    publication and the single-writer concurrency contract are the
    shared ``sources/io.index_compact``."""
    import math

    def rewrite(grams: DataFrame, n_bytes: int) -> DataFrame:
        target = max(1, math.ceil(n_bytes / (target_mb * 1024 * 1024)))
        if target == 1:
            # range partitioning only pays off with >= 2 files (min/max
            # stats) but costs a boundary-sampling job
            return grams.coalesce(1)
        return grams.repartitionByRange(target, "h")

    _require_grams_layout(path)
    return index_compact(spark, path, _SUBSTR_INDEX, rewrite)


def incremental_exact_substring_dedup(
    spark, index_path: str, new_docs: DataFrame, k: int = 10,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Daily-ingest ExactSubstr (the `incremental_near_dups` twin):
    dedup ONLY the new batch against a persisted window index plus the
    batch itself, never re-scanning the base corpus. A new window is a
    duplicate if its hash exists in the index (the corpus-first copy
    is in the base corpus) OR it repeats within the batch behind the
    batch-first occurrence. When every new ``id`` sorts after every
    indexed id (monotone ingest keys — the packed-key order both paths
    share), the result is EXACTLY the from-scratch
    :func:`exact_substring_dedup` of base ∪ batch restricted to the
    batch — the oracle-checked equivalence. The precondition is
    VALIDATED against the index's ``_meta`` sidecar (a re-ingested low
    id would silently diverge from the from-scratch result: the
    incremental path cannot un-pick a first occurrence the index
    already assigned to the base corpus); pre-meta indexes skip the
    check with the old caller-beware contract."""
    _require_grams_layout(index_path)
    require_no_pending_append(spark, index_path, _SUBSTR_INDEX)
    wins = _window_hashes(new_docs, k, id_col, text_col)
    # [] ONLY for a missing sidecar (pre-meta index: no validation
    # possible); corrupt/permission-broken sidecars re-raise loudly
    meta = read_meta_sidecar(spark, index_path)
    if meta:
        max_indexed = meta[0]["max_id"]
        meta_k = meta[0]["k"]
        if meta_k != k:
            raise ValueError(
                f"index at {index_path} was built with k={meta_k}, "
                f"probe requested k={k} — window hashes don't compare"
            )
        if max_indexed is not None:
            batch_min = new_docs.agg(
                F.min(F.col(id_col)).cast("long")
            ).collect()[0][0]
            if batch_min is not None and batch_min <= max_indexed:
                raise ValueError(
                    f"monotone-ingest-key precondition violated: batch "
                    f"min {id_col}={batch_min} <= max indexed id "
                    f"{max_indexed}; incremental ExactSubstr requires "
                    f"every new id to sort after the indexed corpus "
                    f"(rebuild the index or re-key the batch)"
                )
    idx = spark.read.parquet(f"{index_path}/grams").select(
        "h", F.col("first_p").alias("_idx_p")
    )
    # Window functions over h instead of groupBy(h) + self-join (r15,
    # same rewrite as exact_substring_spans): one exchange and ONE
    # tokenize/explode/md5 pass over the batch instead of two, and the
    # index join's sort-merge reuses the window's (h) partitioning and
    # sort — identical rows, the aggregate covered every h.
    w_h = Window.partitionBy("h")
    dups = (
        wins.withColumn("c", F.count(F.lit(1)).over(w_h))
        .withColumn("batch_first", F.min("p").over(w_h))
        .join(idx, "h", "left")
        .filter(
            F.col("_idx_p").isNotNull()  # corpus-first lives in the base
            | ((F.col("c") >= 2) & (F.col("p") != F.col("batch_first")))
        )
        .select(id_col, "start", (F.col("start") + k).alias("end"))
    )
    return _clean_from_spans(new_docs, _merge_spans(dups, id_col),
                             id_col, text_col)
