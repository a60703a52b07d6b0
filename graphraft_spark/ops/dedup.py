"""Deduplication operators for training-data pipelines.

Five families, all shuffle-conscious:

* exact        — hash-groupBy on a normalized content key; one shuffle.
* minhash+LSH  — shingle → minhash signature → band buckets → bucket
                 join for candidates → exact-Jaccard verify.  The only
                 pairwise work happens inside buckets (the LSH point);
                 never an all-pairs join.
* simhash      — 32-bit sign-aggregated token-hash fingerprint; equal
                 fingerprints (or small hamming distance within buckets)
                 ⇒ near-dups.
* n-gram Jaccard — exact verify for candidate pairs from any bucketing.
* embedding    — cosine-threshold near-dup within coarse buckets.

Portable hashing: ``H(s)`` = first 15 hex chars of md5 → BIGINT
(< 2^60), then permutations ``(a·(H mod P) + b) mod P`` with
P = 1e9+7.  md5 is identical everywhere, so DuckDB oracles reproduce
every signature bit-for-bit (no engine-private hash in the semantics).
At scale the md5 can be swapped for xxhash64 behind the same API.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

P = 1_000_000_007


def content_hash(text: Column) -> Column:
    """Stable 60-bit content hash of normalized text (exact dedup key)."""
    return F.conv(F.substring(F.md5(normalize_text(text)), 1, 15), 16, 10) \
        .cast("bigint")


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per content hash.  Adds
    ``content_key`` and ``is_canonical``; filter on the flag to dedup.
    One hash-shuffle; at 100 TB pre-bucket the sink by content_key."""
    w = Window.partitionBy("content_key").orderBy(id_col)
    return (
        df.withColumn("content_key", content_hash(F.col(text_col)))
        .withColumn("is_canonical",
                    F.row_number().over(w) == 1)
    )


def words(text: Column) -> Column:
    return F.split(normalize_text(text), " ")


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as strings (position order preserved).

    Built as k-1 zip_with passes over shifted word arrays — O(k·n)
    column ops — instead of per-index array slices (O(k·n) slice
    allocations in an interpreted lambda; ~10× slower measured).
    Tail partials from concat_ws's null-skipping are cut by the final
    slice; texts shorter than k words yield one whole-text shingle
    (same as the slice formulation)."""
    ws = words(text)
    n = F.size(ws)
    sh = ws
    for off in range(1, k):
        nxt = F.slice(ws, off + 1, F.greatest(n - off, F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat_ws(" ", a, b))
    sh = F.when(n >= k, F.slice(sh, 1, F.greatest(n - (k - 1), F.lit(1)))) \
        .otherwise(F.slice(sh, 1, 1))
    return F.array_distinct(sh)


def _h60(s: Column) -> Column:
    """Portable string hash: md5-prefix → BIGINT mod P.  Reproducible in
    any engine (the DuckDB oracle recomputes it bit-for-bit) but pays an
    md5 per element."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % P


def signature_from_hashes(hs: Column, num_perm: int) -> Column:
    """Minhash signature over pre-hashed shingles.  Permutation i:
    (a_i·h + b_i) mod P with a_i = 2i+1, b_i = 104729·i.

    Unrolled over the (statically known) permutation count instead of a
    transform over sequence(0, num_perm-1): the interpreted HOF
    evaluator re-computes the a_i/b_i sub-expressions per ELEMENT when
    ``i`` is a lambda-bound column, while unrolling folds them to
    literals per permutation — measured 2.05× faster, values identical
    (h < P so every term stays far below 2^63)."""
    def perm(i: int):
        return lambda h: ((2 * i + 1) * h + 104729 * i) % P
    return F.array(*[F.array_min(F.transform(hs, perm(i)))
                     for i in range(num_perm)])


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` bands of ``rows`` and hash each:
    ARRAY<STRUCT<band INT, bucket BIGINT>>."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            _h60(F.concat_ws(",", F.transform(
                F.slice(sig, b * rows + 1, rows),
                lambda v: v.cast("string")))).alias("bucket"),
        ),
    )


def candidates_from_hashes(hashed: DataFrame, num_perm: int, bands: int,
                           max_bucket_size: int | str | None = None,
                           return_capped: bool = False,
                           scope: list | None = None):
    """LSH candidate pairs from a pre-hashed-shingle frame (id, hs).

    A bucket of B docs costs B² in the self-join, and skewed buckets
    (boilerplate-heavy corpora) make that quadratic blowup THE scale
    bottleneck.  With ``max_bucket_size`` set, oversized buckets emit
    star edges instead — every member paired with the bucket's min id,
    O(B) — bounding pairwise work.

    Star-edge semantics are exact only at the CANDIDATE level: the star
    spans the same connected components as the full clique.  If a
    downstream verifier then drops edges below a Jaccard threshold, two
    bucket members can both be near-dups of each other yet dissimilar
    to the bucket's root, so their link — present in the full clique —
    is absent from the verified star and a dedup cluster can split.
    ``max_bucket_size`` therefore trades post-verification RECALL for
    bounded work.  The repair: pass ``return_capped=True`` to also get
    the capped-bucket membership frame (band, bucket, id, root) and
    re-pair at-risk members after verification — see
    ``_lsh_verified_pairs(repair_capped=True)``, which restores exact
    verified clusters at O(failed·B) extra work per hot bucket.
    None = exact all-pairs (keeps small-scale oracle semantics).

    ``scope``: a list that receives every frame this call persists, so
    the caller can unpersist them once the result is materialized —
    without it, each invocation in a long-lived session leaves one
    cached frame behind (CacheManager holds persisted plans until an
    explicit unpersist)."""
    ix = build_lsh_index(hashed, num_perm, bands, max_bucket_size)
    if scope is not None:
        scope.extend(ix.frames)
    pairs = candidates_from_index(ix)
    if return_capped:
        return pairs, ix.capped
    return pairs


class LshIndex(NamedTuple):
    """Prebuilt LSH banding index over a corpus — signatures computed
    ONCE and held as a warm artifact, probed by candidate mining.

    This is the 100 TB shape made explicit: the banded table is written/
    cached once per corpus (partitionBy(band, bucket) on a cluster) and
    every dedup run — batch re-runs, incremental probes, the bench's
    repeated executions — scans the index instead of recomputing minhash
    signatures.  Before this existed, repeated runs got the same effect
    ACCIDENTALLY: each run leaked its persisted banded frame and
    CacheManager's plan-equality lookup served it to the next run's
    identical plan — warm numbers, unbounded cache growth.  Now the
    reuse is an owned artifact and per-run intermediates are freed."""
    banded: DataFrame          # (id, band, bucket), capped buckets removed
    capped: DataFrame          # (band, bucket, id, root) hot-bucket members
    star: DataFrame | None     # O(B) star edges replacing capped cliques
    frames: tuple              # persisted frames backing the index


def adaptive_bucket_cap(hist: dict[int, int], bands: int,
                        pairs_per_doc: float = 32.0) -> int:
    """Derive ``max_bucket_size`` from a bucket-size histogram
    (``{bucket_size: n_buckets}``) — the opt-in policy closing the r7
    scale-soak finding that dup-group DENSITY is the one quadratic axis
    the static cap can miss (groups under the cap still verify C(G,2)
    pairs each).

    Policy: the LARGEST cap whose total candidate work fits the budget
    ``pairs_per_doc × n_docs``, where a bucket of size s costs C(s,2)
    pairs if s ≤ cap and (s-1) star edges otherwise, and n_docs is
    recovered from the histogram (Σ s·n = docs × bands).  Work is
    monotone in the cap, so this is one cumulative scan over the
    (tiny, O(distinct sizes)) histogram.  Floor cap 1 = everything
    starred = linear work, always within reach; when even the full
    uncapped work fits, the returned cap equals the max observed size
    and nothing is capped.  Pair with ``repair_capped=True`` to keep
    verified clusters exact regardless of how aggressive the derived
    cap is."""
    if not hist:
        return 1
    memberships = sum(s * n for s, n in hist.items())
    budget = pairs_per_doc * memberships / bands
    sizes = sorted(hist)

    def work(cap: int) -> float:
        return sum(n * (s * (s - 1) // 2 if s <= cap else s - 1)
                   for s, n in hist.items())

    best = 1
    for cap in sizes:
        if work(cap) <= budget:
            best = cap
        else:
            break
    return best


def build_lsh_index(hashed: DataFrame, num_perm: int, bands: int,
                    max_bucket_size: int | str | None = None,
                    pairs_per_doc: float = 32.0) -> LshIndex:
    """Compute signatures + banding for ``hashed`` = (id, hs) and persist
    the result (eagerly).  The caller owns the returned frames: hold the
    index for reuse, or unpersist ``frames`` when done.

    ``max_bucket_size="auto"`` derives the cap from the corpus itself:
    one extra aggregate over the banded table builds the bucket-size
    histogram (the same profile ``lsh_bucket_profile`` reports) and
    :func:`adaptive_bucket_cap` picks the largest cap whose candidate
    work fits ``pairs_per_doc × n_docs``."""
    rows = num_perm // bands
    sig = hashed.select(
        "id", signature_from_hashes(F.col("hs"), num_perm).alias("sig"))
    # the banded frame feeds both sides of the self-join; the persists
    # below keep the signature from being evaluated twice
    banded = sig.select(
        "id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    auto_frames: tuple = ()
    if max_bucket_size == "auto":
        banded = banded.persist()
        banded.count()  # eager: histogram + tagged window both scan this
        auto_frames = (banded,)
        hist = {
            r["s"]: r["n"]
            for r in (banded.groupBy("band", "bucket")
                      .agg(F.count("*").alias("s"))
                      .groupBy("s").agg(F.count("*").alias("n"))
                      .collect())
        }
        max_bucket_size = adaptive_bucket_cap(hist, bands, pairs_per_doc)
    if max_bucket_size is not None:
        # one window shuffle tags size+root per bucket (no stats join);
        # the persisted tagged frame feeds star edges AND both join sides
        w = Window.partitionBy("band", "bucket")
        tagged = banded.select(
            "id", "band", "bucket",
            F.count("*").over(w).alias("bsz"),
            F.min("id").over(w).alias("root")).persist()
        tagged.count()  # eager: later scans must hit warm cache
        capped = tagged.filter(F.col("bsz") > max_bucket_size) \
            .select("band", "bucket", "id", "root")
        star = (capped.filter(F.col("id") != F.col("root"))
                .select(F.col("root").alias("id_a"),
                        F.col("id").alias("id_b")))
        kept = tagged.filter(F.col("bsz") <= max_bucket_size) \
            .select("id", "band", "bucket")
        return LshIndex(kept, capped, star, auto_frames + (tagged,))
    banded = banded.persist()
    banded.count()  # eager: both self-join sides scan this
    capped = banded.limit(0).withColumn("root", F.col("id")) \
        .select("band", "bucket", "id", "root")
    return LshIndex(banded, capped, None, (banded,))


def candidates_from_index(ix: LshIndex) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a prebuilt LSH index: within-
    bucket self-join over the capped banded table, plus star edges for
    hot buckets."""
    a = ix.banded.alias("a")
    b = ix.banded.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if ix.star is not None:
        pairs = pairs.unionByName(ix.star)
    return pairs.distinct()


def _lsh_verified_pairs(hashed: DataFrame, arrs: DataFrame, num_perm: int,
                        bands: int, threshold: float,
                        max_bucket_size: int | str | None,
                        repair_capped: bool = False,
                        cleanup: list | None = None,
                        index: LshIndex | None = None) -> DataFrame:
    """Candidate generation + exact-Jaccard verify shared by the string
    and all-numeric LSH pipelines.  ``hashed`` = (id, hs) feeds
    signatures/banding; ``arrs`` = (id, arr) feeds the verify (string
    shingles keep oracle parity; bigint shingles are the fast path).

    ``repair_capped`` closes the star-edge recall gap on capped hot
    buckets: members whose link to the bucket root FAILED the Jaccard
    verify are re-paired with every bucket-mate and re-verified.  That
    makes verified clusters exact again — for any same-bucket pair
    (X, Y) with J ≥ threshold, either both root links passed (path
    X–root–Y survives) or a failed endpoint was re-paired with the
    other directly.  Extra work is O(F·B) per hot bucket where F =
    failed members: boilerplate-heavy buckets (the reason the cap
    exists) have F ≈ 0; a fully-dissimilar bucket degrades to the B²
    the cap avoided — but then the pairs were genuinely needed.

    ``cleanup``: when not None, a list of caller-persisted frames; the
    result is materialized eagerly (localCheckpoint) and every frame in
    the list — plus everything this pipeline persists internally — is
    unpersisted before returning, so repeated invocations in a
    long-lived session (the bench, the driver's graded runs) leave no
    cached blocks behind.  None keeps the legacy lazy contract (plan
    tests inspect the un-executed join tree)."""
    def verify(pairs: DataFrame) -> DataFrame:
        return (
            pairs
            .join(arrs.select(F.col("id").alias("id_a"),
                              F.col("arr").alias("_arr_a")), "id_a")
            .join(arrs.select(F.col("id").alias("id_b"),
                              F.col("arr").alias("_arr_b")), "id_b")
            .withColumn("jaccard", jaccard(F.col("_arr_a"), F.col("_arr_b")))
            .select("id_a", "id_b", "jaccard")
        )

    if index is not None:
        # caller-owned prebuilt index: mine it, never free its frames
        cand, capped = candidates_from_index(index), index.capped
    elif max_bucket_size is None and cleanup is not None:
        # ONE-SHOT UNCAPPED PATH (guide §2.4): the persisted banded
        # index exists so repeated runs/probes scan a warm artifact —
        # but an eager-cleanup caller frees it before returning, so the
        # persist+count was a dedicated materialization job buying
        # nothing.  Band inline instead: both self-join sides carry the
        # identical signature+explode subtree over the caller-persisted
        # ``hashed`` frame — the planner broadcasts one banded side
        # (plans/r14/lsh_inline_banding_probe_after.txt), so the
        # duplicated signature pass costs ~0.05 s over cached shingles
        # while the persist+count job it replaces was ~0.4 s, and no
        # cached frames are left to free.  Capped/repair paths keep the
        # indexed shape (the tagged window frame feeds three consumers).
        rows = num_perm // bands
        sig = hashed.select(
            "id", signature_from_hashes(F.col("hs"), num_perm).alias("sig"))
        banded = sig.select(
            "id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("bb")
        ).select("id", F.col("bb.band").alias("band"),
                 F.col("bb.bucket").alias("bucket"))
        a, b = banded.alias("a"), banded.alias("b")
        cand = (a.join(b, ["band", "bucket"])
                .filter(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .distinct())
        capped = None  # unused: the repair branch requires a cap
    else:
        cand, capped = candidates_from_hashes(hashed, num_perm, bands,
                                              max_bucket_size,
                                              return_capped=True,
                                              scope=cleanup)
    if not (repair_capped and max_bucket_size is not None):
        out = verify(cand).filter(F.col("jaccard") >= threshold)
        if cleanup is None:
            return out
        out = out.localCheckpoint(eager=True)
        for f in cleanup:
            f.unpersist()
        return out
    v = verify(cand).persist()
    v.count()  # eager: kept + failed + anti-join all scan this
    kept = v.filter(F.col("jaccard") >= threshold)
    failed = v.filter(F.col("jaccard") < threshold)
    # at-risk members: capped-bucket rows whose star link to root failed
    risk = (capped.alias("m")
            .join(failed.alias("f"),
                  (F.col("f.id_a") == F.col("m.root"))
                  & (F.col("f.id_b") == F.col("m.id")))
            .select("m.band", "m.bucket", "m.id"))
    mates = capped.select("band", "bucket", F.col("id").alias("mate"))
    repair = (risk.join(mates, ["band", "bucket"])
              .filter(F.col("id") != F.col("mate"))
              .select(F.least("id", "mate").alias("id_a"),
                      F.greatest("id", "mate").alias("id_b"))
              .distinct()
              .join(v.select("id_a", "id_b"), ["id_a", "id_b"],
                    "left_anti"))
    kept2 = verify(repair).filter(F.col("jaccard") >= threshold)
    # materialize the (small) verified-pair result and free the cached
    # verify frame — repeated repair_capped invocations in a long-lived
    # session must not accumulate dead cached blocks
    out = kept.unionByName(kept2).localCheckpoint(eager=True)
    v.unpersist()
    for f in (cleanup or []):
        f.unpersist()
    return out


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over DISTINCT shingle arrays (every producer in
    this module ends in array_distinct; callers must uphold that).

    |A ∪ B| is derived as |A| + |B| − |A ∩ B| instead of materializing
    array_union: for distinct inputs the two are identical by
    inclusion-exclusion, and union was the larger of the two per-pair
    hash-set builds — the verify stage over N candidate pairs does half
    the set work (measured 3.8 s → 1.2 s on the 375k-pair scaled-LSH
    verify).  Codegen subexpression elimination evaluates the single
    remaining array_intersect once."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment(sh_a: Column, sh_b: Column) -> Column:
    """Max-containment over distinct shingle arrays:
    |A ∩ B| / min(|A|, |B|) — the asymmetric near-dup signal Jaccard
    misses (a short document wholly embedded in a long one scores ~1.0
    here but arbitrarily low on Jaccard; Broder 1997's containment).
    """
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    m = F.least(F.size(sh_a), F.size(sh_b))
    return F.when(m > 0, inter / m).otherwise(F.lit(0.0))


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 16,
                      bands: int = 4, k: int = 3,
                      threshold: float = 0.7, hash_fn=None,
                      max_bucket_size: int | str | None = None,
                      repair_capped: bool = False,
                      eager_cleanup: bool = False) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard verify →
    pairs ≥ threshold.  Returns (id_a, id_b, jaccard).
    ``repair_capped`` (with ``max_bucket_size``) restores exact
    verified clusters on capped hot buckets — see _lsh_verified_pairs.
    ``eager_cleanup``: materialize the (small) result and unpersist all
    internal frames before returning — the repeated-invocation shape
    (registry/bench/driver); default False keeps lazy plans for plan
    inspection and one-shot callers."""
    # one persisted shingle pass feeds signature/banding AND the verify
    # joins (previously two full shingle computations over the corpus)
    sh = df.select(F.col(id_col).alias("id"),
                   shingles(F.col(text_col), k).alias("sh")).persist()
    sh.count()  # eager: signature path + both verify sides scan this
    return minhash_lsh_dedup_shingled(
        sh, num_perm, bands, threshold, hash_fn, max_bucket_size,
        repair_capped, eager_cleanup, _own=(sh,) if eager_cleanup else ())


def minhash_lsh_dedup_shingled(sh: DataFrame, num_perm: int = 16,
                               bands: int = 4, threshold: float = 0.7,
                               hash_fn=None,
                               max_bucket_size: int | str | None = None,
                               repair_capped: bool = False,
                               eager_cleanup: bool = False,
                               index: LshIndex | None = None,
                               _own: tuple = ()) -> DataFrame:
    """Pipeline over a prebuilt (id, sh) string-shingle frame — callers
    that run repeatedly persist ``sh`` once (and optionally prebuild the
    banding ``index`` via :func:`build_lsh_index`) so every run scans
    warm artifacts instead of recomputing shingles/signatures.
    ``eager_cleanup`` frees only pipeline-internal frames, never the
    caller-owned ``sh``/``index``."""
    hashed = sh.select(
        "id", F.transform(F.col("sh"), hash_fn or _h60).alias("hs"))
    return _lsh_verified_pairs(
        hashed, sh.select("id", F.col("sh").alias("arr")),
        num_perm, bands, threshold, max_bucket_size, repair_capped,
        cleanup=list(_own) if eager_cleanup else None, index=index)


def hashed_shingles(text: Column, k: int = 3) -> Column:
    """Numeric k-shingle hashes WITHOUT building shingle strings: hash
    each word once (native xxhash64), then combine k word-hashes with a
    rolling polynomial over k-1 numeric zip_with passes.  Same LSH/
    Jaccard semantics as string shingles (collisions mod P are ~1e-8
    per pair at 10³ shingles/doc), at a fraction of the CPU — the
    production path for corpus-scale dedup; the md5-string path stays
    for oracle-portable runs."""
    wh = F.transform(words(text), lambda w: F.pmod(F.xxhash64(w), F.lit(P)))
    n = F.size(wh)
    sh = wh
    for off in range(1, k):
        nxt = F.slice(wh, off + 1, F.greatest(n - off, F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: (a * 31 + b) % P)
    # texts shorter than k words: one whole-text shingle (zip_with pads
    # the short side with null — a null shingle would alias ALL short
    # docs into one Jaccard-1.0 group)
    whole = F.aggregate(wh, F.lit(0).cast("bigint"),
                        lambda acc, h: (acc * 31 + h) % P)
    sh = F.when(n >= k, F.slice(sh, 1, F.greatest(n - (k - 1), F.lit(1)))) \
        .otherwise(F.array(whole))
    return F.array_distinct(sh)


def _verify_arrs32(hs: DataFrame) -> DataFrame:
    """Verify-side projection of a mod-P hashed-shingle frame (id, hs)
    with the arrays narrowed to INT: every hashed-shingle value is in
    [0, P) and P < 2^31, so the cast is lossless.  The verify joins
    attach these arrays to candidate pairs and the second join ships
    the attached array through its exchange — narrowing the element
    type halves that fat shuffle's bytes (guide §2.3 "narrower types");
    array_intersect/Jaccard semantics are unchanged (measured
    bit-identical output, ~0.88× verify wall on the 375k-pair scaled
    line)."""
    return hs.select("id", F.transform(
        F.col("hs"), lambda h: h.cast("int")).alias("arr"))


def minhash_lsh_dedup_fast(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_perm: int = 16,
                           bands: int = 4, k: int = 3,
                           threshold: float = 0.7,
                           max_bucket_size: int | str | None = None,
                           repair_capped: bool = False,
                           eager_cleanup: bool = False) -> DataFrame:
    """minhash_lsh_dedup on the all-numeric fast path: hashed_shingles
    feed signatures, banding AND the exact-Jaccard verify (bigint
    array_intersect instead of string arrays on both pair sides)."""
    hs = df.select(F.col(id_col).alias("id"),
                   hashed_shingles(F.col(text_col), k).alias("hs")).persist()
    hs.count()  # eager: signature path + both verify sides scan this
    return _lsh_verified_pairs(
        hs, _verify_arrs32(hs),
        num_perm, bands, threshold, max_bucket_size, repair_capped,
        cleanup=[hs] if eager_cleanup else None)


def minhash_lsh_dedup_hashed(hs: DataFrame, num_perm: int = 16,
                             bands: int = 4, threshold: float = 0.7,
                             max_bucket_size: int | str | None = None,
                             repair_capped: bool = False,
                             eager_cleanup: bool = False,
                             index: LshIndex | None = None) -> DataFrame:
    """Fast-path pipeline over a prebuilt (id, hs) hashed-shingle frame —
    callers that run repeatedly should persist+materialize ``hs`` once
    (and optionally prebuild ``index`` via :func:`build_lsh_index`) and
    hold the references so every run scans warm artifacts
    (``eager_cleanup`` never touches the caller-owned ``hs``/``index``;
    it only frees the frames the pipeline itself persists).

    PRECONDITION: ``hs`` values must be mod-P shingle hashes
    (< 2^31 — what :func:`hashed_shingles` produces).  The verify stage
    narrows the pair-side arrays to INT to halve the candidate-join
    shuffle bytes, which is lossless exactly for that domain; raw
    64-bit hashes would wrap silently and corrupt Jaccard scores —
    re-hash them mod P (e.g. ``F.pmod(F.xxhash64(s), F.lit(P))``)
    before calling."""
    return _lsh_verified_pairs(
        hs, _verify_arrs32(hs),
        num_perm, bands, threshold, max_bucket_size, repair_capped,
        cleanup=[] if eager_cleanup else None, index=index)


def _bit(v: Column, j: Column) -> Column:
    """Bit j of v via exact double arithmetic (values < 2^52; PySpark's
    shiftright only takes a literal shift amount)."""
    return (F.floor(v / F.pow(F.lit(2.0), j.cast("double"))).cast("bigint")
            % 2)


def simhash(text: Column, bits: int = 32) -> Column:
    """Sign-aggregated token-hash fingerprint (bits LSBs of H(token)):
    bit j set iff Σ_tokens (±1 on token-hash bit j) ≥ 0."""
    hs = F.transform(words(text), _h60)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc + F.when(
            F.aggregate(
                hs, F.lit(0).cast("bigint"),
                lambda s, h: s + F.when(_bit(h, j) == 1,
                                        F.lit(1)).otherwise(F.lit(-1)),
            ) >= 0,
            F.pow(F.lit(2.0), j.cast("double")).cast("bigint"),
        ).otherwise(F.lit(0)),
    )


def hamming(a: Column, b: Column, bits: int = 32) -> Column:
    """Hamming distance between two ≤52-bit fingerprints.

    Native ``bit_count`` over the XOR, masked to the declared width —
    a single whole-stage-codegen popcount per word.  The previous
    per-bit higher-order ``aggregate`` (a pow + floor-divide PER BIT,
    and HOF lambdas never enter codegen) measured 23x slower on the
    pair-verify projections of the perceptual dedup family; values are
    identical bit-for-bit over the full ≤52-bit domain (randomized
    equality sweep at 32 and 52 bits)."""
    x = a.bitwiseXOR(b)
    if bits < 63:
        x = x.bitwiseAND(F.lit((1 << bits) - 1))
    return F.bit_count(x).cast("int")


UNBUCKETED_NEARDUP_MAX_ROWS = 100_000


def embedding_neardup(df: DataFrame, emb_col: str = "embedding",
                      id_col: str = "vec_id", bucket_col: str | None = None,
                      threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs within coarse buckets (supply a
    cluster/label column; at scale, an IVF assignment).  Unit-norm
    inputs ⇒ cosine = dot.

    Without ``bucket_col`` the pair join is all-pairs ``a.id < b.id``
    — a cartesian product.  That path is gated to small frames
    (≤ ``UNBUCKETED_NEARDUP_MAX_ROWS``); above the gate it raises
    rather than silently planning an O(n²) join.  At scale pass a
    cluster assignment (:func:`graphraft_spark.ops.similarity.ivf_assign`)
    or an SRP bucket (:func:`graphraft_spark.ops.similarity.srp_signature`).
    """
    from graphraft_spark.search.vector import dot_col

    if bucket_col is None:
        n = df.count()
        if n > UNBUCKETED_NEARDUP_MAX_ROWS:
            raise ValueError(
                f"embedding_neardup without bucket_col is an all-pairs "
                f"cartesian join; refusing on {n} rows "
                f"(> {UNBUCKETED_NEARDUP_MAX_ROWS}).  Pass bucket_col "
                f"(e.g. an ivf_assign centroid_id or an srp_signature "
                f"bucket).")

    cols = [F.col(id_col).alias("id"), F.col(emb_col).alias("e")]
    if bucket_col:
        cols.append(F.col(bucket_col).alias("bk"))
    s = df.select(*cols)
    a, b = s.alias("a"), s.alias("b")
    on = [F.col("a.id") < F.col("b.id")]
    if bucket_col:
        on.insert(0, F.col("a.bk") == F.col("b.bk"))
    joined = a.join(b, on[0] if len(on) == 1 else (on[0] & on[1]))
    return (
        joined.withColumn("cosine", dot_col(F.col("a.e"), F.col("b.e")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                "cosine")
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pair edges (id_a, id_b):
    the clustering step that turns pairwise matches into dedup groups
    (component id = min doc id in the group).

    Iterative min-label propagation; each round is one shuffle-join +
    aggregate.  Dedup graphs converge in a handful of rounds —
    star-linked buckets have diameter ≤ 4 by construction — and the
    loop stops as soon as a round changes nothing; a graph of larger
    diameter needs a larger ``max_iter``.

    Lineage is TRUNCATED each round with localCheckpoint, not just
    persisted: under persist alone the logical plan still accumulates
    one join per round on top of the (possibly deep) pairs pipeline,
    and Catalyst re-analyzes that whole tree every action — measured
    3→8s/round growth on a 100-node graph vs 0.5s/round checkpointed.
    localCheckpoint stores partitions on executors (no reliable FS
    needed); on a cluster where executor loss during the loop matters,
    set a checkpoint dir and swap in ``.checkpoint()`` — same plan
    shape."""
    spark = pairs.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .unionByName(pairs.select(F.col("id_b").alias("src"),
                                     F.col("id_a").alias("dst"))))
    # hash-partition the (big) edge side by the iteration join key ONCE:
    # every propagation round reuses the checkpointed partitioning, so
    # only the (small) label frame shuffles per round
    und = und.distinct().repartition(n, F.col("dst")) \
        .localCheckpoint(eager=True)
    labels = (und.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("comp", F.col("id"))).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # candidate label per node: min over own and neighbors' comps;
        # carry the old comp so convergence is checked by the SAME job
        # that materializes the round (lazy checkpoint → the count
        # below is the one action that both computes and stores it)
        nbr = (und.join(labels.withColumnRenamed("id", "dst")
                        .withColumnRenamed("comp", "nbr_comp"), "dst")
               .groupBy("src").agg(F.min("nbr_comp").alias("nbr_comp")))
        new = (labels.withColumnRenamed("comp", "old")
               .join(nbr.withColumnRenamed("src", "id"), "id", "left")
               .select("id", F.least(
                   "old", F.coalesce("nbr_comp", "old")).alias("comp"),
                   "old")
               ).localCheckpoint(eager=False)
        changed = new.filter(F.col("comp") != F.col("old")).count()
        labels = new.drop("old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the iteration budget) — raise "
            "max_iter")
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "comp").select("id", "comp", "cluster_size")


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n\n") -> DataFrame:
    """Paragraph-level exact dedup across the corpus (the Dolma/
    RedPajama recipe): every document keeps only the FIRST global
    occurrence of each of its paragraphs — repeated boilerplate
    (headers, licenses, navigation) vanishes corpus-wide while each
    document's surviving paragraphs keep their original order.

    Shape: posexplode paragraphs → one shuffle keyed by paragraph hash
    for global first-seen (ties broken by (doc, position) so the
    result is deterministic) → one shuffle back by document for
    order-preserving reassembly.  Documents whose every paragraph was
    seen earlier come back with empty text (filter afterwards if
    desired)."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep)))
        .alias("pos", "para"))
    w = Window.partitionBy("pkey").orderBy(id_col, "pos")
    kept = (
        paras.filter(F.trim("para") != "")
        .withColumn("pkey", F.md5(F.col("para")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "para")))
             .alias("parts"))
        .select(
            id_col,
            F.array_join(F.transform("parts", lambda p: p["para"]), sep)
            .alias(text_col))
    )
    return (df.select(id_col).join(rebuilt, id_col, "left")
            .select(id_col, F.coalesce(text_col, F.lit("")).alias(text_col)))


# --- exact-substring span dedup (Lee et al. 2022, arXiv:2107.06499) -------

def window_hash_positions(text: Column, k: int) -> Column:
    """All overlapping k-token windows of normalized text as
    array<struct<pos,wh>> — pos is 1-BASED (so the DuckDB oracle's
    1-based array slicing lines up), wh an md5 of the space-joined
    window.  Texts shorter than k tokens yield an empty array (no
    window is a partial window).

    Window strings are built with k-1 zip_with passes over shifted
    token arrays (the shingles() construction) instead of an array
    slice per position — measured 1.76× faster at sf0.1 (no per-window
    array allocation; concat totals the same bytes either way)."""
    ws = words(text)
    n = F.size(ws)
    sh = ws
    for off in range(1, k):
        nxt = F.slice(ws, off + 1, F.greatest(n - off, F.lit(0)))
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat_ws(" ", a, b))
    win = F.transform(
        sh, lambda s, i: F.struct((i + 1).alias("pos"),
                                  F.md5(s).alias("wh")))
    return F.when(n >= k, F.slice(win, 1, F.greatest(n - (k - 1), F.lit(1)))) \
        .otherwise(F.array().cast("array<struct<pos:int,wh:string>>"))


def _spans_from_windows(wins: DataFrame, k: int,
                        id_col: str) -> DataFrame:
    """Shared tail of the span-dedup variants: global first-seen
    flagging keyed by window hash, then the per-document
    gaps-and-islands merge into maximal spans."""
    first_seen = Window.partitionBy("wh").orderBy("id", "pos")
    flagged = (
        wins.withColumn("rn", F.row_number().over(first_seen))
        .filter(F.col("rn") > 1)
        .select("id", "pos", (F.col("pos") + (k - 1)).alias("endpos")))
    doc_order = Window.partitionBy("id").orderBy("pos", "endpos")
    prev_end = (Window.partitionBy("id").orderBy("pos", "endpos")
                .rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        flagged.withColumn("prev_end", F.max("endpos").over(prev_end))
        .withColumn(
            "new_island",
            F.when(F.col("prev_end").isNull()
                   | (F.col("pos") > F.col("prev_end")), 1).otherwise(0))
        .withColumn("island", F.sum("new_island").over(doc_order)))
    return (
        islands.groupBy("id", "island")
        .agg(F.min("pos").alias("span_start"),
             F.max("endpos").alias("span_end"),
             F.count("*").alias("n_windows"))
        .select(F.col("id").alias(id_col), "span_start", "span_end",
                "n_windows"))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    hash_fn: str = "md5") -> DataFrame:
    """Exact-substring duplicate detection: maximal token spans whose
    every k-token window occurs earlier in the corpus (global
    first-seen order by (doc, pos); the first occurrence is NOT
    flagged, so one copy of every substring survives — the ExactSubstr
    policy of Lee et al. 2022, at k-token granularity instead of a
    suffix array, which is the standard distributed approximation:
    one hash shuffle replaces the sequential suffix-array build).

    ``hash_fn``: "md5" hashes each k-token window string with md5;
    "rolling" computes window keys with a vectorized numpy rolling
    hash over per-token siphashes (:func:`window_hash_rows_rolling`) —
    the right construction at Lee et al.'s real k≈50, where the
    expression variants collapse (measured: rolling beats md5 by >10×
    at k=50 on the ×10 corpus, see BASELINE.md);
    "poly" hashes each TOKEN once and combines windows with two
    unrolled polynomial passes (:func:`window_hash_positions_fast`) —
    same span output on collision-free inputs, k multiply-adds per
    window instead of a k-token md5, and the arithmetic is portable
    (DuckDB-oracle-checked by ``d_span_dedup_fast``).

    Returns (id, span_start, span_end, n_windows): token positions are
    1-based inclusive; overlapping/adjacent flagged windows are merged
    into maximal spans with a per-document gaps-and-islands pass
    (running max over the doc's own partition — per-doc state never
    leaves its partition, so scale cost is the largest DOCUMENT, not
    the corpus).
    """
    if hash_fn == "rolling":
        wins = window_hash_rows_rolling(df, text_col, id_col, k)
        return _spans_from_windows(wins, k, id_col)
    if hash_fn == "poly" and k > 32:
        raise ValueError(
            "hash_fn='poly' unrolls 2(k-1) zip_with passes and exceeds "
            f"the analyzer's iteration budget at k={k}; use "
            "hash_fn='rolling' for large windows")
    winfn = {"md5": window_hash_positions,
             "poly": window_hash_positions_fast}[hash_fn]
    wins = df.select(
        F.col(id_col).alias("id"),
        F.explode(winfn(F.col(text_col), k))
        .alias("win")).select("id", "win.pos", "win.wh")
    return _spans_from_windows(wins, k, id_col)


def exact_substring_scrub(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          hash_fn: str = "md5") -> DataFrame:
    """Remove every duplicated span found by ``duplicate_spans`` from
    the documents, keeping the corpus-global first occurrence of each
    substring.  Returns (id, text, n_tokens_kept).

    The scrub itself is join-light: spans collapse to one small
    array per affected document (a document has at most
    n_tokens/k·2 maximal spans), broadcast back onto the corpus row
    via a left join on the id, then an index-aware higher-order
    F.filter drops covered tokens — no explode of the corpus, no
    range join.
    """
    spans = (
        duplicate_spans(df, text_col, id_col, k, hash_fn=hash_fn)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("span_start", "span_end"))
             .alias("spans")))
    ws = words(F.col(text_col))
    # F.filter's index lambda is 0-based; spans are 1-based inclusive.
    kept = F.filter(
        ws,
        lambda tok, i: ~F.exists(
            F.col("spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"])))
    return (
        df.join(spans, id_col, "left")
        .withColumn("spans",
                    F.coalesce(
                        F.col("spans"),
                        F.array().cast(
                            "array<struct<span_start:int,span_end:int>>")))
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias(text_col),
            F.size(kept).alias("n_tokens_kept"))
    )


def semantic_dedup(vectors: DataFrame, threshold: float = 0.95,
                   every: int = 50, id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   keep: str = "min_id") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by cluster-then-prune — assign embeddings to coarse
    clusters, find within-cluster cosine-duplicate PAIRS, collapse
    pairs to duplicate GROUPS, keep one representative per group.

    Composition of the engine's existing pieces, which is also the
    100 TB shape: deterministic coarse centroids (``ivf_centroids``;
    swap in the k-means trainer at scale) → broadcast argmax
    assignment (one scan) → pairwise similarity ONLY within clusters
    (``embedding_neardup`` with the assignment as the bucket —
    per-cluster quadratic, never corpus-quadratic, the SemDeDup
    insight) → min-label connected components.  Representative = the
    group's min id (the paper keeps an arbitrary member; min id makes
    the choice deterministic and oracle-expressible).

    Returns (id, centroid_id, comp, is_kept): ``comp`` is the
    duplicate-group id (its min member id; singletons are their own
    group), ``is_kept`` marks the representative.
    """
    from graphraft_spark.ops.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(vectors, every, id_col, emb_col)
    # ivf_centroids samples ids divisible by `every` (numeric ids
    # required — non-numeric ids cast to null and sample nothing).  On
    # a corpus with no such id the crossJoin in ivf_assign against an
    # empty centroid table would empty `assigned` and the whole result
    # ('keep nothing').  Fall back to a single centroid — the min-id
    # vector — so every row stays assigned and dedup degrades to one
    # global cluster, which is exact (just not pruned) on small inputs.
    if cents.isEmpty():
        cents = (vectors.orderBy(id_col).limit(1)
                 .select(F.lit(0).cast("bigint").alias("centroid_id"),
                         F.col(emb_col).alias("c_emb")))
    assigned = ivf_assign(vectors, cents, id_col, emb_col)
    pairs = embedding_neardup(assigned, emb_col=emb_col, id_col=id_col,
                              bucket_col="centroid_id",
                              threshold=threshold)
    comps = connected_components(pairs.select("id_a", "id_b"))
    out = (assigned.select(F.col(id_col).alias("id"), "centroid_id",
                           F.col(emb_col).alias("_e"))
           .join(comps.select("id", "comp"), "id", "left")
           .withColumn("comp", F.coalesce("comp", F.col("id"))))
    if keep == "min_id":
        picked = out.withColumn("is_kept", F.col("id") == F.col("comp"))
    elif keep == "far_from_centroid":
        # the paper's rule (arXiv:2303.09540 §3): within each duplicate
        # group keep the example LEAST similar to its cluster centroid
        # (low-similarity examples carry the most marginal information);
        # ties break on id for determinism
        from graphraft_spark.search.vector import dot_col

        scored = out.join(F.broadcast(cents), "centroid_id") \
            .withColumn("_csim", dot_col(F.col("_e"), F.col("c_emb")))
        w = Window.partitionBy("comp").orderBy(F.asc("_csim"), F.asc("id"))
        picked = (scored.withColumn("is_kept",
                                    F.row_number().over(w) == 1)
                  .drop("c_emb", "_csim"))
    else:
        raise ValueError(f"unknown keep rule {keep!r}")
    return picked.drop("_e")


def window_hash_rows_rolling(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             k: int = 50) -> DataFrame:
    """Large-k window hashing as (id, pos, wh) ROWS via an
    Arrow-batched numpy kernel — the k≈50 construction (Lee et al.'s
    real window size), where both expression-level variants collapse:
    the md5 path materializes O(n·k) window-string bytes (measured
    78 s on the ×10 corpus at k=50, 4× its k=8 cost) and the poly
    path's 2(k-1) unrolled zip_with passes exceed the analyzer's
    iteration budget outright.

    Per document: tokens hashed once (pd.util.hash_array — fixed-key
    siphash, deterministic across workers), then every window key in
    one vectorized pass as a weighted sum over a sliding view in
    uint64 wraparound arithmetic — O(n) work, no window strings, no
    O(k) expression tree.  A documented Python seam in the style of
    the matmul/media kernels: one scan in, rows out, nothing
    corpus-sized held per task.

    Same contract as the expression variants (pos 1-based, texts
    shorter than k yield nothing); ``wh`` is the uint64 key viewed as
    int64.  Span output is asserted equal to the md5 variant in
    tests/test_span_dedup.py on collision-free corpora."""
    id_type = {f.name: f.dataType.simpleString()
               for f in df.schema.fields}[id_col]
    schema = f"id {id_type}, pos int, wh bigint"

    def gen(batches):
        import re

        import numpy as np
        import pandas as pd

        base = np.uint64(1099511628211)
        w = np.empty(k, dtype=np.uint64)
        acc = np.uint64(1)
        for j in range(k - 1, -1, -1):
            w[j] = acc
            acc = acc * base
        for pdf in batches:
            ids, poss, whs = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = re.sub(r"\s+", " ", str(t).lower()).strip() \
                    .split(" ")
                n = len(toks)
                if n < k:
                    continue
                h = pd.util.hash_array(np.asarray(toks, dtype=object))
                win = np.lib.stride_tricks.sliding_window_view(h, k)
                wh = (win * w).sum(axis=1, dtype=np.uint64)
                ids.extend([i] * len(wh))
                poss.extend(range(1, len(wh) + 1))
                whs.append(wh)
            wh_all = (np.concatenate(whs).view(np.int64)
                      if whs else np.array([], dtype=np.int64))
            yield pd.DataFrame({"id": ids,
                                "pos": np.asarray(poss, dtype=np.int32),
                                "wh": wh_all})

    return df.select(F.col(id_col), F.col(text_col)) \
        .mapInPandas(gen, schema=schema)


# Polynomial window-hash constants for the span-dedup fast path: two
# independent (base, prime) pairs combined into one ~60-bit key.
# Unrolled per-position multiply-adds (mod applied per term so every
# intermediate stays < 2^63 under ANSI arithmetic).
_SPAN_B1, _SPAN_P1 = 31337, 1_000_000_007
_SPAN_B2, _SPAN_P2 = 271_828, 998_244_353


def _poly_coeffs(base: int, prime: int, k: int) -> list[int]:
    return [pow(base, k - 1 - j, prime) for j in range(k)]


def window_hash_positions_fast(text: Column, k: int) -> Column:
    """Fast-path twin of :func:`window_hash_positions`: hashes each
    TOKEN once (md5-prefix → bigint, the portable primitive) and forms
    each window key as two unrolled polynomial combinations — k
    multiply-adds per window instead of an md5 over a k-token string.
    ~60-bit combined key; the DuckDB oracle reproduces the arithmetic
    exactly, and at corpus scale the token md5 can swap for xxhash64
    like the minhash fast path (same structure, one hash per token).

    Built as k-1 zip_with passes over SHIFTED token-hash arrays (the
    shingles() pattern): each input array is evaluated once.  The
    naive per-window ``element_at(tok, i+j)`` lambda re-inlines the
    whole token-hash transform at every position — measured >100x
    slower (O(n²k) md5s per document) — because Catalyst substitutes,
    not materializes, expressions referenced inside higher-order
    lambdas.

    Same output contract as the md5 variant (pos 1-based, wh per
    window) with ``wh`` a BIGINT instead of an md5 string."""
    ws = words(text)
    tok = F.transform(
        ws, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("bigint"))
    n = F.size(ws)
    c1 = _poly_coeffs(_SPAN_B1, _SPAN_P1, k)
    c2 = _poly_coeffs(_SPAN_B2, _SPAN_P2, k)
    acc1 = F.transform(tok, lambda t: (t % _SPAN_P1) * c1[0] % _SPAN_P1)
    acc2 = F.transform(tok, lambda t: (t % _SPAN_P2) * c2[0] % _SPAN_P2)
    def _mixer(coeff, prime):
        # NOTE: bind via closure, not a default arg — a 3-parameter
        # lambda makes zip_with pass the element INDEX as the third
        # argument.
        return lambda a, t: a + (t % prime) * coeff % prime

    for j in range(1, k):
        sh = F.slice(tok, j + 1, F.greatest(n - j, F.lit(0)))
        acc1 = F.zip_with(acc1, sh, _mixer(c1[j], _SPAN_P1))
        acc2 = F.zip_with(acc2, sh, _mixer(c2[j], _SPAN_P2))
    # trailing k-1 entries are null (zip_with pads the shorter side)
    wh = F.zip_with(acc1, acc2,
                    lambda a, b: (a % _SPAN_P1) * _SPAN_P2 + (b % _SPAN_P2))
    win = F.transform(
        wh, lambda h, i: F.struct((i + 1).alias("pos"), h.alias("wh")))
    return F.when(n >= k, F.slice(win, 1, F.greatest(n - (k - 1), F.lit(1)))) \
        .otherwise(F.array().cast("array<struct<pos:int,wh:bigint>>"))


def lsh_bucket_profile(hashed: DataFrame, num_perm: int,
                       bands: int) -> DataFrame:
    """(bucket_size, n_buckets, n_pairs_uncapped): histogram of LSH
    bucket sizes — the capacity-planning diagnostic behind
    ``max_bucket_size`` (r7 scale soak, BASELINE.md: 50-sibling dup
    groups sit UNDER a cap of 100, so within-bucket verification goes
    quadratic in group size with no guard firing).  Run this before a
    dedup campaign: pick the cap near the histogram's knee —
    ``n_pairs_uncapped = n_buckets·C(size,2)`` shows where the
    verification budget actually goes.

    One banding scan + two tiny aggregates (buckets, then sizes); the
    profile frame is O(distinct sizes)."""
    rows = num_perm // bands
    sig = hashed.select(
        "id", signature_from_hashes(F.col("hs"), num_perm).alias("sig"))
    banded = sig.select(
        "id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    sizes = (banded.groupBy("band", "bucket")
             .agg(F.count("*").alias("bucket_size")))
    return (sizes.groupBy("bucket_size")
            .agg(F.count("*").alias("n_buckets"))
            .select("bucket_size", "n_buckets",
                    (F.col("n_buckets") * F.col("bucket_size")
                     * (F.col("bucket_size") - 1) / 2).cast("bigint")
                    .alias("n_pairs_uncapped")))


def keep_best_in_components(items: DataFrame, pairs: DataFrame,
                            score_col: str,
                            id_col: str = "id") -> DataFrame:
    """Representative selection over near-dup clusters: given an item
    frame and its near-dup pair edges (id_a, id_b), cluster by
    connected components and keep the BEST-scoring member per cluster
    (ties → min id) — what production dedup actually ships: the
    highest-quality copy survives, not an arbitrary/min-id one
    (cf. keep='far_from_centroid' in :func:`semantic_dedup`, the same
    idea for the semantic family).

    Adds (comp, is_kept); singletons are their own component and always
    kept.  The pick is one window over components — partition size =
    cluster size, bounded by the dedup cap upstream."""
    comps = connected_components(pairs.select("id_a", "id_b"))
    out = (items.join(comps.select(F.col("id").alias(id_col), "comp"),
                      id_col, "left")
           .withColumn("comp", F.coalesce("comp", F.col(id_col))))
    w = Window.partitionBy("comp").orderBy(F.desc(score_col),
                                           F.asc(id_col))
    return out.withColumn("is_kept", F.row_number().over(w) == 1)


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           emb_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.9,
                           method: str = "exact",
                           dim: int | None = None,
                           bits: int = 12, seed: int = 7,
                           multiprobe: bool = True) -> DataFrame:
    """Cross-set semantic decontamination: flag every CORPUS row whose
    embedding-cosine to ANY BENCHMARK row reaches ``threshold`` — the
    embedding-space counterpart of the n-gram/Bloom benchmark
    decontamination (ops/text_analysis.py decontaminate), catching
    paraphrased/reformatted test leakage that token overlap misses
    (cf. the within-set :func:`semantic_dedup`, which clusters a single
    corpus; here the sets are distinct so no component step exists —
    one max-similarity per corpus row decides).

    Inputs are expected unit-norm (cosine = dot), as everywhere in the
    ANN stack.  Returns (id, max_cos, contaminated); anti-join the
    corpus on ``contaminated`` to scrub.

    ``method="exact"``: corpus × broadcast(benchmark) dot + per-corpus
    max.  Benchmarks are SMALL by nature (a test set, not a crawl), so
    the broadcast cross-score is the honest 100 TB plan: the product
    never materializes — map-side partial MAX reduces it to |corpus|
    rows before any exchange.  The exact path returns one row per
    corpus id ALWAYS: an empty benchmark yields (id, -1.0, false) for
    every corpus row rather than an empty frame (r11 advice — a bare
    inner cross join would return zero rows, silently inverting the
    absent=clean contract that only the SRP path documents); the
    empty case is handled LAZILY — a left join on TRUE keeps every
    corpus row and ``coalesce(max_cos, -1)`` fills the no-benchmark
    nulls, so building the plan runs no Spark job (r12 advice — the
    former ``isEmpty()`` probe cost an action per invocation in
    foreachBatch contexts).  ``method="srp"``: SRP-bucket both sides
    (Hamming-1 multiprobe) and verify exact cosine only within probed
    buckets — the scale path when the benchmark is itself large;
    candidates are a recall<1 subset, so flags are a SUBSET of exact's
    (precision stays exact — every flag is verified), and corpus ids
    with NO probed candidate are absent from the output (absent =
    clean)."""
    from graphraft_spark.search.vector import dot_col

    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(emb_col).alias("ce"))
    b = benchmark.select(F.col(id_col).alias("bid"),
                         F.col(emb_col).alias("be"))
    if method == "exact":
        # left join on TRUE, not inner: an empty benchmark then yields
        # one null-be row per corpus id (cos null -> max null -> the
        # coalesce below), keeping the builder purely lazy
        scored = (c.join(F.broadcast(b), F.lit(True), "left")
                  .withColumn("cos", dot_col(F.col("ce"), F.col("be"))))
        return (scored.groupBy("id")
                .agg(F.coalesce(F.max("cos"), F.lit(-1.0))
                     .alias("max_cos"))
                .select("id", "max_cos",
                        (F.col("max_cos") >= F.lit(threshold))
                        .alias("contaminated")))
    elif method == "srp":
        if dim is None:
            raise ValueError("method='srp' needs dim")
        from graphraft_spark.ops.similarity import (
            srp_hyperplanes,
            srp_signature,
        )

        planes = srp_hyperplanes(dim, bits, seed)
        bs = b.withColumn("bk", srp_signature("be", planes))
        cs = c.withColumn("bk", srp_signature("ce", planes))
        probe = (F.array(F.col("bk"),
                         *[F.expr(f"bk ^ {1 << i}") for i in range(bits)])
                 if multiprobe else F.array(F.col("bk")))
        cp = (cs.select("id", "ce", F.explode(probe).alias("bk"))
              .withColumn("bk", F.col("bk").cast("bigint")))
        scored = (cp.join(bs.withColumn("bk", F.col("bk").cast("bigint")),
                          "bk")
                  .withColumn("cos", dot_col(F.col("ce"), F.col("be"))))
    else:
        raise ValueError(f"unknown method {method!r}")
    return (scored.groupBy("id")
            .agg(F.max("cos").alias("max_cos"))
            .select("id", "max_cos",
                    (F.col("max_cos") >= F.lit(threshold))
                    .alias("contaminated")))
