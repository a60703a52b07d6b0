"""Capped-bucket LSH repair: with max_bucket_size set, two docs in a
hot bucket that are near-dups of EACH OTHER but not of the bucket root
lose their pair under plain star-linking; repair_capped restores it.

Setup is deterministic: num_perm=1/bands=1 makes the LSH bucket exactly
the min shingle hash, and the portable md5 hash is replicated in Python
so the test can assert its own preconditions (the hot-bucket collision
actually happens) instead of hoping.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

P = 1_000_000_007


def h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P


def py_shingles(text: str, k: int = 3) -> set[str]:
    ws = text.lower().split()
    assert len(ws) >= k
    return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}


def _build_corpus():
    """Boilerplate doc B (42 words → 40 shingles) and an extended doc
    X = B + 20-word suffix whose every added shingle hashes ABOVE B's
    minimum, so X shares B's 1-band LSH bucket while J(X, B) = 40/60 ≈
    0.667 < 0.7."""
    boiler_words = [f"alpha{i:02d}" for i in range(42)]
    boiler = " ".join(boiler_words)
    m = min(h60(s) for s in py_shingles(boiler))
    for seed in range(200):
        suffix_words = [f"zeta{seed}x{i:02d}" for i in range(20)]
        ext = " ".join(boiler_words + suffix_words)
        sh = py_shingles(ext)
        if min(h60(s) for s in sh) == m:
            jac = len(py_shingles(boiler) & sh) / len(py_shingles(boiler) | sh)
            assert jac < 0.7, jac
            return boiler, ext
    raise AssertionError("no suffix kept the bucket minimum — setup broken")


@pytest.fixture(scope="module")
def corpus(spark):
    boiler, ext = _build_corpus()
    rows = [(i, boiler) for i in range(1, 31)] + [(101, ext), (102, ext)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_star_capped_bucket_drops_mutual_pair(corpus):
    """Precondition + gap demonstration: without repair, the capped
    bucket star-links 101/102 only to the root, their root links fail
    the 0.7 verify, and the genuine (101, 102) dup pair is lost."""
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    got = _pairs(minhash_lsh_dedup(
        corpus, num_perm=1, bands=1, threshold=0.7, max_bucket_size=5))
    assert (1, 2) in got          # boilerplate clique survives via star
    assert (101, 102) not in got  # the recall gap this test pins


def test_repair_capped_restores_mutual_pair(corpus):
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    got = _pairs(minhash_lsh_dedup(
        corpus, num_perm=1, bands=1, threshold=0.7, max_bucket_size=5,
        repair_capped=True))
    assert (101, 102) in got
    # no false positives: root links below threshold stay out
    assert (1, 101) not in got and (1, 102) not in got
    # star links for true dups still present
    assert (1, 2) in got


def _components(pairs):
    """Union-find over a pair set (test-side oracle for cluster
    equality — star-linking thins cliques on purpose, so the exactness
    guarantee is components, not pair sets)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps = {}
    for x in parent:
        comps.setdefault(find(x), set()).add(x)
    return {frozenset(c) for c in comps.values()}


def test_repair_matches_uncapped_clusters(corpus):
    """repair_capped must reproduce the CONNECTED COMPONENTS of the
    uncapped (all-pairs-in-bucket) run — the exactness claim (the star
    thins cliques by design, so pair sets legitimately differ)."""
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    exact = minhash_lsh_dedup(corpus, num_perm=1, bands=1, threshold=0.7)
    repaired = minhash_lsh_dedup(
        corpus, num_perm=1, bands=1, threshold=0.7, max_bucket_size=5,
        repair_capped=True)
    assert _components(_pairs(exact)) == _components(_pairs(repaired))


def test_repair_fast_path_agrees(corpus):
    """Same guarantee on the all-numeric pipeline (hashed shingles)."""
    from graphraft_spark.ops.dedup import minhash_lsh_dedup_fast

    exact = minhash_lsh_dedup_fast(corpus, num_perm=1, bands=1,
                                   threshold=0.7)
    repaired = minhash_lsh_dedup_fast(
        corpus, num_perm=1, bands=1, threshold=0.7, max_bucket_size=5,
        repair_capped=True)
    assert _components(_pairs(exact)) == _components(_pairs(repaired))


def test_jaccard_values_survive_repair(corpus):
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    out = minhash_lsh_dedup(
        corpus, num_perm=1, bands=1, threshold=0.7, max_bucket_size=5,
        repair_capped=True)
    j = {(r.id_a, r.id_b): r.jaccard
         for r in out.filter(F.col("id_a") == 101).collect()}
    assert j[(101, 102)] == pytest.approx(1.0)


def test_components_refuse_chain_beyond_iteration_budget(spark):
    """A 150-node chain (diameter 149) needs more min-label propagation
    rounds than ``max_iter`` allows: the operator must refuse
    (non-convergence) rather than silently return wrong labels."""
    from graphraft_spark.ops.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 150)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=10)


def test_paragraph_dedup_order_and_global_first_seen(spark):
    from graphraft_spark.ops.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha\n\nbeta\n\ngamma"),
         (2, "beta\n\ndelta\n\nalpha"),   # beta+alpha seen in doc 1
         (3, "gamma\n\nbeta")],           # fully duplicated
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["text"]
           for r in paragraph_dedup(docs).collect()}
    assert got[1] == "alpha\n\nbeta\n\ngamma"
    assert got[2] == "delta"
    assert got[3] == ""
    # within-document order survives partial removal
    docs2 = spark.createDataFrame(
        [(1, "x\n\ny"), (2, "a\n\nx\n\nb\n\ny\n\nc")],
        "doc_id bigint, text string")
    got2 = {r["doc_id"]: r["text"]
            for r in paragraph_dedup(docs2).collect()}
    assert got2[2] == "a\n\nb\n\nc"


def test_semantic_dedup_keep_rules(spark):
    """SemDeDup keep rules: min_id keeps the group's min member;
    far_from_centroid (the paper's rule) keeps the member least
    similar to its cluster centroid.  Three near-identical vectors
    close to the centroid direction plus one rotated-but-above-
    threshold member — the rotated one must be the far-from-centroid
    representative."""
    import math

    from graphraft_spark.ops.dedup import semantic_dedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    # id 0 is the centroid sample (every=50 picks id 0); 1-3 are its
    # duplicates at tiny angles, id 3 the farthest-rotated member
    rows = [(0, unit(0.0)), (1, unit(0.01)), (2, unit(0.02)),
            (3, unit(0.25))]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    by_min = {r["id"]: r["is_kept"] for r in
              semantic_dedup(vecs, threshold=0.96, every=50).collect()}
    assert by_min == {0: True, 1: False, 2: False, 3: False}

    by_far = {r["id"]: r["is_kept"] for r in
              semantic_dedup(vecs, threshold=0.96, every=50,
                             keep="far_from_centroid").collect()}
    assert by_far == {0: False, 1: False, 2: False, 3: True}


def test_semantic_dedup_no_sampled_centroid(spark):
    """Corpus whose ids contain no multiple of `every` (e.g. ids 1..4
    with every=50): ivf_centroids samples nothing, which previously
    emptied the assignment and silently returned an EMPTY frame.  The
    single-centroid fallback must keep every row assigned and still
    dedup the near-identical pair."""
    import math

    from graphraft_spark.ops.dedup import semantic_dedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [(1, unit(0.0)), (2, unit(0.005)), (3, unit(1.2)), (4, unit(2.1))]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = semantic_dedup(vecs, threshold=0.96, every=50).collect()
    assert {r["id"] for r in out} == {1, 2, 3, 4}
    kept = {r["id"]: r["is_kept"] for r in out}
    assert kept == {1: True, 2: False, 3: True, 4: True}

