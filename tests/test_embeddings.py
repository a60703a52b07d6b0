"""graph/embeddings.py: full-batch deterministic SGNS — numpy parity
(the anchor for the rows-only registry line), determinism, and the
semantic property that training actually pulls co-occurring nodes
together."""

import hashlib
import math

import numpy as np
import pytest

from graphraft_spark.graph.embeddings import init_embeddings, train_sgns


def h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def np_init(nodes, dim, seed="emb0"):
    scale = 0.5 / dim
    return {
        n: np.array([(h60(f"{seed}{n}#{j}") % 2001 - 1000) / 1000.0 * scale
                     for j in range(dim)])
        for n in nodes
    }


def np_sgns(pairs, dim, epochs, lr, negatives, seed="emb0"):
    """Exact replay of train_sgns: same init, same hash-drawn
    negatives, same full-batch updates."""
    nodes = sorted({c for c, _, _ in pairs} | {x for _, x, _ in pairs})
    ranked = {i: n for i, n in enumerate(nodes)}  # row_number order
    nv = len(nodes)
    emb = np_init(nodes, dim, seed)
    for epoch in range(epochs):
        batch = [(c, x, w, 1.0) for c, x, w in pairs]
        for slot in range(negatives):
            for c, x, w in pairs:
                h = h60(f"{seed}{c}|{x}|{epoch}|{slot}")
                n = ranked[h % nv]
                if n == x:  # word2vec skip semantics
                    continue
                batch.append((c, n, w, 0.0))
        grads = {n: np.zeros(dim) for n in nodes}
        for c, x, w, label in batch:
            dot = max(-20.0, min(20.0, float(emb[c] @ emb[x])))
            g = (1.0 / (1.0 + math.exp(-dot)) - label) * w * lr
            grads[c] = grads[c] + g * emb[x]
            grads[x] = grads[x] + g * emb[c]
        for n in nodes:
            emb[n] = emb[n] - grads[n]
    return emb


PAIRS = [(1, 2, 3.0), (2, 1, 3.0), (1, 3, 1.0), (3, 4, 2.0),
         (4, 3, 2.0), (2, 4, 1.0)]


def test_sgns_matches_numpy_replay(spark):
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=4, epochs=2, lr=0.1,
                               negatives=2).collect()}
    want = np_sgns(PAIRS, dim=4, epochs=2, lr=0.1, negatives=2)
    assert set(got) == set(want)
    for n in want:
        np.testing.assert_allclose(got[n], want[n], atol=1e-9)


def test_init_is_deterministic_and_bounded(spark):
    nodes = spark.createDataFrame([(i,) for i in range(50)], "node bigint")
    a = {r.node: tuple(r.emb)
         for r in init_embeddings(nodes, 8).collect()}
    b = {r.node: tuple(r.emb)
         for r in init_embeddings(nodes, 8).collect()}
    assert a == b
    flat = [v for e in a.values() for v in e]
    assert all(abs(v) <= 0.5 / 8 + 1e-12 for v in flat)
    assert len(set(flat)) > 10  # actually spread, not constant


def test_sgns_run_to_run_deterministic(spark):
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    a = {r.node: tuple(round(v, 9) for v in r.emb)
         for r in train_sgns(df, dim=4, epochs=2, lr=0.1).collect()}
    b = {r.node: tuple(round(v, 9) for v in r.emb)
         for r in train_sgns(df, dim=4, epochs=2, lr=0.1).collect()}
    assert a == b


def test_training_pulls_cooccurring_nodes_together(spark):
    """Two disjoint 3-cliques of co-occurrence: after training, mean
    within-clique cosine must exceed mean cross-clique cosine."""
    cliq1, cliq2 = [1, 2, 3], [11, 12, 13]
    pairs = [(a, b, 5.0) for a in cliq1 for b in cliq1 if a != b] + \
            [(a, b, 5.0) for a in cliq2 for b in cliq2 if a != b]
    df = spark.createDataFrame(pairs, "center bigint, context bigint, cnt double")
    emb = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=8, epochs=10, lr=0.05,
                               negatives=2).collect()}

    def cos(a, b):
        return float(emb[a] @ emb[b]
                     / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b])))

    within = [cos(a, b) for grp in (cliq1, cliq2)
              for a in grp for b in grp if a < b]
    across = [cos(a, b) for a in cliq1 for b in cliq2]
    assert np.mean(within) > np.mean(across) + 0.1


def test_empty_weight_column_name_respected(spark):
    df = spark.createDataFrame([(1, 2, 7.0)], "a bigint, b bigint, n double")
    out = train_sgns(df, dim=2, epochs=1, center_col="a",
                     context_col="b", weight_col="n").collect()
    assert {r.node for r in out} == {1, 2}


@pytest.mark.parametrize("negatives", [0, 1])
def test_negative_slot_count(spark, negatives):
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=3, epochs=1, lr=0.1,
                               negatives=negatives).collect()}
    want = np_sgns(PAIRS, dim=3, epochs=1, lr=0.1, negatives=negatives)
    for n in want:
        np.testing.assert_allclose(got[n], want[n], atol=1e-9)


def test_colliding_negatives_are_dropped_not_label_flipped(spark):
    """r10 advice: a negative equal to the positive context trains the
    same (c, x) with label 1 AND 0 in one batch.  The fix (r11 form)
    DROPS colliding draws — word2vec.c's `if (target == word)
    continue` — so training must equal a replay whose colliding draws
    simply vanish.  Verified on a tiny vocab where h % nv collides
    often: the Spark run matches the skip-replay exactly, which it
    could not if collisions were trained with label 0."""
    pairs = [(a, b, 1.0) for a in range(1, 5) for b in range(1, 5)
             if a != b]
    nodes = sorted({p[0] for p in pairs} | {p[1] for p in pairs})
    nv = len(nodes)
    collisions = sum(
        1 for epoch in range(2) for slot in range(2)
        for c, x, _ in pairs
        if nodes[h60(f"emb0{c}|{x}|{epoch}|{slot}") % nv] == x)
    assert collisions > 0  # the scenario actually exercises the drop
    df = spark.createDataFrame(
        pairs, "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=3, epochs=2, lr=0.1,
                               negatives=2).collect()}
    want = np_sgns(pairs, dim=3, epochs=2, lr=0.1, negatives=2)
    for n in want:
        np.testing.assert_allclose(got[n], want[n], atol=1e-9)


def test_empty_pair_table_raises(spark):
    df = spark.createDataFrame([], "center bigint, context bigint, cnt double")
    with pytest.raises(ValueError, match="empty pair table"):
        train_sgns(df, dim=2, epochs=1)


def test_single_node_vocab_skips_negatives(spark):
    """nv == 1: every draw collides with the context and is dropped,
    so training is positives-only — no division by zero, no label
    conflict."""
    df = spark.createDataFrame([(7, 7, 2.0)],
                               "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=3, epochs=2, lr=0.1,
                               negatives=3).collect()}
    want = np_sgns([(7, 7, 2.0)], dim=3, epochs=2, lr=0.1, negatives=3)
    np.testing.assert_allclose(got[7], want[7], atol=1e-9)


def test_rank_vocab_is_global_sort_rank(spark):
    """_rank_vocab (two-pass distributed row_number) must equal the
    rank in a global sort — including when the vocab spans many range
    partitions."""
    from graphraft_spark.graph.embeddings import _rank_vocab

    vals = [((i * 37) % 101,) for i in range(101)]  # permuted 0..100
    vocab = spark.createDataFrame(vals, "node bigint").repartition(7)
    got = {r.node: r.idx for r in _rank_vocab(vocab).collect()}
    assert got == {n: n for n in range(101)}


def np_sgns_u75(pairs, dim, epochs, lr, negatives, seed="emb0"):
    """Exact replay of train_sgns(neg_distribution='unigram75'):
    integer inverse-CDF intervals over wv = max(floor((freq^3*1e4)
    ^(1/4)), 1); draws colliding with the context are dropped."""
    nodes = sorted({c for c, _, _ in pairs} | {x for _, x, _ in pairs})
    freq = {n: 0.0 for n in nodes}
    for c, x, w in pairs:
        freq[c] += w
        freq[x] += w
    wv = {n: max(int(math.floor(math.sqrt(math.sqrt(
        freq[n] * freq[n] * freq[n] * 1e4)))), 1) for n in nodes}
    lo, acc = {}, 0
    for n in nodes:
        lo[n] = acc
        acc += wv[n]
    total = acc
    emb = np_init(nodes, dim, seed)
    for epoch in range(epochs):
        batch = [(c, x, w, 1.0) for c, x, w in pairs]
        for slot in range(negatives):
            for c, x, w in pairs:
                h = h60(f"{seed}{c}|{x}|{epoch}|{slot}")
                u = h % total
                n = next(nn for nn in nodes
                         if lo[nn] <= u < lo[nn] + wv[nn])
                if n == x:  # word2vec skip semantics
                    continue
                batch.append((c, n, w, 0.0))
        grads = {n: np.zeros(dim) for n in nodes}
        for c, x, w, label in batch:
            dot = max(-20.0, min(20.0, float(emb[c] @ emb[x])))
            g = (1.0 / (1.0 + math.exp(-dot)) - label) * w * lr
            grads[c] = grads[c] + g * emb[x]
            grads[x] = grads[x] + g * emb[c]
        for n in nodes:
            emb[n] = emb[n] - grads[n]
    return emb


def test_sgns_unigram75_matches_numpy_replay(spark):
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=4, epochs=2, lr=0.1, negatives=2,
                               neg_distribution="unigram75").collect()}
    want = np_sgns_u75(PAIRS, dim=4, epochs=2, lr=0.1, negatives=2)
    assert set(got) == set(want)
    for n in want:
        np.testing.assert_allclose(got[n], want[n], atol=1e-9)


def test_unigram75_draws_follow_the_weights():
    """The inverse-CDF mapping itself: over many (c, x, epoch, slot)
    draws, each surviving node's draw share must approach wv/W
    (draws hitting the context are dropped).  Replayed in pure
    Python — the mapping is the contract the engine and oracle both
    implement."""
    freq = {1: 1000.0, 2: 100.0, 3: 10.0, 4: 1.0}
    nodes = sorted(freq)
    wv = {n: max(int(math.floor(math.sqrt(math.sqrt(
        freq[n] ** 3 * 1e4)))), 1) for n in nodes}
    lo, acc = {}, 0
    for n in nodes:
        lo[n] = acc
        acc += wv[n]
    total = acc
    counts = {n: 0 for n in nodes}
    kept = 0
    x = 4  # fixed context: draws landing on it are dropped
    for i in range(20000):
        h = h60(f"emb0{i}|{x}|0|0")
        u = h % total
        n = next(nn for nn in nodes if lo[nn] <= u < lo[nn] + wv[nn])
        if n == x:
            continue
        counts[n] += 1
        kept += 1
    for n in (1, 2, 3):
        share = counts[n] / kept
        expect = wv[n] / (total - wv[x])
        assert abs(share - expect) < 0.02, (n, share, expect)


def test_unknown_neg_distribution_raises(spark):
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    with pytest.raises(ValueError, match="neg_distribution"):
        train_sgns(df, dim=2, epochs=1, neg_distribution="zipf")


def np_sgns_w2v(pairs, dim, epochs, lr, negatives, t, seed="emb0"):
    """Exact replay of the full word2vec recipe: unigram^0.75
    negatives + linear lr decay + expected-weight subsampling."""
    nodes = sorted({c for c, _, _ in pairs} | {x for _, x, _ in pairs})
    rawfreq = {n: 0.0 for n in nodes}
    for c, x, w in pairs:
        rawfreq[c] += w
        rawfreq[x] += w
    total = sum(rawfreq.values())
    pk = {n: min(1.0, math.sqrt(t * total / rawfreq[n])) for n in nodes}
    spairs = [(c, x, w * pk[c] * pk[x]) for c, x, w in pairs]
    wv = {n: max(int(math.floor(math.sqrt(math.sqrt(
        rawfreq[n] ** 3 * 1e4)))), 1) for n in nodes}
    lo, acc = {}, 0
    for n in nodes:
        lo[n] = acc
        acc += wv[n]
    W = acc
    emb = np_init(nodes, dim, seed)
    for epoch in range(epochs):
        alpha = lr * max(1.0 - epoch / epochs, 1e-4)
        batch = [(c, x, w, 1.0) for c, x, w in spairs]
        for slot in range(negatives):
            for c, x, w in spairs:
                h = h60(f"{seed}{c}|{x}|{epoch}|{slot}")
                u = h % W
                n = next(nn for nn in nodes
                         if lo[nn] <= u < lo[nn] + wv[nn])
                if n == x:
                    continue
                batch.append((c, n, w, 0.0))
        grads = {n: np.zeros(dim) for n in nodes}
        for c, x, w, label in batch:
            dot = max(-20.0, min(20.0, float(emb[c] @ emb[x])))
            g = (1.0 / (1.0 + math.exp(-dot)) - label) * w * alpha
            grads[c] = grads[c] + g * emb[x]
            grads[x] = grads[x] + g * emb[c]
        for n in nodes:
            emb[n] = emb[n] - grads[n]
    return emb


def test_sgns_full_w2v_recipe_matches_numpy_replay(spark):
    """unigram75 + lr_decay + subsample_t composed (the
    t_word_embeddings_w2v configuration) against the exact numpy
    replay.  t is chosen so that subsampling actually bites (the
    most frequent node's p_keep < 1) — asserted, not assumed."""
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    t = 0.1
    rawfreq = {}
    for c, x, w in PAIRS:
        rawfreq[c] = rawfreq.get(c, 0.0) + w
        rawfreq[x] = rawfreq.get(x, 0.0) + w
    total = sum(rawfreq.values())
    assert min(math.sqrt(t * total / f) for f in rawfreq.values()) < 1.0
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=4, epochs=3, lr=0.1, negatives=2,
                               neg_distribution="unigram75",
                               lr_decay=True, subsample_t=t).collect()}
    want = np_sgns_w2v(PAIRS, dim=4, epochs=3, lr=0.1, negatives=2, t=t)
    for n in want:
        np.testing.assert_allclose(got[n], want[n], atol=1e-9)


def test_lr_decay_uniform_matches_numpy_replay(spark):
    """lr_decay alone on the uniform path: epoch e trains at
    lr*max(1-e/epochs, 1e-4)."""
    df = spark.createDataFrame(PAIRS, "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=3, epochs=4, lr=0.1, negatives=1,
                               lr_decay=True).collect()}
    # replay with per-epoch alpha
    nodes = sorted({c for c, _, _ in PAIRS} | {x for _, x, _ in PAIRS})
    ranked = {i: n for i, n in enumerate(nodes)}
    nv = len(nodes)
    emb = np_init(nodes, 3)
    for epoch in range(4):
        alpha = 0.1 * max(1.0 - epoch / 4, 1e-4)
        batch = [(c, x, w, 1.0) for c, x, w in PAIRS]
        for c, x, w in PAIRS:
            h = h60(f"emb0{c}|{x}|{epoch}|0")
            n = ranked[h % nv]
            if n != x:
                batch.append((c, n, w, 0.0))
        grads = {n: np.zeros(3) for n in nodes}
        for c, x, w, label in batch:
            dot = max(-20.0, min(20.0, float(emb[c] @ emb[x])))
            g = (1.0 / (1.0 + math.exp(-dot)) - label) * w * alpha
            grads[c] = grads[c] + g * emb[x]
            grads[x] = grads[x] + g * emb[c]
        for n in nodes:
            emb[n] = emb[n] - grads[n]
    for n in emb:
        np.testing.assert_allclose(got[n], emb[n], atol=1e-9)


def test_hash_subsample_matches_numpy_replay(spark):
    """subsample_mode="hash": per-occurrence Bernoulli decided by the
    portable md5 uniform; zero-survivor pairs vanish from the batch.
    Exact numpy replay of the full recipe with hash thinning."""
    pairs = PAIRS
    df = spark.createDataFrame(pairs,
                               "center bigint, context bigint, cnt double")
    got = {r.node: np.array(r.emb)
           for r in train_sgns(df, dim=3, epochs=2, lr=0.05, negatives=1,
                               neg_distribution="unigram75",
                               lr_decay=True, subsample_t=0.05,
                               subsample_mode="hash").collect()}
    nodes = sorted({c for c, _, _ in pairs} | {x for _, x, _ in pairs})
    rawfreq = {n: 0.0 for n in nodes}
    for c, x, w in pairs:
        rawfreq[c] += w
        rawfreq[x] += w
    total = sum(rawfreq.values())
    pk = {n: min(1.0, math.sqrt(0.05 * total / rawfreq[n]))
          for n in nodes}
    spairs = []
    for c, x, w in pairs:
        p = pk[c] * pk[x]
        kept = sum(
            1 for k in range(1, int(w) + 1)
            if (h60(f"emb0|ss|{c}|{x}|{k}") % 1000000) / 1e6 < p)
        if kept > 0:
            spairs.append((c, x, float(kept)))
    assert spairs != [(c, x, w) for c, x, w in pairs]  # thinning bit
    wv = {n: max(int(math.floor(math.sqrt(math.sqrt(
        rawfreq[n] ** 3 * 1e4)))), 1) for n in nodes}
    lo, acc = {}, 0
    for n in nodes:
        lo[n] = acc
        acc += wv[n]
    W = acc
    emb = np_init(nodes, 3)
    for epoch in range(2):
        alpha = 0.05 * max(1.0 - epoch / 2, 1e-4)
        batch = [(c, x, w, 1.0) for c, x, w in spairs]
        for c, x, w in spairs:
            h = h60(f"emb0{c}|{x}|{epoch}|0")
            u = h % W
            n = next(nn for nn in nodes
                     if lo[nn] <= u < lo[nn] + wv[nn])
            if n != x:
                batch.append((c, n, w, 0.0))
        grads = {n: np.zeros(3) for n in nodes}
        for c, x, w, label in batch:
            dot = max(-20.0, min(20.0, float(emb[c] @ emb[x])))
            g = (1.0 / (1.0 + math.exp(-dot)) - label) * w * alpha
            grads[c] = grads[c] + g * emb[x]
            grads[x] = grads[x] + g * emb[c]
        for n in nodes:
            emb[n] = emb[n] - grads[n]
    for n in emb:
        np.testing.assert_allclose(got[n], emb[n], atol=1e-9)


def test_unknown_subsample_mode_raises(spark):
    df = spark.createDataFrame(PAIRS,
                               "center bigint, context bigint, cnt double")
    with pytest.raises(ValueError, match="subsample_mode"):
        train_sgns(df, dim=2, epochs=1, subsample_t=1e-3,
                   subsample_mode="bernoulli")
