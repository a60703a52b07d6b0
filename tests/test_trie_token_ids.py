"""Trie-constrained ranking at TOKEN-ID granularity with merges
(VERDICT r5 item 4) — the reference's exact constraint surface.

SequenceRanker constrains generation over the model tokenizer's token
IDS, not characters or words: candidates are tokenized with
``tokenizer(query + end_of_generation_token)`` (sequence_ranker.py:
22-24) and the logits processor allows, per step, exactly the next IDS
of candidates whose id-prefix equals the generated ids, forcing EOS
once a candidate ends (logits_processor.py:25-31).

No HF tokenizer ships in this environment, so the fixture tokenizer is
a BPE trained here (classic greedy-merge; same family as ops/bpe.py)
over the REAL candidate strings of mag-data/qa_with_cypher_queries —
giving genuine merge behavior: multi-char tokens, token boundaries that
cross word boundaries, long shared id-prefixes across candidates (every
candidate opens 'MATCH (x1:'), and integer token ids.  The ranker sees
only opaque ids, exactly what an HF tokenizer would hand it.
"""

import collections
import os

import pyarrow as pa
import pytest

QA = ("/root/reference/mag-data/qa_with_cypher_queries/valid/"
      "data-00000-of-00001.arrow")
needs_qa = pytest.mark.skipif(not os.path.exists(QA), reason=f"{QA} absent")
N_CANDS = 20
N_MERGES = 120


def _real_candidates():
    with pa.memory_map(QA) as src:
        rows = pa.ipc.open_stream(src).read_all().to_pylist()
    out = []
    for r in rows:
        for c in r["cypher_queries"]:
            if c not in out:
                out.append(c)
        if len(out) >= N_CANDS:
            return out[:N_CANDS], rows[0]["question"]
    raise AssertionError("not enough candidates")


def _merge(seq, a, b):
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _train_merges(texts, n_merges):
    seqs = [list(t) for t in texts]
    merges = []
    for _ in range(n_merges):
        counts = collections.Counter()
        for s in seqs:
            counts.update(zip(s, s[1:]))
        if not counts:
            break
        (a, b), c = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b))
        seqs = [_merge(s, a, b) for s in seqs]
    return merges


class BpeIdTokenizer:
    """text -> list[int] token ids (+EOS), via trained merges."""

    def __init__(self, texts, n_merges=N_MERGES):
        self.merges = _train_merges(texts, n_merges)
        self.vocab = {}
        for t in texts:
            for tok in self._tokens(t):
                self.vocab.setdefault(tok, len(self.vocab))
        self.eos_id = len(self.vocab)
        self.id2tok = {i: t for t, i in self.vocab.items()}

    def _tokens(self, text):
        s = list(text)
        for a, b in self.merges:
            s = _merge(s, a, b)
        return s

    def __call__(self, text):
        return [self.vocab[t] for t in self._tokens(text)] + [self.eos_id]


@pytest.fixture(scope="module")
def fixture():
    cands, question = _real_candidates()
    tok = BpeIdTokenizer(cands)
    return cands, question, tok


@needs_qa
def test_fixture_has_real_merge_structure(fixture):
    """The trained tokenization must actually exhibit HF-like
    structure: multi-char tokens, tokens crossing word boundaries, a
    shared multi-token id-prefix across candidates, and compression."""
    cands, _, tok = fixture
    assert any(len(t) > 5 for t in tok.vocab)
    assert any(" " in t and t.strip() != "" for t in tok.vocab)
    seqs = [tok(c) for c in cands]
    # some DISTINCT pair shares a token-id prefix (trie actually branches
    # below the root)...
    assert any(a[0] == b[0] for i, a in enumerate(seqs)
               for b in seqs[i + 1:] if a != b)
    # ...and some pair with the same TEXT prefix tokenizes with
    # DIFFERENT leading ids (merge boundaries diverge — the HF-real
    # property no char/word tokenizer exhibits).
    assert any(a[:10] == b[:10] and tok(a)[0] != tok(b)[0]
               for i, a in enumerate(cands) for b in cands[i + 1:])
    assert all(len(s) < len(c) for s, c in zip(seqs, cands)), \
        "merges must compress below char count"


@needs_qa
def test_only_verbatim_candidates_at_any_k(fixture):
    """logits_processor.py:25-31 invariant at id granularity: every
    ranked output is byte-verbatim one of the candidates."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands, question, tok = fixture
    ranker = TrieConstrainedRanker(tokenizer=tok)
    for k in (1, 5, len(cands), len(cands) + 7):
        top = ranker.rank(question, cands, k=k)
        assert len(top) == min(k, len(cands))
        assert len(set(top)) == len(top)
        assert set(top) <= set(cands)


@needs_qa
def test_exhaustive_beam_equals_direct_ranking(fixture):
    """beam = #candidates makes the search exhaustive, so the result
    must equal ranking candidates directly by total sequence
    log-probability over their token-id sequences (the quantity HF
    beam search maximizes under the constraint mask)."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands, question, tok = fixture
    ranker = TrieConstrainedRanker(tokenizer=tok)

    def total_logprob(c):
        ids = tok(c)
        return sum(ranker.token_logprob(question, tuple(ids[:i]), ids[i])
                   for i in range(len(ids)))

    expected = [c for c in sorted(
        cands, key=lambda c: (-total_logprob(c), c))]
    assert ranker.rank(question, cands, k=len(cands)) == expected


@needs_qa
def test_steerable_scorer_selects_designated_candidate(fixture):
    """A scorer that rewards exactly one candidate's id path must
    surface that candidate top-1 — for every candidate in turn
    (controllability of the id-level constraint; spot 5 for time)."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands, question, tok = fixture
    for target in cands[:5]:
        ids = tok(target)
        steps = {(tuple(ids[:i]), ids[i]) for i in range(len(ids))}

        def lp(q, prefix, t, steps=steps):
            return 0.0 if (prefix, t) in steps else -10.0

        got = TrieConstrainedRanker(token_logprob=lp, tokenizer=tok).rank(
            question, cands, k=1)
        assert got == [target]


@needs_qa
def test_forced_eos_disambiguates_prefix_candidates(fixture):
    """sequence_ranker.py:22-24 appends the end token BEFORE building
    the trie, so a candidate that is a strict token-prefix of another
    branches at (EOS vs continuation) instead of being swallowed.
    Construct the pair from a real candidate and assert both are
    emittable and independently steerable."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker

    cands, question, base = fixture
    short = cands[0]
    long_ = short + " LIMIT 10"
    pair = [short, long_]
    # BPE applies merges left-to-right, so encode(prefix) is not
    # generally a prefix of encode(extension) — pin the long
    # candidate's ids to short's ids + a real suffix id so the pair IS
    # id-prefix-related before EOS (the exact shape
    # logits_processor.py:25-31 must disambiguate).
    suffix_id = base.eos_id + 1
    table = {long_: base(short)[:-1] + [suffix_id, base.eos_id]}

    def tok(text):
        return table.get(text) or base(text)

    s_ids, l_ids = tok(short), tok(long_)
    # the EOS-appended sequences must NOT be prefix-related
    assert s_ids != l_ids[:len(s_ids)]
    assert s_ids[:-1] == l_ids[:len(s_ids) - 1]  # prefix before EOS

    for target in pair:
        ids = tok(target)
        steps = {(tuple(ids[:i]), ids[i]) for i in range(len(ids))}

        def lp(q, prefix, t, steps=steps):
            return 0.0 if (prefix, t) in steps else -10.0

        ranker = TrieConstrainedRanker(token_logprob=lp, tokenizer=tok)
        assert ranker.rank(question, pair, k=1) == [target]
        assert set(ranker.rank(question, pair, k=2)) == set(pair)
