"""Pluggable model-scoring surface (SURVEY §2.F).

The reference runs in-process GPU models for (a) candidate-query ranking
via trie-constrained beam decoding (sequence_ranker.py / llm1.py:83-87)
and (b) answer generation (llm2.py:150-164).  The engine's contract is
deliberately narrower: rankers/generators are plain Python callables the
batch layer ships to executors inside mapInPandas — GPU-backed
implementations plug in without touching any query plan.

Deterministic implementations are provided so every pipeline is testable
and oracle-checkable without a model (SURVEY §7.8 nondeterminism
quarantine); they double as honest baselines.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Protocol, runtime_checkable


@runtime_checkable
class QueryRanker(Protocol):
    """(question, candidates) → top-k candidates, best first —
    the LLM1.predict_top_queries contract (llm1.py:83-87).  Every
    returned string must be one of ``candidates`` verbatim (the
    trie-constraint invariant, logits_processor.py:12-36)."""

    def rank(self, question: str, candidates: Sequence[str],
             k: int = 5) -> list[str]: ...


@runtime_checkable
class AnswerGenerator(Protocol):
    """(question, node_data) → predicted answer names
    (LLM2.generate_answer, llm2.py:150-164)."""

    def generate(self, question: str, nodes_data: Sequence[dict],
                 add_more_answers: bool = False) -> list[str]: ...


def _ws_tokenize(s: str) -> list[str]:
    return s.split()


class LexicographicRanker:
    """Smallest deterministic ranker: sorted(candidates)[:k]."""

    def rank(self, question, candidates, k=5):
        return sorted(candidates)[: min(k, len(candidates))]


class TrieConstrainedRanker:
    """Trie-constrained beam ranking with a pluggable token scorer —
    the engine-side analog of SequenceRanker.rank_sequences
    (sequence_ranker.py:15-34): only verbatim candidates are emittable
    (prefix trie over token sequences, forced EOS at candidate end,
    logits_processor.py:25-31), beam = min(k, #candidates), ranked by
    total sequence log-probability.

    ``token_logprob(question, prefix_tokens, next_token) -> float`` is
    the model seam; the default is a deterministic hash-based scorer.

    ``tokenizer(text) -> sequence of tokens`` controls scoring
    granularity.  The reference constrains at HF-tokenizer TOKEN-ID
    granularity (logits_processor.py:25-31, sequence_ranker.py:15-34);
    pass the model's tokenizer here (tokens may be ints or strings —
    they are only compared for equality and stringified for the default
    scorer).  Default is whitespace, which preserves the constraint
    invariant but scores at word granularity.
    """

    def __init__(self, token_logprob: Callable[[str, tuple, str],
                                               float] | None = None,
                 tokenizer: Callable[[str], Sequence] | None = None):
        self.token_logprob = token_logprob or self._default_logprob
        # module-level default (not a lambda) keeps the ranker picklable
        # for executor-side ranking (llm.batch.rank_queries_batch)
        self.tokenize = tokenizer or _ws_tokenize

    @staticmethod
    def _default_logprob(question: str, prefix: tuple,
                         tok) -> float:
        import hashlib

        h = hashlib.md5(
            f"{question}\x00{' '.join(str(t) for t in prefix)}\x00{tok}"
            .encode()
        ).hexdigest()
        return -int(h[:8], 16) / 0xFFFFFFFF  # in [-1, 0]

    def rank(self, question: str, candidates: Sequence[str],
             k: int = 5) -> list[str]:
        beam = min(k, len(candidates))
        # trie over token sequences; beam search restricted to trie edges
        seqs = {c: tuple(self.tokenize(c)) for c in candidates}
        frontier: list[tuple[float, tuple[str, ...]]] = [(0.0, ())]
        done: list[tuple[float, str]] = []
        by_prefix = list(seqs.items())
        max_len = max((len(s) for s in seqs.values()), default=0)
        for depth in range(max_len):
            nxt: dict[tuple[str, ...], float] = {}
            for score, prefix in frontier:
                if len(prefix) != depth:
                    continue
                allowed = {s[depth] for c, s in by_prefix
                           if len(s) > depth and s[:depth] == prefix}
                for tok in allowed:
                    cand = prefix + (tok,)
                    sc = score + self.token_logprob(question, prefix, tok)
                    if cand not in nxt or nxt[cand] < sc:
                        nxt[cand] = sc
            scored = sorted(nxt.items(), key=lambda x: (-x[1], x[0]))[:beam]
            frontier = [(sc, p) for p, sc in scored]
            for c, s in by_prefix:
                for sc, p in frontier:
                    if p == s:
                        done.append((sc, c))
        seen: set[str] = set()
        out = []
        for sc, c in sorted(done, key=lambda x: (-x[0], x[1])):
            if c not in seen:
                seen.add(c)
                out.append(c)
        return out[:beam]


class EchoGenerator:
    """Deterministic generator: answers = names of the first
    ``n_answers`` retrieved nodes (retrieval order); with
    add_more_answers, extends with remaining names preserving order and
    skipping duplicates (llm2.py:159-161)."""

    def __init__(self, n_answers: int = 3):
        self.n_answers = n_answers

    def generate(self, question, nodes_data, add_more_answers=False):
        names = [n.get("name") for n in nodes_data if n.get("name")]
        answers = names[: self.n_answers]
        if add_more_answers:
            answers = answers + [n for n in names if n not in answers]
        return answers
