"""Seeded question sets with gold answers, built from the source tables.

Everything here runs before and outside the timed region.  The engine
only ever receives the generated inputs (question text, the chat seam's
entity string, anchor names, gold node ids for supervised export); gold
answers are computed here from the source tables, independently of the
engine.

Gold answers are node ids in the engine's id space (the typed offsets of
``graphraft_spark.graph.tpch``), not names: part names are hubs shared by
many parts, so names cannot identify an answer.
"""

from __future__ import annotations

import random
from collections import defaultdict
from dataclasses import dataclass

from graphraft_spark.graph.tpch import (
    N_CUSTOMER,
    N_NATION,
    N_ORDER,
    N_PART,
    N_REGION,
    N_SUPPLIER,
)

from perfbench.corpus import PART_NAMES

ONLINE_POOL = 48     # distinct online questions per seed (cycled)
TRAIN_SIZE = 128     # supervised export questions per repetition
HUB_NAMES = frozenset(PART_NAMES)   # names shared by many nodes
ORDER_END = N_ORDER + 1_000_000_000


@dataclass(frozen=True)
class Question:
    qid: int
    kind: str
    text: str
    entities: tuple[str, ...]   # what the chat seam / matcher receives
    gold: tuple[int, ...]       # sorted gold node ids


class Graph:
    """Undirected adjacency and name index over the source tables, in the
    engine's node-id space."""

    def __init__(self, tables):
        col = {t: tables[t].to_pydict() for t in tables}
        self.adj: dict[int, set[int]] = defaultdict(set)
        self.name: dict[int, str] = {}
        cu, su, pa_ = col["customer"], col["supplier"], col["part"]
        self.customers = [N_CUSTOMER + k for k in cu["c_custkey"]]
        self.suppliers = [N_SUPPLIER + k for k in su["s_suppkey"]]
        for k, nm in zip(cu["c_custkey"], cu["c_name"]):
            self.name[N_CUSTOMER + k] = nm
        for k, nm in zip(su["s_suppkey"], su["s_name"]):
            self.name[N_SUPPLIER + k] = nm
        for k, nm in zip(pa_["p_partkey"], pa_["p_name"]):
            self.name[N_PART + k] = nm
        for k, nm in zip(col["nation"]["n_nationkey"], col["nation"]["n_name"]):
            self.name[N_NATION + k] = nm
        self.nations = [N_NATION + k for k in col["nation"]["n_nationkey"]]

        def link(a, b):
            self.adj[a].add(b)
            self.adj[b].add(a)

        o = col["orders"]
        for ok, ck in zip(o["o_orderkey"], o["o_custkey"]):
            link(N_CUSTOMER + ck, N_ORDER + ok)
        li = col["lineitem"]
        for ok, pk, sk in zip(li["l_orderkey"], li["l_partkey"],
                              li["l_suppkey"]):
            link(N_ORDER + ok, N_PART + pk)
            link(N_PART + pk, N_SUPPLIER + sk)
        for k, nk in zip(cu["c_custkey"], cu["c_nationkey"]):
            link(N_CUSTOMER + k, N_NATION + nk)
        for k, nk in zip(su["s_suppkey"], su["s_nationkey"]):
            link(N_SUPPLIER + k, N_NATION + nk)
        for nk, rk in zip(col["nation"]["n_nationkey"],
                          col["nation"]["n_regionkey"]):
            link(N_NATION + nk, N_REGION + rk)

    def nation_of(self, node: int) -> int:
        return next(n for n in self.adj[node] if N_NATION <= n < N_REGION)

    def neighbours(self, node: int, lo: int, hi: int) -> set[int]:
        return {n for n in self.adj[node] if lo <= n < hi}

    def within_two_hops(self, node: int) -> set[int]:
        """Every node a 1hop or 2hop template from ``node`` can return."""
        one = self.adj[node]
        two = {t for v in one for t in self.adj[v]}
        return (one | two) - {node}


def online_questions(g: Graph, seed: int, n: int = ONLINE_POOL
                     ) -> list[Question]:
    """One customer and one supplier per question, both unique
    low-degree anchors.  Gold is everything the templates can reach from
    either anchor, so recall depends only on the node budget."""
    rng = random.Random(f"online-{seed}")
    custs = rng.sample(g.customers, n)
    supps, used = [], set()
    for c in custs:
        # a supplier of another nation: the two neighbourhoods stay
        # apart, so every question reaches about as many nodes
        s = rng.choice([s for s in g.suppliers if s not in used
                        and g.nation_of(s) != g.nation_of(c)])
        used.add(s)
        supps.append(s)
    out = []
    for qid, (c, s) in enumerate(zip(custs, supps)):
        cn, sn = g.name[c], g.name[s]
        out.append(Question(
            qid=qid, kind="customer+supplier",
            text=f"What is known about {cn} and {sn}?",
            entities=(cn, sn),
            gold=tuple(sorted(g.within_two_hops(c) | g.within_two_hops(s)))))
    return out


def train_questions(g: Graph, seed: int, n: int = TRAIN_SIZE
                    ) -> list[Question]:
    """Supervised export set: unique low-degree anchor pairs, no hubs.
    Even qids pair a customer with a supplier of the same nation (gold:
    that nation, reachable by 1hop and by 2path); odd qids pair a
    customer with one of its orders (gold: the order's parts)."""
    rng = random.Random(f"train-{seed}")
    by_nation = defaultdict(list)
    for s in g.suppliers:
        by_nation[g.nation_of(s)].append(s)
    custs = rng.sample(g.customers, n)
    out = []
    for qid, c in enumerate(custs):
        cn = g.name[c]
        if qid % 2 == 0:
            nat = g.nation_of(c)
            s = rng.choice(by_nation[nat])
            out.append(Question(
                qid=qid, kind="customer+supplier",
                text=f"Which nation do {cn} and {g.name[s]} share?",
                entities=(cn, g.name[s]), gold=(nat,)))
        else:
            o = rng.choice(sorted(g.neighbours(c, N_ORDER, ORDER_END)))
            parts = g.neighbours(o, N_PART, N_NATION)
            out.append(Question(
                qid=qid, kind="customer+order",
                text=f"Which parts are in order {o - N_ORDER} of {cn}?",
                entities=(cn, str(o - N_ORDER)), gold=tuple(sorted(parts))))
    return out


def shape_stats(questions: list[Question]) -> dict:
    """Anchors per question, hub share, and distinct anchor sets against
    questions (questions with equal anchor sets enumerate equal specs)."""
    n = max(1, len(questions))
    return {
        "questions": len(questions),
        "anchors_per_question": sum(len(q.entities) for q in questions) / n,
        "hub_share": sum(any(e in HUB_NAMES for e in q.entities)
                         for q in questions) / n,
        "distinct_anchor_sets": len({q.entities for q in questions}),
        "gold_per_question": sum(len(q.gold) for q in questions) / n,
    }

