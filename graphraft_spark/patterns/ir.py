"""Structured pattern IR.

The reference's query "IR" is Cypher *strings*, instantiated by f-string
(path_retriever.py:29-40) and re-parsed by string splitting
(retriever.py:3-7).  We replace both with a structured chain-pattern
spec; a Cypher-text renderer is kept only for prompt parity (and it
escapes quotes, unlike the reference — SURVEY §7.4).

A pattern is a linear chain ``(x1)-[r1]-(x2)-[r2]-(x3)...`` where every
node may constrain label and/or name (names are NOT unique — a name may
bind many nodes, and all semantics are multi-binding, SURVEY §7.3) and
every relationship may constrain its type.  Traversal is undirected, as
everywhere in the reference (path_retriever.py:5,8,12).  Cypher
relationship-uniqueness (all rels in a MATCH pairwise distinct) is part
of the IR semantics.  Instantiated queries carry no node-inequality
(Cypher WHERE a <> b): the reference drops it (``twohop``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class NodeSpec:
    label: str | None = None
    name: str | None = None

    def cypher(self, var: str) -> str:
        lbl = f":{self.label}" if self.label else ""
        if self.name is not None:
            escaped = self.name.replace("\\", "\\\\").replace('"', '\\"')
            return f'({var}{lbl} {{name: "{escaped}"}})'
        return f"({var}{lbl})"


@dataclass(frozen=True)
class PatternSpec:
    """Chain pattern; ``return_index`` is the 0-based node position whose
    DISTINCT ``name`` the instantiated query projects (path_retriever.py:34-38:
    1hop/2hop return the terminal node, 2path returns the middle node).
    """

    nodes: tuple[NodeSpec, ...]
    rels: tuple[str | None, ...]
    return_index: int

    def __post_init__(self):
        if len(self.rels) != len(self.nodes) - 1:
            raise ValueError("rels must have len(nodes) - 1 entries")
        if not (0 <= self.return_index < len(self.nodes)):
            raise ValueError("return_index out of range")

    def cypher(self) -> str:
        """Render to Cypher text (prompt-parity format of
        path_retriever.py:29-40: vars x1.., rels r1.., RETURN DISTINCT)."""
        parts = [self.nodes[0].cypher("x1")]
        for i, rel in enumerate(self.rels):
            rtxt = f":{rel}" if rel else ""
            parts.append(f"-[r{i + 1}{rtxt}]-")
            parts.append(self.nodes[i + 1].cypher(f"x{i + 2}"))
        ret = f"x{self.return_index + 1}"
        return f"MATCH {''.join(parts)} RETURN DISTINCT {ret}.name AS name"

    def text_pattern(self, target_name: str) -> str:
        """The provenance 'pattern' string attached to retrieved nodes
        (retriever.py:9-12): the MATCH body with the *target's* name
        inlined at the return position."""
        parts = []
        for i, node in enumerate(self.nodes):
            if i == self.return_index and node.name is None:
                lbl = f":{node.label}" if node.label else ""
                esc = target_name.replace("\\", "\\\\").replace('"', '\\"')
                parts.append(f'(x{i + 1}{lbl} {{name: "{esc}"}})')
            else:
                parts.append(node.cypher(f"x{i + 1}"))
            if i < len(self.rels):
                rtxt = f":{self.rels[i]}" if self.rels[i] else ""
                parts.append(f"-[r{i + 1}{rtxt}]-")
        return "".join(parts)


def onehop(label1: str, name1: str, rel: str, label2: str) -> PatternSpec:
    """Instantiated 1hop template (path_retriever.py:34)."""
    return PatternSpec(
        nodes=(NodeSpec(label1, name1), NodeSpec(label2)),
        rels=(rel,),
        return_index=1,
    )


def twohop(label1: str, name1: str, rel1: str, label2: str, rel2: str,
           label3: str) -> PatternSpec:
    """Instantiated 2hop template (path_retriever.py:36).

    NOTE: the *instantiated* query has no ``WHERE tgt <> src1`` (the
    reference drops it at create_query time); relationship-uniqueness
    still applies — compiler enforces pairwise-distinct edgeIds.
    """
    return PatternSpec(
        nodes=(NodeSpec(label1, name1), NodeSpec(label2), NodeSpec(label3)),
        rels=(rel1, rel2),
        return_index=2,
    )


def twopath(label1: str, name1: str, rel1: str, label2: str, rel2: str,
            label3: str, name3: str) -> PatternSpec:
    """Instantiated 2path template (path_retriever.py:38): two named
    anchors meeting at the middle node, which is returned."""
    return PatternSpec(
        nodes=(NodeSpec(label1, name1), NodeSpec(label2),
               NodeSpec(label3, name3)),
        rels=(rel1, rel2),
        return_index=1,
    )
