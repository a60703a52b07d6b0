"""Fulltext / normalized entity matching (reference ner.py:95-120).

The reference's "fulltext search" is a Neo4j fulltext-index probe whose
results are then *exact-matched* after case folding + Unicode NFC:
``normalize(lower(name)) = normalize(lower($string))`` (ner.py:111-113).
The index is only a candidate generator, so the exact semantics is a
normalized-equality join — which is what we run, letting Catalyst pick
a broadcast hash join for the tiny entity list.

``batch_match_entities`` is the one matcher: fulltext hits, then a
vector top-1 fallback for the entities with none, each restricted to
the entity's label.  ``match_entities`` is its one-question call, a
single collect however many entities the question names.

Unicode NFC has no native Spark expression; ASCII-only data needs only
``lower(trim(...))``.  ``nfc_normalize`` upgrades matching to true NFC
via an Arrow-batched pandas UDF when requested (kept off the default
path so DuckDB-oracle comparisons stay expressible).
"""

from __future__ import annotations

import pandas as pd

from collections.abc import Sequence
from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.session import local_frame

# one question's entities: qid is the entity's position in the list
_ENTITIES = "qid int, entity string, label string"


def norm_col(c: Column, nfc: bool = False) -> Column:
    if nfc:
        return nfc_normalize(F.lower(F.trim(c)))
    return F.lower(F.trim(c))


# pandas_udf construction needs an active SparkSession; build lazily.
_NFC_UDF = None


def nfc_normalize(s: Column) -> Column:
    global _NFC_UDF
    if _NFC_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _nfc(col: pd.Series) -> pd.Series:
            import unicodedata

            return col.map(lambda x: None if x is None
                           else unicodedata.normalize("NFC", x))

        _NFC_UDF = _nfc
    return _NFC_UDF(s)


def has_non_ascii_names(nodes: DataFrame) -> bool:
    """Cheap auto-NFC probe: True when any node name contains non-ASCII
    (UTF-8 byte length != char length).  One early-exit scan; callers
    cache the answer per graph."""
    return (nodes.filter(F.octet_length("name") != F.length("name"))
            .limit(1).count() > 0)


def match_entities(spark: SparkSession, graph: PropertyGraph,
                   entities: Sequence[tuple[str, str]],
                   encoder=None, nfc: bool = False) -> list[str]:
    """C1+C2 for one question: :func:`batch_match_entities` over its
    (label, string) entities, as names in entity order (ner.py:95-120
    extends ``node_names`` entity by entity).

    The entities are an Arrow-backed local relation, so matching forks
    no Python worker, and one collect answers every entity.  ``encoder``
    is the pluggable text-embedding seam (the reference calls
    genai.vector.encode/OpenAI); it sees only the entities with zero
    fulltext hits, whose vector fallback is a second collect.
    """
    if not entities:
        return []
    rows = [{"qid": i, "entity": s, "label": label}
            for i, (label, s) in enumerate(entities)]
    labels = {r["label"] for r in rows}
    if not labels & {None, "_Entity_"}:
        # a literal label list prunes a label-partitioned node scan;
        # the label join condition alone cannot
        graph = replace(graph, nodes=graph.nodes.filter(
            F.col("label").isin(*labels)))
    found: dict[int, set[str]] = {}

    def collect(ents: DataFrame, **emb_cols) -> None:
        # multi-binding names (two nodes, one name) repeat a hit; the
        # set drops them here, so the collect plans no distinct shuffle
        for r in _match(graph, ents, nfc=nfc, distinct=False,
                        **emb_cols).collect():
            found.setdefault(r["qid"], set()).add(r["name"])

    collect(local_frame(spark, rows, StructType.fromDDL(_ENTITIES)))
    missing = [r for r in rows if r["qid"] not in found]
    if encoder is not None and missing:
        embedded = [dict(r, emb=[float(x) for x in encoder(r["entity"])])
                    for r in missing]
        schema = StructType.fromDDL(_ENTITIES + ", emb array<double>")
        collect(local_frame(spark, embedded, schema),
                name_emb_col="nameEmbedding", entity_emb_col="emb")
    return [n for i in range(len(rows)) for n in sorted(found.get(i, ()))]


def batch_match_entities(graph, entities: "DataFrame",
                         name_emb_col: str | None = None,
                         entity_emb_col: str | None = None,
                         nfc: bool = False) -> "DataFrame":
    """Set-based C1+C2 for MANY entities at once (the batch shape of
    _match_labeled_entities, ner.py:95-120): one normalized-equality
    join for fulltext hits; entities with zero hits fall back to vector
    top-1 over node name embeddings (when embedding columns are
    supplied).  Returns (qid, entity, name, matched_by).

    An optional ``label`` column of ``entities`` restricts both the
    fulltext hits and the fallback candidates to nodes of that label;
    a null label or ``'_Entity_'`` matches any label (ner.py:95-114).

    The fallback is exact: the unmatched entities (tiny by contract —
    the zero-hit remainder of a question batch) are broadcast against
    every node name embedding, ranked by dot product with ties broken
    by name.  Ingest L2-normalizes embeddings, so this ranks as the
    reference's cosine index does.
    """
    return _match(graph, entities, name_emb_col=name_emb_col,
                  entity_emb_col=entity_emb_col, nfc=nfc, distinct=True)


def _match(graph, entities: DataFrame, name_emb_col: str | None = None,
           entity_emb_col: str | None = None, nfc: bool = False, *,
           distinct: bool) -> DataFrame:
    """:func:`batch_match_entities`; without ``distinct``, a name bound
    to several nodes is one fulltext row per node."""
    from pyspark.sql import Window

    from graphraft_spark.search.vector import dot_col

    labeled = "label" in entities.columns
    e = entities.select("qid", "entity",
                        norm_col(F.col("entity"), nfc).alias("k"),
                        *(["label"] if labeled else []))
    nlabel = [F.col("label").alias("nlabel")] if labeled else []
    n = graph.nodes.select(
        "name", norm_col(F.col("name"), nfc).alias("k"), *nlabel)

    def in_label(df: DataFrame) -> DataFrame:
        if not labeled:
            return df
        return df.filter(F.col("label").isNull()
                         | (F.col("label") == "_Entity_")
                         | (F.col("label") == F.col("nlabel")))

    hits = (in_label(F.broadcast(e).join(n, "k"))
            .select("qid", "entity", "name",
                    F.lit("fulltext").alias("matched_by")))
    if distinct:
        hits = hits.distinct()
    if not (name_emb_col and entity_emb_col):
        return hits
    # tiny by contract (zero-hit remainder), but after two joins its
    # stats are opaque to the planner — broadcast explicitly so the
    # fallback never shuffles the corpus side.
    missing = F.broadcast(
        e.join(hits.select("qid", "entity").distinct(),
               ["qid", "entity"], "left_anti")
        .join(entities.select("qid", "entity", entity_emb_col),
              ["qid", "entity"]))
    cand = graph.nodes.select("name", *nlabel, name_emb_col)
    scored = (in_label(missing.crossJoin(cand))
              .withColumn("sim", dot_col(F.col(entity_emb_col),
                                         F.col(name_emb_col))))
    w = Window.partitionBy("qid", "entity").orderBy(
        F.desc("sim"), F.asc("name"))
    fallback = (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("qid", "entity", "name",
                        F.lit("vector").alias("matched_by")))
    return hits.unionByName(fallback)


def fuzzy_match_entities(nodes: DataFrame, entities: DataFrame,
                         max_dist: int = 2, label: str | None = None,
                         qid_col: str = "qid",
                         entity_col: str = "entity",
                         nfc: bool = False) -> DataFrame:
    """C1 fuzzy extension: every node name within Levenshtein distance
    ``max_dist`` of each entity, under the same normalization as
    :func:`batch_match_entities` — the typo-tolerant tier between exact
    fulltext equality and the vector fallback (the reference's NER
    output is LLM-generated and misspells entities; ner.py:95-120 then
    finds nothing and pays the vector search).

    Candidate generation is EXACT by the segment pigeonhole
    (PassJoin, Li et al. VLDB 2011): split the normalized entity into
    ``max_dist+1`` contiguous segments — a name within distance
    ``max_dist`` must contain at least one segment verbatim, so the
    substring pre-filter loses nothing.  The (tiny, broadcast)
    entity-segment side scans the corpus once — the same BNLJ shape as
    the KNN fallback — and native ``levenshtein`` verifies (codegen).
    Entities shorter than ``max_dist+1`` chars yield empty segments
    (contains('') = always), degrading to verify-everything: still
    correct, just unpruned.

    Returns (qid, entity, name, dist), distinct."""
    nseg = max_dist + 1
    base = entities.select(
        F.col(qid_col).alias("qid"), F.col(entity_col).alias("entity"),
        norm_col(F.col(entity_col), nfc).alias("_e"))
    eN = F.col("_e")
    L = F.length(eN)
    segs = F.transform(
        F.sequence(F.lit(0), F.lit(max_dist)),
        lambda i: eN.substr(
            (F.floor(i * L / nseg) + 1).cast("int"),
            (F.floor((i + 1) * L / nseg)
             - F.floor(i * L / nseg)).cast("int")))
    ent = base.select("qid", "entity", "_e",
                      F.explode(segs).alias("_seg"))

    df = nodes
    if label is not None and label != "_Entity_":
        df = df.filter(F.col("label") == label)
    names = df.select("name", norm_col(F.col("name"), nfc).alias("_n")) \
        .distinct()
    return (
        names.join(F.broadcast(ent), F.col("_n").contains(F.col("_seg")))
        # length band is a necessary condition — prunes before the DP
        .filter(F.abs(F.length("_n") - F.length("_e")) <= max_dist)
        .filter(F.levenshtein("_n", "_e") <= max_dist)
        .select("qid", "entity", "name",
                F.levenshtein("_n", "_e").alias("dist"))
        .distinct()
    )
