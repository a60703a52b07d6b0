"""Every graphraft_spark module, and every top-level function, class and
UPPER_CASE constant in it, must be reachable from a registered query,
the pipeline, the API facade or the session factory.

AST only (no Spark session, no imports executed).  Modules: compute the
import closure of the roots, following package ``__init__`` files the
way the interpreter does, and fail naming any module outside it.
Definitions: compute the name closure of the roots (below) and fail
naming any top-level def, class or constant outside it; a constant is
reached only when reached code names it, even in a root module.  Code
that only its own tests reach is dead weight — delete it, or wire it
into a registered query or pipeline stage.

Deleting it must not strand a caller: every ``from graphraft_spark...
import name`` in the tools, the bench, perfbench and the tests
(function-local imports included) resolves, and every package
``__all__`` entry is defined — so a deletion that breaks one of them
fails here, not when the tool or the benchmark next runs.
"""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "graphraft_spark"
CALLERS = ("tools", "bench.py", "perfbench", "tests")
_CONST = re.compile(r"_?[A-Z][A-Z0-9_]*")

ROOTS = ("graphraft_spark.registry.*", "graphraft_spark.api",
         "graphraft_spark.pipeline", "graphraft_spark.session")

# Modules that no root reaches but that stay on purpose.
ALLOWED = {
    "graphraft_spark.graph.neo4j_csv":
        "the one documented reference-interop shim: loads a Neo4j CSV "
        "export into a PropertyGraph (MIGRATION.md)",
    "graphraft_spark.data.hf_arrow":
        "the driver-side pyarrow reader the distributed HF writer/reader "
        "tests compare against",
    "graphraft_spark.llm.ngram_lm":
        "the real char n-gram scorer the trie-ranker tests drive",
    "graphraft_spark.patterns.cypher_parse":
        "parses the reference's stored Cypher strings for reference replay",
}

# Top-level definitions that no root reaches but that stay on purpose;
# a module entry allows every definition in that module.
ALLOWED_DEFS = {
    **ALLOWED,
    "graphraft_spark.sources.hf_arrow_source":
        "reads and writes the reference's HF save_to_disk layout",
    "graphraft_spark.graph.ingest.build_graph":
        "STaRK SKB -> property graph (stark_neo4j_loading.py)",
    "graphraft_spark.graph.ingest.ingest_nodes":
        "STaRK SKB -> property graph: node MERGE semantics",
    "graphraft_spark.graph.ingest.ingest_edges":
        "STaRK SKB -> property graph: edge MERGE semantics",
    "graphraft_spark.llm.prompts.build_ner_messages":
        "the reference's NER prompt (ner.py)",
    "graphraft_spark.llm.prompts.load_ner_instructions":
        "the reference's NER instruction file (ner.py)",
    "graphraft_spark.llm.prompts.llm2_instruction":
        "the reference's LLM2 answer prompt (llm2.py)",
    "graphraft_spark.llm.sft.llm2_sft_table":
        "the reference's LLM2 SFT export (llm2.py)",
    "graphraft_spark.llm.prompts.INSTRUCTION_TEMPLATE":
        "the LLM2 SFT export's prompt framing (llm2_sft_table)",
    "graphraft_spark.llm.prompts.RESPONSE_TEMPLATE":
        "the LLM2 SFT export's prompt framing (llm2_sft_table)",
    "graphraft_spark.llm.prompts.ANSWER_SEPARATOR":
        "the LLM2 SFT export's answer joiner (llm2_sft_table)",
    "graphraft_spark.search.vector.knn_pseudo_entities":
        "the reference's kNN-NER ablation (ner.py)",
    "graphraft_spark.ops.avi.avi_decode":
        "the decoder the encoder's round-trip tests compare against",
    "graphraft_spark.patterns.compiler.run_pattern_nodes":
        "perfbench wraps it by name (ROADMAP Direction 1 removes it)",
    "graphraft_spark.llm.sft.write_sft":
        "perfbench calls it by name",
}


def _modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py in the package."""
    out = {}
    for d, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            out[".".join(parts)] = os.path.join(d, f)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _is_all(node: ast.stmt) -> bool:
    """``__all__ = [...]``"""
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)


def _root_modules(modules: dict[str, str]) -> set[str]:
    out = set()
    for root in ROOTS:
        if root.endswith(".*"):
            pkg = root[:-2]
            out |= {m for m in modules
                    if m == pkg or m.startswith(pkg + ".")}
        else:
            out.add(root)
    return out


def _imports(path: str, modules: dict[str, str]) -> set[str]:
    """Package modules one file imports, anywhere in its body."""
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            # a relative import would escape the dotted-name closure
            if node.level:
                raise AssertionError(f"{path}: relative import")
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        out.update(p for p in (".".join(parts[:i + 1])
                               for i in range(len(parts))) if p in modules)
    return out


def _closure(modules: dict[str, str]) -> set[str]:
    todo = list(_root_modules(modules))
    seen = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo += _imports(modules[m], modules) - seen
    return seen


def test_every_module_is_reached():
    modules = _modules()
    unreached = sorted(set(modules) - _closure(modules) - ALLOWED.keys())
    assert not unreached, (
        "modules no registered query, pipeline stage or API path "
        f"reaches: {unreached}")


def test_allowlist_is_current():
    modules = _modules()
    reached = _closure(modules)
    stale = sorted(m for m in ALLOWED if m not in modules or m in reached)
    assert not stale, f"allowlist entries gone or now reached: {stale}"


def _constants(node: ast.stmt) -> list[str]:
    """The names a top-level UPPER_CASE assignment (``X = ...``,
    ``X: T = ...``, ``X, Y = ...``) binds; [] for any other statement."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = [n for t in targets
             for n in (t.elts if isinstance(t, ast.Tuple) else [t])]
    if names and all(isinstance(n, ast.Name) and _CONST.fullmatch(n.id)
                     for n in names):
        return [n.id for n in names]
    return []


def _defs(modules: dict[str, str]):
    """Top-level defs, classes and UPPER_CASE constants as
    ``module.name`` -> (module, node), plus the statements that run at
    import (everything else except imports and ``__all__``) and each
    module's import aliases."""
    defs, module_code, aliases = {}, [], {}
    for m, path in modules.items():
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{m}.{node.name}"] = (m, node)
            elif consts := _constants(node):
                defs.update((f"{m}.{c}", (m, node)) for c in consts)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if a.asname:
                        aliases.setdefault(m, {})[a.asname] = \
                            a.name.rsplit(".", 1)[-1]
            elif not _is_all(node):
                module_code.append((m, node))
    return defs, module_code, aliases


def _names(m: str, node: ast.AST, aliases: dict) -> set[str]:
    """Every name one piece of code mentions: Name ids, Attribute attrs
    and (function-local) import aliases, with ``as`` aliases resolved."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out | {aliases.get(m, {}).get(x) for x in out} - {None}


def _unreached_defs(modules: dict[str, str]) -> set[str]:
    """Definitions outside the name closure of every definition in a
    ROOTS module plus every module's import-time code.  Resolution is by
    bare name across the package, so it only ever over-approximates
    what is reached."""
    defs, module_code, aliases = _defs(modules)
    by_name = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    roots = _root_modules(modules)
    todo = [k for k, (m, node) in defs.items()
            if m in roots and not _constants(node)]
    for m, node in module_code:
        todo += [k for x in _names(m, node, aliases)
                 for k in by_name.get(x, ())]
    seen = set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        m, node = defs[key]
        todo += [k for x in _names(m, node, aliases)
                 for k in by_name.get(x, ()) if k not in seen]
    return set(defs) - seen


def _allowed_def(key: str) -> bool:
    return key in ALLOWED_DEFS or key.rsplit(".", 1)[0] in ALLOWED_DEFS


def test_every_def_is_reached():
    unreached = sorted(k for k in _unreached_defs(_modules())
                       if not _allowed_def(k))
    assert not unreached, (
        "top-level definitions no registered query, pipeline stage or "
        f"API path reaches: {unreached}")


def test_def_allowlist_is_current():
    modules = _modules()
    unreached = _unreached_defs(modules)
    covers = {entry: {k for k in unreached
                      if k == entry or k.rsplit(".", 1)[0] == entry}
              for entry in ALLOWED_DEFS}
    stale = sorted(e for e, ks in covers.items() if not ks)
    assert not stale, f"allowlist entries gone or now reached: {stale}"
    assert all(reason.strip() for reason in ALLOWED_DEFS.values())


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if path.endswith(".py"):
        return [path]
    return sorted(os.path.join(d, f) for d, _, files in os.walk(path)
                  for f in files if f.endswith(".py"))


def _module_names(tree: ast.Module) -> set[str]:
    """Names a module binds at import: defs, classes, assignment
    targets and imports, including those under module-level if/try."""
    out = set()
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            out |= {n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            todo += [c for c in ast.iter_child_nodes(node)
                     if isinstance(c, ast.stmt)]
            if isinstance(node, ast.Try):
                todo += [s for h in node.handlers for s in h.body]
    return out


def test_caller_imports_resolve():
    modules = _modules()
    names = {m: _module_names(_parse(p)) for m, p in modules.items()}
    broken = []
    for rel in CALLERS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
                if isinstance(node, ast.Import):
                    broken += [f"{where} import {a.name}" for a in node.names
                               if a.name.split(".")[0] == PKG
                               and a.name not in modules]
                elif not node.level and node.module.split(".")[0] == PKG:
                    if node.module not in modules:
                        broken.append(f"{where} from {node.module}")
                        continue
                    broken += [
                        f"{where} from {node.module} import {a.name}"
                        for a in node.names
                        if a.name not in names[node.module]
                        and f"{node.module}.{a.name}" not in modules]
    assert not broken, f"imports naming nothing in {PKG}: {broken}"


def test_package_all_entries_are_defined():
    undefined = []
    for m, path in _modules().items():
        tree = _parse(path)
        defined = _module_names(tree)
        for node in tree.body:
            if _is_all(node):
                undefined += [f"{m}.{e.value}" for e in node.value.elts
                              if e.value not in defined]
    assert not undefined, f"__all__ entries never defined: {undefined}"
