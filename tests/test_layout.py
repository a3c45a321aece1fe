"""Layout guards over the engine's source, checked by AST.

1. Every top-level definition in ``hogzilla_spark/`` is reached from an
   entry point: the batch and corpus CLIs, ``__spark_entry__.py``,
   ``bench.py`` and the non-test perfbench files.  A module-level name
   is reached when reached code references it (a bare name resolved
   through the module's own imports, or ``module.name``); a reached
   class reaches everything its body references, and importing a module
   runs its module-level statements.
2. Outside ``state/store.py`` no code builds or parses a ``hist_name``:
   no string constant (docstrings aside) holding a ``HIST..-`` family
   prefix or naming the ``hist_name`` column, and no ``.hist_name``
   attribute, except the ``schemas.HISTOGRAMS`` field and the literal
   ``datagen`` fixture rows.
"""
from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "hogzilla_spark"

# Out-of-scope code kept without an entry point: the streaming corpus
# path (a COVERAGE.md capability) with the LM trainer whose model its
# perplexity stage takes, the grouped-state stream that the
# micro-batch state-store choice will keep or delete, and the fixtures.
# Everything these reach is kept with them.
EXEMPT_MODULES = (
    "hogzilla_spark.plans.corpus_stream",
    "hogzilla_spark.streaming.dedup_stream",
    "hogzilla_spark.streaming.neardup_stream",
    "hogzilla_spark.streaming.stateful_stream",
    "hogzilla_spark.datagen",
)
EXEMPT_DEFS = ("hogzilla_spark.operators.text.lm_train",)
CLI_MODULES = ("hogzilla_spark.plans.batch", "hogzilla_spark.plans.corpus")
MODULE = "<module>"

def _modname(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

def _sources() -> dict[str, ast.Module]:
    files = sorted(PKG.rglob("*.py")) + [ROOT / "__spark_entry__.py",
                                         ROOT / "bench.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return {_modname(p): ast.parse(p.read_text(), str(p)) for p in files}

def _bind_import(node, table: dict, modules) -> None:
    if isinstance(node, ast.Import):
        for a in node.names:
            if a.asname:
                table[a.asname] = ("mod", a.name)
            else:
                top = a.name.split(".")[0]
                table[top] = ("mod", top)
    elif isinstance(node, ast.ImportFrom) and node.module:
        for a in node.names:
            sub = f"{node.module}.{a.name}"
            table[a.asname or a.name] = (
                ("mod", sub) if sub in modules else ("sym", node.module, a.name))

def _top_level(tree: ast.Module):
    """(name, node) per top-level definition; other statements map to MODULE."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield stmt.name, stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
            for name in names:
                yield name, stmt
        elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            yield MODULE, stmt

def reachability():
    """Return (defs, reached): defs maps (module, name) to its node."""
    trees = _sources()
    modules = set(trees)
    defs, tables = {}, {}
    for mod, tree in trees.items():
        table = {}
        for stmt in tree.body:
            _bind_import(stmt, table, modules)
        for name, node in _top_level(tree):
            defs.setdefault((mod, name), []).append(node)
            table.setdefault(name, ("sym", mod, name))
        tables[mod] = table

    def resolve(entry, seen=()):
        if entry[0] == "mod":
            return [(entry[1], MODULE)]
        _, mod, name = entry
        if (mod, name) in defs:
            return [(mod, name), (mod, MODULE)]
        alias = tables.get(mod, {}).get(name)
        if alias and alias != entry and (mod, name) not in seen:
            return resolve(alias, seen + ((mod, name),))
        return []

    def refs(mod, node):
        local = dict(tables[mod])
        for n in ast.walk(node):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                _bind_import(n, local, modules)
        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and n.id in local:
                out += resolve(local[n.id])
            elif (isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
                  and local.get(n.value.id, ("",))[0] == "mod"):
                out += resolve(("sym", local[n.value.id][1], n.attr))
            elif isinstance(n, ast.ImportFrom) and n.module in modules:
                out.append((n.module, MODULE))
            elif isinstance(n, ast.Import):
                out += [(a.name, MODULE) for a in n.names if a.name in modules]
        return out

    roots = [m for m in trees if not m.startswith("hogzilla_spark")]
    roots += list(CLI_MODULES) + list(EXEMPT_MODULES)
    todo = [(m, name) for m in roots for (mm, name) in defs if mm == m]
    todo += [(m, MODULE) for m in roots]
    reached = set()
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        for node in defs.get(key, []):
            todo += refs(key[0], node)
    return defs, reached

def unreached() -> list[str]:
    defs, reached = reachability()
    return sorted(f"{m}.{n}" for (m, n) in defs
                  if m.startswith("hogzilla_spark") and n != MODULE
                  and not (n.startswith("__") and n.endswith("__"))
                  and (m, n) not in reached
                  and f"{m}.{n}" not in EXEMPT_DEFS)

def test_every_definition_is_reached_from_an_entry_point():
    assert unreached() == []

_FAMILY = re.compile(r"HIST[0-9.()\\?]*-")

def hist_name_sites() -> list[str]:
    """Code outside the state store that builds or parses a hist_name."""
    files = [p for p in sorted(PKG.rglob("*.py"))
             if p.relative_to(PKG).as_posix() not in ("state/store.py", "datagen.py")]
    files.append(ROOT / "__spark_entry__.py")
    sites = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        schema_field = set()
        if path.name == "schemas.py":
            for n in ast.walk(tree):
                if (isinstance(n, ast.Assign) and any(
                        isinstance(t, ast.Name) and t.id == "HISTOGRAMS"
                        for t in n.targets)):
                    schema_field |= {id(c) for c in ast.walk(n.value)}
        docstrings = {
            id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and id(n) not in schema_field | docstrings
                    and ("hist_name" in n.value or _FAMILY.search(n.value))):
                sites.append(f"{path.relative_to(ROOT)}:{n.lineno}: {n.value[:60]!r}")
            elif isinstance(n, ast.Attribute) and n.attr == "hist_name":
                sites.append(f"{path.relative_to(ROOT)}:{n.lineno}: .hist_name")
    return sites

def test_only_the_state_store_knows_the_hist_name_format():
    assert hist_name_sites() == []
