"""Every top-level definition in the package is reached from a surface.

The surfaces are the entry module (``queries()``), ``bench.py`` /
``bench_extra.py``, ``run.py``, the scripts, perfbench and the
streaming job.  The test parses every package module with ``ast`` and
takes the closure of top-level definitions over ``Name``, ``Attribute``
and ``ImportFrom`` references, starting from every statement of the
surface files and from the module-level statements (outside any
definition) of each package module.  A docstring or comment mention is
not a use.  A definition that nothing reaches must be deleted, or named
in ``KEEP`` with the reason it stays.  A second pass parses the test
modules the same way: every ``KEEP`` entry must be imported by a test,
so a reason cannot outlive the test it names.  No Spark session is
needed.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "sherlog_parser_spark"

KEEP = {
    # A key names a definition (``operators.lm.python_mirror_scores``)
    # or a whole module or package; what a kept definition references is
    # kept with it.  Every key must be imported by some test module.
    "oracle.reference_parser.SequentialReferenceParser":
        "the sequential reference parser the parity tests compare against",
    "oracle.reference_parser.oracle_route_sets":
        "the oracle's per-sink row sets, for the routed sink parity test",
    "oracle.reference_parser.oracle_template_counts":
        "the oracle's template counts, for the template-count and sink "
        "parity tests",
    "oracle.reference_parser.oracle_tool_counts":
        "the oracle's windowed tool counts, for the tool-usage and sink "
        "parity tests",
    "functions.masking.normalize_template_py":
        "Python mirror of the normalization expression, for differential tests",
    "functions.pii.redact_pii_py":
        "Python mirror of the PII redaction expression, for differential tests",
    "operators.bpe.python_mirror_bpe":
        "Python mirror of the BPE tokenizer, for differential tests",
    "operators.dsir.python_mirror_dsir":
        "Python mirror of dsir_scores, which queries() reaches",
    "operators.lm.python_mirror_scores":
        "Python mirror of the bigram scorer, which queries() reaches",
    "operators.dedup.embedding_near_dups":
        "brute-force reference for the ANN and semdedup near-dup tests",
    "eval.metrics.grouping_accuracy_naive":
        "brute-force reference for grouping_accuracy",
    "operators.classifier.train_quality_classifier":
        "trains the model that curate.py --classifier loads",
    "operators.classifier.save_classifier":
        "writes the model file that curate.py --classifier loads",
    "plans.aggregate.template_frequency":
        "single-pass reference the streaming and parity tests compare against",
    "plans.aggregate.tool_usage_windowed":
        "single-pass reference the streaming and parity tests compare against",
    "operators.anomaly.count_baseline":
        "builds the frozen baseline that the streaming count detector joins",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _surface_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             ROOT / "bench_extra.py", ROOT / PKG / "run.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / PKG / "streaming").glob("*.py"))
    return files


class _Module:
    def __init__(self, name: str, path: pathlib.Path):
        self.name = name
        self.is_package = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        self.loose: list[ast.AST] = []
        for node in self.tree.body:
            names = _defined_names(node)
            for n in names:
                self.defs.setdefault(n, []).append(node)
            if not names:
                self.loose.append(node)
        self.aliases = _aliases(self)


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _absolute(mod: _Module, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.name.split(".")
    base = base[: len(base) - node.level + (1 if mod.is_package else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _aliases(mod: _Module) -> dict[str, tuple[str, str | None]]:
    """Local name -> (module, attribute or None for the module itself),
    over every import in the file (function-local ones included)."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in ast.walk(mod.tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    top = a.name.split(".")[0]
                    out[top] = (top, None)
        elif isinstance(node, ast.ImportFrom):
            src = _absolute(mod, node)
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)
    return out


class _Graph:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        for path in sorted((ROOT / PKG).rglob("*.py")):
            self.modules[_module_name(path)] = _Module(_module_name(path), path)
        for path in _surface_files():
            name = _module_name(path)
            self.modules.setdefault(name, _Module(name, path))

    def _resolve(self, mod: str, attr: str | None) -> tuple[str, str | None]:
        """``from mod import attr``: a submodule or a definition."""
        if attr is not None and f"{mod}.{attr}" in self.modules:
            return f"{mod}.{attr}", None
        return mod, attr

    def _dotted(self, mod: _Module, node: ast.AST) -> str | None:
        """The module an expression names, if it names one."""
        if isinstance(node, ast.Name):
            if node.id in mod.aliases:
                m, attr = self._resolve(*mod.aliases[node.id])
                return m if attr is None else None
            return None
        if isinstance(node, ast.Attribute):
            base = self._dotted(mod, node.value)
            if base is not None and f"{base}.{node.attr}" in self.modules:
                return f"{base}.{node.attr}"
        return None

    def references(self, mod: _Module, nodes: list[ast.AST]):
        """(module, definition) pairs the statements refer to."""
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if node.id in mod.defs:
                        yield mod.name, node.id
                    elif node.id in mod.aliases:
                        m, attr = self._resolve(*mod.aliases[node.id])
                        if attr is not None:
                            yield m, attr
                elif isinstance(node, ast.Attribute):
                    base = self._dotted(mod, node.value)
                    if base is not None:
                        yield base, node.attr
                elif isinstance(node, ast.ImportFrom):
                    src = _absolute(mod, node)
                    for a in node.names:
                        m, attr = self._resolve(src, a.name)
                        if attr is not None:
                            yield m, attr

    def closure(self, roots) -> set[tuple[str, str]]:
        todo = list(roots)
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key in seen or key[0] not in self.modules:
                continue
            seen.add(key)
            mod = self.modules[key[0]]
            todo.extend(self.references(mod, mod.defs.get(key[1], [])))
        return seen

    def definitions(self) -> list[tuple[str, str]]:
        return [(m, d) for m, mod in self.modules.items() if m.startswith(PKG + ".")
                for d in mod.defs if not d.startswith("__")]

    def reached(self) -> set[tuple[str, str]]:
        surface = {_module_name(p) for p in _surface_files()}
        roots: list[tuple[str, str]] = []
        for name, mod in self.modules.items():
            if name in surface:
                roots.extend((name, d) for d in mod.defs)
            roots.extend(self.references(mod, mod.loose))
        return self.closure(roots)


def _short(key: tuple[str, str]) -> str:
    return key[0][len(PKG) + 1:] + "." + key[1]


def _covers(keep: str, name: str) -> bool:
    return name == keep or name.startswith(keep + ".")


def _scan() -> tuple[list[str], set[str]]:
    """(definitions no surface reaches, those of them KEEP holds)."""
    graph = _Graph()
    reached = graph.reached()
    unreached = [k for k in graph.definitions() if k not in reached]
    keep_roots = [k for k in unreached if any(_covers(n, _short(k)) for n in KEEP)]
    kept = graph.closure(keep_roots)
    return sorted(_short(k) for k in unreached), {_short(k) for k in kept}


def test_every_definition_is_reached_or_kept():
    unreached, kept = _scan()
    stray = [n for n in unreached if n not in kept]
    assert not stray, "reached by no surface; delete or add to KEEP: " + ", ".join(stray)


def test_keep_entries_name_unreached_definitions():
    unreached, _ = _scan()
    stale = sorted(k for k in KEEP if not any(_covers(k, n) for n in unreached))
    assert not stale, "KEEP entries that are reached or gone: " + ", ".join(stale)


def _test_references() -> set[str]:
    """Package modules the test modules import, and the definitions
    they import or name through an imported module."""
    graph = _Graph()
    out: set[str] = set()
    for path in sorted((ROOT / "tests").glob("*.py")):
        mod = _Module(_module_name(path), path)
        out.update(_short(k) for k in graph.references(mod, [mod.tree])
                   if k[0].startswith(PKG + "."))
        for alias in mod.aliases.values():
            m, attr = graph._resolve(*alias)
            if attr is None and m.startswith(PKG + "."):
                out.add(m[len(PKG) + 1:])
    return out


def test_keep_entries_are_imported_by_tests():
    used = _test_references()
    orphan = sorted(k for k in KEEP if not any(_covers(k, n) for n in used))
    assert not orphan, "KEEP entries no test imports: " + ", ".join(orphan)
