"""Every top-level function, class and module constant in the package must
be reached from production code: the package itself, the driver registry
(`__spark_entry__.py`) or `bench.py`.

Reach is transitive.  The roots are the names in `__spark_entry__.py`,
`bench.py` and the module-level code of the package (imports and
definitions excluded: an import alone uses nothing); a definition is
reached when a root or the text of a reached definition names it.  A module
constant is a top-level assignment to plain names (dunder names such as
`__all__` stay module-level code); its definition text is the assignment.
A definition that only tests name, or that only other such definitions
name, fails, unless ALLOWED lists it with the reason it stays:

- ("COVERAGE", label): it backs the COVERAGE.md row whose first cell starts
  with `label`, and that row names it or its module;
- ("fakes", fn) / ("reads out", fn): it is a test fake for, or a read-out of,
  the production-reached package function `fn`.

Allowed entries are roots too, so their private helpers need no entry.  An
entry goes stale, and fails, when its name is no longer defined, when no
test names it, or when production code reaches it on its own.
"""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "persistor_spark")
PRODUCTION_FILES = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
_WORD = re.compile(r"\w+")

ALLOWED = {
    # COVERAGE.md components
    "parse_json_stream": ("COVERAGE", "T7"),
    "guard_batch": ("COVERAGE", "E3"),
    "to_prometheus_text": ("COVERAGE", "E4"),
    "detach": ("COVERAGE", "E4"),
    "stop_gracefully": ("COVERAGE", "E6"),
    "pubsub_stream": ("COVERAGE", "S1"),
    "servicebus_source_options": ("COVERAGE", "S2"),
    "split_location": ("COVERAGE", "S4"),
    "from_env": ("COVERAGE", "S7"),
    "kafka_publisher_options_from_env": ("COVERAGE", "Kafka publisher security parity"),
    "register_catalog": ("COVERAGE", "SQL catalog views"),
    "register_derived_views": ("COVERAGE", "SQL catalog views"),
    "register_analytics_views": ("COVERAGE", "SQL catalog views"),
    "drop_exact_duplicates": ("COVERAGE", "exact dedup"),
    "winnow_fingerprints": ("COVERAGE", "winnowing fingerprints"),
    "ivfpq_topk": ("COVERAGE", "IVF-PQ ANN"),
    "resize_images": ("COVERAGE", "image resize"),
    "write_bucketed": ("COVERAGE", "bucketed index table"),
    "bucketed_join": ("COVERAGE", "bucketed layout"),
    # test fakes and read-outs of production code
    "PrefixRewriteBlobClient": ("fakes", "write_blobs_ocf"),
    "publish_files_ordered": ("reads out", "publish_kafka"),
    "cms_estimate": ("reads out", "count_min_sketch"),
    "hll_estimate": ("reads out", "hll_registers"),
}


def _py_files(root):
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _defined_names(node):
    """The names a top-level statement defines: a function or class, or the
    plain-name targets of a constant assignment (dunders excluded)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    if any(n.startswith("__") and n.endswith("__") for n in names):
        return []
    return names


def _scan():
    """(defs, roots): defs maps each top-level package name to the words of
    its definitions (decorators included, its own name dropped); roots are
    the words of the production files and of module-level package code."""
    defs, roots = {}, set()
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as f:
            text = f.read()
        lines = text.splitlines()
        skip = set()
        for node in ast.parse(text, filename=path).body:
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            span = range(first, node.end_lineno + 1)
            names = _defined_names(node)
            if names:
                words = set(_WORD.findall("\n".join(lines[first - 1 : node.end_lineno])))
                loc = f"{os.path.relpath(path, REPO)}:{node.lineno}"
                for name in names:
                    defs.setdefault(name, []).append((loc, words - {name}))
                skip.update(span)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                skip.update(span)
        roots.update(
            w for i, line in enumerate(lines, 1) if i not in skip for w in _WORD.findall(line)
        )
    for path in PRODUCTION_FILES:
        with open(path, encoding="utf-8") as f:
            roots.update(_WORD.findall(f.read()))
    return defs, roots


def _reached(defs, seed):
    seen, todo = set(), [n for n in seed if n in defs]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(w for _, words in defs[name] for w in words if w in defs)
    return seen


def _test_words():
    words = set()
    for path in _py_files(os.path.join(REPO, "tests")):
        with open(path, encoding="utf-8") as f:
            words.update(_WORD.findall(f.read()))
    return words


def test_every_package_definition_is_named_elsewhere():
    defs, roots = _scan()
    reached = _reached(defs, roots | set(ALLOWED))
    tests = _test_words()
    unreached = []
    for name in sorted(set(defs) - reached):
        where = "named only in tests/" if name in tests else "never named"
        unreached += [f"{loc} {name} ({where})" for loc, _ in defs[name]]
    assert not unreached, "not reached from production code:\n" + "\n".join(unreached)


def test_allow_list_entries_are_cited_and_current():
    defs, roots = _scan()
    production = _reached(defs, roots)
    tests = _test_words()
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as f:
        rows = [line for line in f if line.startswith("| ")]
    bad = []
    for name, (kind, ref) in sorted(ALLOWED.items()):
        if name not in defs:
            bad.append(f"{name}: no longer defined")
            continue
        if name in production:
            bad.append(f"{name}: production code reaches it")
        if name not in tests:
            bad.append(f"{name}: no test names it")
        if kind == "COVERAGE":
            modules = {os.path.basename(loc.split(":")[0]) for loc, _ in defs[name]}
            row = [r for r in rows if r.startswith(f"| {ref}")]
            if not any(name in r or any(m in r for m in modules) for r in row):
                bad.append(f"{name}: no COVERAGE.md row '{ref}' naming it or its module")
        elif ref not in production:
            bad.append(f"{name}: {kind} {ref!r}, which production code does not reach")
    assert not bad, "stale or uncited ALLOWED entries:\n" + "\n".join(bad)
