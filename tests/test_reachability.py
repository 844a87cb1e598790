"""Every top-level function and class in the package must be named somewhere
besides its own definition: in the package, the tests, the driver registry
(`__spark_entry__.py`) or `bench.py`.

A superseded operator left behind after its replacement lands is exactly a
definition nothing names any more; this gate reds it at commit time instead
of leaving it to a later cleanup pass.  There is deliberately no allow-list:
code worth keeping is code something calls, tests or documents by name.
"""

import ast
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "persistor_spark")
_WORD = re.compile(r"\w+")


def _py_files(root):
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _corpus():
    paths = [*_py_files(PACKAGE), *_py_files(os.path.join(REPO, "tests"))]
    paths += [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    out = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            out[path] = f.read()
    return out


def _top_level_defs(path, text):
    tree = ast.parse(text, filename=path)
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno


def test_every_package_definition_is_named_elsewhere():
    corpus = _corpus()
    words = Counter(w for text in corpus.values() for w in _WORD.findall(text))
    unnamed = []
    for path, text in corpus.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        lines = text.splitlines()
        for name, lineno in _top_level_defs(path, text):
            # discount the `def name` / `class name` line itself
            own = _WORD.findall(lines[lineno - 1]).count(name)
            if words[name] <= own:
                unnamed.append(f"{os.path.relpath(path, REPO)}:{lineno} {name}")
    assert not unnamed, "defined but never named:\n" + "\n".join(unnamed)
