"""Dead-code tripwire: every top-level function and class in the
package must be named somewhere besides its own definition.

Names are counted as identifier-shaped words in the source text, not
as tokenizer NAME tokens: the DuckDB oracle twins are called inside
f-string bodies, which Python before 3.12 tokenizes as one string.
A name that is only mentioned (a docstring, a registry key) counts as
used, so the check errs towards keeping code.
"""

from __future__ import annotations

import ast
import collections
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "white_elephant_spark")


def _py_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for base, _subdirs, files in os.walk(os.path.join(REPO, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".py")]
    return out


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def test_every_package_definition_is_referenced():
    sources = _py_files("white_elephant_spark", "tests", "tools", "perfbench") + [
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
    ]
    words = collections.Counter()
    for path in sources:
        words.update(re.findall(r"[A-Za-z_]\w*", _read(path)))
    defined = collections.Counter()
    where = {}
    for path in _py_files("white_elephant_spark"):
        for node in ast.parse(_read(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defined[node.name] += 1
                where[node.name] = f"{os.path.relpath(path, REPO)}:{node.lineno}"
    dead = sorted(where[n] + " " + n for n, k in defined.items() if words[n] <= k)
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
