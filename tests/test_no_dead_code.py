"""Dead-code tripwire: every top-level function, class and constant in
the package must be called or named by shipped code that is itself live.

The scan reads the abstract syntax trees of the shipped sources only:
the package, `tools/`, `perfbench/`, `bench.py` and `__spark_entry__.py`.
A package definition is live when it is decorated (as `@register`
queries are), or when live code names it by a `Name`, an `Attribute` or
an import alias. Live code is the package's module-level statements,
every non-package source, and the bodies of live definitions, so a
function that only dead code calls is dead too. A non-package source
may also name a definition by a string constant equal to its name, as
perfbench wraps the refresh chain by name; inside the package, strings
are column names, keys and SQL, and a column that shares a function's
name does not call it. Docstrings, prose, `__all__` lists and `tests/`
count for nothing: the only way a test keeps a definition alive is an
entry in `TEST_REFERENCES`.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: reference implementation -> the test that compares shipped code with it
TEST_REFERENCES = {
    "attach_clusters": "test_fingerprint_clusters_match_doc_level_closure",
    "asof_join": "test_asof_both_matches_two_single_direction_joins",
    "funnel_times": "test_fused_first_and_any_equals_both_operators",
    "funnel_times_any_window": "test_fused_first_and_any_equals_both_operators",
    "kmeans_predict": "test_fused_map_matches_separate_legs",
    "project_pca": "test_fused_map_matches_separate_legs",
    "extract_features": "test_feature_frames_fusion_equivalence",
    "resize_images": "test_feature_frames_fusion_equivalence",
    "sample_frames": "test_feature_frames_fusion_equivalence",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
PACKAGE = "white_elephant_spark/"
#: path prefixes of the shipped sources; any other source counts for nothing
SHIPPED = (PACKAGE, "tools/", "perfbench/", "bench.py", "__spark_entry__.py")


def _names(nodes, strings: bool = False) -> set[str]:
    """Every name the nodes' subtrees use: identifiers, attributes,
    import aliases and, with `strings`, string constants."""
    out = set()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
                if n.asname:
                    out.add(n.asname)
            elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.add(n.value)
    return out


def _defined(stmt) -> list[str]:
    """The names a top-level statement defines and the scan tracks:
    functions, classes and non-dunder assignments to plain names."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    return [t.id for t in targets if isinstance(t, ast.Name) and not t.id.startswith("__")]


def dead_definitions(sources: dict[str, str], references=()) -> list[str]:
    """`path:line name` for each top-level package definition that no
    live code names. `sources` maps repo-relative paths to source text;
    only paths under `SHIPPED` are read, and `references` names
    definitions kept for the tests that compare against them."""
    defs = []  # (name, (path, line), statement)
    live_code, by_name = [], []
    for path, src in sources.items():
        if not path.startswith(SHIPPED):
            continue
        tree = ast.parse(src)
        if not path.startswith(PACKAGE):
            by_name.append(tree)
            continue
        for stmt in tree.body:
            names = _defined(stmt)
            if names and not getattr(stmt, "decorator_list", None):
                defs += [(n, (path, stmt.lineno), stmt) for n in names]
            else:
                live_code.append(stmt)
    used = _names(live_code) | _names(by_name, strings=True) | set(references)
    while woken := [d for d in defs if d[0] in used]:
        defs = [d for d in defs if d[0] not in used]
        used |= _names([stmt for _name, _where, stmt in woken])
    return [f"{path}:{line} {name}" for name, (path, line), _stmt in sorted(defs, key=lambda d: d[1])]


def _sources() -> dict[str, str]:
    out = {}
    for part in SHIPPED + ("tests/",):
        path = os.path.join(REPO, part)
        files = [path] if path.endswith(".py") else [
            os.path.join(base, f) for base, _dirs, fs in os.walk(path) for f in fs if f.endswith(".py")]
        for f in files:
            with open(f) as fh:
                out[os.path.relpath(f, REPO)] = fh.read()
    return out


def test_every_package_definition_is_referenced():
    dead = dead_definitions(_sources(), TEST_REFERENCES)
    assert not dead, "defined but never used by shipped code:\n" + "\n".join(dead)


def test_test_references_are_needed_and_used_by_their_tests():
    """Each entry is a package definition that only its test keeps
    alive, and that test exists and names it."""
    sources = _sources()
    dead = {line.split()[-1] for line in dead_definitions(sources)}
    assert set(TEST_REFERENCES) <= dead, f"live without TEST_REFERENCES: {set(TEST_REFERENCES) - dead}"
    tests = [ast.parse(src) for path, src in sources.items() if path.startswith("tests/")]
    for name, test in TEST_REFERENCES.items():
        bodies = [f for t in tests for f in t.body if isinstance(f, _DEFS) and f.name == test]
        assert bodies, f"{test} (reference for {name}) not found"
        assert any(name in _names([b]) for b in bodies), f"{test} does not name {name}"


_SYNTHETIC = {
    "white_elephant_spark/mod.py": '''
"""Mentions in_docstring_only here."""

__all__ = ["in_all_only"]


def in_docstring_only():
    pass


def in_all_only():
    pass


def in_test_only():
    pass


def called_by_dead():
    pass


def dead_caller():
    return called_by_dead()


def wrapped_by_name():
    pass


def column_named():
    pass


@register
def decorated():
    return F.col("column_named"), helper_of_decorated()


def helper_of_decorated():
    """Names in_docstring_only again."""
    return HELPER_CONSTANT


HELPER_CONSTANT = 1
UNUSED_CONSTANT = 2
''',
    "perfbench/run.py": '''
from white_elephant_spark import mod

setattr(mod, "wrapped_by_name", wrap(getattr(mod, "wrapped_by_name")))
print("in_docstring_only is prose, not a name")
''',
    "tests/test_mod.py": '''
from white_elephant_spark.mod import in_test_only


def test_it():
    assert in_test_only() is None
''',
}


def test_tripwire_flags_mentions_and_dead_callers():
    dead = [line.split()[-1] for line in dead_definitions(_SYNTHETIC)]
    assert dead == ["in_docstring_only", "in_all_only", "in_test_only", "called_by_dead", "dead_caller",
                    "column_named", "UNUSED_CONSTANT"]
    kept = [line.split()[-1] for line in dead_definitions(_SYNTHETIC, {"in_test_only", "dead_caller"})]
    assert kept == ["in_docstring_only", "in_all_only", "column_named", "UNUSED_CONSTANT"]
