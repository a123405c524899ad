"""No module in the package defines the same top-level name twice.

A second ``def`` or ``class`` of a name silently rebinds the first at
import, so the earlier body is dead code that still reads as live."""

import ast
import collections
import pathlib

import table_streaming_source_spark


def test_no_module_level_def_or_class_bound_twice():
    root = pathlib.Path(table_streaming_source_spark.__file__).parent
    dup = set()
    for p in root.rglob("*.py"):
        tree = ast.parse(p.read_text(), filename=str(p))
        counts = collections.Counter(
            node.name
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        rel = str(p.relative_to(root))
        dup |= {(rel, n) for n, c in counts.items() if c > 1}
    assert dup == set()
