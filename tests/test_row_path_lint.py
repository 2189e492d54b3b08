"""Python on the row path lives in two modules.

Every other operator is a DataFrame/SQL expression that runs in the JVM.
The two exceptions are the media decode (``operators/multimodal.py``) and
NFC normalization, which has no Spark builtin (``queries/pipelineops.py``).
ARCHITECTURE.md's "Execution posture" names the same two."""

from __future__ import annotations

import ast
import pathlib
import re

import datafoundation_multi_source_retail_data_integration_hub_spark as pkg

# Spark entry points that run Python code per row or per Arrow batch
_PYTHON_ROW_API = re.compile(r"applyInPandas\w*|mapIn(Pandas|Arrow)|pandas_udf|udtf?")

ALLOWED = {
    "operators/multimodal.py",
    "queries/pipelineops.py",
}


def _python_row_names(tree: ast.AST) -> set[str]:
    """Names of Python-row APIs the code references: calls, decorators,
    attribute reads and imports. Docstrings and comments do not count."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        if _PYTHON_ROW_API.fullmatch(name):
            found.add(name)
    return found


def test_python_row_path_lives_in_two_modules():
    root = pathlib.Path(pkg.__file__).parent
    users = {
        str(p.relative_to(root)): names
        for p in sorted(root.rglob("*.py"))
        if (names := _python_row_names(ast.parse(p.read_text())))
    }
    assert set(users) == ALLOWED, users


def test_lint_sees_calls_not_prose():
    code = '''
"""Uses applyInPandasWithState and mapInPandas in prose only."""
# pandas_udf in a comment
@F.pandas_udf("double")
def f(s): return s
df.groupBy("k").applyInPandasWithState(fn, "a long", "b long", "update", t)
'''
    assert _python_row_names(ast.parse(code)) == {
        "pandas_udf",
        "applyInPandasWithState",
    }
