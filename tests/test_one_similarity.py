"""Guard: ``hooqu_spark/ops/similarity.py`` keeps one JVM cosine and
one centroid-assignment UDF.

``zip_with`` may be called only inside ``pairwise_cosine`` (a second
call is an inline copy of the cosine the oracles replay: call
``pairwise_cosine`` instead), and only ``ivf_assign_udf`` may define a
``pandas_udf`` over ``centroids`` (take its ``["list"]`` or ``["sim"]``
field instead of writing a second assignment UDF).
"""

import ast
from pathlib import Path

import hooqu_spark

MODULE = Path(hooqu_spark.__file__).parent / "ops" / "similarity.py"


def _top_level_functions():
    tree = ast.parse(MODULE.read_text())
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)]


def _calls(fn, name):
    return [
        n
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and (
            (isinstance(n.func, ast.Attribute) and n.func.attr == name)
            or (isinstance(n.func, ast.Name) and n.func.id == name)
        )
    ]


def _is_pandas_udf(decorator):
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "pandas_udf"


def _defines_centroid_udf(fn):
    """A ``@pandas_udf``-decorated def inside ``fn`` that reads
    ``centroids``."""
    return any(
        isinstance(inner, ast.FunctionDef)
        and any(_is_pandas_udf(d) for d in inner.decorator_list)
        and any(
            isinstance(n, ast.Name) and n.id == "centroids"
            for n in ast.walk(inner)
        )
        for inner in ast.walk(fn)
        if inner is not fn
    )


def test_zip_with_only_in_pairwise_cosine():
    owners = {
        fn.name for fn in _top_level_functions() if _calls(fn, "zip_with")
    }
    assert owners == {"pairwise_cosine"}


def test_one_centroid_assignment_udf():
    owners = {
        fn.name for fn in _top_level_functions() if _defines_centroid_udf(fn)
    }
    assert owners == {"ivf_assign_udf"}
