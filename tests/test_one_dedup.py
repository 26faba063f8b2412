"""Guard: ``hooqu_spark/ops/dedup.py`` keeps one survivor step, one
exact-Jaccard verify and one connected-components star step.

The ``"left_anti"`` literal may appear only in ``_drop_pair_losers``
(the greedy-by-id survivor step every pair-based deduper ends in)
and ``dedup_against`` (keys of a reference corpus); a pair-based
deduper builds its ``(id_a, id_b, ...)`` pair table and calls
``_drop_pair_losers`` instead of writing its own loser join.
``array_intersect`` may be called only in ``jaccard_similar_pairs``:
every exact n-gram Jaccard goes through that pair producer.
``collect_set`` may be called only in ``_star``, the one half-round of
``duplicate_clusters``'s connected components, and ``exceptAll`` not
at all: a round's convergence is one star-forest check.
"""

import ast
from pathlib import Path

import hooqu_spark

MODULE = Path(hooqu_spark.__file__).parent / "ops" / "dedup.py"


def _top_level_functions():
    tree = ast.parse(MODULE.read_text())
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)]


def _owners(predicate):
    return {
        fn.name
        for fn in _top_level_functions()
        if any(predicate(n) for n in ast.walk(fn))
    }


def _is_call_of(node, name):
    return isinstance(node, ast.Call) and (
        (isinstance(node.func, ast.Attribute) and node.func.attr == name)
        or (isinstance(node.func, ast.Name) and node.func.id == name)
    )


def test_left_anti_only_in_the_survivor_step():
    owners = _owners(
        lambda n: isinstance(n, ast.Constant) and n.value == "left_anti"
    )
    assert owners == {"_drop_pair_losers", "dedup_against"}


def test_array_intersect_only_in_jaccard_similar_pairs():
    owners = _owners(lambda n: _is_call_of(n, "array_intersect"))
    assert owners == {"jaccard_similar_pairs"}


def test_collect_set_only_in_the_star_step():
    owners = _owners(lambda n: _is_call_of(n, "collect_set"))
    assert owners == {"_star"}


def test_no_except_all():
    assert _owners(lambda n: _is_call_of(n, "exceptAll")) == set()
