"""Guard: the fused-state kernel is the only code that fuses analyzer
expressions and slices aggregate rows into states.

Inside ``hooqu_spark/``, ``state_from_agg``, ``cached_aggregation_exprs``
and ``frequency_stats_exprs`` may be called only by
``hooqu_spark/analyzers/fused.py`` and by an analyzer's own methods
(receiver ``self`` or the enclosing class).  A new caller elsewhere is
a copy of the kernel coming back: call ``fused_states`` instead.
"""

import ast
from pathlib import Path

import hooqu_spark

PACKAGE = Path(hooqu_spark.__file__).parent
KERNEL = PACKAGE / "analyzers" / "fused.py"
GUARDED = {"state_from_agg", "cached_aggregation_exprs", "frequency_stats_exprs"}


def _called_name(call: ast.Call):
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr, f.value
    if isinstance(f, ast.Name):
        return f.id, None
    return None, None


def _violations(path: Path):
    """(line, name) of every guarded call in ``path`` that is not an
    analyzer calling its own method."""
    found = []

    def visit(node, classes):
        if isinstance(node, ast.ClassDef):
            classes = classes + [node.name]
        if isinstance(node, ast.Call):
            name, receiver = _called_name(node)
            if name in GUARDED:
                own = (
                    classes
                    and isinstance(receiver, ast.Name)
                    and receiver.id in ("self", classes[-1])
                )
                if not own:
                    found.append((node.lineno, name))
        for child in ast.iter_child_nodes(node):
            visit(child, classes)

    visit(ast.parse(path.read_text()), [])
    return found


def test_only_the_kernel_fuses_and_slices_states():
    offenders = {
        str(path.relative_to(PACKAGE)): found
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != KERNEL and (found := _violations(path))
    }
    assert offenders == {}


def test_the_guard_sees_the_kernel_calls():
    # the kernel itself makes every guarded call; if it did not, the
    # guard above would be checking for names nobody uses
    assert {name for _, name in _violations(KERNEL)} == GUARDED
