"""The program's own files go through one store: ``hooqu_spark/store.py``.

An unconfigured scheme raises from both repositories instead of
landing in a local directory.  A guard keeps the filesystem in one
module: inside ``hooqu_spark/`` only the store calls ``getFileSystem``,
and the modules that moved onto it do no ``os``/``shutil`` file IO.
"""

import ast
from pathlib import Path

import pytest

import hooqu_spark
from hooqu_spark.analyzers import Size
from hooqu_spark.lineage import StateRecord, StateRepository
from hooqu_spark.metrics import DoubleMetric, Entity, Success
from hooqu_spark.repository import MetricsRepository

PACKAGE = Path(hooqu_spark.__file__).parent
STORE = PACKAGE / "store.py"
MOVED = ["lineage.py", "repository.py", "pipeline/core.py"]
LOCAL_IO = {("os", "makedirs"), ("os", "listdir"), ("os", "rename")}


def test_unconfigured_scheme_raises_and_creates_nothing(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    root = "nosuch://b/states"
    states, metrics = StateRepository(root), MetricsRepository(root)
    size = {Size(): DoubleMetric(Entity.DATASET, "Size", "*", Success(1.0))}
    calls = [
        lambda: states.save("r", [StateRecord("0", "Size|*|", "null", "a")]),
        lambda: states.load("r"),
        lambda: states.clear("r"),
        lambda: metrics.save("t", size),
        lambda: metrics.load("t"),
    ]
    for call in calls:
        with pytest.raises(Exception, match="nosuch"):
            call()
    assert list(tmp_path.iterdir()) == []


def _calls(path: Path):
    """(receiver name or None, attribute) of every attribute call."""
    return {
        (f.value.id if isinstance(f.value, ast.Name) else None, f.attr)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and isinstance(f := node.func, ast.Attribute)
    }


def _imports(path: Path):
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module.split(".")[0])
    return names


def test_only_the_store_opens_a_filesystem():
    offenders = [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != STORE and any(attr == "getFileSystem" for _, attr in _calls(path))
    ]
    assert offenders == []
    # the store does open one; if it did not, the guard would check nothing
    assert any(attr == "getFileSystem" for _, attr in _calls(STORE))


@pytest.mark.parametrize("module", MOVED)
def test_moved_modules_do_no_local_file_io(module):
    path = PACKAGE / module
    assert "shutil" not in _imports(path)
    assert _calls(path) & LOCAL_IO == set()
