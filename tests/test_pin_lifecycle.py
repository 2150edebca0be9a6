"""One lifecycle for persisted intermediates (session.pin / session.release):
every catalog query leaves no stored RDD behind once released, release()
does not touch the serving loaders' TTL cache, and no other persisting call
exists in the package."""

import ast
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bench import HEADLINE
from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all
from etl_for_dumdums_spark.serving import LoaderRegistry
from etl_for_dumdums_spark.session import pin, release

from .conftest import SF_SMOKE

load_all()

PACKAGE = Path(__file__).resolve().parents[1] / "etl_for_dumdums_spark"
PERSISTING = {"cache", "persist", "localCheckpoint", "checkpoint"}
# the only places allowed to persist: the lifecycle itself, and the serving
# layer's TTL cache, which has its own (invalidate / expiry) lifecycle
ALLOWED = {("session.py", "pin"), ("serving.py", "LoaderRegistry")}


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("name", list(QUERIES) + [n for n in HEADLINE if n not in QUERIES])
def test_query_leaves_no_storage_after_release(spark, name):
    """Collect (the terminal action), release(), and nothing the query
    stored survives: cached frames and localCheckpoint blocks alike."""
    before = _stored_rdds(spark)
    {**EXTRA_QUERIES, **QUERIES}[name](spark, SF_SMOKE).collect()
    release()
    assert _stored_rdds(spark) == before, f"{name} left storage after release"


def test_release_leaves_serving_cache_alone(spark):
    reg = LoaderRegistry()

    @reg.loader("squares")
    def squares(s):
        return s.range(7).select((F.col("id") * F.col("id")).alias("sq"))

    served = reg.load(spark, "squares")
    assert served.count() == 7
    pinned = pin(spark.range(3))
    assert pinned.count() == 3
    release()
    assert pinned.storageLevel == StorageLevel.NONE
    assert served.storageLevel != StorageLevel.NONE  # still in the CacheManager
    assert reg.load(spark, "squares") is served
    reg.invalidate()
    assert served.storageLevel == StorageLevel.NONE


class _PersistCalls(ast.NodeVisitor):
    """Collect (enclosing def/class names, line) of every persisting call."""

    def __init__(self):
        self.scope: list[str] = []
        self.hits: list[tuple[tuple[str, ...], int]] = []

    def _scoped(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _scoped

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr in PERSISTING:
            self.hits.append((tuple(self.scope), node.lineno))
        self.generic_visit(node)


def test_only_pin_and_serving_persist():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        v = _PersistCalls()
        v.visit(ast.parse(path.read_text()))
        for scope, line in v.hits:
            if not scope or (path.name, scope[0]) not in ALLOWED:
                offenders.append(f"{path.relative_to(PACKAGE)}:{line}")
    assert not offenders, "persist through session.pin instead: " + ", ".join(offenders)
