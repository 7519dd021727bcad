"""The query registries agree with each other, and the deleted audio
module stays deleted: every contract query has an oracle and every
oracle a query, every fixture oracle regenerates a registered oracle,
and nothing in the package imports ``audio``.  No Spark session."""

import ast
from pathlib import Path

import __spark_entry__

from demeton_spark.queries import FIXTURE_ORACLES, ORACLES

PACKAGE = Path(__file__).resolve().parent.parent / "demeton_spark"


def _imported_names(source: str):
    """Every dotted name an import in ``source`` mentions: the modules of
    ``import a.b`` and ``from a.b import c``, and each imported ``c``."""
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom):
            yield node.module or ""
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield from (alias.name for alias in node.names)


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    assert set(__spark_entry__.queries()) == set(__spark_entry__.oracle_sql())


def test_fixture_oracles_are_registered_oracles():
    assert FIXTURE_ORACLES.keys() <= ORACLES.keys()


def test_no_package_module_imports_audio():
    importers = [
        path.name for path in sorted(PACKAGE.glob("*.py"))
        if any("audio" in name.split(".")
               for name in _imported_names(path.read_text()))
    ]
    assert importers == []
