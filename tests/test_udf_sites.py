"""The package's Python-UDF boundaries, found by walking its source: pandas
UDFs only where pandas is the kernel's or the API's contract, and one
Arrow operator per kind (``engine.map_rows``, ``engine.reduce_tiles``
and the ``hillshade_parts`` emitter), so a new hand-written batch loop
fails here."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "demeton_spark"

PANDAS_UDFS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
ARROW_UDFS = {"mapInArrow", "applyInArrow"}


def _call_sites(source: str, module: str, methods: set[str]) -> list[str]:
    """``module.function`` for each call of a ``methods`` attribute in
    ``source``, named by the enclosing top-level function (``module``
    alone at module level)."""
    sites = []
    for top in ast.parse(source).body:
        where = f"{module}.{top.name}" if isinstance(
            top, (ast.FunctionDef, ast.AsyncFunctionDef)) else module
        sites.extend(
            where for node in ast.walk(top)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in methods
        )
    return sites


def _package_sites(methods: set[str]) -> list[str]:
    return sorted(
        site
        for path in PACKAGE.glob("*.py")
        for site in _call_sites(path.read_text(), path.stem, methods)
    )


def test_pandas_udfs_only_where_pandas_is_the_contract():
    """Winnowing is vectorised over a whole pandas batch; pandas is
    ``applyInPandasWithState``'s own contract."""
    assert _package_sites(PANDAS_UDFS) == [
        "queries.q_doc_fingerprint",
        "streaming.buffered_tiles",
        "streaming.streaming_exact_dedup",
    ]


def test_one_arrow_operator_per_kind():
    assert _package_sites(ARROW_UDFS) == [
        "engine.hillshade_parts", "engine.map_rows", "engine.reduce_tiles",
    ]


def test_walker_names_the_enclosing_function():
    source = (
        "x = df.mapInPandas(f, s)\n"
        "def outer():\n"
        "    def run(b):\n"
        "        return b\n"
        "    return df.groupBy('k').applyInPandas(run, s)\n"
        "def other():\n"
        "    return df.mapInArrow(f, s)\n"
    )
    assert _call_sites(source, "m", PANDAS_UDFS) == ["m", "m.outer"]
