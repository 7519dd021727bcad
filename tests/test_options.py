"""The package's options, counted by walking its source: every parameter
with a default on a public function is a value no caller may need to
pass, so the count is pinned and a new option has to change this test.
An option only one value is ever passed for belongs in a constant."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "demeton_spark"


def _defaulted_params(source: str) -> int:
    """Parameters with defaults on the public functions in ``source``
    (nested functions and methods included; a keyword-only parameter
    without a default is ``None`` in ``kw_defaults`` and not counted)."""
    return sum(
        len(node.args.defaults)
        + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    )


def test_public_option_count_is_pinned():
    assert sum(
        _defaulted_params(path.read_text()) for path in PACKAGE.glob("*.py")
    ) == 92


def test_counter_reads_defaults_of_public_functions_only():
    source = (
        "def f(a, b=1, *, c=2, d):\n"
        "    def inner(x=0):\n"
        "        return x\n"
        "def _private(a=1):\n"
        "    pass\n"
        "class C:\n"
        "    def m(self, k=None):\n"
        "        pass\n"
    )
    assert _defaulted_params(source) == 4
