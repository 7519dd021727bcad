"""Every import of a ``demeton_spark`` module from inside the package
names a module that exists, including imports inside functions, which
importing a module alone never runs."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "demeton_spark"


def _package_imports(source: str) -> list[tuple[int, str]]:
    """``(line, module)`` for each ``from . import X``, ``from .X import
    …`` and ``from demeton_spark.X import …`` anywhere in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.ImportFrom):
            continue
        module = node.module or ""
        if node.level == 0:
            if not module.startswith(f"{PACKAGE.name}."):
                continue
            module = module[len(PACKAGE.name) + 1 :]
        if module:
            found.append((node.lineno, module.split(".")[0]))
        else:
            found.extend((node.lineno, a.name) for a in node.names)
    return found


def test_package_imports_resolve():
    modules = {p.stem for p in PACKAGE.glob("*.py")}
    missing = [
        f"{path.name}:{line}: {name}"
        for path in sorted(PACKAGE.glob("*.py"))
        for line, name in _package_imports(path.read_text())
        if name not in modules
    ]
    assert not missing, missing


def test_walker_sees_imports_inside_functions():
    source = (
        "def f():\n"
        "    from . import jpeg\n"
        "    from .vp8l import decode_webp\n"
        "    from demeton_spark.gif import decode\n"
    )
    assert _package_imports(source) == [(2, "jpeg"), (3, "vp8l"), (4, "gif")]


def _codec_private_reads(source: str) -> list[tuple[int, str]]:
    """``(line, name)`` for each ``codec._X`` attribute read and each
    ``from .codec import _X`` in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Attribute) and node.attr.startswith("_")
                and isinstance(node.value, ast.Name)
                and node.value.id == "codec"):
            found.append((node.lineno, node.attr))
        elif (isinstance(node, ast.ImportFrom)
              and (node.module or "").split(".")[-1] == "codec"):
            found.extend((node.lineno, a.name) for a in node.names
                         if a.name.startswith("_"))
    return found


def test_formats_stay_in_codec():
    """Bit layouts and format constants are ``codec``'s own: no other
    package module reads a ``codec._…`` name."""
    reads = [
        f"{path.name}:{line}: codec.{name}"
        for path in sorted(PACKAGE.glob("*.py")) if path.name != "codec.py"
        for line, name in _codec_private_reads(path.read_text())
    ]
    assert not reads, reads
