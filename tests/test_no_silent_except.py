"""No fallback swallows an error without naming it: every bare, ``Exception``
or ``BaseException`` handler in the library must re-raise on some path.
A handler that falls back names the errors it expects instead."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(isinstance(t, ast.Name) and t.id in BROAD for t in types)


def _silent_broad_handlers(path: pathlib.Path, root: pathlib.Path = ROOT) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{path.relative_to(root)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ExceptHandler)
        and _is_broad(node)
        and not any(isinstance(n, ast.Raise) for stmt in node.body for n in ast.walk(stmt))
    ]


def test_no_broad_handler_without_raise():
    files = sorted((ROOT / "bears_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    assert files[0].exists()
    silent = [site for f in files for site in _silent_broad_handlers(f)]
    assert silent == []


def test_the_guard_sees_a_silent_handler(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "try:\n    f()\nexcept (ValueError, Exception):\n    pass\n"
        "try:\n    f()\nexcept:\n    x = 1\n"
        "try:\n    f()\nexcept Exception as exc:\n    if ok(exc):\n        raise\n"
        "try:\n    f()\nexcept OSError:\n    pass\n"
    )
    assert _silent_broad_handlers(src, tmp_path) == ["m.py:3", "m.py:7"]
