"""Guard: the engine reads no environment variables behind its callers'
backs. Behaviour is chosen by explicit arguments; the only env reads
are the session's core count and VRL's own ``get_env_var``."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "vrl_spark")

# (module path relative to the repo root, enclosing function)
ALLOWED = {
    ("vrl_spark/session.py", "get_spark"),  # SPARK_GRAFT_CPUS
    ("vrl_spark/functions/misc.py", "get_env_var"),  # VRL get_env_var
}
_ENV_ATTRS = {"environ", "environb", "getenv", "getenvb"}


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function or None) of every ``os.environ`` /
    ``os.getenv`` access in ``source``, through any import alias."""
    tree = ast.parse(source)
    os_names, env_names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            env_names |= {
                a.asname or a.name for a in node.names if a.name in _ENV_ATTRS
            }
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _ENV_ATTRS
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        ) or (isinstance(node, ast.Name) and node.id in env_names):
            hits.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return hits


def test_scanner_sees_aliases():
    src = (
        "import os as _os\n"
        "from os import getenv as ge\n"
        "X = _os.environ.get('A')\n"
        "def f():\n"
        "    return ge('B')\n"
    )
    assert env_reads(src) == [(3, None), (5, "f")]


def test_no_env_reads_outside_allowed_sites():
    found = []
    for dirpath, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                for line, func in env_reads(fh.read()):
                    if (rel, func) not in ALLOWED:
                        found.append(f"{rel}:{line} ({func or 'module'})")
    assert not found, "environment reads outside the allowed sites: " + ", ".join(found)
