"""The package reads no environment variable but ``PYSPARK_PIN_THREAD``.

Behaviour switches belong in constructor arguments, where a caller sees
them; an environment knob silently forks a route per process. This is an
AST scan of ``rucene_spark/*.py`` (no import, no Spark).
"""

import ast
import pathlib

ALLOWED = {"PYSPARK_PIN_THREAD"}
PKG = pathlib.Path(__file__).resolve().parent.parent / "rucene_spark"


def _const(node):
    return node.value if isinstance(node, ast.Constant) else None


def _env_reads(src: str) -> list[str]:
    """``line: snippet`` of every environment read in ``src`` other than
    ``os.environ.get(A)``, ``os.environ[A]`` or ``os.getenv(A)`` with
    ``A`` in ALLOWED; ``from os import environ/getenv`` always counts."""
    tree = ast.parse(src)
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os" and any(
                a.name in ("environ", "environb", "getenv")
                for a in node.names):
            bad.append(node)
        if not (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
                and node.attr in ("environ", "environb", "getenv")):
            continue
        up = parent.get(node)
        name = None
        if node.attr == "getenv" and isinstance(up, ast.Call) and up.args:
            name = _const(up.args[0])
        elif node.attr == "environ" and isinstance(up, ast.Subscript):
            name = _const(up.slice)
        elif (node.attr == "environ" and isinstance(up, ast.Attribute)
              and up.attr == "get"):
            call = parent.get(up)
            if isinstance(call, ast.Call) and call.args:
                name = _const(call.args[0])
        if name not in ALLOWED:
            bad.append(node)
    return [f"{n.lineno}: {ast.get_source_segment(src, n)}" for n in bad]


def test_scanner_flags_env_reads():
    flagged = [
        'import os\nos.environ.get("RUCENE_X", "1")',
        'import os\nos.environ["RUCENE_X"]',
        'import os\nos.getenv("RUCENE_X")',
        'import os\n"RUCENE_X" in os.environ',
        'import os\ndict(os.environ)',
        'from os import environ',
    ]
    for src in flagged:
        assert len(_env_reads(src)) == 1, src
    assert _env_reads(
        'import os\nos.environ.get("PYSPARK_PIN_THREAD", "true")\n'
        'os.getenv("PYSPARK_PIN_THREAD")') == []


def test_package_reads_no_env_knobs():
    files = sorted(PKG.glob("*.py"))
    assert files
    found = {p.name: _env_reads(p.read_text()) for p in files}
    assert not {k: v for k, v in found.items() if v}
