"""Guard against dead environment switches and round-stamped scripts.

Once an A/B decides between two implementations, the loser is deleted
along with the env switch that selected it, and the one-off script that
measured it goes too. This test pins the engine's complete set of
environment reads and ``bench.py``'s, so a new switch has to be added
here on purpose, and it fails on any round-stamped script left under
``tools/``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ENGINE_ENV_VARS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "CALLYSTO_WEB_PORT"}
# the core count comes from get_spark, not from a bench-local default
BENCH_ENV_VARS = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_INGEST_MSGS",
    "SPARK_GRAFT_BENCH_FAIL",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _key(node: ast.AST) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key: {ast.unparse(node)}>"


def _env_reads(tree: ast.AST) -> set[str]:
    """Names read via ``os.environ.get``, ``os.environ[...]``,
    ``os.getenv`` or ``... in os.environ``."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_os_environ(f.value))
                or (f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os")
            ):
                out.add(_key(node.args[0]))
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            out.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(_is_os_environ(c) for c in node.comparators):
            out.add(_key(node.left))
    return out


def test_no_dead_env_switches_or_round_stamped_tools():
    found: dict[str, list[str]] = {}
    for path in sorted((ROOT / "callysto_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for name in _env_reads(tree):
            found.setdefault(name, []).append(str(path.relative_to(ROOT)))
    extra = {n: found[n] for n in sorted(set(found) - ENGINE_ENV_VARS)}
    assert set(found) == ENGINE_ENV_VARS, (
        f"engine env reads changed: unexpected {extra}, "
        f"missing {sorted(ENGINE_ENV_VARS - set(found))}"
    )
    stamped = sorted(p.name for p in (ROOT / "tools").glob("*_r[0-9]*.py"))
    assert not stamped, f"round-stamped one-off scripts left in tools/: {stamped}"


def test_bench_env_reads_are_pinned():
    tree = ast.parse((ROOT / "bench.py").read_text(encoding="utf-8"))
    assert _env_reads(tree) == BENCH_ENV_VARS
