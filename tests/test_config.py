"""Every CrawlConfig setting must be read somewhere in the package: a
field nothing reads is an option that silently does nothing. The
package's environment knobs are all read in config.py. The default
driver heap fits the host. The admission chain (robots, then the host
budget) is composed only in politeness.admit."""

from __future__ import annotations

import ast
import dataclasses
import os
import subprocess
import sys
from pathlib import Path

from distributed_crawler_spark.config import CrawlConfig, default_driver_memory

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "distributed_crawler_spark"


def attributes_read(root: Path, skip: Path) -> set[str]:
    """Names accessed as ``<expr>.<name>`` in the modules under ``root``,
    ``skip`` (the dataclass's own module) excluded."""
    names = set()
    for path in root.rglob("*.py"):
        if path == skip:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        names.update(n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute))
    return names


def test_every_crawl_config_field_is_read():
    read = attributes_read(PKG, PKG / "config.py")
    unread = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in read]
    assert unread == [], f"CrawlConfig fields nothing reads: {unread}"


def _is_environ(node: ast.expr) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def environ_keys_read(path: Path) -> set[str]:
    """Constant keys read from the environment in ``path``:
    ``os.environ[k]``, ``os.environ.get(k)`` / ``.pop`` / ``.setdefault``
    and ``os.getenv(k)``."""
    keys = set()
    for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        key = None
        if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Load):
            if _is_environ(n.value):
                key = n.slice
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.args:
            f = n.func
            if f.attr == "getenv" or (
                f.attr in ("get", "pop", "setdefault") and _is_environ(f.value)
            ):
                key = n.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            keys.add(key.value)
    return keys


def test_spark_graft_env_knobs_are_read_only_in_config():
    stray = sorted(
        f"{path.relative_to(PKG)}: {key}"
        for path in PKG.rglob("*.py")
        if path != PKG / "config.py"
        for key in environ_keys_read(path)
        if key.startswith("SPARK_GRAFT_")
    )
    assert stray == [], f"SPARK_GRAFT_* knobs read outside config.py: {stray}"


def functions_calling_all(path: Path, names: set[str]) -> list[str]:
    """Functions in ``path`` whose body calls every one of ``names``
    (as ``f(...)`` or ``mod.f(...)``)."""
    out = []
    for fn in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        called = {
            c.func.id if isinstance(c.func, ast.Name) else c.func.attr
            for c in ast.walk(fn)
            if isinstance(c, ast.Call) and isinstance(c.func, (ast.Name, ast.Attribute))
        }
        if names <= called:
            out.append(fn.name)
    return out


def test_admission_chain_is_composed_only_in_admit():
    gate = PKG / "operators" / "politeness.py"
    copies = sorted(
        f"{path.relative_to(PKG)}: {name}"
        for path in PKG.rglob("*.py")
        if path != gate
        for name in functions_calling_all(path, {"robots_filter", "host_budget_filter"})
    )
    assert copies == [], f"robots → budget chain written outside politeness.admit: {copies}"


def test_default_driver_memory_is_capped_by_host_memory():
    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "6144m"
    assert default_driver_memory(120 * gib) == "49152m"
    assert default_driver_memory(1024 * gib) == "49152m"
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert default_driver_memory() == default_driver_memory(phys)


def _engine_driver_memory(env: dict[str, str]) -> str:
    # EngineConfig reads the environment at import, so ask a fresh process
    code = (
        "from distributed_crawler_spark.config import EngineConfig;"
        "print(EngineConfig().driver_memory)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, check=True,
    )
    return out.stdout.strip()


def test_driver_memory_env_override_wins():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    assert _engine_driver_memory(env) == default_driver_memory()
    assert _engine_driver_memory({**env, "SPARK_GRAFT_DRIVER_MEM": "5g"}) == "5g"
