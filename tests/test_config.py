"""Every CrawlConfig setting must be read somewhere in the package: a
field nothing reads is an option that silently does nothing."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

from distributed_crawler_spark.config import CrawlConfig

PKG = Path(__file__).resolve().parent.parent / "distributed_crawler_spark"


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
