"""The correctness tools check the checkout they sit in.

A/B correctness runs use ``git archive`` copies of two commits; a tool
that put a fixed checkout first on ``sys.path`` would check that
checkout's package from every copy. Spark-free: the tools are imported,
not run.
"""

from __future__ import annotations

import importlib.util
import shutil
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parents[1] / "tools"


@pytest.mark.parametrize("tool", ["check_correctness", "sweep_resilient"])
def test_tool_resolves_the_root_of_its_own_copy(tool, tmp_path):
    copy = tmp_path / "repo-copy"
    shutil.copytree(TOOLS, copy / "tools", ignore=shutil.ignore_patterns("*.json*"))
    spec = importlib.util.spec_from_file_location(
        f"{tool}_copy", copy / "tools" / f"{tool}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.ROOT == copy.resolve()
