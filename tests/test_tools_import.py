"""Every script in tools/ is also a library (perfbench imports
``tools.bench_pipeline`` and ``tools.check_correctness``; the tests import
the rest), so nothing may run at import time: a caller's own argv must not
reach a tool's command-line parsing."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
TOOLS = sorted(f[:-3] for f in os.listdir(TOOLS_DIR) if f.endswith(".py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_under_a_foreign_argv(name, monkeypatch):
    monkeypatch.setattr(sys, "argv", ["x", "--workload", "y"])
    monkeypatch.delitem(sys.modules, f"tools.{name}", raising=False)
    importlib.import_module(f"tools.{name}")
