"""Every ``tools/`` module imports.

The certification tools are otherwise imported only by ``@slow`` tests, so
a dangling import (a tool importing a module that no longer exists) would
go unseen by the default suite.
"""

from __future__ import annotations

import importlib
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py") and f != "__init__.py"),
)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
