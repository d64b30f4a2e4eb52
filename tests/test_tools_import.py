"""Every script in ``tools/`` imports cleanly.

Import only — no ``main`` runs — so a tool that still reads a name the
package or ``bench.py`` no longer defines fails here instead of at its
next manual run.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(TOOLS, "*.py"))),
    ids=os.path.basename,
)
def test_tool_imports(path, monkeypatch):
    name = "_tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, module)
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec.loader.exec_module(module)
    assert module.__doc__, "a tool states its usage in its module docstring"
