"""Guard the one inline-frame builder.

Every frame the operators and the graph facade build from driver-side
literals goes through ``graphops.local_frame``, which hands the rows
to the JVM as an Arrow table: the frame plans as a ``LocalTableScan``
and scanning it starts no Python worker.  ``createDataFrame`` on a
Python list plans an ``ExistingRDD`` scan whose every task does.  So
no ``createDataFrame(`` call (an ``ast.Call``, so a mention in a
docstring or comment does not count) may appear in
``pyrdfa3_spark/operators/`` or ``pyrdfa3_spark/graph.py`` outside
``local_frame`` itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pyrdfa3_spark"
BUILDER = "operators/graphops.py:local_frame"


def _calls() -> set[str]:
    """``<module path>:<top-level def>`` of every createDataFrame
    call in the guarded modules (``<module>`` at module level)."""
    files = sorted((PKG / "operators").rglob("*.py")) + [PKG / "graph.py"]
    out = set()
    for p in files:
        tree = ast.parse(p.read_text(), str(p))
        for node in tree.body:
            owner = getattr(node, "name", "<module>")
            for n in ast.walk(node):
                if (isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr == "createDataFrame"):
                    out.add(f"{p.relative_to(PKG).as_posix()}:{owner}")
    return out


def test_create_dataframe_only_in_local_frame():
    calls = _calls()
    assert BUILDER in calls, "local_frame no longer builds the frame"
    stray = sorted(calls - {BUILDER})
    assert not stray, f"createDataFrame outside local_frame: {stray}"
