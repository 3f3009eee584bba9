"""Guard the one owner of the RDF term key.

A stored triple's identity is its term columns, compared null-safely:
``subj``, ``pred``, ``obj`` and the object's literal shape
(``obj_is_iri``, ``obj_lang``, ``obj_datatype``).  ``graphops`` owns
that decision: ``TERM_COLS``, ``term_key``, ``obj_shape_cols`` and the
one null-safe semi/anti join ``term_join``.  So no other module under
``pyrdfa3_spark/operators/``, nor ``pyrdfa3_spark/graph.py``, may list
the shape-column names by hand in a list, tuple or set literal (an
AST scan, so a docstring, a comment, an error message or a single
column reference does not count).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pyrdfa3_spark"
OWNER = PKG / "operators" / "graphops.py"
SHAPE_COLS = {"obj_is_iri", "obj_lang", "obj_datatype"}


def _hand_lists() -> list[str]:
    """``<module path>:<line>`` of every collection literal naming a
    shape column in the guarded modules."""
    files = sorted((PKG / "operators").rglob("*.py")) + [PKG / "graph.py"]
    out = []
    for p in files:
        if p == OWNER:
            continue
        for n in ast.walk(ast.parse(p.read_text(), str(p))):
            if isinstance(n, (ast.List, ast.Tuple, ast.Set)) and any(
                    isinstance(e, ast.Constant) and e.value in SHAPE_COLS
                    for e in n.elts):
                out.append(f"{p.relative_to(PKG).as_posix()}:{n.lineno}")
    return out


def test_shape_columns_listed_only_in_graphops():
    assert "TERM_COLS" in OWNER.read_text()
    stray = _hand_lists()
    assert not stray, f"shape columns listed outside graphops: {stray}"
