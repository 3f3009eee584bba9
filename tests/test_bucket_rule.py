"""Guard the one owner of the conversation bucket transform.

Every bucketed layout (the batch graph sink, the streaming sink, the
resumable bucket runner) must put a conversation in the same bucket, so
``pmod(hash(conv_id), n)`` is built in one place:
``plans/extract.conv_bucket``.  No other module under
``pyrdfa3_spark/`` may build it, neither as a column expression (an AST
scan for a ``pmod`` call over a ``hash`` call naming ``conv_id``) nor
as SQL text in a string literal (a docstring does not count).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pyrdfa3_spark"
OWNER = PKG / "plans" / "extract.py"
SQL_FORM = re.compile(r"pmod\s*\(\s*hash\s*\(\s*`?conv_id\b", re.I)


def _name(fn: ast.expr) -> str | None:
    if isinstance(fn, ast.Attribute):
        return fn.attr
    if isinstance(fn, ast.Name):
        return fn.id
    return None


def _names_conv_id(call: ast.Call) -> bool:
    return any(isinstance(a, ast.Constant) and a.value == "conv_id"
               for a in ast.walk(call))


def _hand_built() -> list[str]:
    """``<module path>:<line>`` of every bucket transform built outside
    the owner."""
    out = []
    for p in sorted(PKG.rglob("*.py")):
        if p == OWNER:
            continue
        tree = ast.parse(p.read_text(), str(p))
        docs = {id(n.value) for n in ast.walk(tree)
                if isinstance(n, ast.Expr)
                and isinstance(n.value, ast.Constant)}
        for n in ast.walk(tree):
            column_form = (
                isinstance(n, ast.Call) and _name(n.func) == "pmod"
                and any(isinstance(a, ast.Call) and _name(a.func) == "hash"
                        and _names_conv_id(a) for a in n.args))
            sql_form = (isinstance(n, ast.Constant)
                        and isinstance(n.value, str)
                        and id(n) not in docs and SQL_FORM.search(n.value))
            if column_form or sql_form:
                out.append(f"{p.relative_to(PKG).as_posix()}:{n.lineno}")
    return out


def test_bucket_transform_built_only_in_extract():
    assert "def conv_bucket(" in OWNER.read_text()
    stray = _hand_built()
    assert not stray, f"bucket transform built outside extract: {stray}"
