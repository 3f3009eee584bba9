"""Guard against top-level defs that nothing calls.

A top-level function or class in ``pyrdfa3_spark/`` must be referenced
by name (an ``ast.Name`` or ``ast.Attribute``, so a mention in a
docstring or comment does not count) from some non-test file: the
package itself, ``scripts/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``.  A reference inside the def's own body does not
count.  The defs below are kept without such a caller, each for the
reason given; anything else uncalled is dead code.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "pyrdfa3_spark"

_COVERAGE = "COVERAGE.md names it as this operator's implementation"
_HARNESS = ("harness the tests of the kept streaming code drive the "
            "stream through")

ALLOWED = {
    # README names it as API
    "plans/extract.py:compact_triples_planned":
        "README names it as the executing half of compaction",
    "streaming/sessionize.py:sessionize_stream":
        "README's streaming/sessionize.py row is this function",
    "streaming/near_dup.py:near_dup_drop_stream":
        "README's streaming/near_dup.py row (signature-level form)",
    "streaming/near_dup.py:near_dup_candidates_stream":
        "README's streaming/near_dup.py row (LSH candidate form)",
    "streaming/stream_extract.py:extract_stream":
        "README's Structured Streaming extraction; also a test harness",
    "streaming/stream_extract.py:dedup_stream":
        "README's watermarked dedup",
    "streaming/stream_extract.py:run_bucketed_materialize":
        "README's exactly-once batch_id-partitioned sink",
    # the resumable-checkpoint family
    "streaming/checkpoint.py:run_bucketed":
        "bucketed checkpoint/resume with lineage manifests",
    "streaming/checkpoint.py:stale_buckets":
        "checkpoint lineage: finds buckets whose input changed",
    "streaming/stream_extract.py:distinct_entity_estimate":
        "folds the per-commit sidecars of the exactly-once sink",
    # harnesses of the kept streaming code's tests
    "streaming/stream_extract.py:stream_transcripts": _HARNESS,
    "streaming/stream_extract.py:run_to_completion": _HARNESS,
    # operators COVERAGE.md lists by name
    "operators/multimodal.py:resize_images": _COVERAGE,
    "operators/shacl.py:conforms": _COVERAGE,
    "operators/sketch.py:hll_union": _COVERAGE,
    "plans/serialize.py:rdfxml_unserializable_rows": _COVERAGE,
    "plans/serialize.py:rdfxml_unserializable":
        "counts the predicates to_rdfxml drops (its module names it)",
    "operators/similarity.py:ivf_train":
        "the distributed IVF trainer, for samples too big to collect",
    "plans/results.py:results_json_doc":
        "SPARQL JSON results document (rdflib Result.serialize twin)",
    "plans/results.py:results_xml_doc":
        "SPARQL XML results document (rdflib Result.serialize twin)",
    "sources/jsonld.py:parse_errors_compact":
        "error rows of the compact JSON-LD reader (its module names it)",
}


def _sources():
    files = list(PKG.rglob("*.py"))
    files += list((ROOT / "scripts").rglob("*.py"))
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if not p.name.startswith("test_")]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _uncalled() -> set[str]:
    """Keys ``<module path>:<name>`` of package defs with no caller."""
    outside: set[str] = set()
    bodies: dict[str, set[str]] = {}
    for p in _sources():
        tree = ast.parse(p.read_text(), str(p))
        in_pkg = p.is_relative_to(PKG)
        for node in tree.body:
            if in_pkg and isinstance(node, (ast.FunctionDef,
                                            ast.AsyncFunctionDef,
                                            ast.ClassDef)):
                key = f"{p.relative_to(PKG).as_posix()}:{node.name}"
                bodies[key] = _names(node)
            else:
                outside |= _names(node)
    in_bodies = Counter(n for names in bodies.values() for n in names)
    # a reference from another def's body counts, one from the def's
    # own body (recursion) does not
    return {key for key, names in bodies.items()
            if (name := key.split(":")[1]) not in outside
            and in_bodies[name] - (name in names) == 0}


def test_every_top_level_def_has_a_caller():
    uncalled = _uncalled()
    dead = sorted(uncalled - set(ALLOWED))
    assert not dead, f"top-level defs nothing calls: {dead}"
    stale = sorted(set(ALLOWED) - uncalled)
    assert not stale, f"allowlisted defs that now have a caller: {stale}"
