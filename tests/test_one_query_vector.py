"""A query vector has one path into a plan: ``functions.vector.unit``
normalizes it driver-side, ``functions.vector.vec_lit`` turns it into
one parsed literal, and graph_ann's searches and inserts share one beam
loop (``_beam``). These AST guards keep the copies from coming back."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cnc_visionsearch_spark"


def _modules():
    for p in sorted(PKG.rglob("*.py")):
        yield str(p.relative_to(PKG)), ast.parse(p.read_text())


def _is_call(node, attr: str, owner: str | None = None) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Attribute):
        return f.attr == attr and (
            owner is None or getattr(f.value, "id", None) == owner
        )
    return owner is None and isinstance(f, ast.Name) and f.id == attr


def _lit_elements(node) -> bool:
    """A comprehension, list or repeated list whose elements are F.lit."""
    if isinstance(node, (ast.ListComp, ast.GeneratorExp)):
        return _is_call(node.elt, "lit", "F")
    if isinstance(node, (ast.List, ast.Tuple)):
        return bool(node.elts) and all(_is_call(e, "lit", "F") for e in node.elts)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult):
        return _lit_elements(node.left) or _lit_elements(node.right)
    return False


def _is_norm_fold(node) -> bool:
    """``sum(x * x for x in ...) ** 0.5``"""
    if not (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Pow)
        and isinstance(node.right, ast.Constant)
        and node.right.value == 0.5
        and _is_call(node.left, "sum")
        and node.left.args
        and isinstance(node.left.args[0], ast.GeneratorExp)
    ):
        return False
    elt = node.left.args[0].elt
    return (
        isinstance(elt, ast.BinOp)
        and isinstance(elt.op, ast.Mult)
        and ast.dump(elt.left) == ast.dump(elt.right)
    )


def test_one_literal_one_normalizer_one_beam_loop():
    per_element, folds, beam_loops = [], [], []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if _is_call(node, "array", "F") and any(
                isinstance(a, ast.Starred) and _lit_elements(a.value)
                for a in node.args
            ):
                per_element.append(f"{rel}:{node.lineno}")
            if _is_norm_fold(node) and rel != "functions/vector.py":
                folds.append(f"{rel}:{node.lineno}")
            if (
                rel == "operators/graph_ann.py"
                and _is_call(node, "setdefault", "beam")
            ):
                beam_loops.append(node.lineno)
    assert per_element == [], f"build vector literals with vec_lit: {per_element}"
    assert folds == [], f"normalize query vectors with unit: {folds}"
    assert len(beam_loops) <= 1, f"graph_ann beam loops: {beam_loops}"
