"""Lambda-capture check for higher-order-function expressions.

Spark evaluates a ``transform`` / ``aggregate`` / ``zip_with`` lambda
body once per array ELEMENT, and leaves higher-order-function subtrees
out of subexpression elimination. A subtree inside the body that reads
a column but no lambda variable is therefore loop-invariant work re-run
at every element: ``substring(lower(regexp_replace(text, ...)), i, k)``
re-runs the regex over the whole document per position — O(n²) per doc.
Such a subtree must be bound once outside the loop: as a column of an
earlier projection, or as a lambda variable via the
transform-over-a-1-element-array trick
(``element_at(transform(array(x), f), 1)``).

``lambda_captures(df)`` walks a DataFrame's analyzed (or optimized)
logical plan — one ``toJSON`` call, then pure Python — and returns each
captured subtree. A bare column reference is not a capture: reading a
bound value costs O(1) per element. tests/test_plans.py runs it
over every higher-order-function kernel; ``scripts/plan_audit.py`` runs
it over every contract query.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

_COLUMN = frozenset({"AttributeReference", "OuterReference"})


class _Node:
    __slots__ = ("cls", "fields", "kids", "free", "reads_col")

    def __init__(self, fields: dict, kids: list["_Node"]):
        self.cls = fields["class"].rsplit(".", 1)[-1]
        self.fields = fields
        self.kids = kids
        # free lambda variables (by expression id) and column reads
        if self.cls == "NamedLambdaVariable":
            self.free = {fields["exprId"]["id"]}
        else:
            self.free = set().union(*(k.free for k in kids))
        if self.cls == "LambdaFunction":
            self.free -= {a.fields["exprId"]["id"] for a in kids[1:]}
        self.reads_col = self.cls in _COLUMN or any(k.reads_col for k in kids)

    def render(self, limit: int = 160) -> str:
        if self.cls in _COLUMN or self.cls == "NamedLambdaVariable":
            return str(self.fields.get("name"))
        if self.cls == "Literal":
            return repr(self.fields.get("value"))
        s = f"{self.cls}({', '.join(k.render(limit) for k in self.kids)})"
        return s if len(s) <= limit else s[:limit - 3] + "..."


def _tree(flat: list) -> _Node:
    """Rebuild one expression tree from its pre-order JSON list."""
    it = iter(flat)

    def build() -> _Node:
        fields = next(it)
        return _Node(fields, [build() for _ in range(fields["num-children"])])

    return build()


def _expression_trees(value):
    """Every expression tree held in a plan node's JSON field value."""
    if isinstance(value, list):
        if value and isinstance(value[0], dict) and "num-children" in value[0]:
            yield _tree(value)
        else:
            for v in value:
                yield from _expression_trees(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _expression_trees(v)


def _captures_in(node: _Node, out: list) -> None:
    if node.cls == "LambdaFunction":
        _check_body(node.kids[0], out)
    for k in node.kids:
        _captures_in(k, out)


def _check_body(node: _Node, out: list) -> None:
    if node.cls == "LambdaFunction":
        return  # a nested lambda's body is checked on its own
    if node.free:
        for k in node.kids:
            _check_body(k, out)
    elif node.reads_col and node.cls not in _COLUMN:
        out.append(node.render())


def lambda_captures(df: DataFrame, stage: str = "analyzed") -> list[str]:
    """Rendered subtrees that a lambda body of ``df``'s ``stage``
    ("analyzed" or "optimized") plan re-evaluates per element although
    they read a column and no lambda variable. Empty means clean."""
    qe = df._jdf.queryExecution()
    plan = {"analyzed": qe.analyzed, "optimized": qe.optimizedPlan}[stage]()
    out: list[str] = []
    for node in json.loads(plan.toJSON()):
        for key, value in node.items():
            if key not in ("class", "num-children"):
                for tree in _expression_trees(value):
                    _captures_in(tree, out)
    return out
