"""One predicate language for every pruning and residual-filter site.

The ``predicate=`` of ``decode_table``, ``decode_blobs``, ``prune_blobs``
and ``read_orc`` is a tree::

    node := (col, op, literal)          a leaf
          | [node, ...] | (node, ...)   AND
          | ("and" | "or", [node, ...]) | ("not", node)

with op in ``== != < <= > >= in isnull notnull startswith contains``
(``in`` takes an iterable literal, the null tests ignore theirs).
:func:`normalize` pushes NOT to the leaves by De Morgan and each op's
dual (``<``/``>=``, ``>``/``<=``, ``==``/``!=``, ``isnull``/``notnull``);
``in``, ``startswith`` and ``contains`` have none and become a negated
leaf. :func:`may_match` is the stats test over a per-column
:class:`Stats` view, after ORC SearchArgument TruthValues: a range is
read iff the tree may be TRUE (YES) on one of its rows; unknown keeps,
and a negated leaf never prunes. :func:`filter_table` is the exact
filter: SQL three-valued (Kleene) masks, one ``filter`` call. A null
value makes every leaf but the null tests UNKNOWN; NaN fails ``==`` and
every ordered comparison (Arrow's IEEE order) and passes ``!=``, so
float bounds, which skip NaN, never prove ``!=``.
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_DUAL = {
    "==": "!=", "!=": "==", "<": ">=", ">=": "<", ">": "<=", "<=": ">",
    "isnull": "notnull", "notnull": "isnull",
}
OPS = (*_DUAL, "in", "startswith", "contains")


class Leaf(NamedTuple):
    col: str
    op: str
    lit: object
    neg: bool = False  # only for ops without a dual


class Stats(NamedTuple):
    """One column's statistics over a row range; None = unknown.
    ``lo``/``hi`` bound the non-null values, in the domain ``conv`` maps
    a literal into (raising TypeError outside it); ``n`` counts non-null
    values; ``bloom(lit)`` is False only when no value equals ``lit``;
    ``elem`` stats' bounds and ``n`` describe list elements and answer
    only ``contains``; their ``has_null`` is still row-level."""

    lo: object = None
    hi: object = None
    has_null: bool | None = None
    n: int | None = None
    bloom: Callable | None = None
    conv: Callable | None = None
    elem: bool = False


FALSE = ("or", ())  # the normalized never-TRUE tree


def normalize(pred, neg: bool = False, known: Callable | None = None):
    """Any accepted predicate shape -> a :class:`Leaf`, an
    ``("and"|"or", (node, ...))`` pair, or None (no predicate: TRUE).
    ``known(leaf)`` may fold a leaf to TRUE on every row (True) or on
    none (False); the tree then simplifies around it, to None or
    :data:`FALSE` when decided."""
    if pred is None:
        return None
    if isinstance(pred, Leaf):
        if neg and pred.op in _DUAL:
            pred = pred._replace(op=_DUAL[pred.op])
        else:
            pred = pred._replace(neg=pred.neg != neg)
        v = known and known(pred)
        return pred if v is None else (None if v else FALSE)
    kind, kids = "and", pred
    if isinstance(pred, str):
        raise ValueError(f"malformed predicate node {pred!r}")
    if isinstance(pred, tuple) and pred and isinstance(pred[0], str):
        if len(pred) == 3:
            col, op, lit = pred
            if op not in OPS:
                raise ValueError(f"unsupported predicate op {op!r} (use one of {OPS})")
            lit = tuple(lit) if op == "in" else lit
            return normalize(Leaf(col, op, lit), neg, known)
        if len(pred) == 2 and pred[0] == "not":
            return normalize(pred[1], not neg, known)
        if len(pred) != 2 or pred[0] not in ("and", "or"):
            raise ValueError(f"malformed predicate node {pred!r}")
        kind, kids = pred
    if neg:
        kind = "or" if kind == "and" else "and"
    out: list = []
    for k in kids:
        k = normalize(k, neg, known)
        if k is None and kind == "or":
            return None  # OR with an always-TRUE child
        if k == FALSE and kind == "and":
            return FALSE
        if isinstance(k, tuple) and not isinstance(k, Leaf) and k[0] == kind:
            out.extend(k[1])
        elif k is not None:
            out.append(k)
    if kind == "and" and not out:
        return None
    return out[0] if len(out) == 1 else (kind, tuple(out))


def leaves(node) -> Iterator[Leaf]:
    if isinstance(node, Leaf):
        yield node
    elif node is not None:
        for k in node[1]:
            yield from leaves(k)


# ------------------------------------------------------------- may-match

_RANGE = {  # can some value in [lo, hi] satisfy ``value op v``?
    "==": lambda lo, hi, v: lo <= v <= hi,
    "!=": lambda lo, hi, v: not (lo == hi == v),
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    # exact (never truncated) bounds: a v-prefixed string can lie in
    # [lo, hi] iff hi >= v and lo is not past the prefix
    "startswith": lambda lo, hi, v: (
        not isinstance(v, str) or (hi >= v and lo[: len(v)] <= v)
    ),
}


def _cmp_may_match(op: str, lit, s: Stats) -> bool:
    if s.conv is not None:
        if op == "startswith":
            return True  # prefixes of converted (temporal) bounds: unknown
        try:
            v = s.conv(lit)
        except TypeError:
            return True  # literal outside the bounds' domain: unknown
    else:
        v = lit
    lo, hi = s.lo, s.hi
    if lo is not None and hi is not None and lo == lo and hi == hi:
        if op == "!=" and isinstance(lo, float):
            return True  # NaN rows satisfy != and sit outside the bounds
        try:
            if not _RANGE[op](lo, hi, v):
                return False
        except TypeError:
            pass  # incomparable domains: unknown
    return op != "==" or s.bloom is None or s.bloom(lit)


def _leaf_may_match(leaf: Leaf, s: Stats | None) -> bool:
    op = leaf.op
    if leaf.neg:
        return True
    if op == "in" and not leaf.lit:
        return False  # IN () matches nothing
    if s is None:
        return True
    if op == "isnull":  # has_null is row-level, element stats included
        return s.has_null is not False
    if s.elem != (op == "contains"):
        return True  # element n counts elements, not non-null rows
    if op == "notnull":
        return s.n != 0
    if s.n == 0:
        return False  # no value (element) to compare: never TRUE
    if op == "in":
        return any(_cmp_may_match("==", m, s) for m in leaf.lit)
    return _cmp_may_match("==" if op == "contains" else op, leaf.lit, s)


def may_match(node, view: Callable) -> bool:
    """False only when the statistics ``view(col) -> Stats | None``
    PROVE no row of the range satisfies ``node`` (normalized)."""
    if node is None:
        return True
    if isinstance(node, Leaf):
        return _leaf_may_match(node, view(node.col))
    test = all if node[0] == "and" else any
    return test(may_match(k, view) for k in node[1])


# ------------------------------------------------------------ row filter

_CMP = {
    "==": pc.equal, "!=": pc.not_equal, "<": pc.less,
    "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal,
}


def _leaf_mask(leaf: Leaf, tbl: pa.Table) -> pa.Array:
    """SQL three-valued mask of one leaf: null where the value is null."""
    col, op, v, neg = leaf
    c = tbl.column(col).combine_chunks()
    if op in ("isnull", "notnull"):
        return pc.is_null(c) if op == "isnull" else pc.is_valid(c)
    if op == "contains":
        if not (pa.types.is_list(c.type) or pa.types.is_large_list(c.type)):
            raise ValueError(f"contains predicate requires a list column, got {c.type}")
        hit = pc.equal(pc.list_flatten(c), pa.scalar(v, c.type.value_type))
        m = np.zeros(len(c), bool)
        m[pc.filter(pc.list_parent_indices(c), pc.fill_null(hit, False)).to_numpy()] = True
        m = pa.array(m, mask=np.asarray(pc.is_null(c)))
    elif op == "in":
        # is_in answers false (not null) on null rows; null members
        # never match
        m = pc.is_in(c, value_set=pa.array(list(v), c.type), skip_nulls=True)
        m = pc.if_else(pc.is_valid(c), m, pa.scalar(None, pa.bool_()))
    elif op == "startswith":
        m = pc.starts_with(c, pattern=v)
    else:
        m = _CMP[op](c, pa.scalar(v, c.type))
    return pc.invert(m) if neg else m


def _mask(node, tbl: pa.Table) -> pa.Array:
    if isinstance(node, Leaf):
        return _leaf_mask(node, tbl)
    masks = [_mask(k, tbl) for k in node[1]]  # only an OR can be empty
    combine = pc.and_kleene if node[0] == "and" else pc.or_kleene
    return functools.reduce(combine, masks or [pa.array(np.zeros(len(tbl), bool))])


def filter_table(tbl: pa.Table, node) -> pa.Table:
    """Exactly the rows on which ``node`` (normalized) is TRUE."""
    return tbl if node is None else tbl.filter(_mask(node, tbl))
