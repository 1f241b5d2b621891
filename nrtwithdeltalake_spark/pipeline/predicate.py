"""A merge's ``delete_condition`` evaluated on the driver with
``pyarrow.compute``, with the meaning Spark's
``filter(coalesce(cond, false))`` gives it, for a closed set of SQL.

``parse`` runs Spark's own parser
(``sessionState().sqlParser().parseExpression``) once per condition
string and keeps a plain-Python tree of it; ``mask`` evaluates that tree
over a ``pyarrow.Table`` and its Spark schema with no JVM call. The set:

* a column whose name is exactly one of the table's (a match only when
  case is ignored is left to Spark's resolver) and whose Spark type is
  not a string of another collation than the default, CHAR or VARCHAR
  (Spark compares by the collation, and pads a CHAR's operands);
* string, integral, floating, boolean and NULL literals;
* ``=``, ``<=>``, ``!=``/``<>``, ``<``, ``<=``, ``>``, ``>=``, ``IN``,
  ``IS [NOT] NULL``, ``AND``, ``OR`` and ``NOT``, in three-valued
  (Kleene) logic.

Compared operands must share a type family: string, boolean, or numeric,
where integral and floating types widen as Spark widens them (the
widest of TINYINT < SMALLINT < INT < BIGINT < FLOAT < DOUBLE). Anything
else returns None and the caller evaluates the condition in Spark: any
other node (a function, a cast, arithmetic, a qualified name, a decimal
or temporal literal), a pair Spark coerces across families (a timestamp
or date against a string, a decimal, a string against a number), an
integral against a FLOAT (Spark widens that pair to FLOAT or to DOUBLE
depending on ANSI mode), and a floating operand that holds NaN (Spark
orders NaN above every number and equal to itself; IEEE does not).
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import types as T

_COMPARE = {
    "EqualTo": "equal",
    "LessThan": "less",
    "LessThanOrEqual": "less_equal",
    "GreaterThan": "greater",
    "GreaterThanOrEqual": "greater_equal",
}
_NODES = {
    "EqualNullSafe": "null_safe",
    "In": "in",
    "IsNull": "is_null",
    "IsNotNull": "is_valid",
    "And": "and",
    "Or": "or",
    "Not": "not",
}
# a literal's Spark type (``catalogString``: a collated string is not
# "string") as the Arrow type it compares as
_LITERALS = {
    "string": pa.string(),
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "void": pa.null(),
}
# Spark's numeric widening order
_NUMERIC = [pa.int8(), pa.int16(), pa.int32(), pa.int64(), pa.float32(), pa.float64()]
_NULL = pa.scalar(None, pa.bool_())
# the field metadata that marks a Spark string column CHAR(n) or VARCHAR(n)
_CHAR_VARCHAR = "__CHAR_VARCHAR_TYPE_STRING"

# condition string -> its tree, or None outside the set; past
# _PARSED_MAX strings the oldest is dropped, and the lock keeps
# concurrent loads from parsing one string twice
_PARSED: dict[str, tuple | None] = {}
_PARSED_MAX = 256
_PARSE_LOCK = threading.Lock()


class _Outside(Exception):
    """The condition leaves the set ``mask`` evaluates."""


def parse(spark: SparkSession, text: str) -> tuple | None:
    """``text``'s tree, parsed by Spark once per string; None when it
    leaves the set. A string that does not parse raises Spark's
    ``ParseException``, as ``F.expr`` would."""
    with _PARSE_LOCK:
        if text in _PARSED:
            return _PARSED[text]
        try:
            jparser = spark._jsparkSession.sessionState().sqlParser()
            tree = _tree(jparser.parseExpression(text))
        except _Outside:
            tree = None
        _PARSED[text] = tree
        if len(_PARSED) > _PARSED_MAX:
            del _PARSED[next(iter(_PARSED))]
        return tree


def _tree(j) -> tuple:
    """A parsed (unresolved) Catalyst expression as nested tuples."""
    name = j.getClass().getSimpleName()
    if name == "UnresolvedAttribute":
        parts = j.nameParts()
        if parts.size() != 1:
            raise _Outside(name)
        return ("col", parts.apply(0))
    if name == "Literal":
        t = _LITERALS.get(j.dataType().catalogString())
        if t is None:
            raise _Outside(name)
        v = j.value()
        return ("lit", v.toString() if v is not None and t == pa.string() else v, t)
    op = _COMPARE.get(name) or _NODES.get(name)
    if op is None:
        raise _Outside(name)
    kids = j.children()
    args = [_tree(kids.apply(i)) for i in range(kids.size())]
    return ("compare", op, *args) if name in _COMPARE else (op, *args)


def mask(
    tree: tuple | None, tbl: pa.Table, types: T.StructType
) -> np.ndarray | None:
    """The rows of ``tbl``, whose Spark schema is ``types``, where
    ``tree`` is TRUE (NULL is false), or None when it must be evaluated
    in Spark (``tree`` None included)."""
    if tree is None:
        return None
    try:
        v, t = _eval(tree, tbl, types)
    except _Outside:
        return None
    if not pa.types.is_boolean(t):
        return None  # Spark's analyzer decides what a non-boolean filter means
    if isinstance(v, pa.Scalar):
        return np.full(tbl.num_rows, v.as_py() is True)
    return pc.fill_null(v, False).to_numpy(zero_copy_only=False)


def _eval(node: tuple, tbl: pa.Table, types: T.StructType):
    """(value, Arrow type) of one node: an array over ``tbl``'s rows or
    a scalar."""
    kind = node[0]
    if kind == "col":
        name = node[1]
        if [c.lower() for c in tbl.column_names].count(name.lower()) != 1 or (
            name not in tbl.column_names
        ):
            raise _Outside(name)
        t = types[name].dataType
        collated = isinstance(t, T.StringType) and t != T.StringType()
        if collated or _CHAR_VARCHAR in types[name].metadata:
            raise _Outside(f"{name} {t}")
        col = tbl.column(name)
        return col, col.type
    if kind == "lit":
        return pa.scalar(node[1], node[2]), node[2]
    if kind in ("is_null", "is_valid"):
        return getattr(pc, kind)(_eval(node[1], tbl, types)[0]), pa.bool_()
    if kind in ("and", "or"):
        left, right = (_logical(n, tbl, types) for n in node[1:])
        return getattr(pc, f"{kind}_kleene")(left, right), pa.bool_()
    if kind == "not":
        return pc.invert(_logical(node[1], tbl, types)), pa.bool_()
    if kind == "compare":
        left, right = _common([_eval(n, tbl, types) for n in node[2:]])
        if left is None or right is None:
            return _NULL, pa.bool_()
        return getattr(pc, node[1])(left, right), pa.bool_()
    if kind == "null_safe":
        left, right = _common([_eval(n, tbl, types) for n in node[1:]])
        if left is None or right is None:
            other = right if left is None else left
            return (pa.scalar(True) if other is None else pc.is_null(other)), pa.bool_()
        both_null = pc.and_(pc.is_null(left), pc.is_null(right))
        return pc.or_(pc.fill_null(pc.equal(left, right), False), both_null), pa.bool_()
    # IN: value = item OR ... in Kleene logic, over the list's common type
    value, *items = _common([_eval(n, tbl, types) for n in node[1:]])
    out = pa.scalar(False)
    for item in items:
        hit = _NULL if value is None or item is None else pc.equal(value, item)
        out = pc.or_kleene(out, hit)
    return out, pa.bool_()


def _logical(node: tuple, tbl: pa.Table, types: T.StructType):
    """An operand of AND, OR or NOT: boolean, or a NULL literal."""
    v, t = _eval(node, tbl, types)
    if pa.types.is_null(t):
        return _NULL
    if not pa.types.is_boolean(t):
        raise _Outside("a non-boolean operand")
    return v


def _family(t: pa.DataType) -> str:
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if t in _NUMERIC:
        return "numeric"
    raise _Outside(str(t))


def _common(operands: list) -> list:
    """Compared operands' values in their common type, None for a NULL
    literal (Spark casts it to the other side's type)."""
    typed = [t for _, t in operands if not pa.types.is_null(t)]
    if len({_family(t) for t in typed}) > 1:
        raise _Outside("operands of two type families")
    wide = None
    if typed and _family(typed[0]) == "numeric":
        wide = max(typed, key=_NUMERIC.index)
        if wide == pa.float32() and any(pa.types.is_integer(t) for t in typed):
            raise _Outside("an integral against a FLOAT")
    out = []
    for v, t in operands:
        if pa.types.is_null(t):
            out.append(None)
            continue
        # a literal can't be NaN: only a function makes one
        if pa.types.is_floating(t) and not isinstance(v, pa.Scalar):
            if pc.any(pc.is_nan(v)).as_py():
                raise _Outside("NaN")
        out.append(v if wide is None or t == wide else pc.cast(v, wide, safe=False))
    return out
