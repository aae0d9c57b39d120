"""Predicate AST: build -> bind -> rewrite-NOT -> (a) Spark Column, (b) pruning.

Single source of truth for filters, used in two directions (inverse of the
reference's expr_to_predicate.rs:45 flow): the same bound predicate drives
driver-side metadata pruning AND compiles to a ``pyspark.sql.Column`` that is
re-applied in full on top of the pruned file scan — the reference's own
fail-safe "Inexact pushdown" pattern
(/root/reference/crates/integrations/datafusion/src/table/mod.rs:145-151).

Operator surface mirrors /root/reference/crates/iceberg/src/expr/mod.rs:40-60:
IsNull NotNull IsNan NotNan Lt LtEq Gt GtEq Eq NotEq StartsWith NotStartsWith
In NotIn, plus And/Or/Not/AlwaysTrue/AlwaysFalse.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable, List, Optional, Sequence, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources.datum import coerce_literal, to_comparable
from ..sources.types import NestedField, Schema, sql_ident

# --- operator names ---------------------------------------------------------
IS_NULL, NOT_NULL = "is_null", "not_null"
IS_NAN, NOT_NAN = "is_nan", "not_nan"
LT, LT_EQ, GT, GT_EQ, EQ, NOT_EQ = "lt", "lt_eq", "gt", "gt_eq", "eq", "not_eq"
STARTS_WITH, NOT_STARTS_WITH = "starts_with", "not_starts_with"
IN, NOT_IN = "in", "not_in"

_NEGATIONS = {
    IS_NULL: NOT_NULL, NOT_NULL: IS_NULL, IS_NAN: NOT_NAN, NOT_NAN: IS_NAN,
    LT: GT_EQ, GT_EQ: LT, GT: LT_EQ, LT_EQ: GT, EQ: NOT_EQ, NOT_EQ: EQ,
    STARTS_WITH: NOT_STARTS_WITH, NOT_STARTS_WITH: STARTS_WITH,
    IN: NOT_IN, NOT_IN: IN,
}


class Predicate:
    """Base class; all predicates are immutable."""

    def __and__(self, other: "Predicate") -> "Predicate":
        return and_(self, other)

    def __or__(self, other: "Predicate") -> "Predicate":
        return or_(self, other)

    def __invert__(self) -> "Predicate":
        return not_(self)


@dataclass(frozen=True)
class AlwaysTrue(Predicate):
    def __repr__(self) -> str:
        return "TRUE"


@dataclass(frozen=True)
class AlwaysFalse(Predicate):
    def __repr__(self) -> str:
        return "FALSE"


ALWAYS_TRUE = AlwaysTrue()
ALWAYS_FALSE = AlwaysFalse()


@dataclass(frozen=True)
class And(Predicate):
    left: Predicate
    right: Predicate

    def __repr__(self) -> str:
        return f"({self.left} AND {self.right})"


@dataclass(frozen=True)
class Or(Predicate):
    left: Predicate
    right: Predicate

    def __repr__(self) -> str:
        return f"({self.left} OR {self.right})"


@dataclass(frozen=True)
class Not(Predicate):
    child: Predicate

    def __repr__(self) -> str:
        return f"NOT({self.child})"


@dataclass(frozen=True)
class UnaryPred(Predicate):
    op: str
    term: str  # column name (unbound) — binding attaches the field

    def __repr__(self) -> str:
        return f"{self.term} {self.op}"


@dataclass(frozen=True)
class BinaryPred(Predicate):
    op: str
    term: str
    literal: Any

    def __repr__(self) -> str:
        return f"{self.term} {self.op} {self.literal!r}"


@dataclass(frozen=True)
class SetPred(Predicate):
    op: str
    term: str
    literals: Tuple[Any, ...]

    def __repr__(self) -> str:
        return f"{self.term} {self.op} {self.literals!r}"


# --- bound forms ------------------------------------------------------------

@dataclass(frozen=True)
class BoundUnaryPred(Predicate):
    op: str
    field: NestedField


@dataclass(frozen=True)
class BoundBinaryPred(Predicate):
    op: str
    field: NestedField
    literal: Any


@dataclass(frozen=True)
class BoundSetPred(Predicate):
    op: str
    field: NestedField
    literals: Tuple[Any, ...]


# --- constructors -----------------------------------------------------------

def and_(*preds: Predicate) -> Predicate:
    out: Predicate = ALWAYS_TRUE
    for p in preds:
        if isinstance(p, AlwaysFalse):
            return ALWAYS_FALSE
        if isinstance(p, AlwaysTrue):
            continue
        out = p if isinstance(out, AlwaysTrue) else And(out, p)
    return out


def or_(*preds: Predicate) -> Predicate:
    out: Predicate = ALWAYS_FALSE
    for p in preds:
        if isinstance(p, AlwaysTrue):
            return ALWAYS_TRUE
        if isinstance(p, AlwaysFalse):
            continue
        out = p if isinstance(out, AlwaysFalse) else Or(out, p)
    return out


def not_(p: Predicate) -> Predicate:
    if isinstance(p, AlwaysTrue):
        return ALWAYS_FALSE
    if isinstance(p, AlwaysFalse):
        return ALWAYS_TRUE
    if isinstance(p, Not):
        return p.child
    return Not(p)


class ColRef:
    """Expression-builder handle: ``col('x') > 5`` -> BinaryPred."""

    def __init__(self, name: str):
        self._name = name

    def is_null(self) -> Predicate:
        return UnaryPred(IS_NULL, self._name)

    def not_null(self) -> Predicate:
        return UnaryPred(NOT_NULL, self._name)

    def is_nan(self) -> Predicate:
        return UnaryPred(IS_NAN, self._name)

    def not_nan(self) -> Predicate:
        return UnaryPred(NOT_NAN, self._name)

    def __lt__(self, v: Any) -> Predicate:
        return BinaryPred(LT, self._name, v)

    def __le__(self, v: Any) -> Predicate:
        return BinaryPred(LT_EQ, self._name, v)

    def __gt__(self, v: Any) -> Predicate:
        return BinaryPred(GT, self._name, v)

    def __ge__(self, v: Any) -> Predicate:
        return BinaryPred(GT_EQ, self._name, v)

    def __eq__(self, v: Any) -> Predicate:  # type: ignore[override]
        return BinaryPred(EQ, self._name, v)

    def __ne__(self, v: Any) -> Predicate:  # type: ignore[override]
        return BinaryPred(NOT_EQ, self._name, v)

    def starts_with(self, v: str) -> Predicate:
        return BinaryPred(STARTS_WITH, self._name, v)

    def isin(self, vals: Sequence[Any]) -> Predicate:
        return SetPred(IN, self._name, tuple(vals))

    def not_in(self, vals: Sequence[Any]) -> Predicate:
        return SetPred(NOT_IN, self._name, tuple(vals))


def col(name: str) -> ColRef:
    return ColRef(name)


# --- rewrite NOT to leaves (De Morgan) --------------------------------------

def rewrite_not(p: Predicate) -> Predicate:
    """Push NOT down to leaves; after this no Not() nodes remain.
    Same normalization the reference applies before pruning
    (expr/visitors/rewrite_not.rs)."""
    if isinstance(p, Not):
        return _negate(rewrite_not(p.child))
    if isinstance(p, And):
        return and_(rewrite_not(p.left), rewrite_not(p.right))
    if isinstance(p, Or):
        return or_(rewrite_not(p.left), rewrite_not(p.right))
    return p


def _negate(p: Predicate) -> Predicate:
    if isinstance(p, AlwaysTrue):
        return ALWAYS_FALSE
    if isinstance(p, AlwaysFalse):
        return ALWAYS_TRUE
    if isinstance(p, And):
        return or_(_negate(p.left), _negate(p.right))
    if isinstance(p, Or):
        return and_(_negate(p.left), _negate(p.right))
    if isinstance(p, Not):
        return rewrite_not(p.child)
    if isinstance(p, (UnaryPred, BoundUnaryPred)):
        return type(p)(_NEGATIONS[p.op], *_term_args(p))
    if isinstance(p, (BinaryPred, BoundBinaryPred)):
        return type(p)(_NEGATIONS[p.op], *_term_args(p), p.literal)
    if isinstance(p, (BoundSetPred, SetPred)):
        return type(p)(_NEGATIONS[p.op], *_term_args(p), p.literals)
    raise TypeError(str(p))


def _term_args(p: Predicate) -> tuple:
    return (p.field,) if hasattr(p, "field") else (p.term,)


# --- bind -------------------------------------------------------------------

def bind(p: Predicate, schema: Schema, case_sensitive: bool = True) -> Predicate:
    """Resolve column names to schema fields; NOT is rewritten away first."""
    p = rewrite_not(p)

    def _bind(q: Predicate) -> Predicate:
        if isinstance(q, (AlwaysTrue, AlwaysFalse)):
            return q
        if isinstance(q, And):
            return and_(_bind(q.left), _bind(q.right))
        if isinstance(q, Or):
            return or_(_bind(q.left), _bind(q.right))
        if isinstance(q, UnaryPred):
            return BoundUnaryPred(q.op, _field(q.term))
        if isinstance(q, BinaryPred):
            f = _field(q.term)
            return BoundBinaryPred(
                q.op, f, coerce_literal(q.literal, f.field_type))
        if isinstance(q, SetPred):
            if not q.literals:
                return ALWAYS_FALSE if q.op == IN else ALWAYS_TRUE
            f = _field(q.term)
            return BoundSetPred(
                q.op, f,
                tuple(coerce_literal(v, f.field_type) for v in q.literals))
        if isinstance(q, (BoundUnaryPred, BoundBinaryPred, BoundSetPred)):
            return q
        raise TypeError(str(q))

    def _field(name: str) -> NestedField:
        f = schema.field_by_name(name, case_sensitive)
        if f is None:
            raise ValueError(f"cannot bind: no field named {name!r} in schema {schema.schema_id}")
        return f

    return _bind(p)


# --- compile to Spark Column ------------------------------------------------

def to_spark_column(p: Predicate, schema: Optional[Schema] = None) -> Column:
    """The predicate as a Spark Column. Each name part is quoted, so a
    backtick or dot inside a column name reads literally: a bound field
    resolves to its struct path in ``schema`` (the schema it was bound
    with; without one, to its own name), an unbound term splits on dots
    into a struct path."""
    if isinstance(p, AlwaysTrue):
        return F.lit(True)
    if isinstance(p, AlwaysFalse):
        return F.lit(False)
    if isinstance(p, And):
        return to_spark_column(p.left, schema) & to_spark_column(p.right, schema)
    if isinstance(p, Or):
        return to_spark_column(p.left, schema) | to_spark_column(p.right, schema)
    if isinstance(p, Not):
        return ~to_spark_column(p.child, schema)
    if not hasattr(p, "field"):
        parts = p.term.split(".")
    elif schema is not None:
        parts = schema.field_path(p.field.field_id)
    else:
        parts = (p.field.name,)
    c = F.col(".".join(sql_ident(x) for x in parts))
    if isinstance(p, (UnaryPred, BoundUnaryPred)):
        return {IS_NULL: c.isNull(), NOT_NULL: c.isNotNull(),
                IS_NAN: F.isnan(c), NOT_NAN: ~F.isnan(c)}[p.op]
    if isinstance(p, (BinaryPred, BoundBinaryPred)):
        v = p.literal
        if p.op == LT:
            return c < v
        if p.op == LT_EQ:
            return c <= v
        if p.op == GT:
            return c > v
        if p.op == GT_EQ:
            return c >= v
        if p.op == EQ:
            return c == v
        if p.op == NOT_EQ:
            return c != v
        if p.op == STARTS_WITH:
            return c.startswith(v)
        if p.op == NOT_STARTS_WITH:
            return ~c.startswith(v)
    if isinstance(p, (SetPred, BoundSetPred)):
        if p.op == IN:
            return c.isin(list(p.literals))
        return ~c.isin(list(p.literals))
    raise TypeError(str(p))


# --- evaluate against a concrete row (dict) ---------------------------------

def evaluate_row(p: Predicate, row: dict) -> bool:
    """Evaluate a (bound or unbound) predicate against a plain dict row — used
    by the ExpressionEvaluator for exact partition-value matching
    (counterpart of expr/visitors/expression_evaluator.rs:46)."""
    if isinstance(p, AlwaysTrue):
        return True
    if isinstance(p, AlwaysFalse):
        return False
    if isinstance(p, And):
        return evaluate_row(p.left, row) and evaluate_row(p.right, row)
    if isinstance(p, Or):
        return evaluate_row(p.left, row) or evaluate_row(p.right, row)
    if isinstance(p, Not):
        return not evaluate_row(p.child, row)
    name = p.field.name if hasattr(p, "field") else p.term
    v = to_comparable(row.get(name))
    if isinstance(p, (UnaryPred, BoundUnaryPred)):
        if p.op == IS_NULL:
            return v is None
        if p.op == NOT_NULL:
            return v is not None
        if p.op == IS_NAN:
            return v is not None and isinstance(v, float) and math.isnan(v)
        if p.op == NOT_NAN:
            return v is not None and not (isinstance(v, float) and math.isnan(v))
    if v is None:
        return False
    if isinstance(p, (BinaryPred, BoundBinaryPred)):
        lit = to_comparable(p.literal)
        if p.op == LT:
            return v < lit
        if p.op == LT_EQ:
            return v <= lit
        if p.op == GT:
            return v > lit
        if p.op == GT_EQ:
            return v >= lit
        if p.op == EQ:
            return v == lit
        if p.op == NOT_EQ:
            return v != lit
        if p.op == STARTS_WITH:
            return isinstance(v, str) and v.startswith(lit)
        if p.op == NOT_STARTS_WITH:
            return isinstance(v, str) and not v.startswith(lit)
    if isinstance(p, (SetPred, BoundSetPred)):
        lits = {to_comparable(x) for x in p.literals}
        return (v in lits) if p.op == IN else (v not in lits)
    raise TypeError(str(p))


def referenced_columns(p: Predicate) -> List[str]:
    out: List[str] = []

    def walk(q: Predicate) -> None:
        if isinstance(q, (And, Or)):
            walk(q.left)
            walk(q.right)
        elif isinstance(q, Not):
            walk(q.child)
        elif hasattr(q, "field"):
            out.append(q.field.name)
        elif hasattr(q, "term"):
            out.append(q.term)

    walk(p)
    return out
