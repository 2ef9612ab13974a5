"""MongoDB-style metadata filter DSL compiled to PySpark ``Column`` predicates.

The reference engine (morphik-core) compiles the same DSL to PostgreSQL WHERE
clauses over a JSONB column + a side ``metadata_types`` hint map
(`core/database/metadata_filters.py:29` in /root/reference). Here the target
is a Catalyst expression tree over:

- ``metadata``: a JSON *string* column (arbitrary user metadata), and
- ``metadata_types``: a ``map<string,string>`` (or JSON string) column of
  declared types per top-level field.

Everything compiles to built-in JVM expressions (``get_json_object``,
variant functions, ``rlike`` ...) so predicates stay inside whole-stage
codegen and — crucially for the 100 TB target — remain visible to Catalyst
for pushdown/pruning. No Python UDFs anywhere in the filter path.

Operator semantics mirrored from the reference (file:line cites are into
/root/reference/core/database/metadata_filters.py):

- implicit ``{f: v}``     → strict JSONB containment OR array membership (:352-392)
- ``$and/$or/$nor/$not``  → boolean combinators; a bare list is OR (:67-110)
- ``$eq $ne $gt ...``     → typed comparison via per-type guarded casts
                            (:233-269); ``$ne`` is NOT(eq) so NULL/missing
                            rows are *excluded* (:145-151)
- ``$in / $nin``          → OR of containment clauses / NOT of it (:152-159)
- ``$exists``             → top-level key presence, like JSONB ``?`` (:219-231)
- ``$type``               → declared-type check, jsonb_typeof fallback (:340-379)
- ``$regex``              → unanchored regex, optional 'i' flag, applied
                            per-element to string arrays (:423-480)
- ``$contains``           → substring, default case-insensitive, array-aware
                            (:481-540)
- column fields           → routed to plain columns (e.g. ``filename``) with
                            their own operator set (:612+)

Documented deviations from the reference:

- Cast failures yield NULL (row excluded) instead of a Postgres runtime
  error — i.e. ``try_cast`` semantics, same as the DuckDB oracle's TRY_CAST.
- ``$regex`` uses Java regex rather than POSIX; the common subset is
  identical.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from datetime import date, datetime
from decimal import Decimal, InvalidOperation
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from morphik_core_spark.operators.typed_metadata import TypedMetadataError, canonical_type

__all__ = ["InvalidMetadataFilterError", "MetadataFilterCompiler", "compile_filters"]


class InvalidMetadataFilterError(ValueError):
    """Raised when a metadata filter expression is malformed."""


_DECIMAL_TYPE = "decimal(38,12)"

# compiled predicates a compiler remembers (least recently used evicted)
_COMPILED_CAPACITY = 256

# schema_of_variant() → canonical metadata type (jsonb_typeof analog).
_NUMERIC_SCHEMA_PREFIXES = ("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE", "DECIMAL")


def _json_key_path(field: str) -> str:
    """JSON path addressing `field` as a literal top-level key.

    Bracket notation keeps dots in field names literal, matching the
    reference's single-key ``->>`` access.
    """
    escaped = field.replace("'", "\\'")
    return f"$['{escaped}']"


def _bool_and(clauses: list[Column]) -> Column:
    out = clauses[0]
    for c in clauses[1:]:
        out = out & c
    return out


def _bool_or(clauses: list[Column]) -> Column:
    out = clauses[0]
    for c in clauses[1:]:
        out = out | c
    return out


class MetadataFilterCompiler:
    """Compile filter dicts into a single boolean ``Column``."""

    def __init__(
        self,
        metadata_col: str = "metadata",
        types_col: str | None = "metadata_types",
        types_kind: str = "map",  # 'map' | 'json' — physical type of types_col
        column_fields: dict[str, str] | None = None,
        metadata_kind: str = "json",  # 'json' (string col) | 'variant' (pre-parsed)
    ) -> None:
        """``metadata_kind='variant'`` targets a pre-parsed VariantType
        column ("shred at ingest"): every predicate then skips the repeated
        per-branch JSON parse — the right physical layout at scale. The
        compiled semantics are identical; only ``->>`` of container values
        differs (variant text extraction NULLs objects/arrays instead of
        returning their JSON text, which only affects $regex/$contains on
        non-scalar fields)."""
        self._meta_name = metadata_col
        self._types_col = types_col
        self._types_kind = types_kind
        self._metadata_kind = metadata_kind
        self._column_fields = column_fields if column_fields is not None else {"filename": "filename"}
        # a compile is ~70 ms of py4j round trips; serving repeats the same
        # few filters, so recent results are kept per compiler, keyed by
        # _filter_key. Columns belong to one SparkContext: a new one
        # empties the store.
        self._compiled: OrderedDict[tuple, Column] = OrderedDict()
        self._compiled_sc: SparkContext | None = None
        self._compiled_lock = threading.Lock()

    # Column objects need an active session; build them lazily per use.
    @property
    def _meta(self) -> Column:
        return F.col(self._meta_name)

    @property
    def _variant(self) -> Column:
        if self._metadata_kind == "variant":
            return F.col(self._meta_name)
        return F.parse_json(F.col(self._meta_name))

    # ---------------------------------------------------------------- public

    def compile(self, filters: dict[str, Any] | None) -> Column:
        """Return a boolean Column; a None/empty filter matches everything."""
        if filters is None:
            return F.lit(True)
        if not isinstance(filters, dict):
            raise InvalidMetadataFilterError("Metadata filters must be provided as a JSON object.")
        if not filters:
            return F.lit(True)
        key = _filter_key(filters)
        if key is None:
            return self._expr(filters, context="metadata filter")
        sc = SparkContext._active_spark_context
        with self._compiled_lock:
            if sc is not self._compiled_sc:
                self._compiled.clear()
                self._compiled_sc = sc
            hit = self._compiled.get(key)
            if hit is not None:
                self._compiled.move_to_end(key)
                return hit
        # invalid filters raise here, so they are never remembered
        compiled = self._expr(filters, context="metadata filter")
        with self._compiled_lock:
            if sc is self._compiled_sc:
                self._compiled[key] = compiled
                if len(self._compiled) > _COMPILED_CAPACITY:
                    self._compiled.popitem(last=False)
        return compiled

    # ------------------------------------------------------------ tree walk

    def _expr(self, expression: Any, context: str) -> Column:
        if isinstance(expression, dict):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be empty.")
            clauses: list[Column] = []
            for key, value in expression.items():
                if key in ("$and", "$or", "$nor"):
                    if not isinstance(value, list) or not value:
                        raise InvalidMetadataFilterError(f"{key} operator expects a non-empty list of conditions.")
                    subs = [self._expr(item, context=f"{key} condition") for item in value]
                    if key == "$and":
                        clauses.append(_bool_and(subs))
                    elif key == "$or":
                        clauses.append(_bool_or(subs))
                    else:
                        clauses.append(~_bool_or(subs))
                elif key == "$not":
                    clauses.append(~self._expr(value, context='operator "$not"'))
                else:
                    clauses.append(self._field_clause(key, value))
            return _bool_and(clauses)

        if isinstance(expression, list):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be an empty list.")
            return _bool_or([self._expr(item, context="nested condition") for item in expression])

        raise InvalidMetadataFilterError(f"{context.capitalize()} must be expressed as a JSON object.")

    def _field_clause(self, field: str, value: Any) -> Column:
        if field in self._column_fields:
            return self._column_field_clause(field, value)
        if isinstance(value, dict) and value and not any(k.startswith("$") for k in value):
            return self._containment(field, value)
        if isinstance(value, dict):
            return self._operator_block(field, value)
        if isinstance(value, list):
            return self._any_of(field, value)
        return self._containment(field, value)

    def _operator_block(self, field: str, operators: dict[str, Any]) -> Column:
        if not operators:
            raise InvalidMetadataFilterError(f"Operator block for field '{field}' must be a non-empty object.")
        clauses: list[Column] = []
        for op, operand in operators.items():
            if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
                cmp = self._typed_comparison(field, op, operand)
                clauses.append(~cmp if op == "$ne" else cmp)
            elif op in ("$in", "$nin"):
                if not isinstance(operand, list):
                    raise InvalidMetadataFilterError(f"{op} operator for field '{field}' expects a list of values.")
                hit = self._any_of(field, operand)
                clauses.append(~hit if op == "$nin" else hit)
            elif op == "$exists":
                clauses.append(self._exists(field, operand))
            elif op == "$not":
                clauses.append(~self._field_clause(field, operand))
            elif op == "$type":
                clauses.append(self._type_check(field, operand))
            elif op == "$regex":
                clauses.append(self._regex(field, operand))
            elif op == "$contains":
                clauses.append(self._contains(field, operand))
            else:
                raise InvalidMetadataFilterError(f"Unsupported metadata filter operator '{op}' for field '{field}'.")
        return _bool_and(clauses)

    def _any_of(self, field: str, values: list[Any]) -> Column:
        if not isinstance(values, list) or not values:
            raise InvalidMetadataFilterError(f"Filter list for field '{field}' must contain at least one value.")
        clauses = []
        for item in values:
            if isinstance(item, dict) and any(k.startswith("$") for k in item):
                clauses.append(self._operator_block(field, item))
            else:
                clauses.append(self._containment(field, item))
        return _bool_or(clauses)

    # --------------------------------------------------------- JSON helpers

    def _text(self, field: str) -> Column:
        """Raw text of a top-level field (Postgres ``->>`` analog)."""
        if self._metadata_kind == "variant":
            return F.try_variant_get(self._meta, _json_key_path(field), "string")
        return F.get_json_object(self._meta, _json_key_path(field))

    def _field_variant(self, field: str) -> Column:
        return F.try_variant_get(self._variant, _json_key_path(field), "variant")

    def _variant_at(self, path: str) -> Column:
        return F.try_variant_get(self._variant, path, "variant")

    def _typeof(self, v: Column) -> Column:
        """Canonical runtime type of a variant value (jsonb_typeof analog)."""
        schema = F.schema_of_variant(v)
        return (
            F.when(schema.isNull(), F.lit(None).cast("string"))
            .when(schema == "VOID", F.lit("null"))
            .when(schema == "STRING", F.lit("string"))
            .when(schema == "BOOLEAN", F.lit("boolean"))
            .when(schema.startswith("ARRAY"), F.lit("array"))
            .when(schema.startswith("OBJECT"), F.lit("object"))
            .otherwise(F.lit("number"))  # all numeric variants
        )

    def _declared_type(self, field: str) -> Column:
        """Declared type hint for a field, NULL when absent."""
        if not self._types_col:
            return F.lit(None).cast("string")
        if self._types_kind == "map":
            return F.col(self._types_col).getItem(field)
        return F.get_json_object(F.col(self._types_col), _json_key_path(field))

    def _array_elements(self, field: str) -> Column:
        """Field as array<variant>, NULL when the field is not a JSON array."""
        return F.try_variant_get(self._variant, _json_key_path(field), "array<variant>")

    # -------------------------------------------------- containment (impl. eq)

    def _containment(self, field: str, value: Any) -> Column:
        """Strict JSONB-containment equality + array membership.

        Mirrors `@>` semantics (:352-392): the scalar/object/array pattern
        must be *contained* in the field value; a scalar also matches when
        the field is an array holding it.
        """
        base = self._contained_at(_json_key_path(field), value)
        if value is None or isinstance(value, (str, int, float, bool)):
            arr = self._array_elements(field)
            member = arr.isNotNull() & F.exists(arr, lambda e: self._variant_equals(e, value))
            return base | member
        return base

    def _contained_at(self, path: str, value: Any) -> Column:
        v = self._variant_at(path)
        if isinstance(value, dict):
            if not value:
                # empty object pattern: matches any object (containment)
                return self._typeof(v) == "object"
            clauses = []
            for k, sub in value.items():
                sub_path = path + f"['{str(k).replace(chr(39), chr(92) + chr(39))}']"
                clauses.append(self._contained_at(sub_path, sub))
            return (self._typeof(v) == "object") & _bool_and(clauses)
        if isinstance(value, list):
            arr = F.try_variant_get(self._variant, path, "array<variant>")
            if not value:
                return arr.isNotNull()
            elem_clauses = []
            for item in value:
                if isinstance(item, (dict, list)):
                    raise InvalidMetadataFilterError(
                        "Nested containers inside array containment patterns are not supported; "
                        "use $contains/$regex or flatten the pattern."
                    )
                elem_clauses.append(F.exists(arr, self._element_matcher(item)))
            return arr.isNotNull() & _bool_and(elem_clauses)
        return self._variant_equals(v, value)

    def _element_matcher(self, item: Any) -> Callable[[Column], Column]:
        """Single-arg lambda for F.exists (pyspark infers lambda arity, so
        the captured value must NOT appear in the signature)."""
        return lambda e: self._variant_equals(e, item)

    def _variant_equals(self, v: Column, value: Any) -> Column:
        """Strict typed equality of a variant value against a Python literal."""
        t = self._typeof(v)
        if value is None:
            return t == "null"
        if isinstance(value, bool):
            return (t == "boolean") & (v.cast("boolean") == F.lit(value))
        if isinstance(value, (int, float)):
            return (t == "number") & (v.cast("double") == F.lit(float(value)))
        if isinstance(value, str):
            return (t == "string") & (v.cast("string") == F.lit(value))
        raise InvalidMetadataFilterError(
            f"Metadata filter contains a non-serializable value: {value!r}. "
            "Use explicit operators like {'$eq': value} for typed comparisons."
        )

    # ------------------------------------------------------ typed comparison

    def _typed_comparison(self, field: str, op: str, operand: Any) -> Column:
        """Per-declared-type guarded comparison; branches OR-ed (:233-269)."""
        apply = _COMPARATORS[op]
        text = self._text(field)
        declared = self._declared_type(field)
        branches: list[Column] = []

        numeric_literal = _numeric_literal(operand)
        if numeric_literal is not None:
            num_val = F.when(declared == "number", text.try_cast("double"))
            branches.append(apply(num_val, F.lit(numeric_literal).cast("double")))
            dec_val = F.when(declared == "decimal", text.try_cast(_DECIMAL_TYPE))
            branches.append(apply(dec_val, F.lit(numeric_literal).cast(_DECIMAL_TYPE)))

        dt_literal = _datetime_literal(operand)
        if dt_literal is not None:
            ts_val = F.when(declared == "datetime", text.try_cast("timestamp"))
            branches.append(apply(ts_val, F.lit(dt_literal).cast("timestamp")))

        date_literal = _date_literal(operand)
        if date_literal is not None:
            d_val = F.when(declared == "date", text.try_cast("date"))
            branches.append(apply(d_val, F.lit(date_literal).cast("date")))

        if op in ("$eq", "$ne") and isinstance(operand, str):
            is_string = F.coalesce(declared, F.lit("string")) == "string"
            branches.append(is_string & apply(text, F.lit(operand)))

        if not branches:
            raise InvalidMetadataFilterError(
                f"Operator '{op}' for field '{field}' requires a numeric, decimal, "
                "ISO8601 date/datetime, or string value."
            )
        return _bool_or(branches)

    # ------------------------------------------------------- other operators

    def _exists(self, field: str, operand: Any) -> Column:
        expected = _coerce_exists_flag(operand, field)
        if self._metadata_kind == "variant":
            # explicit null → schema 'VOID' (present); missing → NULL schema
            present = F.schema_of_variant(self._field_variant(field)).isNotNull()
        else:
            present = F.array_contains(F.json_object_keys(self._meta), field)
        present = F.coalesce(present, F.lit(False))
        return present if expected else ~present

    def _type_check(self, field: str, operand: Any) -> Column:
        if isinstance(operand, str):
            names = [operand]
        elif isinstance(operand, list) and operand and all(isinstance(x, str) for x in operand):
            names = operand
        else:
            raise InvalidMetadataFilterError(
                f"$type operator for field '{field}' expects a string or list of strings."
            )
        try:
            canon = [canonical_type(n) for n in names]
        except TypedMetadataError as exc:
            raise InvalidMetadataFilterError(str(exc)) from exc

        if self._types_col:
            declared = F.coalesce(self._declared_type(field), F.lit("string"))
            return _bool_or([declared == t for t in canon])
        # Fallback: runtime type of the JSON value (reference :346-360 maps
        # decimal→number, datetime/date→string under jsonb_typeof).
        runtime_map = {"decimal": "number", "datetime": "string", "date": "string"}
        runtime = self._typeof(self._field_variant(field))
        return _bool_or([runtime == runtime_map.get(t, t) for t in canon])

    def _regex(self, field: str, operand: Any) -> Column:
        pattern, case_insensitive = _regex_operand(operand, field)
        jpattern = f"(?i){pattern}" if case_insensitive else pattern
        base = self._text(field).rlike(jpattern)
        arr = self._array_elements(field)
        member = arr.isNotNull() & F.exists(
            arr,
            lambda e: (F.schema_of_variant(e) == "STRING") & e.cast("string").rlike(jpattern),
        )
        return base | member

    def _contains(self, field: str, operand: Any) -> Column:
        value, case_sensitive = _contains_operand(operand, field)

        def hit(col: Column) -> Column:
            if case_sensitive:
                return col.contains(F.lit(value))
            return F.lower(col).contains(F.lit(value.lower()))

        base = hit(self._text(field))
        arr = self._array_elements(field)
        member = arr.isNotNull() & F.exists(
            arr, lambda e: (F.schema_of_variant(e) == "STRING") & hit(e.cast("string"))
        )
        return base | member

    # ---------------------------------------------------------- column fields

    def _column_field_clause(self, field: str, value: Any) -> Column:
        column = self._column_fields[field]
        builder = TextColumnFilterCompiler(column)
        if isinstance(value, dict):
            if not value:
                raise InvalidMetadataFilterError(f"{field} filter cannot be empty.")
            if any(k.startswith("$") for k in value):
                return builder.compile(value)
            raise InvalidMetadataFilterError(
                f"{field} filter must use operators (e.g., {{'{field}': {{'$eq': 'example.pdf'}}}})."
            )
        if isinstance(value, list):
            return builder.in_clause(value, negate=False)
        return builder.comparison("$eq", value)


class TextColumnFilterCompiler:
    """Operator filters over a single plain text column (e.g. ``filename``).

    Mirrors the reference's TextColumnFilterBuilder (:612-856): NULL-aware
    $eq/$ne (IS DISTINCT FROM), $in/$nin with explicit NULL entries, $exists,
    $regex, $contains, plus the boolean combinators.
    """

    def __init__(self, column: str) -> None:
        self._col = F.col(column)

    def compile(self, filters: dict[str, Any] | None) -> Column:
        if filters is None or (isinstance(filters, dict) and not filters):
            return F.lit(True)
        if not isinstance(filters, dict):
            raise InvalidMetadataFilterError("Filename filters must be provided as a JSON object.")
        return self._expr(filters, context="filename filter")

    def _expr(self, expression: Any, context: str) -> Column:
        if isinstance(expression, dict):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be empty.")
            clauses: list[Column] = []
            for key, value in expression.items():
                if key in ("$and", "$or", "$nor"):
                    if not isinstance(value, list) or not value:
                        raise InvalidMetadataFilterError(f"{key} operator expects a non-empty list of conditions.")
                    subs = [self._expr(item, context=f"{key} condition") for item in value]
                    clauses.append(
                        _bool_and(subs) if key == "$and" else (_bool_or(subs) if key == "$or" else ~_bool_or(subs))
                    )
                elif key == "$not":
                    clauses.append(~self._expr(value, context='operator "$not"'))
                else:
                    clauses.append(self._operator(key, value))
            return _bool_and(clauses)
        if isinstance(expression, list):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be an empty list.")
            return _bool_or([self._expr(item, context="nested condition") for item in expression])
        raise InvalidMetadataFilterError(f"{context.capitalize()} must be expressed as a JSON object.")

    def _operator(self, op: str, operand: Any) -> Column:
        if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
            return self.comparison(op, operand)
        if op == "$in":
            return self.in_clause(operand, negate=False)
        if op == "$nin":
            return self.in_clause(operand, negate=True)
        if op == "$exists":
            expected = _coerce_exists_flag(operand, "filename")
            return self._col.isNotNull() if expected else self._col.isNull()
        if op == "$regex":
            pattern, ci = _regex_operand(operand, "filename")
            return self._col.rlike(f"(?i){pattern}" if ci else pattern)
        if op == "$contains":
            value, case_sensitive = _contains_operand(operand, "filename")
            if case_sensitive:
                return self._col.contains(F.lit(value))
            return F.lower(self._col).contains(F.lit(value.lower()))
        raise InvalidMetadataFilterError(f"Unsupported filename filter operator '{op}'.")

    def comparison(self, op: str, operand: Any) -> Column:
        if op == "$eq":
            if operand is None:
                return self._col.isNull()
            if not isinstance(operand, str):
                raise InvalidMetadataFilterError("Filename $eq operator expects a string value.")
            return self._col == F.lit(operand)
        if op == "$ne":
            if operand is None:
                return self._col.isNotNull()
            if not isinstance(operand, str):
                raise InvalidMetadataFilterError("Filename $ne operator expects a string value.")
            return ~self._col.eqNullSafe(F.lit(operand))  # IS DISTINCT FROM
        if operand is None or not isinstance(operand, str):
            raise InvalidMetadataFilterError(f"Filename {op} operator expects a string value.")
        return _COMPARATORS[op](self._col, F.lit(operand))

    def in_clause(self, operand: Any, negate: bool) -> Column:
        if not isinstance(operand, list) or not operand:
            raise InvalidMetadataFilterError("Filename $in/$nin operator expects a non-empty list of values.")
        has_null = any(item is None for item in operand)
        values = [item for item in operand if item is not None]
        if not all(isinstance(v, str) for v in values):
            raise InvalidMetadataFilterError("Filename $in/$nin operator expects string values.")

        if not negate:
            clauses = []
            if values:
                clauses.append(self._col.isin(values))
            if has_null:
                clauses.append(self._col.isNull())
            return _bool_or(clauses)
        if has_null:
            if values:
                return self._col.isNotNull() & ~self._col.isin(values)
            return self._col.isNotNull()
        return self._col.isNull() | ~self._col.isin(values)


# ------------------------------------------------------------- module-level

_COMPARATORS: dict[str, Callable[[Column, Column], Column]] = {
    "$eq": lambda a, b: a == b,
    "$ne": lambda a, b: a == b,  # caller wraps in NOT
    "$gt": lambda a, b: a > b,
    "$gte": lambda a, b: a >= b,
    "$lt": lambda a, b: a < b,
    "$lte": lambda a, b: a <= b,
}


def _filter_key(value: Any) -> tuple | None:
    """Canonical, type-preserving rendering of a filter value: ``1``,
    ``1.0``, ``True``, ``"1"``, a date, a datetime and a ``Decimal`` all
    render differently, and dict keys are sorted (clauses of one object
    are ANDed, so their order does not change the predicate). None when
    the value holds a type not rendered here (a tuple, a subclass, a numpy
    scalar): such a filter is compiled afresh every time."""
    t = type(value)
    if t is dict:
        items = []
        for k, v in value.items():
            kk, vv = _filter_key(k), _filter_key(v)
            if kk is None or vv is None:
                return None
            items.append((kk, vv))
        return ("dict", tuple(sorted(items, key=repr)))
    if t is list:
        items = [_filter_key(v) for v in value]
        return None if any(i is None for i in items) else ("list", tuple(items))
    if value is None:
        return ("null",)
    if t in (bool, int, str):
        return (t.__name__, value)
    if t is float:
        return ("float", value.hex())
    if t is Decimal:
        return ("decimal", str(value))
    if t is datetime:
        return ("datetime", value.isoformat(), repr(value.tzinfo))
    if t is date:
        return ("date", value.isoformat())
    return None


def compile_filters(
    filters: dict[str, Any] | None,
    metadata_col: str = "metadata",
    types_col: str | None = "metadata_types",
    types_kind: str = "map",
) -> Column:
    """One-shot convenience wrapper around MetadataFilterCompiler."""
    return MetadataFilterCompiler(metadata_col, types_col, types_kind).compile(filters)


def _numeric_literal(operand: Any) -> str | None:
    """Normalized numeric text, or None when the operand is not numeric."""
    if isinstance(operand, bool) or operand is None:
        return None
    if isinstance(operand, (int, float, Decimal)):
        text = str(operand)
    elif isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
    else:
        return None
    try:
        value = Decimal(text)
    except (InvalidOperation, ValueError):
        return None
    normalized = format(value.normalize(), "f")
    if "." in normalized:
        normalized = normalized.rstrip("0").rstrip(".")
    return normalized or "0"


def _datetime_literal(operand: Any) -> str | None:
    """ISO datetime text for a datetime-compatible operand, else None."""
    if isinstance(operand, datetime):
        return operand.isoformat()
    if isinstance(operand, date):
        return datetime(operand.year, operand.month, operand.day).isoformat()
    if isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
        if text.endswith("Z"):
            text = text[:-1] + "+00:00"
        try:
            return datetime.fromisoformat(text).isoformat()
        except ValueError:
            return None
    return None


def _date_literal(operand: Any) -> str | None:
    """ISO date text for a date-compatible operand, else None."""
    if isinstance(operand, datetime):
        return operand.date().isoformat()
    if isinstance(operand, date):
        return operand.isoformat()
    if isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
        try:
            return date.fromisoformat(text.split("T", 1)[0]).isoformat()
        except ValueError:
            return None
    return None


def _coerce_exists_flag(operand: Any, field: str) -> bool:
    if isinstance(operand, bool):
        return operand
    if isinstance(operand, str):
        return operand.lower() in {"1", "true", "yes"}
    if isinstance(operand, (int, float)):
        return bool(operand)
    raise InvalidMetadataFilterError(f"$exists operator for field '{field}' expects a boolean value.")


def _regex_operand(operand: Any, field: str) -> tuple[str, bool]:
    if isinstance(operand, str):
        return operand, False
    if isinstance(operand, dict):
        pattern = operand.get("pattern")
        if not isinstance(pattern, str) or not pattern:
            raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects a non-empty pattern.")
        flags = operand.get("flags", "")
        if not isinstance(flags, str):
            raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects flags to be a string.")
        bad = {f for f in flags if f not in {"", "i"}}
        if bad:
            raise InvalidMetadataFilterError(
                f"$regex operator for field '{field}' does not support flags: {', '.join(sorted(bad))}."
            )
        return pattern, "i" in flags
    raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects a string or object with 'pattern'.")


def _contains_operand(operand: Any, field: str) -> tuple[str, bool]:
    if isinstance(operand, str):
        return operand, False
    if isinstance(operand, dict):
        value = operand.get("value")
        if not isinstance(value, str) or not value:
            raise InvalidMetadataFilterError(f"$contains operator for field '{field}' expects a non-empty string value.")
        case_sensitive = operand.get("case_sensitive", False)
        if not isinstance(case_sensitive, bool):
            raise InvalidMetadataFilterError(
                f"$contains operator for field '{field}' expects 'case_sensitive' to be a boolean."
            )
        return value, case_sensitive
    raise InvalidMetadataFilterError(f"$contains operator for field '{field}' expects a string or object with 'value'.")
