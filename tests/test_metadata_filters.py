"""Filter-DSL semantics tests.

Mirrors the behavioral coverage of the reference's
core/tests/unit/test_metadata_filters.py — but asserts matched row sets on
real DataFrames instead of SQL strings.
"""

from __future__ import annotations

import json

import pytest

from morphik_core_spark.operators.metadata_filters import (
    InvalidMetadataFilterError,
    MetadataFilterCompiler,
)

ROWS = [
    # (id, metadata dict, metadata_types dict, filename)
    ("d01", {"department": "eng", "priority": 3, "active": True}, {"priority": "number"}, "Report_Q3.pdf"),
    ("d02", {"department": "eng", "priority": 7, "active": False}, {"priority": "number"}, "summary-final.PDF"),
    ("d03", {"department": "sales", "score": 1.5}, {"score": "number"}, None),
    ("d04", {"department": "Sales", "price": "10.500"}, {"price": "decimal"}, "notes.txt"),
    ("d05", {"price": "10.5"}, {"price": "decimal"}, "archive.tar.gz"),
    ("d06", {"published_at": "2024-03-05T10:00:00+00:00"}, {"published_at": "datetime"}, "a_b-c.doc"),
    ("d07", {"published_at": "2024-06-01T00:00:00+00:00", "due_date": "2024-06-15"}, {"published_at": "datetime", "due_date": "date"}, "x.png"),
    ("d08", {"tags": ["urgent", "Q3", "review"], "department": "eng"}, {"tags": "array"}, "plan.XLSX"),
    ("d09", {"tags": ["minor", 7], "notes": "50% off_deal 'quote'"}, {"tags": "array"}, "deal%.txt"),
    ("d10", {"author": {"name": "ann", "email": "a@x.io"}, "priority": "not-a-number"}, {"author": "object", "priority": "number"}, "Ann_CV.pdf"),
    ("d11", {"department": None, "priority": 3}, {"department": "null", "priority": "number"}, None),
    ("d12", {"department": "eng", "priority": "3"}, {}, "eng.txt"),  # priority is a STRING "3", no hint
    ("d13", {"author": {"name": "bo", "langs": ["py", "rs"]}}, {"author": "object"}, None),
]


@pytest.fixture(scope="module")
def docs(spark):
    data = [(i, json.dumps(m), t, f) for i, m, t, f in ROWS]
    df = spark.createDataFrame(
        data, "external_id string, metadata string, metadata_types map<string,string>, filename string"
    )
    return df.cache()


COMPILER = MetadataFilterCompiler()


def matched(docs, filters):
    col = COMPILER.compile(filters)
    return {r.external_id for r in docs.filter(col).select("external_id").collect()}


# ---------------------------------------------------------------- implicit


def test_implicit_string_equality(docs):
    assert matched(docs, {"department": "eng"}) == {"d01", "d02", "d08", "d12"}


def test_implicit_equality_is_type_strict(docs):
    # d12 has priority as the STRING "3"; containment of number 3 must skip it
    assert matched(docs, {"priority": 3}) == {"d01", "d11"}
    # and string "3" must not match the number rows
    assert matched(docs, {"priority": "3"}) == {"d12"}


def test_implicit_bool_and_null(docs):
    assert matched(docs, {"active": True}) == {"d01"}
    assert matched(docs, {"department": None}) == {"d11"}


def test_array_membership_for_scalars(docs):
    # scalar matches rows whose field is an array containing it (strictly typed)
    assert matched(docs, {"tags": "urgent"}) == {"d08"}
    assert matched(docs, {"tags": 7}) == {"d09"}
    assert matched(docs, {"tags": "7"}) == set()


def test_nested_object_containment(docs):
    assert matched(docs, {"author": {"name": "ann"}}) == {"d10"}
    assert matched(docs, {"author": {"name": "ann", "email": "a@x.io"}}) == {"d10"}
    assert matched(docs, {"author": {"name": "bob"}}) == set()


def test_toplevel_list_is_any_of(docs):
    # a list VALUE at a field = OR of per-value matches (reference
    # _build_list_clause :177-189), i.e. $in semantics — not contains-all
    assert matched(docs, {"tags": ["review", "urgent"]}) == {"d08"}
    assert matched(docs, {"tags": ["urgent", "nope"]}) == {"d08"}
    assert matched(docs, {"department": ["eng", "sales"]}) == {"d01", "d02", "d03", "d08", "d12"}


def test_nested_array_containment_is_contains_all(docs):
    # arrays INSIDE a containment pattern use @> contains-all semantics
    assert matched(docs, {"author": {"langs": ["py"]}}) == {"d13"}
    assert matched(docs, {"author": {"langs": ["rs", "py"]}}) == {"d13"}
    assert matched(docs, {"author": {"langs": ["py", "go"]}}) == set()


# -------------------------------------------------------------- combinators


def test_and_or_nor_not(docs):
    assert matched(docs, {"$and": [{"department": "eng"}, {"priority": {"$gte": 5}}]}) == {"d02"}
    assert matched(docs, {"$or": [{"department": "sales"}, {"priority": {"$gte": 7}}]}) == {"d02", "d03"}
    # $nor: neither eng nor sales (rows lacking department → NOT(NULL OR ...) semantics)
    nor = matched(docs, {"$nor": [{"department": "eng"}, {"department": "sales"}]})
    assert "d01" not in nor and "d03" not in nor
    assert "d04" in nor  # "Sales" ≠ "sales" (case-sensitive)
    assert matched(docs, {"$not": {"department": "eng"}}) == matched(docs, {"$nor": [{"department": "eng"}]})


def test_bare_list_is_or(docs):
    got = matched(docs, {"$and": [[{"department": "sales"}, {"department": "Sales"}]]})
    assert got == {"d03", "d04"}


def test_implicit_multiple_fields_anded(docs):
    assert matched(docs, {"department": "eng", "priority": 3}) == {"d01"}


# ---------------------------------------------------------- typed compares


def test_numeric_comparison(docs):
    assert matched(docs, {"priority": {"$gt": 3}}) == {"d02"}
    assert matched(docs, {"priority": {"$lte": 3}}) == {"d01", "d11"}
    # d10 has declared-number value "not-a-number": cast → NULL → excluded
    assert matched(docs, {"priority": {"$gte": 0}}) == {"d01", "d02", "d11"}


def test_ne_excludes_null_and_missing(docs):
    # $ne is NOT(OR of per-type branches). The branch guards are declared-type
    # CASEs, so for a numeric operand the decimal branch is NULL on
    # number-typed rows (and vice versa): FALSE OR NULL = NULL, NOT(NULL)
    # excludes the row. Exact reference parity (metadata_filters.py:145-151,
    # 233-269): $ne with a NUMERIC operand therefore matches nothing.
    assert matched(docs, {"priority": {"$ne": 3}}) == set()
    # string $ne has a single string branch: rows with a different string
    # value match; rows missing the field (NULL text → NULL compare) are
    # excluded; rows whose declared type is non-string get a FALSE guard and
    # NOT(FALSE) = TRUE, so they match too.
    assert matched(docs, {"department": {"$ne": "sales"}}) == {"d01", "d02", "d04", "d08", "d11", "d12"}


def test_decimal_comparison_normalizes(docs):
    # "10.500" and "10.5" are the same decimal
    assert matched(docs, {"price": {"$eq": "10.5"}}) == {"d04", "d05"}
    assert matched(docs, {"price": {"$eq": 10.5}}) == {"d04", "d05"}
    assert matched(docs, {"price": {"$gt": "10.49"}}) == {"d04", "d05"}


def test_datetime_and_date_comparison(docs):
    assert matched(docs, {"published_at": {"$gte": "2024-04-01T00:00:00Z"}}) == {"d07"}
    assert matched(docs, {"published_at": {"$lt": "2024-04-01T00:00:00+00:00"}}) == {"d06"}
    assert matched(docs, {"due_date": {"$eq": "2024-06-15"}}) == {"d07"}
    assert matched(docs, {"due_date": {"$lt": "2024-06-15"}}) == set()


def test_string_eq_defaults_to_string_type(docs):
    # d12 has no type hint for priority → COALESCE(...,'string') lets string
    # eq hit; the numeric branch ALSO fires for numeric-looking strings
    # (reference tries every coercible type branch and ORs them)
    assert matched(docs, {"priority": {"$eq": "3"}}) == {"d01", "d11", "d12"}
    assert matched(docs, {"department": {"$eq": "eng"}}) == {"d01", "d02", "d08", "d12"}


def test_in_accepts_operator_dicts(docs):
    # reference _build_list_clause: list items that are operator dicts
    # compile via the operator block (metadata_filters.py:182-186)
    got = matched(docs, {"priority": {"$in": [{"$gte": 5}, 3]}})
    assert got == {"d01", "d02", "d11"}  # 7 via $gte, 3s via containment


def test_in_nin(docs):
    assert matched(docs, {"department": {"$in": ["eng", "sales"]}}) == {"d01", "d02", "d03", "d08", "d12"}
    got = matched(docs, {"department": {"$nin": ["eng", "sales"]}})
    # NOT(containment-OR): rows where department is missing evaluate NULL → excluded;
    # d04 ("Sales") and d11 (explicit null dept → containment false, NOT false = true)
    assert "d04" in got and "d01" not in got and "d03" not in got


# ------------------------------------------------------------ $exists/$type


def test_exists(docs):
    assert matched(docs, {"price": {"$exists": True}}) == {"d04", "d05"}
    # explicit JSON null still counts as key-present (JSONB `?` semantics)
    assert "d11" in matched(docs, {"department": {"$exists": True}})
    no_price = matched(docs, {"price": {"$exists": False}})
    assert "d04" not in no_price and "d01" in no_price


def test_type_with_hints(docs):
    assert matched(docs, {"price": {"$type": "decimal"}}) == {"d04", "d05"}
    assert matched(docs, {"priority": {"$type": "number"}}) == {"d01", "d02", "d10", "d11"}
    # aliases canonicalize
    assert matched(docs, {"priority": {"$type": "int"}}) == matched(docs, {"priority": {"$type": "number"}})
    # untyped fields default to string
    assert "d12" in matched(docs, {"priority": {"$type": "string"}})


# ---------------------------------------------------------- $regex/$contains


def test_regex(docs):
    assert matched(docs, {"department": {"$regex": "^en"}}) == {"d01", "d02", "d08", "d12"}
    assert matched(docs, {"department": {"$regex": {"pattern": "^SALES$", "flags": "i"}}}) == {"d03", "d04"}
    # array elements participate
    assert matched(docs, {"tags": {"$regex": "^urg"}}) == {"d08"}


def test_regex_rejects_unknown_flags(docs):
    with pytest.raises(InvalidMetadataFilterError):
        matched(docs, {"department": {"$regex": {"pattern": "x", "flags": "gm"}}})


def test_contains_default_case_insensitive(docs):
    assert matched(docs, {"department": {"$contains": "SALes"}}) == {"d03", "d04"}
    assert matched(docs, {"department": {"$contains": {"value": "Sales", "case_sensitive": True}}}) == {"d04"}
    # substring chars like % and _ are literal, not wildcards
    assert matched(docs, {"notes": {"$contains": "50%"}}) == {"d09"}
    assert matched(docs, {"notes": {"$contains": "off_deal"}}) == {"d09"}
    assert matched(docs, {"notes": {"$contains": "5x%"}}) == set()
    # array-aware
    assert matched(docs, {"tags": {"$contains": "URGE"}}) == {"d08"}


# ------------------------------------------------------------ column fields


def test_filename_column_routing(docs):
    assert matched(docs, {"filename": "notes.txt"}) == {"d04"}
    assert matched(docs, {"filename": {"$eq": None}}) == {"d03", "d11", "d13"}
    assert matched(docs, {"filename": {"$ne": "notes.txt"}}) == {r[0] for r in ROWS} - {"d04"}  # IS DISTINCT FROM
    assert matched(docs, {"filename": {"$contains": "report"}}) == {"d01"}
    assert matched(docs, {"filename": {"$regex": {"pattern": r"\.pdf$", "flags": "i"}}}) == {"d01", "d02", "d10"}
    assert matched(docs, {"filename": ["notes.txt", "x.png", None]}) == {"d03", "d04", "d07", "d11", "d13"}
    assert matched(docs, {"filename": {"$nin": ["notes.txt", None]}}) == {r[0] for r in ROWS} - {"d03", "d04", "d11", "d13"}


# ----------------------------------------------------------------- errors


@pytest.mark.parametrize(
    "bad",
    [
        {"$and": "notalist"},
        {"$or": []},
        {"field": {}},
        {"field": {"$bogus": 1}},
        {"field": {"$in": "notalist"}},
        {"field": {"$gt": "not-a-number-or-date"}},
        {"field": {"$type": "fancy"}},
    ],
)
def test_malformed_filters_raise(docs, bad):
    with pytest.raises(InvalidMetadataFilterError):
        matched(docs, bad)


def test_none_and_empty_match_everything(docs):
    assert matched(docs, None) == {r[0] for r in ROWS}
    assert matched(docs, {}) == {r[0] for r in ROWS}


# ------------------------------------------------- variant-column parity


VARIANT_COMPILER = MetadataFilterCompiler(metadata_col="metadata_v", metadata_kind="variant")


@pytest.mark.parametrize(
    "filters",
    [
        {"department": "eng"},
        {"priority": 3},
        {"tags": "urgent"},
        {"tags": 7},
        {"author": {"name": "ann"}},
        {"$and": [{"department": "eng"}, {"priority": {"$gte": 5}}]},
        {"priority": {"$lte": 3}},
        {"price": {"$eq": "10.5"}},
        {"published_at": {"$gte": "2024-04-01T00:00:00Z"}},
        {"price": {"$exists": True}},
        {"department": {"$exists": False}},
        {"priority": {"$type": "number"}},
        {"department": {"$regex": {"pattern": "^SALES$", "flags": "i"}}},
        {"tags": {"$contains": "URGE"}},
        {"department": {"$in": ["eng", "sales"]}},
    ],
)
def test_variant_compiler_agrees_with_json(docs, filters):
    """metadata_kind='variant' (pre-parsed column) must select the same rows
    as the JSON-string path for every scalar-field operator."""
    from pyspark.sql import functions as F

    vdocs = docs.withColumn("metadata_v", F.parse_json("metadata"))
    json_ids = matched(docs, filters)
    var_ids = {
        r.external_id
        for r in vdocs.filter(VARIANT_COMPILER.compile(filters)).select("external_id").collect()
    }
    assert var_ids == json_ids


# ------------------------------------------------------- compile memo


def _ids(docs, col):
    return {r.external_id for r in docs.filter(col).select("external_id").collect()}


def test_compile_memo_returns_the_remembered_predicate(docs):
    c = MetadataFilterCompiler()
    first = c.compile({"department": "eng", "priority": {"$gte": 3}})
    # clauses of one object are ANDed: key order does not change the key
    assert c.compile({"priority": {"$gte": 3}, "department": "eng"}) is first
    assert _ids(docs, first) == matched(docs, {"department": "eng", "priority": {"$gte": 3}})


def test_compile_memo_keys_preserve_types():
    from datetime import date, datetime, timezone
    from decimal import Decimal

    from morphik_core_spark.operators.metadata_filters import _filter_key

    operands = [
        1, 1.0, True, "1", None, 0.0, -0.0,
        Decimal("1"), Decimal("1.0"),
        date(2024, 6, 1), datetime(2024, 6, 1), datetime(2024, 6, 1, tzinfo=timezone.utc),
        [1], ["1"], {"a": 1}, {"a": True},
    ]
    keys = [_filter_key({"f": v}) for v in operands]
    assert None not in keys
    assert len(set(keys)) == len(operands)
    assert _filter_key({"f": (1,)}) is None  # unrendered type: never remembered


def test_compile_memo_keeps_typed_answers_apart(docs):
    """Interleaved compiles of look-alike operands answer exactly as a
    fresh compiler does: 3 (number) vs "3" (string), True vs 1."""
    c = MetadataFilterCompiler()
    cases = [{"priority": 3}, {"priority": "3"}, {"active": True}, {"active": 1}, {"priority": 3.0}]
    for _ in range(2):
        for f in cases:
            assert _ids(docs, c.compile(f)) == _ids(docs, MetadataFilterCompiler().compile(f))
    assert _ids(docs, c.compile({"priority": 3})) != _ids(docs, c.compile({"priority": "3"}))
    assert _ids(docs, c.compile({"active": True})) != _ids(docs, c.compile({"active": 1}))


@pytest.mark.parametrize("bad", [{"$and": []}, {"field": {"$bogus": 1}}, {"field": {"$in": "notalist"}}])
def test_invalid_filters_raise_on_every_call(bad):
    c = MetadataFilterCompiler()
    for _ in range(3):
        with pytest.raises(InvalidMetadataFilterError):
            c.compile(bad)


def test_compile_memo_is_bounded(spark):
    from morphik_core_spark.operators.metadata_filters import _COMPILED_CAPACITY

    c = MetadataFilterCompiler()
    for i in range(_COMPILED_CAPACITY + 20):
        c.compile({"n": i})
    assert len(c._compiled) == _COMPILED_CAPACITY
    first = c.compile({"n": 0})  # evicted: compiled afresh, then remembered
    assert c.compile({"n": 0}) is first
