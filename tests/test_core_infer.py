"""Ported semantics of the reference's inference unit tests
(/root/reference/src/infer.rs:451-1084) plus associativity property
tests pinning our documented deviation (SURVEY.md §2.2 I4)."""

import itertools

import pytest

from drivel_spark.core import (
    EnumInference,
    InferenceOptions,
    SchemaNode,
    infer_many,
    infer_value,
    merge,
)
from drivel_spark.core.node import (
    STR_DATETIME_ISO8601,
    STR_DATETIME_RFC2822,
    STR_EMAIL,
    STR_ENUM,
    STR_HOSTNAME,
    STR_ISO_DATE,
    STR_UNKNOWN,
    STR_URL,
    STR_UUID,
)


# --- scalar inference (infer.rs:463-604) -------------------------------

def test_infer_null():
    n = infer_value(None)
    assert n.is_null_only


def test_infer_bool():
    assert infer_value(True).kind == "boolean"
    assert infer_value(False).kind == "boolean"


def test_infer_int():
    n = infer_value(42)
    assert n.kind == "number" and not n.is_float
    assert n.min_n == 42 and n.max_n == 42


def test_infer_float():
    n = infer_value(4.5)
    assert n.kind == "number" and n.is_float
    assert n.min_n == 4.5 and n.max_n == 4.5


def test_infer_plain_string_evidence():
    n = infer_value("foo")
    assert n.kind == "string" and n.str_type == STR_UNKNOWN
    assert n.strings_seen == ["foo"]
    assert n.chars_seen == ["f", "o", "o"]
    assert n.min_len == 3 and n.max_len == 3


@pytest.mark.parametrize(
    "value,fmt",
    [
        ("550e8400-e29b-41d4-a716-446655440000", STR_UUID),
        ("user@example.com", STR_EMAIL),
        ("https://example.com/path", STR_URL),
        ("example.com", STR_HOSTNAME),
        ("2023-12-25", STR_ISO_DATE),
        ("2023-12-25T10:30:00Z", STR_DATETIME_ISO8601),
        ("2023-12-25T10:30:00+02:00", STR_DATETIME_ISO8601),
        ("Mon, 25 Dec 2023 10:30:00 +0000", STR_DATETIME_RFC2822),
    ],
)
def test_string_formats(value, fmt):
    n = infer_value(value)
    assert n.kind == "string"
    assert n.str_type == fmt, value


@pytest.mark.parametrize(
    "value",
    [
        "550E8400-E29B-41D4-A716-446655440000",  # uppercase: reference regex is lowercase-only
        "550e8400e29b41d4a716446655440000",  # no hyphens, len != 36
        "not-a-date",
        "25-12-2023",  # iso-date detector needs numeric first char + exact shape
        "plainword",
    ],
)
def test_non_formats_fall_through(value):
    assert infer_value(value).str_type == STR_UNKNOWN


def test_uuid_beats_hostname_precedence():
    # a uuid contains no '.', but ordering must still put uuid first
    n = infer_value("550e8400-e29b-41d4-a716-446655440000")
    assert n.str_type == STR_UUID


def test_detect_series_matches_scalar_on_adversarial_datetimes():
    """The vectorized path must agree with the scalar path even on
    shape-valid / parse-invalid datetimes (VERDICT r02 missing #3):
    regex survivors are parse-validated, not just shape-matched."""
    import pyarrow as pa

    from drivel_spark.core.detect import detect, detect_series

    values = [
        "2023-12-25T10:30:00Z",            # valid iso8601
        "2024-02-30T00:00:00Z",            # Feb 30 — shape ok, parse invalid
        "2024-02-29T00:00:00Z",            # leap day — valid
        "2023-13-01T00:00:00+02:00",       # month 13 — parse invalid
        "2023-12-25T10:30:61Z",            # second 61 — parse invalid
        "2023-12-25t10:30:00z",            # lowercase t/z — valid per regex+parse
        "Mon, 25 Dec 2023 10:30:00 +0000", # valid rfc2822
        "Mon, 32 Dec 2023 10:30:00 +0000", # day 32 — parse invalid
        "Fri, 30 Feb 2024 10:30:00 +0000", # Feb 30 — parse invalid
        "1500-06-15T12:00:00Z",            # valid but outside pandas ns range
        "2400-01-01T00:00:00+00:00",       # valid, beyond year 2262
        "2023-12-25",
        "plainword",
        None,
    ]
    got = detect_series(pa.array(values, pa.string()))
    want = [detect(v) if v is not None else None for v in values]
    assert list(got) == want


# --- arrays / objects (infer.rs:606-1037) ------------------------------

def test_infer_array_lengths():
    n = infer_value([1, 2, 3])
    assert n.kind == "array"
    assert n.min_items == 3 and n.max_items == 3
    assert n.elem.kind == "number" and n.elem.min_n == 1 and n.elem.max_n == 3


def test_infer_nested_arrays_length_bounds():
    # infer.rs:991-1009
    n = infer_value([[True, False], [False]])
    assert n.kind == "array"
    inner = n.elem
    assert inner.kind == "array"
    assert inner.min_items == 1 and inner.max_items == 2
    assert inner.elem.kind == "boolean"


def test_infer_empty_array():
    n = infer_value([])
    assert n.kind == "array"
    assert n.min_items == 0 and n.max_items == 0
    assert n.elem.kind == "initial"


def test_infer_object_all_required():
    n = infer_value({"a": 1, "b": "x"})
    assert n.kind == "object"
    assert set(n.required) == {"a", "b"}
    assert not n.optional


def test_required_optional_demotion_across_samples():
    # infer.rs:1039-1083: three objects with missing + null fields
    docs = [
        {"foo": "a", "bar": 1, "baz": None},
        {"foo": "b", "baz": 10},
        {"foo": "c", "bar": 2, "baz": 20},
    ]
    n = infer_many(docs)
    assert set(n.required) == {"foo", "baz"}
    assert set(n.optional) == {"bar"}
    # present-but-null stays required with nullable type (infer.rs:897-944)
    baz = n.required["baz"]
    assert baz.kind == "number" and baz.nullable
    assert baz.min_n == 10 and baz.max_n == 20
    bar = n.optional["bar"]
    assert bar.kind == "number" and not bar.nullable


def test_numeric_widening():
    # infer.rs:861-878: [100, 104.5] → Float 100.0-104.5
    n = infer_many([100, 104.5])
    assert n.kind == "number" and n.is_float
    assert n.min_n == 100 and n.max_n == 104.5


def test_null_lattice():
    assert infer_many([None, None]).is_null_only
    n = infer_many([None, 5])
    assert n.kind == "number" and n.nullable
    n2 = infer_many([5, None, 7])
    assert n2.kind == "number" and n2.nullable and n2.min_n == 5 and n2.max_n == 7


def test_type_conflict_indefinite():
    n = infer_many(["a", 5])
    assert n.kind == "indefinite"


def test_unknown_absorbs_typed_evidence_dropped():
    # infer.rs:821-840: [uuid, "barbar"] → Unknown keeping only "barbar"
    n = infer_many(["550e8400-e29b-41d4-a716-446655440000", "barbar"])
    assert n.kind == "string" and n.str_type == STR_UNKNOWN
    assert n.strings_seen == ["barbar"]
    assert n.min_len == 6 and n.max_len == 6


def test_unequal_typed_strings_empty_unknown():
    n = infer_many(["user@example.com", "550e8400-e29b-41d4-a716-446655440000"])
    assert n.str_type == STR_UNKNOWN
    assert n.strings_seen == []
    assert n.min_len is None and n.max_len is None


def test_equal_typed_strings_keep_type():
    n = infer_many(["a@b.com", "c@d.org"])
    assert n.str_type == STR_EMAIL


# --- enum inference (infer.rs:719-819) ---------------------------------

def test_enum_inferred():
    opts = InferenceOptions(enum_inference=EnumInference(max_unique_ratio=0.5, min_sample_size=1))
    n = infer_many(["foo", "barbar", "barbar", "foo"], opts)
    assert n.str_type == STR_ENUM
    assert n.variants == frozenset({"foo", "barbar"})


def test_enum_rejected_ratio_too_high():
    # infer.rs:747-782
    opts = InferenceOptions(enum_inference=EnumInference(max_unique_ratio=0.1, min_sample_size=1))
    n = infer_many(["a", "b", "c", "d"], opts)
    assert n.str_type == STR_UNKNOWN


def test_enum_rejected_sample_too_small():
    # infer.rs:784-819
    opts = InferenceOptions(enum_inference=EnumInference(max_unique_ratio=1.0, min_sample_size=10))
    n = infer_many(["a", "a", "a"], opts)
    assert n.str_type == STR_UNKNOWN


def test_enum_inside_array_value():
    opts = InferenceOptions(enum_inference=EnumInference(max_unique_ratio=0.5, min_sample_size=1))
    n = infer_value(["x", "x", "y", "x"], opts)
    assert n.kind == "array"
    assert n.elem.str_type == STR_ENUM


# --- associativity / commutativity (our deviation, SURVEY §2.2 I4) -----

MIXED = [
    None,
    True,
    7,
    3.25,
    "barbar",
    "550e8400-e29b-41d4-a716-446655440000",
    "a@b.com",
    [1, 2],
    {"k": 1, "j": "x"},
    {"k": None},
    [["x"], []],
]


def test_merge_commutative():
    nodes = [infer_value(v) for v in MIXED]
    for a, b in itertools.combinations(nodes, 2):
        ab = merge(a.copy(), b.copy())
        ba = merge(b.copy(), a.copy())
        assert ab.semantically_equal(ba), (a, b)


def test_merge_associative_all_triples():
    nodes = [infer_value(v) for v in MIXED]
    for a, b, c in itertools.permutations(nodes, 3):
        left = merge(merge(a.copy(), b.copy()), c.copy())
        right = merge(a.copy(), merge(b.copy(), c.copy()))
        assert left.semantically_equal(right), (a, b, c)


def test_partition_grouping_invariance():
    # the reference's rayon reduce is grouping-dependent on mixed input
    # (String⊔Number⊔Number); ours must not be
    vals = ["s", 1, 2, None, "t", 3.5, True]
    flat = infer_many(vals)
    for cut1 in range(1, len(vals) - 1):
        for cut2 in range(cut1 + 1, len(vals)):
            p1 = infer_many(vals[:cut1])
            p2 = infer_many(vals[cut1:cut2])
            p3 = infer_many(vals[cut2:])
            grouped = merge(merge(p1, p2), p3)
            assert grouped.semantically_equal(flat)


def test_merge_identity_and_absorbing():
    s = infer_value("x")
    assert merge(SchemaNode.initial(), s).semantically_equal(s)
    assert merge(s, SchemaNode.initial()).semantically_equal(s)
    ind = SchemaNode.indefinite()
    assert merge(ind, s).kind == "indefinite"
    assert merge(s, ind).kind == "indefinite"


def test_bounded_evidence_caps():
    opts = InferenceOptions(max_strings_seen=3, max_chars_seen=5)
    n = infer_many([f"w{i}" for i in range(100)], opts)
    assert len(n.strings_seen) <= 3
    assert len(n.chars_seen) <= 5
    assert n.min_len == 2 and n.max_len == 3  # stats stay exact despite caps
