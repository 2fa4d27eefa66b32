"""Declarative constraint-spec files: JSON → Constraint objects.

The third front-end next to ``from_profile`` (infer-then-check) and
``from_json_schema`` (fixed JSON Schema): a hand-written suite the way
a data team actually pins a table's contract in version control.

Format — a JSON document ``{"constraints": [ {...}, ... ]}`` where each
entry has ``type`` and ``column`` plus type-specific fields::

    {"constraints": [
      {"type": "not_null",  "column": "clip_id"},
      {"type": "range",     "column": "dur_ms", "lo": 200, "hi": 30000},
      {"type": "enum",      "column": "codec",  "values": ["pcm_s16le", "flac"]},
      {"type": "length",    "column": "transcript", "min_len": 1},
      {"type": "format",    "column": "clip_id", "fmt": "uuid"},
      {"type": "speech_rate", "column": "transcript", "dur_col": "dur_ms"},
      {"type": "pcm_size",  "column": "bytes"},
      {"type": "conditional", "column": "sr_hz",
       "when": "codec = 'pcm_s16le'",
       "then": {"type": "enum", "column": "sr_hz", "values": [16000, 44100]}},
      {"type": "unique",      "column": "clip_id"},
      {"type": "referential", "column": "clip_id",
       "ref_table": "transcripts", "ref_column": "clip_id"},
      {"type": "group_bound", "column": "dur_ms", "group_col": "codec",
       "agg": "avg", "lo": 500, "hi": 12000},
      {"type": "quantile_bound", "column": "dur_ms", "q": 0.99,
       "hi": 30000, "method": "sketch"},
      {"type": "functional_dependency", "column": "codec",
       "determines": "container"},
      {"type": "distinct_ratio", "column": "clip_id", "lo": 0.999},
      {"type": "drift", "column": "dur_ms", "max_ks": 0.1, "max_psi": 0.2}
    ]}

``name`` is optional (defaults to ``{column}_{type}``).  Unknown types
or fields raise immediately with the entry index — a wrong contract
file must fail the run, not silently validate nothing.
"""

from __future__ import annotations

import json
from typing import Any

from .audio import PcmSizeConsistency, WavHeaderCheck
from .spec import (
    Conditional,
    CorrelationBound,
    Constraint,
    Drift,
    Enum,
    DistinctRatio,
    EntropyBound,
    Format,
    FunctionalDependency,
    GroupBound,
    Monotonic,
    MutualInformationBound,
    Length,
    NotNull,
    QuantileBound,
    Range,
    Referential,
    SpeechRate,
    Unique,
)

__all__ = ["from_spec_json", "load_spec_file", "to_spec_json"]

# type tag → (constructor, {json field → kwarg}, required fields)
_TYPES: dict[str, tuple] = {
    "not_null": (NotNull, {}, ()),
    "range": (Range, {"lo": "lo", "hi": "hi"}, ()),
    "enum": (Enum, {"values": "variants"}, ("values",)),
    "length": (Length, {"min_len": "min_len", "max_len": "max_len"}, ()),
    "format": (Format, {"fmt": "fmt"}, ("fmt",)),
    "speech_rate": (
        SpeechRate,
        {"dur_col": "dur_col", "min_cps": "min_cps", "max_cps": "max_cps"},
        (),
    ),
    "pcm_size": (
        PcmSizeConsistency,
        {
            "sr_col": "sr_col",
            "dur_col": "dur_col",
            "codec_col": "codec_col",
            "codec_value": "codec_value",
            "tolerance_bytes": "tolerance_bytes",
        },
        (),
    ),
    "wav_header": (
        WavHeaderCheck,
        {
            "sr_col": "sr_col",
            "codec_col": "codec_col",
            "codec_value": "codec_value",
        },
        (),
    ),
    "unique": (Unique, {}, ()),
    "referential": (
        Referential,
        {"ref_table": "ref_table", "ref_column": "ref_column"},
        ("ref_table", "ref_column"),
    ),
    "group_bound": (
        GroupBound,
        {"group_col": "group_col", "agg": "agg", "lo": "lo", "hi": "hi"},
        ("group_col",),
    ),
    "quantile_bound": (
        QuantileBound,
        {"q": "q", "lo": "lo", "hi": "hi", "method": "method"},
        (),
    ),
    "functional_dependency": (
        FunctionalDependency,
        {"determines": "determines"},
        ("determines",),
    ),
    "distinct_ratio": (
        DistinctRatio,
        {"lo": "lo", "hi": "hi", "method": "method"},
        (),
    ),
    "monotonic": (
        Monotonic,
        {
            "order_by": "order_by",
            "group_col": "group_col",
            "strict": "strict",
        },
        ("order_by",),
    ),
    "correlation_bound": (
        CorrelationBound,
        {"other": "other", "lo": "lo", "hi": "hi"},
        ("other",),
    ),
    "entropy_bound": (
        EntropyBound,
        {"lo": "lo", "hi": "hi", "normalized": "normalized"},
        (),
    ),
    "mutual_information_bound": (
        MutualInformationBound,
        {"other": "other", "lo": "lo", "hi": "hi", "normalized": "normalized"},
        ("other",),
    ),
    "drift": (Drift, {"max_ks": "max_ks", "max_psi": "max_psi", "max_w1": "max_w1", "max_chi2": "max_chi2"}, ()),
}

_COMMON = {"type", "column", "name", "when", "then"}


def _build_one(entry: dict[str, Any], idx: int) -> Constraint:
    if not isinstance(entry, dict):
        raise ValueError(f"constraints[{idx}]: expected an object, got {type(entry).__name__}")
    ctype = entry.get("type")
    if ctype == "conditional":
        for fld in ("when", "then"):
            if fld not in entry:
                raise ValueError(f"constraints[{idx}]: conditional needs {fld!r}")
        inner = _build_one(entry["then"], idx)
        name = entry.get("name") or f"{inner.column}_conditional"
        return Conditional(name, inner.column, when=entry["when"], inner=inner)
    if ctype not in _TYPES:
        raise ValueError(
            f"constraints[{idx}]: unknown type {ctype!r} (known: "
            f"{sorted(_TYPES)} + ['conditional'])"
        )
    if "column" not in entry:
        raise ValueError(f"constraints[{idx}]: missing 'column'")
    cls, field_map, required = _TYPES[ctype]
    for fld in required:
        if fld not in entry:
            raise ValueError(f"constraints[{idx}]: {ctype} needs {fld!r}")
    unknown = set(entry) - _COMMON - set(field_map)
    if unknown:
        raise ValueError(
            f"constraints[{idx}]: unknown fields for {ctype}: {sorted(unknown)}"
        )
    kwargs = {}
    for jf, kw in field_map.items():
        if jf in entry:
            v = entry[jf]
            if kw == "variants":
                v = tuple(v)
            kwargs[kw] = v
    name = entry.get("name") or f"{entry['column']}_{ctype}"
    return cls(name, entry["column"], **kwargs)


def from_spec_json(doc: dict[str, Any] | list) -> list[Constraint]:
    """Parse a constraint-spec document (see module docstring)."""
    entries = doc.get("constraints") if isinstance(doc, dict) else doc
    if not isinstance(entries, list) or not entries:
        raise ValueError("spec must be {'constraints': [...]} with >=1 entry")
    out = [_build_one(e, i) for i, e in enumerate(entries)]
    names = [c.name for c in out]
    dups = {n for n in names if names.count(n) > 1}
    if dups:
        raise ValueError(f"duplicate constraint names: {sorted(dups)}")
    return out


def load_spec_file(path: str) -> list[Constraint]:
    with open(path) as f:
        return from_spec_json(json.load(f))


def to_spec_json(constraints: list) -> dict[str, Any]:
    """Serialize constraints back to the spec-file document — the
    inverse of :func:`from_spec_json` (round-trip pinned by tests).
    Powers the `suggest` job verb: profile → from_profile() →
    to_spec_json() → a version-controlled contract file a team edits
    and re-applies with `validate --constraints`.

    Only declaratively-representable constraints serialize; Conditional
    recurses on its inner check, RowPredicate (a live Column escape
    hatch) raises."""
    rev = {cls: (ctype, fmap) for ctype, (cls, fmap, _req) in _TYPES.items()}

    def one(c) -> dict[str, Any]:
        if isinstance(c, Conditional):
            return {
                "type": "conditional",
                "name": c.name,
                "column": c.column,
                "when": c.when,
                "then": one(c.inner),
            }
        if type(c) not in rev:
            raise ValueError(
                f"constraint {c.name!r} ({type(c).__name__}) has no "
                "spec-file representation"
            )
        ctype, fmap = rev[type(c)]
        entry: dict[str, Any] = {"type": ctype, "name": c.name, "column": c.column}
        for jf, kw in fmap.items():
            v = getattr(c, kw)
            if v is None:
                continue
            if isinstance(v, tuple):
                v = list(v)
            entry[jf] = v
        return entry

    return {"constraints": [one(c) for c in constraints]}
