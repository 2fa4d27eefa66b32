"""Constraint specs + compilation to Catalyst Column predicates.

The reference has no predicate evaluation at all (SURVEY.md §2.10
Filter row) — constraints are the target-design addition mandated by
BASELINE.json's north_rule.  Row-level constraints compile to pure
`pyspark.sql.functions` boolean columns (JVM-side, whole-stage codegen;
no Python in the hot path); dataset-level constraints (uniqueness,
referential) compile to shuffle plans in validate.py.

``from_profile`` closes the infer-then-check loop: a TableProfile of a
baseline table becomes the constraint set future batches are checked
against.  ``from_json_schema`` is the fixed-schema front-end (the
reference's ``--from-schema`` path, main.rs:30-32).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.node import (
    NUMBER,
    OBJECT,
    STRING,
    STR_ENUM,
    STR_UNKNOWN,
    SchemaNode,
)
from ..core.detect import (
    EMAIL_RE,
    HOSTNAME_RE,
    ISO_DATE_RE,
    RFC2822_RE,
    RFC3339_RE,
    URL_RE,
    UUID_RE,
)


@dataclass(frozen=True)
class Constraint:
    name: str
    column: str

    @property
    def is_row_level(self) -> bool:
        return True

    def predicate(self) -> Column:  # True = row passes
        raise NotImplementedError


@dataclass(frozen=True)
class NotNull(Constraint):
    def predicate(self) -> Column:
        return F.col(self.column).isNotNull()


@dataclass(frozen=True)
class Range(Constraint):
    lo: Optional[float] = None
    hi: Optional[float] = None

    def predicate(self) -> Column:
        c = F.col(self.column)
        p = F.lit(True)
        if self.lo is not None:
            p = p & (c >= F.lit(self.lo))
        if self.hi is not None:
            p = p & (c <= F.lit(self.hi))
        # null passes range checks; nullability is NotNull's job
        return F.when(c.isNull(), F.lit(True)).otherwise(p)


@dataclass(frozen=True)
class Enum(Constraint):
    variants: tuple = ()

    def predicate(self) -> Column:
        c = F.col(self.column)
        return F.when(c.isNull(), F.lit(True)).otherwise(c.isin(list(self.variants)))


@dataclass(frozen=True)
class Length(Constraint):
    min_len: Optional[int] = None
    max_len: Optional[int] = None

    def predicate(self) -> Column:
        c = F.length(F.col(self.column))
        p = F.lit(True)
        if self.min_len is not None:
            p = p & (c >= self.min_len)
        if self.max_len is not None:
            p = p & (c <= self.max_len)
        return F.when(F.col(self.column).isNull(), F.lit(True)).otherwise(p)


# Java-regex translations of the detector cascade (core/detect.py) —
# anchored like the reference's patterns (infer_string.rs:3-12)
_FORMAT_JAVA_RE = {
    "uuid": UUID_RE.pattern,
    "email": EMAIL_RE.pattern,
    "hostname": HOSTNAME_RE.pattern,
    "url": URL_RE.pattern.replace("\\S", "[^\\s]"),
    "iso-date": ISO_DATE_RE.pattern,
    "datetime-iso8601": RFC3339_RE.pattern,
    "datetime-rfc2822": RFC2822_RE.pattern.replace("(?:", "("),
}


@dataclass(frozen=True)
class Format(Constraint):
    fmt: str = "uuid"

    def predicate(self) -> Column:
        c = F.col(self.column)
        pattern = _FORMAT_JAVA_RE[self.fmt]
        p = c.rlike(pattern)
        if self.fmt == "uuid":
            p = p & (F.length(c) == 36)
        return F.when(c.isNull(), F.lit(True)).otherwise(p)


@dataclass(frozen=True)
class SpeechRate(Constraint):
    """Transcript↔duration plausibility: characters-per-second of the
    transcript (``column``) against the clip duration must sit in
    [min_cps, max_cps] — the cheap consistency check that catches
    transcripts paired with the wrong clip, truncated audio, or
    metadata duration drift, without decoding a single byte.  Real
    speech sits around 5–25 chars/s; the defaults leave slack for
    dense scripts and slow speakers.  A non-positive duration fails
    (rate undefined); NULL transcript or duration passes (nullability
    is NotNull's job).  Pure Catalyst — whole-stage codegen, no UDF.
    """

    dur_col: str = "dur_ms"
    min_cps: float = 1.0
    max_cps: float = 40.0

    def predicate(self) -> Column:
        c = F.col(self.column)
        d = F.col(self.dur_col)
        cps = F.length(c) * F.lit(1000.0) / d
        ok = (d > 0) & (cps >= F.lit(self.min_cps)) & (cps <= F.lit(self.max_cps))
        return F.when(c.isNull() | d.isNull(), F.lit(True)).otherwise(ok)


@dataclass(frozen=True)
class Conditional(Constraint):
    """Row-level implication: WHEN ``when`` (a SQL boolean expression
    over the row) THEN ``inner`` must hold; rows where ``when`` is
    false or NULL pass vacuously.  This is how real audio-table specs
    are written — "wav clips must be 16k/44.1k", "urgent orders ship
    within a week" — without splitting the table into per-condition
    validation passes.  Compiles to a single Catalyst boolean
    (``NOT when OR inner``), so it rides the same one-scan flagged
    projection as every other row constraint: no extra scan, no UDF.
    """

    when: str = "true"
    inner: Optional[Constraint] = None

    def predicate(self) -> Column:
        if self.inner is None or not self.inner.is_row_level:
            raise ValueError(
                f"Conditional {self.name!r} needs a row-level inner constraint"
            )
        applies = F.coalesce(F.expr(self.when), F.lit(False))
        return F.when(~applies, F.lit(True)).otherwise(self.inner.predicate())


_GROUP_AGGS = ("avg", "min", "max", "sum", "count")


@dataclass(frozen=True)
class GroupBound(Constraint):
    """Dataset-level aggregate bound PER GROUP: ``agg(column)`` within
    each ``group_col`` group must land in [lo, hi] — e.g. "per-codec
    mean dur_ms within [800, 12000]" catches a codec whose rows are
    individually in range but collectively wrong (a resampling bug, a
    truncated ingest batch).  Row checks can't express this; one
    partial+final groupBy shuffle can.  Evaluated in validate.py:
    the violating GROUPS become the violation table, the dataset row
    counts failing groups."""

    group_col: str = ""
    agg: str = "avg"
    lo: Optional[float] = None
    hi: Optional[float] = None

    def __post_init__(self):
        if self.agg not in _GROUP_AGGS:
            raise ValueError(f"agg must be one of {_GROUP_AGGS}: {self.agg!r}")
        if self.lo is None and self.hi is None:
            raise ValueError(f"GroupBound {self.name!r} needs lo and/or hi")

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class Unique(Constraint):
    """Dataset-level: exact confirm is a hash-repartition groupBy.count
    in validate.py, pre-gated by the profile's HLL estimate."""

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class Referential(Constraint):
    """Dataset-level: orphans of ``column`` against
    ``ref_table``.``ref_column``, found by one exact ``left_anti``
    join in validate.py.  A NULL key matches no ref key, so its row is
    reported as an orphan (``NOT EXISTS`` semantics, as the DuckDB
    contract oracle of the lineitem referential query encodes)."""

    ref_table: str = ""
    ref_column: str = ""

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class FunctionalDependency(Constraint):
    """Dataset-level: ``column`` DETERMINES ``determines`` — every
    distinct value of ``column`` must co-occur with exactly one value
    of ``determines`` (e.g. "codec determines container", "clip_id
    determines speaker").  A violated FD is how mixed-up joins and
    partial re-ingests announce themselves while every row
    individually stays in range.

    One partial+final two-column groupBy collapses to the distinct
    (column, determines) pairs (map-side combine bounds shuffle volume
    at pair cardinality), then an O(pairs) count of keys with >1
    distinct dependent value.  NULL dependents count as a value (a key
    mapping to both NULL and 'x' IS two bindings — that asymmetry is
    precisely a broken backfill).  The violation table lists the
    offending keys with their binding counts."""

    determines: str = ""

    def __post_init__(self):
        if not self.determines:
            raise ValueError(
                f"FunctionalDependency {self.name!r} needs 'determines'"
            )

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class DistinctRatio(Constraint):
    """Dataset-level: distinct(``column``) / rows must land in
    [lo, hi] — ratio ≈ 1 pins id-like columns (silent duplicate
    explosion shows up as a falling ratio long before Unique's exact
    confirm is worth its shuffle), small expected ratios pin enum-like
    columns (a ratio jump = someone started writing free text into a
    category field).

    ``method="sketch"`` (default) reads the pass-1 profile's HLL —
    ZERO extra scans, ~2% standard error; ``method="exact"`` runs a
    count-distinct aggregate (one shuffle).  Empty input fails loudly
    (a ratio over nothing is a broken contract)."""

    lo: Optional[float] = None
    hi: Optional[float] = None
    method: str = "sketch"

    def __post_init__(self):
        if self.lo is None and self.hi is None:
            raise ValueError(f"DistinctRatio {self.name!r} needs lo and/or hi")
        if self.method not in ("sketch", "exact"):
            raise ValueError(f"method must be sketch|exact: {self.method!r}")

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class Monotonic(Constraint):
    """Dataset-level: ``column`` must be non-decreasing (``strict``:
    strictly increasing) along ``order_by`` — per ``group_col`` when
    given, globally otherwise.  Catches replayed ingests, clock skew,
    and merge-order bugs ("sequence numbers went backwards in shard 7")
    that per-row range checks can't see.  ``order_by`` should include a
    unique tiebreaker column so the adjacency relation is deterministic.

    Per-group: one hash shuffle + lag window.  Global: value-bucketed
    row-id assignment + pos↔pos+1 join (ops/timeseries.
    monotonic_violations) — no single-partition window at any scale.
    The violation table lists the offending adjacent pairs."""

    order_by: tuple = ()
    group_col: Optional[str] = None
    strict: bool = False

    def __post_init__(self):
        if not self.order_by:
            raise ValueError(f"Monotonic {self.name!r} needs order_by")
        if isinstance(self.order_by, str):
            object.__setattr__(self, "order_by", (self.order_by,))
        else:
            object.__setattr__(self, "order_by", tuple(self.order_by))

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class EntropyBound(Constraint):
    """Dataset-level: Shannon entropy (bits) of ``column``'s non-null
    value distribution must land in [lo, hi] — the distribution-shape
    gate enum/range checks cannot express.  H → 0 catches an ingest
    pinning every row to one codec while each row stays enum-valid;
    an H ceiling catches free text leaking into a category field
    (DistinctRatio sees the cardinality jump, EntropyBound sees the
    mass spreading even at FIXED cardinality).  ``normalized=True``
    gates H/log2(n_distinct) in [0, 1] instead — scale-free, so one
    bound serves columns of different cardinalities.

    One groupBy bounded by the column's distinct cardinality
    (ops/infostats.column_entropy); a column with no non-null values
    FAILS loudly, same stance as QuantileBound."""

    lo: Optional[float] = None
    hi: Optional[float] = None
    normalized: bool = False

    def __post_init__(self):
        if self.lo is None and self.hi is None:
            raise ValueError(f"EntropyBound {self.name!r} needs lo and/or hi")

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class MutualInformationBound(Constraint):
    """Dataset-level: mutual information I(``column``; ``other``) in
    bits (or NMI = I/min(H_x, H_y) with ``normalized=True``) must land
    in [lo, hi].  The association gate: healthy data co-moves
    (codec↔container, codec↔sr_hz); MI collapsing to ~0 while both
    marginals stay healthy is the signature of a row-misaligned join
    or a column-wise backfill — invisible to every per-column check
    including EntropyBound.  A NON-zero floor on an id↔payload pair
    also works in reverse: MI ≈ H means one column leaks the other.

    One groupBy bounded by the joint support |X×Y|
    (ops/infostats.mutual_information); meaningful — and cheap — for
    category-like columns, which is the intended domain.  No observed
    pairs (all-null either side) FAILS loudly."""

    other: str = ""
    lo: Optional[float] = None
    hi: Optional[float] = None
    normalized: bool = False

    def __post_init__(self):
        if not self.other:
            raise ValueError(
                f"MutualInformationBound {self.name!r} needs 'other'"
            )
        if self.lo is None and self.hi is None:
            raise ValueError(
                f"MutualInformationBound {self.name!r} needs lo and/or hi"
            )

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class CorrelationBound(Constraint):
    """Dataset-level: Pearson correlation of ``column`` with ``other``
    must land in [lo, hi] — the numeric twin of MutualInformationBound
    (duration↔byte-size, price↔quantity): a healthy co-movement
    decorrelating is how row-misaligned joins and silent unit changes
    (ms→s) announce themselves while every row stays in range.

    One F.corr aggregate — Catalyst computes the co-moments
    map-side-partially in a single pass, O(1) result row.  Undefined
    correlation (a constant column, or <2 complete pairs) FAILS
    loudly, same stance as the other distribution gates."""

    other: str = ""
    lo: Optional[float] = None
    hi: Optional[float] = None

    def __post_init__(self):
        if not self.other:
            raise ValueError(f"CorrelationBound {self.name!r} needs 'other'")
        if self.lo is None and self.hi is None:
            raise ValueError(
                f"CorrelationBound {self.name!r} needs lo and/or hi"
            )

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class QuantileBound(Constraint):
    """Dataset-level: THIS batch's q-quantile of ``column`` must land
    in [lo, hi] — "dur_ms p99 ≤ 30000" catches tail corruption that
    min/max/mean bounds miss (min/max are poisoned by a single wild
    row; the mean hides the tail entirely).

    ``method="sketch"`` (default) reads the pass-1 profile's mergeable
    KLL sketch — ZERO extra scans, the quantile is a free byproduct of
    the profile fold, with the sketch's rank error (~1.4% at the
    default K).  ``method="exact"`` runs the distributed
    histogram-refinement order statistic (ops/selection.exact_quantile:
    scan + tiny agg per round, no sort) for enforce-grade gates where
    the sketch's error band straddles the bound.

    A column with no non-null numeric values FAILS the check (a
    quantile bound on nothing is a broken contract, not a pass) —
    same loud-failure stance as the spec-file front-end."""

    q: float = 0.99
    lo: Optional[float] = None
    hi: Optional[float] = None
    method: str = "sketch"

    def __post_init__(self):
        if not (0.0 <= self.q <= 1.0):
            raise ValueError(f"q must be in [0, 1]: {self.q}")
        if self.lo is None and self.hi is None:
            raise ValueError(f"QuantileBound {self.name!r} needs lo and/or hi")
        if self.method not in ("sketch", "exact"):
            raise ValueError(f"method must be sketch|exact: {self.method!r}")

    @property
    def is_row_level(self) -> bool:
        return False


@dataclass(frozen=True)
class Drift(Constraint):
    """Dataset-level: distribution distance of this batch's sketch vs
    a baseline profile's sketch (drift.py).  KS and PSI always gate;
    ``max_w1`` (numeric Wasserstein-1 — carries the shift MAGNITUDE in
    the column's own units where KS saturates) and ``max_chi2``
    (categorical chi-square statistic) gate only when set, since their
    scales are column-specific."""

    max_ks: float = 0.1
    max_psi: float = 0.2
    max_w1: Optional[float] = None
    max_chi2: Optional[float] = None

    @property
    def is_row_level(self) -> bool:
        return False


# ---------------------------------------------------------------------------
# builders
# ---------------------------------------------------------------------------


def from_profile(
    profile,
    columns: Optional[Sequence[str]] = None,
    numeric_margin: float = 0.0,
    with_drift: bool = False,
    quantile_range: Optional[tuple] = None,
    with_distribution: bool = False,
    distribution_margin: float = 0.25,
) -> list[Constraint]:
    """Infer-then-check: derive the constraint set a baseline profile
    implies.  ``numeric_margin`` widens numeric ranges by a fraction of
    the observed span (0 = exact observed bounds, reference semantics).

    ``with_distribution=True`` additionally gates each enum column's
    SHAPE: an EntropyBound at the baseline's observed Shannon entropy
    ± ``distribution_margin`` (fraction).  The enum constraint pins
    WHICH values appear; the entropy gate pins how the mass spreads —
    a batch that is 99% one codec stays enum-valid but fails the
    entropy floor.  Computed from the baseline's frequency state (for
    enum-cardinality columns the SpaceSaving map is exact); constant
    columns (H = 0) get no gate (the enum already pins them).

    ``quantile_range=(p_lo, p_hi)`` switches numeric envelopes from the
    exact min/max to the baseline's KLL quantile sketch at those ranks —
    the robust policy for dirty baselines, where a single historical
    outlier would otherwise poison the range forever.  The sketch is
    already in the profile (no extra pass), and ``numeric_margin``
    then widens the quantile span instead.
    """
    if quantile_range is not None:
        p_lo, p_hi = quantile_range
        if not (0.0 <= p_lo < p_hi <= 1.0):
            raise ValueError(f"need 0 <= p_lo < p_hi <= 1: {quantile_range}")
    out: list[Constraint] = []
    for name in profile.columns():
        if columns is not None and name not in columns:
            continue
        acc = profile.column(name)
        if acc.n_null == 0 and acc.n > 0:
            out.append(NotNull(f"{name}_not_null", name))
        if acc.kind == "numeric" and acc.min_v is not None:
            if quantile_range is not None and acc.kll.n:
                lo = float(acc.kll.quantile(p_lo))
                hi = float(acc.kll.quantile(p_hi))
            else:
                lo, hi = acc.min_v, acc.max_v
            span = (hi - lo) * numeric_margin
            out.append(Range(f"{name}_range", name, lo - span, hi + span))
            if with_drift:
                out.append(Drift(f"{name}_drift", name))
        elif acc.kind == "string":
            node = profile._column_node(acc)
            if node.str_type == STR_ENUM:
                out.append(Enum(f"{name}_enum", name, tuple(sorted(node.variants))))
                if with_distribution:
                    import math

                    counts = list(acc.freq.counts.values())
                    total = float(sum(counts))
                    h = -sum(
                        (c / total) * math.log2(c / total)
                        for c in counts
                        if c > 0
                    ) if total else 0.0
                    if h > 0.0:
                        m = float(distribution_margin)
                        out.append(
                            EntropyBound(
                                f"{name}_entropy",
                                name,
                                lo=round(h * (1.0 - m), 6),
                                hi=round(h * (1.0 + m), 6),
                            )
                        )
            elif node.str_type != STR_UNKNOWN:
                out.append(Format(f"{name}_format", name, node.str_type))
            elif acc.min_len is not None:
                out.append(Length(f"{name}_length", name, acc.min_len, acc.max_len))
            if with_drift:
                out.append(Drift(f"{name}_drift", name))
    return out


def from_json_schema(doc_or_node) -> list[Constraint]:
    """JSON Schema (or parsed SchemaNode) → constraints over the
    top-level object's fields (the --from-schema validation path)."""
    node = doc_or_node
    if not isinstance(node, SchemaNode):
        from ..core.parse_schema import parse_json_schema

        node = parse_json_schema(node)
    if node.kind != OBJECT:
        raise ValueError("top-level schema must be an object to validate a table")
    out: list[Constraint] = []
    for name, sub in sorted({**node.required, **node.optional}.items()):
        required = name in node.required
        if required and not sub.nullable:
            out.append(NotNull(f"{name}_not_null", name))
        if sub.kind == NUMBER:
            # drop the parser's "unbounded" sentinels (±inf / i64 extremes)
            lo, hi = sub.min_n, sub.max_n
            if lo is not None and lo <= -(2**62):
                lo = None
            if hi is not None and hi >= 2**62:
                hi = None
            if lo is not None or hi is not None:
                out.append(Range(f"{name}_range", name, lo, hi))
        elif sub.kind == STRING:
            if sub.str_type == STR_ENUM:
                out.append(Enum(f"{name}_enum", name, tuple(sorted(sub.variants))))
            elif sub.str_type != STR_UNKNOWN:
                out.append(Format(f"{name}_format", name, sub.str_type))
            elif sub.min_len is not None or sub.max_len is not None:
                out.append(Length(f"{name}_length", name, sub.min_len, sub.max_len))
    return out
