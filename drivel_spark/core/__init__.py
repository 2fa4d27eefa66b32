"""Pure-Python semantic core: schema tree, inference lattice, emitters,
JSON-Schema parser, seeded generator.  No Spark imports — this layer is
shipped to executors inside vectorized UDFs and used driver-side for
merge/describe/IO."""

from .detect import detect, detect_series
from .emit import describe, to_json_schema, to_json_schema_document
from .infer import (
    EnumInference,
    InferenceOptions,
    apply_enum,
    infer_many,
    infer_value,
    merge,
)
from .node import SchemaNode
from .parse_schema import (
    InvalidSchema,
    SchemaError,
    SchemaWarning,
    UnsupportedFeature,
    parse_json_schema,
)
from .produce import produce_many, produce_value

__all__ = [
    "SchemaNode",
    "detect",
    "detect_series",
    "describe",
    "to_json_schema",
    "to_json_schema_document",
    "EnumInference",
    "InferenceOptions",
    "apply_enum",
    "infer_many",
    "infer_value",
    "merge",
    "parse_json_schema",
    "SchemaError",
    "InvalidSchema",
    "UnsupportedFeature",
    "SchemaWarning",
    "produce_many",
    "produce_value",
]
