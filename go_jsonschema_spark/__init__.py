"""go_jsonschema_spark — a PySpark-native schema + constraint validation engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference Go JSON-Schema validator (flowstack/go-jsonschema): a declarative
schema/constraint spec is compiled on the driver into vectorized Catalyst
Column predicates plus dataset-level aggregate checks (column stats,
uniqueness, referential integrity, distribution drift), evaluated in a
single pass per partition over tables of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``.

This is NOT a port: the reference's per-document recursive tree walk
(/root/reference/validate.go:32-62, /root/reference/validators.go:26-53)
becomes columnar, set-oriented DataFrame execution; its compile step
(/root/reference/parser.go:10-263, setupValidators parser.go:313-407)
becomes a driver-side spec→Column compiler.

Public surface:
    ConstraintSuite   — parse/compile/run a table spec
    compile_predicate — one JSON-Schema-like spec → pyspark Column predicate
    validate_instance — one parsed JSON value through the closure-compiled
                        evaluator (dynamic JSON path, interp_compile.py)
"""

from go_jsonschema_spark.spec import (
    KNOWN_KEYWORDS,
    SchemaSpec,
    SpecError,
    TableSpec,
    deref_expand,
    normalize_spec,
)
from go_jsonschema_spark.interp import ValidationOutcome, validate_instance
from go_jsonschema_spark.compile import CompileError, compile_predicate
from go_jsonschema_spark.engine import ConstraintSuite, SuiteResult

__all__ = [
    "KNOWN_KEYWORDS",
    "SchemaSpec",
    "SpecError",
    "TableSpec",
    "deref_expand",
    "normalize_spec",
    "ValidationOutcome",
    "validate_instance",
    "CompileError",
    "compile_predicate",
    "ConstraintSuite",
    "SuiteResult",
]

__version__ = "0.1.0"
