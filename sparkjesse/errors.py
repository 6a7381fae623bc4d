"""Violation model — jesse-parity error shapes.

Mirrors the reference's error contract (not its implementation):
`/root/reference/src/jesse_error.erl:33-63` defines
``data_invalid{Schema, Type, Value, Path}`` / ``schema_invalid{Schema, Type}``;
error atoms live in `/root/reference/src/jesse_schema_validator.hrl:66-86`.

Our engine re-expresses a violation as a flat row suitable for a Spark
``ARRAY<STRUCT<...>>`` column / exploded violations table:

    (error_kind, error_type, path, schema_ptr, value_json, detail)

* ``error_kind``: ``data_invalid`` | ``schema_invalid``
* ``error_type``: the jesse error atom (``wrong_type``, ``not_in_range``, ...)
* ``path``: JSON pointer to the offending value, 0-based array indices
  (jesse keeps a reversed segment list, `/root/reference/src/jesse_state.erl:63-65`;
  we render the canonical pointer string)
* ``schema_ptr``: JSON pointer to the failing schema fragment
* ``value_json``: the offending value, JSON-encoded
* ``detail``: carried payload for parametrised atoms
  (e.g. the property name of ``missing_required_property``)
"""

from __future__ import annotations

import json
from dataclasses import dataclass

DATA_INVALID = "data_invalid"
SCHEMA_INVALID = "schema_invalid"

# error atoms — parity with /root/reference/src/jesse_schema_validator.hrl:66-86
WRONG_TYPE = "wrong_type"
NOT_IN_RANGE = "not_in_range"
NO_MATCH = "no_match"
WRONG_LENGTH = "wrong_length"
WRONG_SIZE = "wrong_size"
NOT_UNIQUE = "not_unique"
NOT_DIVISIBLE = "not_divisible"
NOT_ALLOWED = "not_allowed"
MISSING_REQUIRED_PROPERTY = "missing_required_property"
MISSING_DEPENDENCY = "missing_dependency"
NO_EXTRA_PROPERTIES_ALLOWED = "no_extra_properties_allowed"
NO_EXTRA_ITEMS_ALLOWED = "no_extra_items_allowed"
NOT_ENOUGHT_ITEMS = "not_enought_items"  # sic — parity with the reference atom
WRONG_TYPE_ITEMS = "wrong_type_items"
WRONG_TYPE_DEPENDENCY = "wrong_type_dependency"
SCHEMA_UNSUPPORTED = "schema_unsupported"
WRONG_FORMAT = "wrong_format"  # reserved, format is a no-op in draft3
# draft4 composite atoms (spec-derived; same naming style)
ALL_SCHEMAS_NOT_VALID = "all_schemas_not_valid"
ANY_SCHEMAS_NOT_VALID = "any_schemas_not_valid"
NOT_ONE_SCHEMA_VALID = "not_one_schema_valid"
NOT_SCHEMA_VALID = "not_schema_valid"
WRONG_MULTIPLE_OF = "not_divisible"  # draft4 multipleOf reuses the divisibility atom
SCHEMA_INVALID_REF = "ref_not_found"
REF_CYCLE = "ref_cycle"

DRAFT3 = "draft3"
DRAFT4 = "draft4"

DRAFT3_URI = "http://json-schema.org/draft-03/schema"
DRAFT4_URI = "http://json-schema.org/draft-04/schema"


def normalize_draft(draft: str) -> str:
    """Accept either the internal atom (``draft3``/``draft4``) or the
    ``$schema`` URI a jesse user would pass as ``default_schema_ver``
    (`jesse.erl` option ``default_schema_ver``, a URI binary); reject
    anything else loudly — before this, a URI passed as
    ``default_draft`` silently compared unequal to the atom and fell
    through to draft-4 semantics."""
    if draft in (DRAFT3, DRAFT4):
        return draft
    if isinstance(draft, str):
        if draft.startswith(DRAFT3_URI):
            return DRAFT3
        if draft.startswith(DRAFT4_URI):
            return DRAFT4
    raise ValueError(f"unsupported draft {draft!r}: pass "
                     f"{DRAFT3!r}/{DRAFT4!r} or a draft-03/-04 $schema URI")


def pointer_escape(segment: object) -> str:
    """RFC 6901 escaping for one pointer segment."""
    s = str(segment)
    return s.replace("~", "~0").replace("/", "~1")


def to_pointer(segments: list[object]) -> str:
    """Render a root-to-leaf segment list as a JSON pointer string."""
    if not segments:
        return ""
    return "/" + "/".join(pointer_escape(s) for s in segments)


def json_dumps(value: object) -> str:
    """Deterministic JSON encoding for value_json payloads."""
    try:
        return json.dumps(value, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
    except (TypeError, ValueError):
        return json.dumps(str(value))


@dataclass(frozen=True)
class Violation:
    error_kind: str
    error_type: str
    path: str = ""
    schema_ptr: str = ""
    value_json: str = ""
    detail: str = ""

    def as_dict(self) -> dict:
        return {
            "error_kind": self.error_kind,
            "error_type": self.error_type,
            "path": self.path,
            "schema_ptr": self.schema_ptr,
            "value_json": self.value_json,
            "detail": self.detail,
        }

    @property
    def key(self) -> tuple:
        """Order-insensitive comparison key (jesse emits LIFO order,
        /root/reference/README.md:153-163; we compare canonically sorted)."""
        return (self.error_kind, self.error_type, self.path, self.detail)


class SchemaNotFound(KeyError):
    """Registry miss — parity with jesse's {database_error, Key,
    schema_not_found} (/root/reference/src/jesse_database.erl:96-102)."""


class SchemaUnsupported(ValueError):
    """Unknown ``$schema`` URI — parity with jesse's
    ``{schema_unsupported, Schema}`` error: the reference REFUSES to
    validate under semantics it does not implement
    (/root/reference/src/jesse_schema_validator.erl:86-87, asserted at
    test/jesse_schema_validator_tests.erl:180-191) rather than silently
    falling back to the default draft."""

    def __init__(self, uri: str) -> None:
        super().__init__(f"schema_unsupported: {uri}")
        self.uri = uri
