"""Draft-aware JSON deep equality.

Semantics derived from the reference's ``is_equal``
(`/root/reference/src/jesse_validator_draft3.erl:884-925`): same-type values
only; scalars compared with Erlang ``=:=`` — so in draft3 ``1 != 1.0`` and
``true != 1``. Draft4 (per the public spec + official test suite) treats
numbers as mathematically equal (``1 == 1.0``) but still keeps booleans
disjoint from numbers.

Python pitfall handled here: ``isinstance(True, int)`` is ``True`` — every
numeric branch checks ``bool`` first (SURVEY.md §1.2).
"""

from __future__ import annotations


def _is_bool(v: object) -> bool:
    return isinstance(v, bool)


def json_equal(a: object, b: object, *, exact_numbers: bool) -> bool:
    """Deep equality. ``exact_numbers=True`` = draft3 (``1 != 1.0``)."""
    if isinstance(a, dict) and isinstance(b, dict):
        if len(a) != len(b):
            return False
        for k, va in a.items():
            if k not in b:
                return False
            if not json_equal(va, b[k], exact_numbers=exact_numbers):
                return False
        return True
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False
        return all(
            json_equal(x, y, exact_numbers=exact_numbers) for x, y in zip(a, b)
        )
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        return False
    # scalars
    if a is None or b is None:
        return a is None and b is None
    if _is_bool(a) or _is_bool(b):
        return _is_bool(a) and _is_bool(b) and a is b
    if isinstance(a, str) or isinstance(b, str):
        return isinstance(a, str) and isinstance(b, str) and a == b
    # both numbers from here
    if exact_numbers:
        # Erlang =:= — int and float never compare equal
        if isinstance(a, int) != isinstance(b, int):
            return False
    return a == b
