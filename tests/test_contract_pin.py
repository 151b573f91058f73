"""Pins the driver contract so refactors of ``__spark_entry__`` stay
byte-stable: the gate-head order, the full query-name set, every oracle
string, and that each registry entry is the function of its own name.

The order after the gate head is not pinned; callers either use fixed
name lists or iterate ``sorted(queries())``.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entry_mod


def _sha(obj, **kw) -> str:
    return hashlib.sha256(json.dumps(obj, **kw).encode()).hexdigest()


def test_gate_head_leads_the_registry():
    head = list(entry_mod.queries())[:50]
    assert head == entry_mod._GATE_HEAD
    assert _sha(head).startswith("43289c94de59")


def test_query_name_set_is_pinned():
    assert _sha(sorted(entry_mod.queries())).startswith("6f4035f58f42")


def test_oracle_strings_are_pinned():
    assert _sha(entry_mod.oracle_sql(), sort_keys=True).startswith(
        "5e4b6d543c82"
    )


def test_each_entry_is_the_function_of_its_name():
    for name, fn in entry_mod.queries().items():
        assert fn.__name__ == name
