"""The query registry and its oracles stay aligned (no Spark session)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_queries_and_oracles_share_keys_in_order():
    assert list(entrymod.queries()) == list(entrymod.oracle_sql())
