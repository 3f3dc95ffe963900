"""Generated reference docs stay in sync with the code: regenerate
with ``python tools/gen_docs.py`` whenever an operator or registry
query changes."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_docs  # noqa: E402


def _committed(rel: str) -> str:
    with open(os.path.join(ROOT, rel)) as f:
        return f.read()


def test_operators_md_matches_code():
    assert gen_docs.gen_operators_md() == _committed("docs/OPERATORS.md")


def test_queries_md_matches_code():
    assert gen_docs.gen_queries_md() == _committed("QUERIES.md")
