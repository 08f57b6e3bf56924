"""``load_all()`` returns the registry in one fixed order, whichever
query module a process imports first. The driver's window is its first
50 rows and tests/test_oracle_equivalence.py collects the rest, so a
reordering would silently move rows between the two gates."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "tests", "load_all_order.json")) as fh:
    PINNED = json.load(fh)


@pytest.mark.parametrize("first", [None, "relational", "analytics", "llmdata"])
def test_load_all_order_is_pinned(first):
    """In a fresh interpreter (collection-time imports of this process
    cannot reorder it), optionally importing one query module first."""
    code = "" if first is None else f"import etl_database_spark.queries.{first}\n"
    code += "import json\nfrom etl_database_spark.queries import load_all\n"
    code += "print(json.dumps(list(load_all())))"
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    assert json.loads(out.splitlines()[-1]) == PINNED
