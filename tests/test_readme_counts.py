"""README capability numbers must match the live registry (r5 verdict
item 8: the matrix drifted twice; now drift fails the suite).

The counts are asserted, not regenerated — a failing run prints the
correct values to paste into README.md."""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_counts_match_registry():
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    declared, oracled = len(entry.queries()), len(entry.oracle_sql())
    readme = open(os.path.join(REPO, "README.md")).read()
    m = re.search(
        r"\*\*(\d+) queries, (\d+) oracle-checked\*\*", readme
    )
    assert m, "README.md lost its inventory-count line"
    assert (int(m.group(1)), int(m.group(2))) == (declared, oracled), (
        f"README says {m.group(0)}; registry has {declared} queries, "
        f"{oracled} oracle-checked — update README.md"
    )

