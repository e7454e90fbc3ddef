"""The committed catalog digests cover every row the benchmark runs and
were taken over the committed input files. Run: python3 -m pytest
perfbench/tests -q"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.workloads import CATALOG_DATA, CATALOG_ROWS, COUNT_ONLY, DIGESTS  # noqa: E402


def test_digests_cover_rows_and_match_inputs():
    with open(DIGESTS, encoding="utf-8") as f:
        want = json.load(f)
    assert set(want["rows"]) == set(CATALOG_ROWS)
    for name, exp in want["rows"].items():
        assert exp["rows"] > 0, name
        assert ("count_only" in exp) == (name in COUNT_ONLY)
    on_disk = sorted(f[: -len(".parquet")] for f in os.listdir(CATALOG_DATA))
    assert sorted(want["inputs"]) == on_disk
    for table, sha in want["inputs"].items():
        assert stats.file_sha256(os.path.join(CATALOG_DATA, f"{table}.parquet")) == sha
