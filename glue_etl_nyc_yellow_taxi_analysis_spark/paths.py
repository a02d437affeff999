"""Paths: filename → job-parameter derivation, and scratch directories.

Replaces the S3-trigger Lambda's regex parsing
(``lambda-process-s3-raw-nyc-files/lambda_function.py:12-14``): a monthly
drop named ``yellow_tripdata_YYYY-MM.parquet`` yields the partition values
``processed_year``/``processed_month`` that key the fact table.

``scratch`` is the package's one way to make a temporary directory.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

_YM_RE = re.compile(r"(\d{4})-(\d{2})")


def year_month_from_path(path: str) -> tuple[str, str]:
    """Extract (year, month) from a monthly file path.

    ``.../yellow_tripdata_2021-01.parquet`` → ("2021", "1").  Month is
    returned unpadded to match the reference's Lambda (int(month) passed as
    a string job argument).
    """
    name = os.path.basename(path)
    m = _YM_RE.search(name)
    if not m:
        raise ValueError(f"cannot derive year-month from {path!r}")
    year, month = m.group(1), m.group(2)
    return year, str(int(month))


def scratch(prefix: str) -> str:
    """A fresh directory under the temp dir, removed when the interpreter
    exits.  Query lanes return lazy frames over the files they write, so
    the directory must outlive the call that made it."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path
