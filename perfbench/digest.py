"""Process-independent sha256 digests of materialized outputs.

Python's ``hash`` of a str is salted per process, so it cannot be recorded
in one process and compared in another. These digests hash a canonical
text form instead: columns sorted by name, every value rendered exactly
(floats by ``repr``), rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import math
from typing import Any

import numpy as np
import pandas as pd


def canon(v: Any) -> Any:
    """A JSON-able value that renders every input value exactly."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    if isinstance(v, bytes):
        return v.hex()
    if v is pd.NaT:
        return None
    return str(v)


def table_digest(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([canon(v) for v in row], separators=(",", ":"))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    payload = json.dumps([cols, rows], separators=(",", ":"))
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def json_digest(obj: Any) -> str:
    payload = json.dumps(canon(obj), sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def digest(value: Any) -> str:
    if isinstance(value, pd.DataFrame):
        return table_digest(value)
    return json_digest(value)
