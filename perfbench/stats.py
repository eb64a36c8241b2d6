"""The benchmark's arithmetic: the percentile rules, and the row count and
digest of a query's answer, canonicalised by tools/compare_local.py's
`frame` (columns by name, rows sorted, NaN and HUGEINT as it renders
them), the rule the engine's results are compared to their oracles with.
"""
import hashlib
import json
import math
import os
import sys

CANON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "compare_local.py")
sys.path.insert(0, os.path.dirname(CANON))


def percentile(xs, p):
    """Nearest-rank percentile p (0-100] of xs; 0.0 when xs is empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(p * len(s) / 100.0) - 1))
    return s[k]


def tail_pct(n):
    """The highest whole percentile, at least the median, that leaves at
    least 10 of n samples beyond it; None when n < 20."""
    if n < 20:
        return None
    return (100 * (n - 10)) // n


def digest(cols, rows):
    """Order-insensitive digest of a canonical frame."""
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def answer(rel):
    """Row count and digest of a DuckDB relation's canonical frame."""
    from compare_local import frame  # imported here: it needs duckdb
    cols, rows = frame(rel)
    return {"rows": len(rows), "digest": digest(cols, rows)}
