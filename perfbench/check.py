"""Response checker: compares NDJSON and Arrow IPC response bodies with the
generator's expected answers (gen.py). A wrong answer counts as failed."""

import io
import json

from gen import canon, row_key, table_digest

# mutations() rounds proportions to 4 places on the JVM (HALF_UP on the
# double); the sidecar rounds the same way in Python, so allow one unit
# of the last place for the two float-to-decimal conversions
TOLERANCE = {"proportion": 1.0001e-4}


def parse_body(body, accept):
    """Rows of one response body as a list of dicts."""
    if accept == "arrow":
        import pyarrow.ipc
        return pyarrow.ipc.open_stream(io.BytesIO(body)).read_all().to_pylist()
    rows = [json.loads(line) for line in body.decode("utf-8").splitlines() if line]
    if any("__streamError" in r for r in rows):
        raise ValueError("stream error in body")
    return rows


def _same(a, b):
    if a.keys() != b.keys():
        return False
    for k in a:
        x, y = canon(a[k]), canon(b[k])
        if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                and not isinstance(x, bool) and not isinstance(y, bool):
            if abs(x - y) > TOLERANCE.get(k, 0.0):
                return False
        elif x != y:
            return False
    return True


def _sort_key(row):
    # floats are excluded from the order so a tolerated difference in
    # the last place cannot reorder the rows being compared
    return row_key({k: v for k, v in row.items() if not isinstance(v, float)})


def check(expected, body, accept):
    """None when `body` answers `expected`, else the reason it does not."""
    try:
        rows = parse_body(body, accept)
    except Exception as e:  # a body that does not parse is a wrong answer
        return f"unparseable body: {e}"
    if "digest" in expected:
        got = table_digest(rows)
        return None if got == expected["digest"] else f"digest {got} != {expected['digest']}"
    want = expected["rows"]
    if len(rows) != len(want):
        return f"{len(rows)} rows != {len(want)}"
    if not expected["ordered"]:
        rows, want = sorted(rows, key=_sort_key), sorted(want, key=_sort_key)
    for got, exp in zip(rows, want):
        if not _same(got, exp):
            return f"row {got} != {exp}"
    return None
