"""Canonical digests of query results.

Both sides of a comparison go through `digest()`: the rows graft returns
(written by the harness as JSON) and the rows DuckDB returns for the
query's oracle SQL. The canonical form follows tools/check.py, which the
repository's correctness gate uses: columns sorted by name, rows kept in
the order the query returns them, NaN equal to NULL, and an integral
double equal to the same integer.
"""
import datetime
import decimal
import hashlib
import json
import math

_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "bin:" + bytes(v).hex()
    if isinstance(v, dict):
        # the harness's tagged scalars
        if set(v) == {"$ts"}:
            return "ts:%d" % v["$ts"]
        if set(v) == {"$date"}:
            return "date:" + v["$date"]
        if set(v) == {"$bin"}:
            return "bin:" + v["$bin"]
        if set(v) == {"$map"}:
            return canon_map((k, x) for k, x in v["$map"])
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return canon_map(zip(v["key"], v["value"]))
        return "{" + ",".join("%s=%s" % (k, canon(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return json.dumps(str(v))


def canon_map(pairs):
    return "map{" + ",".join(sorted("%s=>%s" % (canon(k), canon(x)) for k, x in pairs)) + "}"


def digest(columns, rows):
    """sha256 over the rows, columns sorted by name; returns (hex, n_rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256(("|".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("|".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest(), len(rows)


def digest_file(path):
    with open(path) as f:
        doc = json.load(f)
    return digest(doc["columns"], doc["rows"])
