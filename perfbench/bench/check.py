"""Output checks.

Batch results are compared with DuckDB running the engine's own oracle SQL
over the same parquet tables, on the model of `tools/check_oracle.py`:
columns by name, rows as a multiset, floats to 1e-9. Queries without an
oracle are compared with a recorded row count and order-insensitive hash
(`expected.json`). Stream output must hold every generated post exactly
once, and a sample's sentiment must equal batch `Enrich.enrich`.
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

_EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    """A DuckDB or JSON value in the form the benchmark's JVM side writes."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        d = v.replace(tzinfo=None) - _EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, dt.date):
        return (v - _EPOCH.date()).days * 86_400_000_000
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in v.items()}
    return v


def _key(v):
    """Total order over canonical values; floats rounded so that last-digit
    differences between engines do not reorder rows."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (2, round(float(v), 6))
    if isinstance(v, str):
        return (3, v)
    if isinstance(v, list):
        return (4, tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return (5, tuple((k, _key(v[k])) for k in sorted(v)))
    return (6, str(v))


def close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(round(float(a), 9), round(float(b), 9), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k]) for k in a)
    return a == b


def normalise(columns, rows):
    """(sorted column names, rows re-ordered to them and sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rs = [[canon(r[i]) for i in order] for r in rows]
    rs.sort(key=lambda r: tuple(_key(x) for x in r))
    return [columns[i] for i in order], rs


def compare(got, exp):
    """None if the two (columns, rows) results agree, else a reason."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if not close(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None


def fingerprint(columns, rows):
    """(row count, order-insensitive hash) of a normalised result; floats
    enter the hash rounded to 6 decimals."""
    def rnd(v):
        if isinstance(v, float):
            return round(v, 6) + 0.0
        if isinstance(v, list):
            return [rnd(x) for x in v]
        if isinstance(v, dict):
            return {k: rnd(x) for k, x in v.items()}
        return v
    lines = sorted(json.dumps([rnd(v) for v in r], sort_keys=True) for r in rows)
    h = hashlib.sha256(json.dumps(columns).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def load_result(path):
    with open(path) as fh:
        d = json.load(fh)
    return normalise(d["columns"], d["rows"])


def oracle_results(data_dir, sqls, cache_path):
    """DuckDB results of the oracle SQL over `data_dir`, cached by SQL."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    missing = {n: s for n, s in sqls.items() if cache.get(n, {}).get("sql") != s}
    if missing:
        con = duckdb.connect()
        for t in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        for n, s in missing.items():
            cur = con.execute(s)
            cols = [d[0] for d in cur.description]
            c, rows = normalise(cols, cur.fetchall())
            cache[n] = {"sql": s, "columns": c, "rows": rows}
        with open(cache_path, "w") as fh:
            json.dump(cache, fh)
    return {n: (cache[n]["columns"], cache[n]["rows"]) for n in sqls}


def check_batch(results_dir, names, data_dir, oracle_cache, expected):
    """{query: None | reason} for every checked query."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        sqls = {n: s for n, s in json.load(fh).items() if n in names}
    oracle = oracle_results(data_dir, sqls, oracle_cache)
    out = {}
    for n in names:
        path = os.path.join(results_dir, f"{n}.json")
        if not os.path.exists(path):
            out[n] = "no result"
            continue
        got = load_result(path)
        if n in oracle:
            out[n] = compare(got, oracle[n])
        elif n in expected:
            fp = list(fingerprint(*got))
            out[n] = None if fp == expected[n] else f"fingerprint {fp} != {expected[n]}"
        else:
            out[n] = "no oracle and no recorded fingerprint"
    return out


def record_expected(results_dir, names, path):
    """Records the fingerprint of every checked query without oracle SQL."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracled = set(json.load(fh))
    expected = {}
    if os.path.exists(path):
        with open(path) as fh:
            expected = json.load(fh)
    for n in names:
        f = os.path.join(results_dir, f"{n}.json")
        if n not in oracled and os.path.exists(f):
            expected[n] = list(fingerprint(*load_result(f)))
    with open(path, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")


def sink_rows(sink_batches):
    """{part file: [row dict]} for every committed part file."""
    rows = {}
    for _, _, files in sink_batches:
        for f in files:
            with open(f) as fh:
                rows[f] = [json.loads(line) for line in fh if line.strip()]
    return rows


def check_stream(expected_users, rows_by_file, sample_dir):
    """(attempted, failures): each generated post must be in the sink
    exactly once, and each sampled post's sentiment must match batch
    enrichment."""
    seen = {}
    for rows in rows_by_file.values():
        for r in rows:
            seen[r["user"]] = seen.get(r["user"], 0) + 1
    failures = [f"missing {u}" for u in expected_users if seen.get(u, 0) == 0]
    failures += [f"{u} written {k} times" for u, k in seen.items() if k != 1]
    failures += [f"unexpected {u}" for u in set(seen) - set(expected_users)]
    by_user = {r["user"]: r for rows in rows_by_file.values() for r in rows}
    sample = []
    for f in glob.glob(os.path.join(sample_dir, "*.json")):
        with open(f) as fh:
            sample += [json.loads(line) for line in fh if line.strip()]
    for s in sample:
        r = by_user.get(s["user"])
        if r is None:
            continue
        for k in ("sentiment_score", "sentiment_label", "hashtags"):
            if r.get(k) != s.get(k):
                failures.append(f"{s['user']} {k}: stream {r.get(k)!r} batch {s.get(k)!r}")
    if not sample:
        failures.append("empty batch enrichment sample")
    return len(expected_users) + len(sample), failures
