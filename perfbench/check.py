"""Checks of the program's answers, computed apart from the program.

Interactive answers (lookup, live) are compared with the per-symbol
aggregates of `inputs.Prefixes`; range bounds and JSONPath predicate
templates are evaluated here, not by the program's own evaluator. Recompute
answers are compared by fingerprint with DuckDB running the program's oracle
SQL on the same parquet files.
"""
import hashlib
import struct


def sym_index(sym):
    return int(sym[1:])


def sym_name(i):
    return "U%06d" % i


def predicate(q, row, s):
    """The JSONPath template `q["tmpl"]` on one aggregate row (cents)."""
    buys, sells, shares = row
    if q["tmpl"] == 0:
        return buys > sells
    if q["tmpl"] == 1:
        return shares > q["n"]
    return (sells >= buys and shares > q["n"]) or sym_name(s) == q["k"]


def candidates(q, n_symbols):
    if q["kind"] in ("key", "multi_key"):
        return sorted({sym_index(k) for k in q["keys"]})
    if q["kind"] == "all":
        return range(n_symbols)
    return range(sym_index(q["lo"]), sym_index(q["hi"]) + 1)


def expected(q, prefixes, p, n_symbols):
    """The rows `q` should return after prefix p, in cents."""
    out = set()
    for s in candidates(q, n_symbols):
        row = prefixes.row(p, s)
        if row is None:
            continue
        if q["kind"] == "filtered_range" and not predicate(q, row, s):
            continue
        out.add((sym_name(s),) + row)
    return out


def observed(answer):
    return [(r[0], round(r[1] * 100), round(r[2] * 100), int(r[3])) for r in answer["rows"]]


def matching_prefix(answer, prefixes, n_symbols, p_lo, p_hi):
    """The first prefix in [p_lo, p_hi] whose expected rows equal the
    answer's, or None when none does (a wrong, stale or torn answer)."""
    rows = observed(answer)
    got = set(rows)
    if len(got) != len(rows):
        return None
    for p in range(p_lo, p_hi + 1):
        if expected(answer, prefixes, p, n_symbols) == got:
            return p
    return None


def canon(v):
    """Canonical text of one value; mirrors `Recompute.canon` in the JVM."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(struct.unpack(">q", struct.pack(">d", 0.0 if v == 0.0 else v))[0])
    return str(v)


def fingerprint(columns, rows):
    """Order-independent fingerprint; mirrors `Recompute.fingerprint`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big", signed=True)
    return (total + 2**63) % 2**64 - 2**63


def oracle(data_dir, sql_by_name):
    """(sorted columns, row count, fingerprint) of each oracle query."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
    out = {}
    for name, sql in sql_by_name.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = (sorted(cols), len(rows), fingerprint(cols, rows))
    con.close()
    return out


def recompute_ok(answer, expected_by_name):
    cols, n, fp = expected_by_name[answer["kind"]]
    return answer["columns"] == cols and answer["rows"] == n and answer["fingerprint"] == fp
