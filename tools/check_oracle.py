#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB with views
named after the driver tables in <sfDir>, and compares:
  - schema: column names (sorted)
  - rows:   exact count
  - values: hash over all cells with columns sorted by name, rows in
            result order, and a second order-insensitive hash (rows sorted)
Exit non-zero if any query mismatches.

With SPARK_GRAFT_ONLY set (the comma-separated allowlist graft.Verify
reads), only the listed keys are linted and compared, so a subset dump
checks exactly those keys; a listed key with no output still fails.
"""
import json
import math
import os
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Oracle output-type lint: every oracle's DESCRIBE'd result columns must
# stay inside this allowlist. Types outside it (HUGEINT from uncast integer
# sums, DECIMAL, unsigned ints, FLOAT, INTERVAL, ...) render differently
# across normalizers (duckdb-python vs pandas/arrow vs Spark parquet) and
# break value hashes even when the values are numerically identical —
# exactly the q12_late_lines_priority r13 failure (DuckDB sum(int) →
# HUGEINT → pandas float "354.0" vs Spark int64 "354"). Fix at authoring
# time with CAST(... AS BIGINT/DOUBLE/...).
ALLOWED_ORACLE_TYPES = {"BIGINT", "BOOLEAN", "DATE", "DOUBLE", "INTEGER",
                        "JSON", "TIMESTAMP", "VARCHAR", "BLOB"}


def lint_type_ok(typ):
    t = typ.strip()
    while t.endswith("[]"):  # lists of allowed scalars hash stably
        t = t[:-2].strip()
    return t in ALLOWED_ORACLE_TYPES


def lint_oracle_types(con, oracle):
    """DESCRIBE every oracle result; return [(name, problem)] for any
    column whose type is outside ALLOWED_ORACLE_TYPES. Runs over ALL
    oracle entries (not just those with spark output) so targeted
    verify runs still lint the full surface at authoring time."""
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            rows = con.execute(f"DESCRIBE ({sql})").fetchall()
        except Exception as e:
            bad.append((name, f"type lint: DESCRIBE failed: {e}"))
            continue
        offenders = [f"{r[0]}:{r[1]}" for r in rows if not lint_type_ok(r[1])]
        if offenders:
            bad.append((name, "type lint: normalizer-dependent oracle "
                        f"output type(s) {offenders} — add an explicit "
                        "CAST (allowed: " +
                        ",".join(sorted(ALLOWED_ORACLE_TYPES)) + ")"))
    return bad


def strip_sql_atoms(sql):
    """Yield (char, depth, in_string) for a depth-aware scan that skips
    string literals ('' escapes) and double-quoted identifiers."""
    depth = 0
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == '"':
            j = sql.find('"', i + 1)
            i = (j if j >= 0 else n) + 1
            continue
        if c == '(':
            depth += 1
        elif c == ')':
            depth -= 1
        yield i, c, depth
        i += 1


def parse_outer_order_by(sql):
    """Return (items, had_order_by): the LAST depth-0 ORDER BY's comma-split
    item list (up to a depth-0 LIMIT/OFFSET or end), each stripped of
    ASC/DESC/NULLS FIRST|LAST. items is None when there is no outer ORDER BY."""
    import re
    flat = []
    for i, c, depth in strip_sql_atoms(sql):
        flat.append((i, c.upper() if depth == 0 else "\x00", depth))
    text = "".join(c for _, c, _ in flat)
    matches = list(re.finditer(r"ORDER\s+BY", text))
    if not matches:
        return None, False
    body_start = matches[-1].end()
    m = re.search(r"\b(LIMIT|OFFSET)\b", text[body_start:])
    end = body_start + (m.start() if m else len(text) - body_start)
    # map back to original indices to recover the raw (mixed-case) text
    orig_start = flat[body_start][0] if body_start < len(flat) else len(sql)
    orig_end = flat[end][0] if end < len(flat) else len(sql)
    clause = sql[orig_start:orig_end]
    # split on depth-0 commas within the clause
    items, cur, depth = [], [], 0
    for ch in clause:
        if ch == '(':
            depth += 1
        elif ch == ')':
            depth -= 1
        if ch == ',' and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur))
    out = []
    for it in items:
        t = re.sub(r"(?i)\s+NULLS\s+(FIRST|LAST)\s*$", "", it.strip())
        t = re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", t.strip()).strip()
        out.append(t)
    return out, True


def lint_order_ties(name, sql, cols, rows):
    """Tie-unsafe ORDER BY lint (authoring-time drift class #2, r15):
    a multi-row oracle without a depth-0 ORDER BY, or whose ORDER BY key
    tuple is duplicated across output rows, can legally permute between
    engines and flake the order-sensitive hash. Items must resolve to
    output columns (by name or 1-based position) to be checkable;
    expression items make the key unverifiable and are reported too."""
    if len(rows) <= 1:
        return None  # 0/1-row results cannot be order-ambiguous
    items, had = parse_outer_order_by(sql)
    if not had:
        return "tie lint: multi-row oracle has no outer ORDER BY"
    lower = [c.lower() for c in cols]
    idx, unresolved = [], []
    for it in items:
        t = it.strip().strip('"')
        # a table-qualified item (d.doc_id) orders by the same values as
        # the output column of that name under the authoring convention
        base = t.split(".")[-1].strip().strip('"') if "." in t else t
        if t.isdigit() and 1 <= int(t) <= len(cols):
            idx.append(int(t) - 1)
        elif base.lower() in lower:
            idx.append(lower.index(base.lower()))
        else:
            # an expression item can only BREAK ties, never create them:
            # rows tie iff equal on EVERY item, so uniqueness of the
            # resolvable subset is sufficient — track and require it
            unresolved.append(t)
    seen = {}
    for r in rows:
        key = tuple(norm_cell(r[j]) for j in idx)
        full = tuple(norm_cell(v) for v in r)
        if key in seen:
            if seen[key] == full:
                continue  # identical tied ROWS permute invisibly — safe
            if unresolved:
                return (f"tie lint: ORDER BY key ties on {key} and the "
                        f"expression item(s) {unresolved} are not output "
                        "columns — order unverifiable; alias them into "
                        "the SELECT list on both sides")
            return (f"tie lint: ORDER BY {items} is not a total order — "
                    f"duplicate key {key} over differing rows; extend the "
                    "key to a unique column on both sides")
        seen[key] = full
    return None


def _rounded6(v):
    if v != v or v in (float("inf"), float("-inf")):
        return True  # NaN/inf normalize identically on both engines
    # v is exactly the double a 6-dp rounding would produce (Python's
    # round(float, 6) returns the nearest double to the 6-dp decimal, so
    # already-rounded values — and values too large to carry sub-unit
    # precision — are fixed points)
    return v == round(v, 6)


def _floats_of(v):
    if isinstance(v, float):
        yield v
    elif isinstance(v, list):
        for x in v:
            yield from _floats_of(x)


# Columns that are FULL-PRECISION BY DESIGN and still drift-safe: values
# produced with no cross-engine arithmetic at all (renamed passthrough).
# embed_quantize.scale = array_max(|raw float|) — a comparison over
# identical parquet bits; rounding it would corrupt dequantization.
DOUBLE_LINT_EXEMPT = {"embed_quantize": {"scale"}}


def lint_unrounded_doubles(name, cols, rows, passthrough):
    """Unrounded-double lint (authoring-time drift class #3, r15): a
    COMPUTED double column emitted at full precision depends on both
    engines' floating summation/interpolation order — the class round-6
    exists to kill. Columns named like base-table columns are passthrough
    (bit-identical parquet reads) and exempt."""
    bad = []
    for j, c in enumerate(cols):
        if c.lower() in passthrough or c in DOUBLE_LINT_EXEMPT.get(name, ()):
            continue
        for r in rows:
            if any(not _rounded6(f) for f in _floats_of(r[j])):
                bad.append(f"{c}={r[j]!r}")
                break
    if bad:
        return ("double lint: computed double column(s) not 6-dp-rounded "
                f"{bad} — wrap in round(..., 6) on both sides (or sum as "
                "DECIMAL and cast)")
    return None


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_digest(cols, rows, order_sensitive=True):
    import hashlib
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = ["\x01".join(norm_cell(r[i]) for i in order) for r in rows]
    if not order_sensitive:
        lines = sorted(lines)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    missing = []
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():  # Spark-written dataset directory
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        else:
            missing.append(t)
    if missing:
        print(f"ERROR: input tables missing from {sf_dir}: {missing}")
        sys.exit(2)
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    only = os.environ.get("SPARK_GRAFT_ONLY")
    only = {k.strip() for k in only.split(",")} if only is not None else None
    if only is not None:
        oracle = {k: v for k, v in oracle.items() if k in only}
    # base-table column names are passthrough for the double lint: both
    # engines read the identical parquet bits, no arithmetic to drift
    passthrough = set()
    for t in TABLES:
        for r in con.execute(f"DESCRIBE {t}").fetchall():
            passthrough.add(r[0].lower())

    failures = []
    lint_bad = lint_oracle_types(con, oracle)
    for name, problem in lint_bad:
        failures.append((name, problem))
        print(f"FAIL {name}: {problem}")
    if not lint_bad:
        print(f"lint {len(oracle)} oracle result types all in allowlist")
    # rows-only check for queries without an oracle (sketch-based ops):
    # output must exist and be readable; report its row count
    for qdir in sorted(Path(out_dir).iterdir()):
        if not qdir.is_dir() or qdir.name in oracle:
            continue
        if only is not None and qdir.name not in only:
            continue
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{qdir}/*.parquet')").fetchone()[0]
            print(f"rows {qdir.name} ({n} rows, no oracle)")
            if n == 0:
                failures.append((qdir.name, "rows-only check returned 0 rows"))
                print(f"FAIL {qdir.name}: rows-only check returned 0 rows")
        except Exception as e:
            failures.append((qdir.name, f"rows-only read failed: {e}"))
            print(f"FAIL {qdir.name}: rows-only read failed: {e}")
    # a listed key that is neither an oracle key nor a dumped query
    unmatched = sorted(k for k in (only or set()) - set(oracle)
                       if not (Path(out_dir) / k).is_dir())
    for name in unmatched:
        failures.append((name, "no spark output"))
        print(f"FAIL {name}: spark output missing")
    for name, sql in sorted(oracle.items()):
        qdir = Path(out_dir) / name
        if not qdir.exists():
            failures.append((name, "no spark output"))
            print(f"FAIL {name}: spark output missing")
            continue
        try:
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            s_cols = [d[0] for d in spark_rel.description]
            s_rows = spark_rel.fetchall()
        except Exception as e:
            failures.append((name, f"read spark parquet: {e}"))
            print(f"FAIL {name}: read spark parquet: {e}")
            continue
        try:
            o_rel = con.execute(sql)
            o_cols = [d[0] for d in o_rel.description]
            o_rows = o_rel.fetchall()
        except Exception as e:
            failures.append((name, f"oracle sql error: {e}"))
            print(f"FAIL {name}: oracle sql error: {e}")
            continue

        problems = []
        # authoring-time drift lints (r15): run on the executed oracle
        # result — a green hash TODAY does not make a tie-unsafe order or
        # an unrounded computed double safe against engine/version drift
        for lint in (lint_order_ties(name, sql, o_cols, o_rows),
                     lint_unrounded_doubles(name, o_cols, o_rows, passthrough)):
            if lint:
                problems.append(lint)
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        elif len(s_rows) != len(o_rows):
            problems.append(f"rowcount spark={len(s_rows)} oracle={len(o_rows)}")
        else:
            sh = table_digest(s_cols, s_rows)
            oh = table_digest(o_cols, o_rows)
            if sh != oh:
                sh_u = table_digest(s_cols, s_rows, order_sensitive=False)
                oh_u = table_digest(o_cols, o_rows, order_sensitive=False)
                if sh_u == oh_u:
                    problems.append("hash mismatch ORDER ONLY (values match unordered)")
                else:
                    problems.append("hash mismatch (values differ)")
                    # show first differing row
                    order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                    oorder = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
                    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
                        sl = [norm_cell(sr[j]) for j in order]
                        ol = [norm_cell(orow[j]) for j in oorder]
                        if sl != ol:
                            problems.append(
                                f"first diff row {i}:\n  spark : {sl}\n  oracle: {ol}\n  cols  : {sorted(s_cols)}")
                            break
        if problems:
            failures.append((name, "; ".join(problems[:1])))
            print(f"FAIL {name}: " + "\n  ".join(problems))
        else:
            print(f"ok   {name} ({len(s_rows)} rows)")

    total = len(oracle) + len(unmatched)
    print(f"\n{total - len(failures)}/{total} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
