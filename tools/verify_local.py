#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tooling only — the
engine itself is Scala/Spark; this uses the driver-side python stack).

Usage:  python3 tools/verify_local.py [sfDir] [outDir] [--ledger FILE]

When `graft.Verify` ran a subset (SPARK_GRAFT_ONLY or its third
argument) it lists the names in outDir/subset.txt, and only those are
scored; a subset query without output still FAILs.

Runs DuckDB on each oracle_sql.json entry with the fixture parquet files
registered under their bare table names, reads the Spark output parquet
written by `graft.Verify`, sorts columns by name, and compares values
row-by-row (exact for non-floats; floats reported with max abs diff so
boundary risk is visible). --ledger additionally writes a per-query JSON
verdict map (the committed sf1 artifact trail, VERDICT r8 §next-2).

GRAFT_ISOLATE=1 runs every oracle in its OWN subprocess (this script
re-invoked with --one). Needed for the big-SF ledgers: DuckDB 1.0.0
never returns buffer-manager pages to the OS — not on DROP TABLE, not
on connection close — so ~17 accumulated sf10 oracles starve the tail
into allocation failures that a fresh process cannot reproduce (r13:
text_tfidf_top/text_winnowing OOM-failed behind dedup_simhash_pairs'
29.9M-row materializations, then passed standalone under the identical
cap). Per-process isolation is the only teardown the allocator honors;
the ~1-2 s interpreter+import cost per query is noise against the
multi-second big-SF oracles, so the sf0.01 per-commit gate stays
in-process by default."""
import json, os, sys, glob, math, gc, subprocess
import duckdb
# Eager import: .df() lazy-imports numpy/pandas at CONVERSION time, which
# on a near-memory-limit run fails inside numpy's loader with a
# misleading "you should not try to import numpy from its source
# directory" (observed at the sf10 ledger, 105 GB DuckDB allocation).
# Importing before DuckDB takes the memory removes the class.
import numpy   # noqa: F401
import pandas  # noqa: F401

import re

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def order_by_cols(sql, cols):
    """The top-level ORDER BY column list of `sql`, provided every item is
    a bare identifier that names a result column in `cols`; None when
    there is no top-level ORDER BY or it sorts by expressions/ordinals/
    qualified names (the order spot-check is then skipped, and says so).
    Paren depth tracking keeps subquery ORDER BYs out; the LAST top-level
    occurrence wins (set-op branches each carry their own)."""
    u = sql.upper()
    depth, idx, i = 0, -1, 0
    while i < len(sql):
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":  # string literal: skip to closing quote
            j = i + 1
            while j < len(sql) and sql[j] != "'":
                j += 1
            i = j
        elif depth == 0 and u.startswith("ORDER BY", i):
            idx = i
        i += 1
    if idx < 0:
        return None
    tail = sql[idx + len("ORDER BY"):]
    m = re.search(r"\b(LIMIT|OFFSET)\b", tail, re.I)
    if m:
        tail = tail[:m.start()]
    items, depth, cur = [], 0, ""
    for c in tail:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            items.append(cur)
            cur = ""
        else:
            cur += c
    items.append(cur)
    out = []
    for it in items:
        toks = it.strip().split()
        if not toks:
            return None
        name = toks[0].strip('"')
        if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", name) or name not in cols:
            return None
        if any(t.upper() not in ("ASC", "DESC", "NULLS", "FIRST", "LAST")
               for t in toks[1:]):
            return None
        out.append(name)
    return out or None


def fresh_con(sf):
    """Resource knobs for the big-SF ledgers (sf0.01 defaults are fine):
    at sf10 the IVF-family oracles build ~1e8-row spilling
    intermediates; without a memory_limit DuckDB runs to the RAM
    ceiling and the OOM killer takes the whole process, and without a
    temp_directory it spills into the repo cwd's .tmp until the disk
    fills (r12 lesson)."""
    c = duckdb.connect()
    if os.environ.get("GRAFT_DUCKDB_MEM"):
        c.execute(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEM']}'")
    if os.environ.get("GRAFT_DUCKDB_TEMP"):
        os.makedirs(os.environ["GRAFT_DUCKDB_TEMP"], exist_ok=True)
        c.execute(f"SET temp_directory='{os.environ['GRAFT_DUCKDB_TEMP']}'")
    if os.environ.get("GRAFT_DUCKDB_THREADS"):
        c.execute(f"SET threads={int(os.environ['GRAFT_DUCKDB_THREADS'])}")
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return c


def check_one(con, name, sql, sf, out):
    """Run one oracle + compare. Prints the PASS/FAIL line and returns
    the ledger entry string (prefix 'pass' = green)."""
    try:
        # ONE execution per oracle: the relation API re-runs the query
        # on EVERY materialization, so fetchall + description + df was
        # 3x the full oracle cost (which tripled the sf10 spill peaks).
        # CTAS materializes once; the reads below scan the table, and
        # DuckDB's default preserve_insertion_order keeps the query's
        # ORDER BY intact through CTAS + table scans.
        con.execute("CREATE OR REPLACE TEMP TABLE __oracle AS " + sql)
        nrows_oracle = con.sql("SELECT count(*) FROM __oracle").fetchone()[0]
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        return f"FAIL: oracle error: {e}"
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    if not files:
        print(f"FAIL {name}: no spark output")
        return "FAIL: no spark output"
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE __spark AS SELECT * FROM read_parquet({files!r})")

    # Count check FIRST, in SQL, on both sides (ADVICE r13): the
    # path switch below must see the Spark row count too — an
    # erroneously exploded Spark output over a small oracle would
    # otherwise be fetchall()'d whole into Python tuples before the
    # small path's own count check ran, which is exactly the allocator
    # blowup the big path exists to avoid.
    nrows_spark = con.sql("SELECT count(*) FROM __spark").fetchone()[0]
    if nrows_oracle != nrows_spark:
        print(f"FAIL {name}: row counts differ: oracle={nrows_oracle} "
              f"spark={nrows_spark}")
        return (f"FAIL: row counts differ oracle={nrows_oracle} "
                f"spark={nrows_spark}")

    # Big-relation path: never pull rows into Python. fetchall() of a
    # ~30M-row result builds tens of GB of Python tuples whose freed
    # memory glibc keeps in arenas for the process lifetime. Above the
    # threshold the compare runs entirely inside DuckDB's memory
    # manager (spills under the cap): symmetric EXCEPT ALL = multiset
    # equality, which DuckDB evaluates with NaN = NaN true and
    # NULL-matching set semantics — the same standard as the positional
    # loop below minus row ORDER; a positional spot-check of the
    # top-level ORDER BY prefix columns (ADVICE r13: a Spark-side
    # dropped final sort would otherwise pass the multiset gate exactly
    # for the scale runs it guards) restores the ordering contract —
    # the sorted sequence of prefix tuples is unique, so position-wise
    # prefix equality is exactly "both sides honored the ORDER BY",
    # while ties beyond the prefix stay order-free as they should be.
    # dtype class check uses DESCRIBE types mapped the way pandas would
    # render them (driver parity: HUGEINT and DECIMAL render float64,
    # so they class as 'f').
    big_threshold = int(os.environ.get("GRAFT_BIG_COMPARE_ROWS", "2000000"))
    if max(nrows_oracle, nrows_spark) > big_threshold:
        def type_class(t):
            t = t.upper()
            if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL") \
                    or t == "HUGEINT":
                return "f"
            if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                     "USMALLINT", "UINTEGER", "UBIGINT", "BOOLEAN"):
                return "i"
            return "o"
        wdesc = con.sql("DESCRIBE __oracle").fetchall()
        gdesc = con.sql("DESCRIBE __spark").fetchall()
        wcols = [r[0] for r in wdesc]
        gcols = [r[0] for r in gdesc]
        if sorted(wcols) != sorted(gcols):
            print(f"FAIL {name}: columns differ: oracle={sorted(wcols)} spark={sorted(gcols)}")
            return "FAIL: columns differ"
        wtypes = {r[0]: type_class(r[1]) for r in wdesc}
        gtypes = {r[0]: type_class(r[1]) for r in gdesc}
        tmis = [c for c in sorted(wcols) if wtypes[c] != gtypes[c]]
        if tmis:
            print(f"FAIL {name}: dtype class mismatch col {tmis[0]}: "
                  f"oracle={wtypes[tmis[0]]} spark={gtypes[tmis[0]]}")
            return f"FAIL: dtype mismatch col {tmis[0]}"
        collist = ", ".join(f'"{c}"' for c in sorted(wcols))
        ndiff = con.sql(
            f"SELECT (SELECT count(*) FROM (SELECT {collist} FROM __oracle "
            f"EXCEPT ALL SELECT {collist} FROM __spark)) + "
            f"(SELECT count(*) FROM (SELECT {collist} FROM __spark "
            f"EXCEPT ALL SELECT {collist} FROM __oracle))").fetchone()[0]
        if ndiff:
            print(f"FAIL {name}: {ndiff} rows differ (multiset compare)")
            return f"FAIL: {ndiff} rows differ (multiset compare)"
        # ordering spot-check: positional equality of the ORDER BY prefix
        # columns (DuckDB preserve_insertion_order keeps both CTAS tables
        # in their queries' output order; row_number() OVER () stamps it).
        # IS DISTINCT FROM gives NULL-safe equality, and DuckDB's float
        # comparison treats NaN = NaN as true — same standard as above.
        ob = order_by_cols(sql, set(wcols))
        if ob:
            oblist = ", ".join(f'"{c}"' for c in ob)
            pred = " OR ".join(f'o."{c}" IS DISTINCT FROM s."{c}"' for c in ob)
            nbad = con.sql(
                f"WITH o AS (SELECT row_number() OVER () rn, {oblist} "
                f"FROM __oracle), "
                f"s AS (SELECT row_number() OVER () rn, {oblist} "
                f"FROM __spark) "
                f"SELECT count(*) FROM o JOIN s USING (rn) "
                f"WHERE {pred}").fetchone()[0]
            if nbad:
                print(f"FAIL {name}: multiset equal but {nbad} positions "
                      f"violate ORDER BY ({', '.join(ob)}) — a dropped or "
                      f"broken Spark-side final sort")
                return f"FAIL: {nbad} positions violate ORDER BY"
            ocheck = f", order-checked on ({', '.join(ob)})"
        else:
            ocheck = ", order-check skipped (no bare-column top-level ORDER BY)"
        print(f"PASS {name}: {nrows_oracle} rows (multiset compare{ocheck})")
        return f"pass ({nrows_oracle} rows, multiset{ocheck})"

    want = con.sql("SELECT * FROM __oracle").fetchall()
    wcols = [d[0] for d in con.sql("SELECT * FROM __oracle").description]
    wdf = con.sql("SELECT * FROM __oracle").df()
    got = con.sql("SELECT * FROM __spark").fetchall()
    gcols = [d[0] for d in con.sql("SELECT * FROM __spark").description]
    gdf = con.sql("SELECT * FROM __spark").df()
    # Driver-parity dtype check: the driver hashes pandas-rendered values,
    # where DuckDB HUGEINT (sum of ints) and DOUBLE (floor/ceil) become
    # float64 ("500.0") while Spark longs stay int64 ("500"). An int/float
    # kind mismatch is therefore a REAL failure even when values compare
    # equal in python.
    kindmap = lambda k: "f" if k == "f" else ("i" if k in "iub" else "o")
    tfail = None
    for c in sorted(set(wcols) & set(gcols)):
        wk, gk = kindmap(wdf[c].dtype.kind), kindmap(gdf[c].dtype.kind)
        # all-NULL object columns are indistinguishable — skip
        if wk != gk and not (wdf[c].isna().all() or gdf[c].isna().all()):
            tfail = (c, wdf[c].dtype, gdf[c].dtype)
            break
    if tfail:
        print(f"FAIL {name}: dtype class mismatch col {tfail[0]}: oracle={tfail[1]} spark={tfail[2]}")
        return f"FAIL: dtype mismatch col {tfail[0]}"
    if sorted(wcols) != sorted(gcols):
        print(f"FAIL {name}: columns differ: oracle={sorted(wcols)} spark={sorted(gcols)}")
        return "FAIL: columns differ"
    worder = [wcols.index(c) for c in sorted(wcols)]
    gorder = [gcols.index(c) for c in sorted(gcols)]
    want2 = [[r[i] for i in worder] for r in want]
    got2 = [[r[i] for i in gorder] for r in got]
    if len(want2) != len(got2):
        print(f"FAIL {name}: row counts differ: oracle={len(want2)} spark={len(got2)}")
        return f"FAIL: row counts differ oracle={len(want2)} spark={len(got2)}"
    bad = None
    maxfdiff = 0.0
    for i, (wr, gr) in enumerate(zip(want2, got2)):
        for j, (wv, gv) in enumerate(zip(wr, gr)):
            if isinstance(wv, float) or isinstance(gv, float):
                if wv is None or gv is None:
                    if wv is not gv:
                        bad = (i, sorted(wcols)[j], wv, gv); break
                elif math.isnan(wv) and math.isnan(gv):
                    pass
                elif wv != gv:
                    maxfdiff = max(maxfdiff, abs(wv - gv))
                    bad = (i, sorted(wcols)[j], wv, gv); break
            elif wv != gv:
                bad = (i, sorted(wcols)[j], wv, gv); break
        if bad: break
    if bad:
        print(f"FAIL {name}: first diff at row {bad[0]} col {bad[1]}: oracle={bad[2]!r} spark={bad[3]!r} (maxfdiff={maxfdiff})")
        return f"FAIL: first diff at row {bad[0]} col {bad[1]}"
    print(f"PASS {name}: {len(want2)} rows")
    return f"pass ({len(want2)} rows)"


def main():
    args = sys.argv[1:]
    ledger_path = None
    one = None
    verdict_path = None
    if "--ledger" in args:
        i = args.index("--ledger")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            sys.exit("usage: verify_local.py [sfDir] [outDir] [--ledger FILE] "
                     "(--ledger needs a file path)")
        ledger_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    if "--one" in args:  # internal: single-oracle child of GRAFT_ISOLATE
        i = args.index("--one")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            sys.exit("usage: verify_local.py [sfDir] [outDir] --one NAME "
                     "(--one needs a query name)")
        one = args[i + 1]
        args = args[:i] + args[i + 2:]
    if "--verdict" in args:
        i = args.index("--verdict")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            sys.exit("usage: verify_local.py [sfDir] [outDir] --verdict FILE "
                     "(--verdict needs a file path)")
        verdict_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out = args[1] if len(args) > 1 else "/tmp/graft_verify"

    oracle = json.load(open(f"{out}/oracle_sql.json"))
    # a subset Verify run (SPARK_GRAFT_ONLY or its third argument) lists
    # its queries in subset.txt: score those, not the whole registry
    subset_path = f"{out}/subset.txt"
    if one is None and os.path.exists(subset_path):
        with open(subset_path) as f:
            subset = {line.strip() for line in f if line.strip()}
        print(f"subset run: scoring {len(subset)} of {len(oracle)} queries")
        oracle = {k: v for k, v in oracle.items() if k in subset}

    if one is not None:
        con = fresh_con(sf)
        entry = check_one(con, one, oracle[one], sf, out)
        if verdict_path:
            json.dump({one: entry}, open(verdict_path, "w"))
        sys.exit(0 if entry.startswith("pass") else 1)

    isolate = os.environ.get("GRAFT_ISOLATE") == "1"
    ledger = {}
    fail = 0
    con = None if isolate else fresh_con(sf)
    for name, sql in sorted(oracle.items()):
        if isolate:
            vfile = f"{out}/.verdict_{name}.json"
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), sf, out,
                 "--one", name, "--verdict", vfile])
            try:
                entry = json.load(open(vfile))[name]
                os.remove(vfile)
            except Exception:
                entry = f"FAIL: isolated child died (rc={r.returncode})"
                print(f"FAIL {name}: isolated child died (rc={r.returncode})")
        else:
            entry = check_one(con, name, sql, sf, out)
            gc.collect()
        ledger[name] = entry
        if not entry.startswith("pass"):
            fail += 1
    print(f"\n{len(oracle) - fail}/{len(oracle)} queries pass")
    if ledger_path:
        json.dump({"sf": sf, "n_total": len(oracle),
                   "n_pass": len(oracle) - fail,
                   "queries": dict(sorted(ledger.items()))},
                  open(ledger_path, "w"), indent=1)
        print(f"ledger -> {ledger_path}")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
