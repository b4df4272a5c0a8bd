#!/usr/bin/env python3
"""Local correctness gate: compares a graft.Verify dump with the DuckDB
oracles in its oracle_sql.json.

Usage: check_oracle.py <sfDir> <verifyOutDir> [timeout_sec]

Each table is a DuckDB view over `<sfDir>/<t>.parquet`, or over
`<t>.parquet/*.parquet` when Spark wrote the table as a directory. Every
oracle's result must match the Spark output in
  - column names (compared sorted),
  - row count,
  - dtype family (int / float / bool / object / datetime / timedelta;
    the gate's hash is type-sensitive, so DuckDB widening an uncast
    integer SUM to HUGEINT, which pandas renders as float64, fails even
    when the values agree),
  - values after widening within a family only (int64 / float64), rows
    sorted,
  - the exact sorted-row hash (columns sorted by name, each value's repr).
DuckDB runs with memory_limit='24GB', so an oracle that blows up fails
fast instead of taking the host down.

Each oracle prints one line starting with PASS, FAIL or ERROR, then its
name. With timeout_sec, every oracle runs in a subprocess with that wall
budget; one that runs out prints TIMEOUT and does not count as a failure
(a few naive oracle spellings are super-linear at 10x scale), and the
slowest oracles are listed at the end.
"""
import sys, os, json, math, glob, time
import multiprocessing as mp
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def family(dtype):
    k = dtype.kind  # i/u int, f float, b bool, O object, M datetime, m timedelta
    if k in ("i", "u"):
        return "int"
    return {"f": "float", "b": "bool", "O": "object",
            "M": "datetime", "m": "timedelta"}.get(k, k)


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)  # exact double repr


def row_keys(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)


def fetch(con, table):
    """(column names, python rows, pandas frame) of a temp table."""
    rows = con.execute(f"SELECT * FROM {table}").fetchall()
    cols = [d[0] for d in con.description]
    return cols, rows, con.execute(f"SELECT * FROM {table}").df()


def check(con, out_dir, name, sql):
    """Returns (verdict, detail); verdict is PASS, FAIL or ERROR."""
    try:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        # Each side is materialized once and read twice (python values
        # for the hash, a frame for the dtype and value checks).
        con.execute("CREATE OR REPLACE TEMP TABLE check_got AS "
                    f"SELECT * FROM read_parquet({files!r})")
        con.execute(f"CREATE OR REPLACE TEMP TABLE check_exp AS {sql}")
        got_cols, got, s = fetch(con, "check_got")
        exp_cols, exp, o = fetch(con, "check_exp")
    except Exception as ex:  # noqa: BLE001
        return "ERROR", str(ex)[:300]
    finally:
        for t in ("check_got", "check_exp"):
            con.execute(f"DROP TABLE IF EXISTS {t}")
    cols = sorted(got_cols)
    if sorted(exp_cols) != cols:
        return "FAIL", f"columns {cols} vs {sorted(exp_cols)}"
    if len(got) != len(exp):
        return "FAIL", f"rows {len(got)} vs {len(exp)}"
    bad = [f"{c}: spark {s[c].dtype} vs oracle {o[c].dtype}"
           for c in cols if family(s[c].dtype) != family(o[c].dtype)]
    if bad:
        return "FAIL", "dtype family mismatch: " + "; ".join(bad)
    widen = {"int": "int64", "float": "float64"}
    for c in cols:
        w = widen.get(family(s[c].dtype))
        if w:
            s[c] = s[c].astype(w)
            o[c] = o[c].astype(w)
    s = s[cols].sort_values(cols).reset_index(drop=True)
    o = o[cols].sort_values(cols).reset_index(drop=True)
    if not s.equals(o):
        diff = (s != o).any()
        return "FAIL", f"values differ in columns {list(diff[diff].index)}"
    g, e = row_keys(got_cols, got), row_keys(exp_cols, exp)
    if g != e:
        a, b = next((a, b) for a, b in zip(g, e) if a != b)
        return "FAIL", ("value hash mismatch; first diff:\n"
                        f"  got {a[:300]}\n  exp {b[:300]}")
    return "PASS", f"{len(got)} rows"


def _check_in_child(sf_dir, out_dir, name, sql, conn):
    conn.send(check(connect(sf_dir), out_dir, name, sql))


def check_bounded(sf_dir, out_dir, name, sql, timeout_sec):
    """check() in a subprocess; (TIMEOUT, ...) once timeout_sec passes."""
    rx, tx = mp.Pipe(False)
    p = mp.Process(target=_check_in_child,
                   args=(sf_dir, out_dir, name, sql, tx))
    p.start()
    p.join(timeout_sec)
    if p.is_alive():
        p.terminate()
        p.join()
        return "TIMEOUT", f"> {timeout_sec}s oracle"
    if rx.poll():
        return rx.recv()
    return "ERROR", f"no result (exit code {p.exitcode})"


def main(sf_dir, out_dir, timeout_sec=None):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = connect(sf_dir) if timeout_sec is None else None
    counts = {"PASS": 0, "FAIL": 0, "TIMEOUT": 0}
    times = []
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        if con is None:
            verdict, detail = check_bounded(sf_dir, out_dir, name, sql,
                                            timeout_sec)
        else:
            verdict, detail = check(con, out_dir, name, sql)
        wall = time.monotonic() - t0
        times.append((wall, name, verdict))
        if verdict == "PASS":
            print(f"PASS {name} ({detail}) [{wall:.1f}s]")
        else:
            print(f"{verdict} {name}: {detail} [{wall:.1f}s]")
        counts[verdict if verdict in counts else "FAIL"] += 1
    summary = f"\n{counts['PASS']} pass / {counts['FAIL']} fail"
    if timeout_sec is not None:
        summary += f" / {counts['TIMEOUT']} oracle-timeout"
    print(summary)
    if timeout_sec is not None:
        print("\nslowest oracles (wall s):")
        for wall, name, verdict in sorted(times, reverse=True)[:15]:
            print(f"  {wall:7.1f}  {name} ({verdict})")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  int(sys.argv[3]) if len(sys.argv) > 3 else None))
