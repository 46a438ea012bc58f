#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped
by graft.Verify, run the oracle SQL in DuckDB over the same parquet
tables, sort columns by name + rows by all values, and compare.

Oracle results are CACHED on disk keyed by (oracle SQL, testdata
fingerprint): a full-registry re-gate over an unchanged sf dir pays the
expensive DuckDB oracles (the recursive-CTE closures, the kNN CTE
chains) exactly once. The fingerprint covers every table file's
(path, size, mtime_ns), so regenerating testdata — or pointing at a
different sf dir — invalidates every entry naturally; editing an
oracle's SQL invalidates just that entry. Cold behavior is unchanged.
Disable with GRAFT_ORACLE_CACHE=0; cache lives under
$GRAFT_ORACLE_CACHE_DIR (default /tmp/graft_oracle_cache).

Usage: python3 tools/check_oracle.py [sf_dir] [verify_out_dir]
       python3 tools/check_oracle.py --sql-diff A/oracle_sql.json B/oracle_sql.json

--sql-diff compares the oracle SQL of two Verify dumps and runs no
DuckDB: it prints each query whose oracle text differs, once as a
byte-for-byte difference and, when the texts still differ after every
whitespace run is collapsed to one space, once more as a text
difference; queries present in only one dump are named too. Exit
status is 1 when anything differs.
"""
import sys, os, json, glob, hashlib


def sql_diff(path_a: str, path_b: str) -> int:
    a, b = json.load(open(path_a)), json.load(open(path_b))
    norm = lambda sql: " ".join(sql.split())
    both = sorted(set(a) & set(b))
    raw = [n for n in both if a[n] != b[n]]
    text = [n for n in raw if norm(a[n]) != norm(b[n])]
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    for label, names in (("byte-for-byte", raw), ("after whitespace normalisation", text),
                         (f"only in {path_a}", only_a), (f"only in {path_b}", only_b)):
        print(f"{len(names)} differ {label}" if not label.startswith("only")
              else f"{len(names)} {label}")
        for n in names:
            print(f"  {n}")
    print(f"{len(both) - len(raw)}/{len(both)} shared oracle strings byte-identical")
    return 1 if raw or only_a or only_b else 0


if len(sys.argv) > 1 and sys.argv[1] == "--sql-diff":
    if len(sys.argv) != 4:
        sys.exit("usage: check_oracle.py --sql-diff A/oracle_sql.json B/oracle_sql.json")
    sys.exit(sql_diff(sys.argv[2], sys.argv[3]))

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CACHE_ON = os.environ.get("GRAFT_ORACLE_CACHE", "1") != "0"
CACHE_DIR = os.environ.get("GRAFT_ORACLE_CACHE_DIR", "/tmp/graft_oracle_cache")

con = duckdb.connect()
# Optional memory cap + spill dir (e.g. GRAFT_DUCKDB_MEM=48GB): at the
# sf10 scale slices the shingle-join oracles want to grab DuckDB's
# default 80%-of-RAM budget, which starves whatever else the gate is
# running; a cap makes the hash joins/aggs spill to disk instead.
if os.environ.get("GRAFT_DUCKDB_MEM"):
    con.sql(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEM']}'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def data_fingerprint() -> str:
    """(path, size, mtime_ns) of every table parquet under SF — any
    regeneration or different sf dir changes the digest."""
    h = hashlib.sha256()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        try:
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
        except FileNotFoundError:
            h.update(f"{p}|missing\n".encode())
    return h.hexdigest()


FP = data_fingerprint()


def oracle_df(name: str, sql: str):
    """DuckDB oracle result, cache-keyed by (sql, testdata fingerprint).

    Returns (df, 'hit'|'miss'|'off'). Cache entries are parquet — exact
    round-trip for every type the compare sees (the compare is
    string-canonicalized anyway). Write is atomic (tmp + rename) so a
    ctrl-C mid-gate never leaves a truncated entry; an unreadable entry
    is treated as a miss and rewritten.
    """
    if not CACHE_ON:
        return con.sql(sql).df(), "off"
    key = hashlib.sha256((FP + "\x00" + sql).encode()).hexdigest()
    path = f"{CACHE_DIR}/{key}.parquet"
    if os.path.exists(path):
        try:
            return con.sql(f"SELECT * FROM '{path}'").df(), "hit"
        except Exception:
            pass  # corrupt/unreadable entry -> recompute below
    df = con.sql(sql).df()
    try:
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        # empty results keep their schema through parquet; 0-col results
        # (impossible for a SELECT) are the only thing parquet can't hold
        con.from_df(df).write_parquet(tmp)
        os.replace(tmp, path)
    except Exception as e:
        print(f"WARN cache write failed for {name}: {e}", file=sys.stderr)
    return df, "miss"


oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)

fails = 0
hits = 0
names = sorted(oracle)
for name in names:
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
        want, src = oracle_df(name, oracle[name])
        hits += src == "hit"
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: cols {list(g.columns)} vs {list(w.columns)}")
        fails += 1; continue
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); fails += 1; continue
    # exact value compare, same spirit as a hash compare
    neq = (g.astype(str) != w.astype(str))
    if neq.any().any():
        bad = neq.any(axis=1)
        idx = list(g.index[bad])[:3]
        print(f"FAIL {name}: {int(bad.sum())}/{len(g)} rows differ; sample:")
        for i in idx:
            print("  spark:", dict(g.loc[i]))
            print("  duck :", dict(w.loc[i]))
        fails += 1; continue
    print(f"PASS {name} ({len(g)} rows, {len(g.columns)} cols{', oracle cached' if src == 'hit' else ''})")

missing = [n for n in glob.glob(f"{OUT}/*/") if n.split('/')[-2] not in oracle]
for m in missing:
    n = m.split('/')[-2]
    k = len(glob.glob(f"{m}/*.parquet"))
    print(f"INFO rows-only query {n}: {'has output' if k else 'NO OUTPUT'}")
print(f"\n{len(names)-fails}/{len(names)} oracle queries pass"
      + (f" ({hits} oracle results from cache)" if CACHE_ON else ""))
sys.exit(1 if fails else 0)
