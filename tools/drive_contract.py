"""Drive the full driver contract end-to-end: load __spark_entry__
in a fresh process, hostile-timezone session, run every query at
sf0.01 and compare against its DuckDB oracle with bitwise float
checks. Run from a NON-repo cwd:  python <checkout>/tools/drive_contract.py
(it drives the checkout it lives in).
"""
import importlib.util, os, sys, math
ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.ui.enabled","false")
         .config("spark.sql.session.timeZone","America/New_York")
         .getOrCreate())
import duckdb, datetime, decimal
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if v is None: return None
    if isinstance(v, decimal.Decimal): return float(v)
    if isinstance(v, float): return v  # bitwise float compare via repr below
    if isinstance(v, bool): return bool(v)
    if isinstance(v, int): return float(v) if False else v
    if isinstance(v, (datetime.datetime, datetime.date)): return str(v)
    return v

def key(row, cols):
    out = []
    for c in cols:
        v = norm(row[c])
        out.append(('f', v.hex()) if isinstance(v, float) else ('o', str(v)))
    return tuple(out)

qs, osql = mod.queries(), mod.oracle_sql()
fails = []
names = [n for n in sorted(qs) if n in osql]
for name in names:
    try:
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted(key(r, cols) for r in sdf.collect())
        cur = con.execute(osql[name])
        ocols_raw = [d[0] for d in cur.description]
        orows_raw = cur.fetchall()
        ocols = sorted(ocols_raw)
        idx = {c: i for i, c in enumerate(ocols_raw)}
        orows = sorted(key({c: r[idx[c]] for c in ocols}, ocols) for r in orows_raw)
        if cols != ocols: fails.append((name, f"schema {cols} vs {ocols}")); continue
        if srows != orows:
            bad = sum(1 for a, b in zip(srows, orows) if a != b) + abs(len(srows)-len(orows))
            for a, b in list(zip(srows, orows))[:3000]:
                if a != b: print(f"  DIFF {name}:\n    S={a}\n    O={b}"); break
            fails.append((name, f"{bad} mismatches of {len(srows)}|{len(orows)}"))
    except Exception as e:
        fails.append((name, f"EXC {type(e).__name__}: {e}"))
print("FAILURES:" if fails else "ALL OK")
for n, m in fails: print(f"  {n}: {m}")
sys.exit(1 if fails else 0)
