"""Mirror of the driver harness: vanilla SparkSession (no engine conf),
calls entry(), then every queries() entry at sf0.01 vs oracle_sql() in DuckDB.

SPARK_GRAFT_MIRROR_ONLY=name1,name2 restricts the t2 loop to those
queries (incremental rehearsal while iterating); the full default run
remains the pre-round gate of record."""
import os, sys, math, datetime as dt
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master('local[8]')
         .appName('driver-mirror').config('spark.ui.enabled','false')
         .getOrCreate())  # deliberately NO engine-specific conf
spark.sparkContext.setLogLevel('ERROR')

import __spark_entry__ as E

# t1 smoke
df = E.entry(spark)
rows = df.collect()
print(f"t1 entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) > 0

# t2 oracle compare at sf0.01
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")

def norm(v):
    if v is None: return '∅'
    if isinstance(v, float):
        return '∅' if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (dt.datetime, dt.date)): return v.isoformat()
    if isinstance(v, (list, tuple)): return '['+','.join(norm(x) for x in v)+']'
    if isinstance(v, bytes): return v.hex()
    return str(v)

Q, O = E.queries(), E.oracle_sql()
only = {n.strip() for n in os.environ.get("SPARK_GRAFT_MIRROR_ONLY", "").split(",") if n.strip()}
if only:
    unknown = only - set(Q)
    assert not unknown, f"unknown queries: {unknown}"
    Q = {n: Q[n] for n in only}
fails = []
for name, fn in sorted(Q.items()):
    sdf = fn(spark, '/root/testdata/sf0.01')
    srows = [r.asDict() for r in sdf.collect()]
    if name not in O:
        print(f"  {name}: rows-only, {len(srows)} rows OK"); continue
    tbl = con.execute(O[name]).fetch_arrow_table()
    drows = tbl.to_pylist()
    scols, dcols = sorted(sdf.columns), sorted(tbl.column_names)
    s = sorted(tuple(norm(r[c]) for c in scols) for r in srows)
    d = sorted(tuple(norm(r[c]) for c in dcols) for r in drows)
    ok = scols == dcols and s == d
    print(f"  {name}: cols={'OK' if scols==dcols else (scols,dcols)} rows={len(s)}/{len(d)} hash={'MATCH' if s==d else 'MISMATCH'}")
    if not ok: fails.append(name)
print("FAILURES:", fails if fails else "none")
sys.exit(1 if fails else 0)
