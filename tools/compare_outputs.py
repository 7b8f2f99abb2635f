"""Compare two graft.Verify output dirs query by query.

usage: compare_outputs.py PARENT_DIR CHANGE_DIR

For every query dir on either side it reads the parquet with duckdb and
compares the schema (column names and types, in order) and the sorted
rows (each value rendered with repr, so floats compare exactly).
It lists every query that differs, that is missing on one side, or that
either side's errors.json names (it threw in graft.Verify), and exits 1
if there is any. Unlike compare_oracle.py it needs no oracle SQL, so it
covers the rows-only queries too.
"""
import duckdb, glob, json, os, sys
from collections import Counter

if len(sys.argv) != 3:
    sys.exit(__doc__)
sides = sys.argv[1:]
con = duckdb.connect()


def queries(out):
    return {os.path.basename(d): d for d in glob.glob(f'{out}/q*')
            if os.path.isdir(d)}


def errors(out):
    p = f'{out}/errors.json'
    return json.load(open(p)) if os.path.exists(p) else {}


def dump(d):
    """(schema, sorted rendered rows) of one query's parquet dir."""
    src = f"'{d}/*.parquet'"
    schema = [tuple(r[:2]) for r in
              con.execute(f'DESCRIBE SELECT * FROM {src}').fetchall()]
    rows = sorted(tuple(repr(v) for v in r)
                  for r in con.execute(f'SELECT * FROM {src}').fetchall())
    return schema, rows


(pq, pe), (cq, ce) = [(queries(s), errors(s)) for s in sides]
bad = {}
for name in sorted(pe.keys() | ce.keys()):
    bad[name] = {'errors_json': {'parent': pe.get(name), 'change': ce.get(name)}}
names = sorted(pq.keys() | cq.keys())
for name in names:
    if name in bad:
        continue
    if name not in pq or name not in cq:
        bad[name] = {'missing_in': 'parent' if name not in pq else 'change'}
        continue
    try:
        (ps, pr), (cs, cr) = dump(pq[name]), dump(cq[name])
    except Exception as e:
        bad[name] = {'read': str(e)}
        continue
    r = {}
    if ps != cs:
        r['schema'] = {'parent': ps, 'change': cs}
    if pr != cr:
        pc, cc = Counter(pr), Counter(cr)
        r['rows'] = {'parent': len(pr), 'change': len(cr),
                     'parent_only': [list(t) for t in list((pc - cc).elements())[:3]],
                     'change_only': [list(t) for t in list((cc - pc).elements())[:3]]}
    if r:
        bad[name] = r
print('TOTAL', len(set(names) | bad.keys()), 'IDENTICAL',
      len(set(names) - bad.keys()), 'DIFFER', len(bad))
for name, why in bad.items():
    print('DIFF', name, json.dumps(why, default=str))
sys.exit(1 if bad else 0)
