import duckdb, json, sys, glob, os

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/root/repo/target/verify_out'
con = duckdb.connect()
for t in ['embeddings', 'documents', 'events', 'lineitem', 'orders', 'customer',
          'part', 'supplier', 'nation', 'region']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f'{out}/oracle_sql.json'))
fails = 0
for name, sql in sorted(oracle.items()):
    pq = f'{out}/{name}'
    if not os.path.isdir(pq):
        print(f'{name}: MISSING spark output'); fails += 1; continue
    try:
        got = con.execute(f"SELECT * FROM '{pq}/*.parquet'").fetchdf()
        exp = con.execute(sql).fetchdf()
        g_cols, e_cols = sorted(got.columns), sorted(exp.columns)
        if g_cols != e_cols:
            print(f'{name}: SCHEMA mismatch {g_cols} vs {e_cols}'); fails += 1; continue
        g = got[g_cols].sort_values(g_cols).reset_index(drop=True)
        e = exp[e_cols].sort_values(e_cols).reset_index(drop=True)
        if len(g) != len(e):
            print(f'{name}: ROWS {len(g)} vs {len(e)}'); fails += 1; continue
        if not g.equals(e):
            diff = (g != e) & ~(g.isna() & e.isna())
            bad = diff.any(axis=1)
            print(f'{name}: VALUES mismatch ({bad.sum()} rows)')
            print('  got:', g[bad].head(3).to_dict('records'))
            print('  exp:', e[bad].head(3).to_dict('records'))
            fails += 1; continue
        # dtype check (hash-relevant)
        dt_g = [str(x) for x in g.dtypes]; dt_e = [str(x) for x in e.dtypes]
        flag = ' DTYPES differ: ' + str(list(zip(g_cols, dt_g, dt_e))) if dt_g != dt_e else ''
        print(f'{name}: OK ({len(g)} rows){flag}')
    except Exception as ex:
        print(f'{name}: ERROR {str(ex)[:200]}'); fails += 1
print('FAILURES:', fails)
sys.exit(1 if fails else 0)
