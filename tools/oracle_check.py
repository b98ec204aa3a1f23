import duckdb, json, os, sys, glob

# Local mimic of the driver's oracle compare. Round-2 lesson (VERDICT r2):
# the driver canonicalizes the two sides ASYMMETRICALLY for decimals — one
# side is rendered scale-exact ('253942.00'), the other as a float
# ('253942.0') — so ANY query whose output schema contains a DECIMAL column
# fails whenever a value has a trailing zero at its scale. Queries must
# render decimals to VARCHAR (or DOUBLE) on both engines. This harness
# therefore:
#   1. categorically FAILS any query whose Spark-output or oracle schema
#      contains a DECIMAL column (the driver-red predictor), and
#   2. strictly compares declared types + exact value renderings for the rest
#      (the round-1 lesson: the hash is type-sensitive too).
# Local red must predict driver red; local green must predict driver green.

sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f'{outdir}/oracle_sql.json'))

def canon(val):
    import math, datetime
    if val is None: return None
    if isinstance(val, float):
        if math.isnan(val): return 'NaN'
        return repr(val)
    if isinstance(val, bool): return repr(val)
    if isinstance(val, datetime.datetime):
        return val.isoformat()  # keeps tzinfo difference visible
    return str(val)  # Decimal: exact scale-preserving rendering, no normalize()

def described_types(rel_sql):
    # (name, type) list PRESERVING duplicates: a dict keyed by name would
    # collapse duplicate output columns and silently misalign the positional
    # compare below.
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE {rel_sql}").fetchall()]

# Every row directory of the dump must have SQL and every SQL entry must
# have a row directory with parquet output; name each side's strays (a row
# without SQL would otherwise go unchecked, and SQL without output would
# only surface as a read_parquet([]) error).
dumped = {os.path.basename(os.path.dirname(f))
          for f in glob.glob(f'{outdir}/*/*.parquet')}
fails = [(name, 'output but no SQL in oracle_sql.json')
         for name in sorted(dumped - oracle.keys())]
fails += [(name, 'SQL but no parquet output in the dump')
          for name in sorted(oracle.keys() - dumped)]
for name, sql in sorted(oracle.items()):
    if name not in dumped:
        continue
    try:
        spark_files = glob.glob(f'{outdir}/{name}/*.parquet')
        spark_rel = f"SELECT * FROM read_parquet({spark_files!r})"
        sdf = con.sql(spark_rel).fetchall()
        stypes = described_types(spark_rel)
        dtypes = described_types(f"({sql})")
        ddf = con.sql(sql).fetchall()
        if sdf and len(stypes) != len(sdf[0]):
            fails.append((name, f'DESCRIBE/width mismatch spark {len(stypes)} cols vs {len(sdf[0])} values'))
            continue
        if ddf and len(dtypes) != len(ddf[0]):
            fails.append((name, f'DESCRIBE/width mismatch duck {len(dtypes)} cols vs {len(ddf[0])} values'))
            continue
        # driver-red predictor: no DECIMAL column may reach the output
        dec_cols = [(c, ty) for c, ty in stypes + dtypes if ty.startswith('DECIMAL')]
        if dec_cols:
            fails.append((name, f'DECIMAL OUTPUT (driver canon renders sides asymmetrically): {sorted(set(dec_cols))}'))
            continue
        scols = [c for c, _ in stypes]
        dcols = [c for c, _ in dtypes]
        if sorted(scols) != sorted(dcols):
            fails.append((name, f'COLUMN MISMATCH spark={sorted(scols)} duck={sorted(dcols)}'))
            continue
        # positional (name-sorted) type compare — a dict keyed by name would
        # collapse duplicate columns and let a dup-named column with a
        # different type slip through the gate
        sidx = sorted(range(len(scols)), key=lambda i: (scols[i], i))
        didx = sorted(range(len(dcols)), key=lambda i: (dcols[i], i))
        tdiff = [(stypes[i], dtypes[j]) for i, j in zip(sidx, didx)
                 if stypes[i][1] != dtypes[j][1]]
        if tdiff:
            fails.append((name, f'TYPE MISMATCH {tdiff}'))
            continue
        srows = sorted(tuple(canon(r[i]) for i in sidx) for r in sdf)
        drows = sorted(tuple(canon(r[i]) for i in didx) for r in ddf)
        if len(srows) != len(drows):
            fails.append((name, f'ROWCOUNT spark={len(srows)} duck={len(drows)}'))
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            fails.append((name, f'{len(bad)} differing rows; first: spark={bad[0][0]} duck={bad[0][1]}'))
        else:
            print(f'OK   {name} ({len(srows)} rows)')
    except Exception as e:
        fails.append((name, f'ERROR {type(e).__name__}: {e}'))

for name, msg in fails:
    print(f'FAIL {name}: {msg}')
total = len(dumped | oracle.keys())
print(f'\n{total-len(fails)}/{total} queries match')
sys.exit(1 if fails else 0)
