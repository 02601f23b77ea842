#!/usr/bin/env python3
"""Dev-only local oracle harness (mirrors the driver's DuckDB compare).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--digests <file>]
       python3 tools/check.py --same-sql <before/oracle_sql.json> <after/oracle_sql.json>
Reads each <outDir>/<name> parquet (Spark output) and runs the matching
oracle SQL from <outDir>/oracle_sql.json in DuckDB over the sfDir tables,
then compares schema + values with columns sorted by name.

Every query line ends with `md5=<digest>`: an MD5 of the Spark rows with
columns sorted by name, rows sorted by all columns, each value normalized
as the compare does. `--digests <file>` also writes {name: digest} for
every output dir (no-oracle rows included) as JSON, so two Verify runs
compare by diffing their digest files.

`--same-sql` compares two oracle_sql.json files query by query and calls
each one `identical`, `whitespace-only` (equal once every run of
whitespace outside '...' and "..." literals is one space) or `different`.
A `--` comment outside a literal makes any change `different`: joining two
lines would change what the comment covers. It exits 1 on any `different`
query or any key present on one side only.
"""
import sys, json, math, glob, os, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # array columns come back as numpy arrays (Spark) / lists (DuckDB):
    # normalize both to tuples so == compares element-wise values
    if hasattr(v, "tolist"):
        return tuple(norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v

def digest(df):
    cols = sorted(df.columns)
    try:
        df = df[cols].sort_values(by=cols, ignore_index=True)
        rows = [repr(tuple(norm(v) for v in r))
                for r in zip(*(df[c].tolist() for c in cols))]
    except Exception:
        # cells the frame sort cannot order (arrays): sort the rendered rows
        rows = sorted(repr(tuple(norm(v) for v in r))
                      for r in zip(*(df[c].tolist() for c in cols)))
    h = hashlib.md5(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()

def main(sf_dir, out_dir, digests_path=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_noracle = 0
    digests = {}
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            digests[name] = None
            n_fail += 1
            continue
        sdf = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetch_df()
        d = digests[name] = digest(sdf)
        def say(line):
            print(f"{line} md5={d}")
        if name not in oracle:
            say(f"SKIP {name}: no oracle ({len(sdf)} rows)")
            n_noracle += 1
            continue
        try:
            odf = con.execute(oracle[name]).fetch_df()
        except Exception as e:
            say(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            say(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            say(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            n_fail += 1
            continue
        # Driver-faithful: the driver sorts result rows by ALL columns before
        # hashing. A cell the sort cannot handle (numpy arrays are unhashable/
        # uncomparable) crashes the driver harness — so it must FAIL here too,
        # not be normalized away (the r5 q_embed_quantize/whiten blind spot).
        try:
            sdf = sdf[scols].sort_values(by=scols, ignore_index=True)
            odf = odf[scols].sort_values(by=scols, ignore_index=True)
        except Exception as e:
            say(f"FAIL {name}: row-sort crash (driver-fatal): {type(e).__name__}: {e}")
            n_fail += 1
            continue
        # Representation check: the driver hashes serialized values, so a
        # dtype that renders differently (Decimal vs float/hugeint) is a
        # hash mismatch even when values are numerically equal.
        repbad = None
        for c in scols:
            st = next((type(v).__name__ for v in sdf[c].tolist() if v is not None), None)
            ot = next((type(v).__name__ for v in odf[c].tolist() if v is not None), None)
            if st is not None and ot is not None and st != ot:
                repbad = (c, st, ot)
                break
        if repbad:
            c, st, ot = repbad
            say(f"FAIL {name}: col={c} representation spark={st} oracle={ot}")
            n_fail += 1
            continue
        bad = None
        for c in scols:
            sv = [norm(v) for v in sdf[c].tolist()]
            ov = [norm(v) for v in odf[c].tolist()]
            if sv != ov:
                for i, (a, b) in enumerate(zip(sv, ov)):
                    if a != b and not (a is None and b is None):
                        bad = (c, i, a, b)
                        break
                if bad:
                    break
        if bad:
            c, i, a, b = bad
            say(f"FAIL {name}: col={c} row={i} spark={a!r} oracle={b!r}")
            n_fail += 1
        else:
            say(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    if digests_path:
        with open(digests_path, "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0

def squeeze(sql):
    """(sql with whitespace runs outside literals collapsed, has a comment)."""
    out, quote, comment, i = [], None, False, 0
    while i < len(sql):
        c = sql[i]
        if quote:
            out.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            out.append(c)
            quote = c
        elif c.isspace():
            while i + 1 < len(sql) and sql[i + 1].isspace():
                i += 1
            out.append(" ")
        else:
            comment |= sql.startswith("--", i)
            out.append(c)
        i += 1
    return "".join(out).strip(), comment

def same_sql(before_path, after_path):
    before = json.load(open(before_path))
    after = json.load(open(after_path))
    counts = {"identical": 0, "whitespace-only": 0, "different": 0}
    for name in sorted(before.keys() & after.keys()):
        a, b = before[name], after[name]
        if a == b:
            kind = "identical"
        else:
            (sa, ca), (sb, cb) = squeeze(a), squeeze(b)
            kind = "whitespace-only" if sa == sb and not (ca or cb) else "different"
        counts[kind] += 1
        print(f"{kind} {name}")
    only = ([f"only-before {n}" for n in sorted(before.keys() - after.keys())] +
            [f"only-after {n}" for n in sorted(after.keys() - before.keys())])
    for line in only:
        print(line)
    print(f"\n{counts['identical']} identical, {counts['whitespace-only']} "
          f"whitespace-only, {counts['different']} different, "
          f"{len(only)} keys on one side only")
    return 1 if counts["different"] or only else 0

if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--same-sql":
        sys.exit(same_sql(args[1], args[2]))
    digests_path = None
    if "--digests" in args:
        i = args.index("--digests")
        digests_path = args[i + 1]
        del args[i:i + 2]
    sys.exit(main(args[0], args[1], digests_path))
