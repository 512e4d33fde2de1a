#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: verify_local.py <sfDir> <verifyOutDir>
       verify_local.py --same-as <baseOutDir> <verifyOutDir>

Reads each <outDir>/<query>/ parquet (Spark output), runs the matching
oracle SQL from <outDir>/oracle_sql.json in DuckDB over the sfDir parquet
tables, sorts columns by name, and value-compares. Reports per-query PASS /
FAIL with diffs, plus max float deltas so we can judge rounding safety.

--same-as compares every query directory of <verifyOutDir> row for row
against the same directory of another Verify output (e.g. the parent
commit's), after sorting columns by name and rows by value — oracled and
rows-only queries alike — and reports whether oracle_sql.json is
byte-identical. Exit status 0 only when every query and oracle_sql.json
are identical.
"""
import sys, os, json, glob, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    return v

def compare_cells(mine, them, float_rtol):
    """Cell-by-cell compare of two frames with the same columns and row
    count; returns (differing cells, max float delta, first difference)."""
    bad = 0; max_float_delta = 0.0; first_diff = None
    for c in mine.columns:
        a, b = mine[c].tolist(), them[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            x, y = norm(x), norm(y)
            if isinstance(x, float) and isinstance(y, float):
                # FLOAT_RTOL (scale rehearsals only): double-sum
                # accumulation order drifts past the round(4) guard
                # once magnitudes reach ~1e10 (10x+ data); default 0
                # keeps driver-parity exactness. Non-finite values
                # never fall under the tolerance (inf-inf tricks
                # the > test), and absorbed drift is still tracked
                # so creep toward the ceiling stays observable.
                if x != y:
                    within = (float_rtol > 0.0
                              and math.isfinite(x) and math.isfinite(y)
                              and abs(x - y) <= float_rtol *
                              max(abs(x), abs(y), 1.0))
                    max_float_delta = max(max_float_delta, abs(x - y))
                    if not within:
                        bad += 1
                        if first_diff is None: first_diff = (c, i, x, y)
            else:
                # timestamps: compare as str to dodge ns/us repr diffs
                xs, ys = str(x), str(y)
                if xs != ys:
                    bad += 1
                    if first_diff is None: first_diff = (c, i, x, y)
    return bad, max_float_delta, first_diff

def read_output(out_dir, name):
    """One query's Spark output as a frame, columns sorted by name and
    rows sorted by value; None when the directory holds no parquet."""
    import pandas as pd
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    df = pd.concat([pq.read_table(f).to_pandas() for f in files],
                   ignore_index=True)
    df = df[sorted(df.columns)]
    # a row's sort key is its cells' text: array cells have no order of
    # their own, and identical rows give identical keys on both sides
    keys = [tuple(str(norm(v)) for v in row)
            for row in df.itertuples(index=False, name=None)]
    order = sorted(range(len(keys)), key=keys.__getitem__)
    return df.iloc[order].reset_index(drop=True)

def same_as(base_dir, out_dir):
    def queries(d):
        return {os.path.basename(os.path.dirname(f))
                for f in glob.glob(f"{d}/*/*.parquet")}
    n_same = n_diff = 0
    for name in sorted(queries(base_dir) | queries(out_dir)):
        base, mine = read_output(base_dir, name), read_output(out_dir, name)
        if base is None or mine is None:
            side = base_dir if base is None else out_dir
            print(f"DIFF {name}: no output in {side}"); n_diff += 1; continue
        if list(base.columns) != list(mine.columns):
            print(f"DIFF {name}: columns {list(mine.columns)} vs "
                  f"{list(base.columns)}"); n_diff += 1; continue
        if len(base) != len(mine):
            print(f"DIFF {name}: rows {len(mine)} vs {len(base)}")
            n_diff += 1; continue
        bad, _, first_diff = compare_cells(mine, base, 0.0)
        if bad:
            print(f"DIFF {name}: {bad} cell diffs, first={first_diff}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(mine)} rows)"); n_same += 1
    oracle = [open(f"{d}/oracle_sql.json", "rb").read()
              if os.path.exists(f"{d}/oracle_sql.json") else None
              for d in (base_dir, out_dir)]
    oracle_same = oracle[0] is not None and oracle[0] == oracle[1]
    print(f"oracle_sql.json {'identical' if oracle_same else 'differs'}")
    print(f"\n{n_same} identical / {n_diff} differ")
    return 0 if n_diff == 0 and oracle_same else 1

def main(sf_dir, out_dir):
    float_rtol = float(os.environ.get("FLOAT_RTOL", "0"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table = directory of parts
            p = f"{p}/*.parquet"
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            import pandas as pd
            mine = pd.concat([pq.read_table(f).to_pandas() for f in files],
                             ignore_index=True)
        except Exception as e:
            print(f"FAIL {name}: read error {e}"); n_fail += 1; continue
        if list(mine.columns) == ["__error__"]:
            # Verify writes this sentinel when the query itself threw —
            # surface the original exception instead of a column diff
            msg = mine["__error__"].iloc[0] if len(mine) else "unknown"
            print(f"FAIL {name}: query threw: {msg}"); n_fail += 1; continue
        try:
            them = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        mine = mine[sorted(mine.columns)]
        them = them[sorted(them.columns)]
        if list(mine.columns) != list(them.columns):
            print(f"FAIL {name}: columns {list(mine.columns)} vs {list(them.columns)}")
            n_fail += 1; continue
        if len(mine) != len(them):
            print(f"FAIL {name}: rows {len(mine)} vs {len(them)}")
            n_fail += 1; continue
        bad, max_float_delta, first_diff = compare_cells(mine, them,
                                                         float_rtol)
        if bad:
            print(f"FAIL {name}: {bad} cell diffs, first={first_diff}, "
                  f"max_float_delta={max_float_delta:g}")
            n_fail += 1
        else:
            tol_note = (f" (absorbed float drift {max_float_delta:g})"
                        if max_float_delta else "")
            print(f"PASS {name} ({len(mine)} rows){tol_note}")
            n_pass += 1
    ra = f"{out_dir}/rows_only_assertions.json"
    if os.path.exists(ra):
        for q, c in sorted(json.load(open(ra)).items()):
            tag = "PASS" if c["pass"] else "FAIL"
            if not c["pass"]: n_fail += 1
            else: n_pass += 1
            print(f"{tag} {q} [{c['check']}] {c['detail']}")
    else:
        # Verify always writes this on a full run (even on assertion
        # failure) — absence means the run died before the checks ran
        print(f"FAIL rows_only_assertions.json missing from {out_dir}")
        n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    if sys.argv[1] == "--same-as":
        sys.exit(same_as(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
