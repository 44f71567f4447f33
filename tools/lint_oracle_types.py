#!/usr/bin/env python3
"""Authoring-time oracle TYPE lint (round-9 verdict item 3): binds every
oracle twin in DuckDB (DESCRIBE — no execution, instant for all 196) and
checks each output column's type FAMILY against the checked-in snapshot
tools/oracle_schema.json, which records the Spark side's output families.
Any parquet dumps present in <verify_out_dir> are also cross-checked
against the snapshot, so Spark-side drift and a stale snapshot both fail.

Why families, not exact types: the driver hashes raw Python values, so
int32 vs int64 is fine but Decimal('12') vs 12 and 12.0 vs 12 are hash
failures even when numerically equal (the round-9 six-red bug class).
DuckDB's HUGEINT materializes as arrow decimal128(38,0) — it IS the
decimal family here.

Usage:
  python3 tools/lint_oracle_types.py <verify_out_dir> <sf_dir>
  python3 tools/lint_oracle_types.py --regen <verify_out_dir>
      regenerate the snapshot from a FULL green dump (refuses a partial
      one — a targeted dump would silently shrink the gate)
"""
import sys, os, json, glob

HERE = os.path.dirname(os.path.abspath(__file__))
SNAPSHOT = os.path.join(HERE, "oracle_schema.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_family(t: str) -> str:
    """DESCRIBE type string -> driver-hash equivalence family."""
    t = t.strip().upper()
    if t.endswith("[]"):
        return "list<" + duck_family(t[:-2]) + ">"
    if t.startswith("DECIMAL") or t == "HUGEINT" or t == "UHUGEINT":
        return "decimal"  # arrow decimal128 -> raw Decimal objects
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t in ("BLOB", "BYTEA", "BINARY"):
        return "binary"
    return t


def arrow_family(t) -> str:
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) \
            or pa.types.is_fixed_size_list(t):
        return "list<" + arrow_family(t.value_type) + ">"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def spark_schemas(out_dir):
    import pyarrow.parquet as pq
    out = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "q*"))):
        files = glob.glob(os.path.join(d, "*.parquet"))
        if files:
            out[os.path.basename(d)] = {
                f.name: arrow_family(f.type) for f in pq.read_schema(files[0])}
    return out


def duck_schemas(out_dir, sf_dir):
    import duckdb
    con = duckdb.connect()
    # views over empty in-memory tables would change binding; bind against
    # a real tier so column types resolve exactly as the compare does
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    out, errs = {}, {}
    for name, sql in sorted(oracle.items()):
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
            out[name] = {r[0]: duck_family(r[1]) for r in rows}
        except Exception as e:
            errs[name] = f"{name}: DESCRIBE failed: {e}"
    return out, errs


def main():
    if len(sys.argv) < 3:
        print("usage: lint_oracle_types.py <verify_out_dir> <sf_dir> | "
              "--regen <verify_out_dir>")
        sys.exit(2)
    if sys.argv[1] == "--regen":
        out_dir = sys.argv[2]
        sp = spark_schemas(out_dir)
        oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
        missing = sorted(set(oracle) - set(sp))
        if missing:
            print(f"REGEN REFUSED: dump is partial, {len(missing)} queries "
                  f"have no parquet (e.g. {missing[:5]}) — regen only from "
                  "a FULL green Verify dump")
            sys.exit(1)
        json.dump(sp, open(SNAPSHOT, "w"), indent=1, sort_keys=True)
        print(f"wrote {SNAPSHOT}: {len(sp)} queries")
        return

    out_dir = sys.argv[1]
    snap = json.load(open(SNAPSHOT))
    sp = spark_schemas(out_dir)
    duck, errs = duck_schemas(out_dir, sys.argv[2])
    n_fail = 0
    for e in errs.values():
        print(f"FAIL {e}");  n_fail += 1
    # every twin must agree with the snapshot — or, for a NEW query not
    # yet snapshotted, with its own spark dump from this run (so the
    # authoring loop works before the next full-dump --regen)
    for name in sorted(duck):
        if name not in snap and name not in sp:
            print(f"FAIL {name}: not in {os.path.basename(SNAPSHOT)} and no "
                  "spark dump in this run — dump it (targeted preflight) or "
                  "--regen from a full one")
            n_fail += 1
            continue
        exp = snap.get(name, sp.get(name))
        got = duck[name]
        if sorted(exp) != sorted(got):
            print(f"FAIL {name}: columns differ snapshot={sorted(exp)} "
                  f"duck={sorted(got)}")
            n_fail += 1
            continue
        bad = [f"{c}: spark={exp[c]} duck={got[c]}"
               for c in sorted(exp)
               if exp[c] != got[c] or "decimal" in got[c]]
        if bad:
            print(f"FAIL {name}: {'; '.join(bad)}");  n_fail += 1
    # a DESCRIBE-failed twin is absent from `duck` but already counted
    # above — reporting it again as "missing" would double-count one
    # defect and point the author at the wrong fix
    for name in sorted(set(snap) - set(duck) - set(errs)):
        print(f"FAIL {name}: in snapshot but twin missing from dump")
        n_fail += 1
    # cross-check any spark dumps present against the snapshot (targeted
    # runs carry only the iterated queries; full runs carry all)
    n_sp = 0
    for name, sch in sorted(sp.items()):
        if name not in snap:
            n_sp += 1  # new query: already gated against its dump above
            continue
        exp = snap[name]
        bad = [f"{c}: snapshot={exp.get(c)} spark={f}"
               for c, f in sorted(sch.items()) if exp.get(c) != f]
        bad += [f"{c}: in snapshot, missing from spark output"
                for c in sorted(set(exp) - set(sch))]
        if bad:
            print(f"FAIL {name} (spark dump): {'; '.join(bad)}");  n_fail += 1
        else:
            n_sp += 1
    print(f"\n{len(duck)} twins linted, {n_sp} spark dumps cross-checked, "
          f"{n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
