"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf parquet tables; compare row count, column names, and an
order-insensitive value multiset. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    return v


def arrow_canon(t):
    """Canonical token for an Arrow type, distinguishing the families the
    driver's value-hash distinguishes. DuckDB sum(INTEGER) -> decimal128(38,0)
    hashes differently from Spark's int64 even when values are equal, so
    decimal is NOT folded into int here (that exact mismatch slipped through
    the old Python-value compare in round 1)."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_canon(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{arrow_canon(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{arrow_canon(t.key_type)},{arrow_canon(t.item_type)}>"
    return str(t)


def arrow_types(tbl):
    return {f.name: arrow_canon(f.type) for f in tbl.schema}


def as_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for row in rows:
        key = tuple(normalize(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from webcollector_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ran = [name for name in queries if not only or name in only]
    for name in ran:
        fn = queries[name]
        sql = oracles.get(name)
        try:
            # one execution per engine: rows and types both come off the
            # same Arrow table
            satbl = fn(spark, sf_dir).toArrow()
            scols = list(satbl.column_names)
            srows = [tuple(d[c] for c in scols) for d in satbl.to_pylist()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            continue
        if sql is None:
            print(f"SKIP {name}: rows-only check -> {len(srows)} rows")
            continue
        try:
            datbl = con.execute(sql).arrow()
            dcols = list(datbl.column_names)
            drows = [tuple(d[c] for c in dcols) for d in datbl.to_pylist()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            continue
        ok = True
        stypes, dtypes = arrow_types(satbl), arrow_types(datbl)
        if sorted(scols) != sorted(dcols):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
        elif stypes != dtypes:
            ok = False
            diff = {
                c: (stypes.get(c), dtypes.get(c))
                for c in set(stypes) | set(dtypes)
                if stypes.get(c) != dtypes.get(c)
            }
            print(f"FAIL {name}: arrow type mismatch (spark, duck) = {diff}")
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
        else:
            ms, md = as_multiset(scols, srows), as_multiset(dcols, drows)
            if ms != md:
                ok = False
                diff_s = [k for k in ms if ms[k] != md.get(k, 0)][:3]
                diff_d = [k for k in md if md[k] != ms.get(k, 0)][:3]
                print(f"FAIL {name}: value mismatch\n  spark-only={diff_s}\n  duck-only={diff_d}")
        if ok:
            print(f"OK   {name}: {len(srows)} rows")
        else:
            failures.append(name)
    print(f"\n{len(ran) - len(failures)}/{len(ran)} matched")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
