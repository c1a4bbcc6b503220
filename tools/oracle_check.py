"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row counts + column names + values (order-insensitive).

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]

Named queries may be live or pending (staged, not yet registered); a
name found in neither registry exits 1 before anything runs.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from rearview_spark.session import get_spark
from rearview_spark.sources.loader import TABLE_NAMES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family used for the schema-faithfulness check.

    The driver's hash is computed on the raw comparison frames, so a
    Spark decimal vs DuckDB double, bigint vs HUGEINT(->float64), or a
    tz-aware vs naive timestamp all fail its gate even when the values
    agree.  Round 1's local replica coerced those away and reported "0
    failures" while the driver saw 3 (VERDICT r01 #4); this family check
    makes the local sweep reproduce the driver verdict.
    """
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return "timestamp[tz]"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "timestamp"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if s.dtype == object:
        import datetime
        import decimal

        for v in s:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, datetime.datetime):
                return "timestamp[tz]" if v.tzinfo else "timestamp"
            if isinstance(v, datetime.date):
                return "date"
            if isinstance(v, (bytes, bytearray)):
                return "binary"
            if isinstance(v, str):
                return "string"
            if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                return "array"
            return type(v).__name__
        return "all-null"
    return str(s.dtype)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value (the driver compares
    order-insensitively after a column-name sort) — NO dtype coercion."""
    df = df.reindex(sorted(df.columns), axis=1)
    sortable = df.copy()
    for c in sortable.columns:
        if dtype_family(sortable[c]) == "array":
            sortable[c] = sortable[c].map(lambda v: str(v))
    order = sortable.sort_values(
        list(sortable.columns), na_position="last", kind="mergesort"
    ).index
    return df.loc[order].reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns: spark={scols} duck={dcols}")
        return problems
    # dtype families must agree BEFORE any coercion — this is what the
    # driver's type-sensitive hash sees.
    for c in scols:
        sf_, df_ = dtype_family(spark_pdf[c]), dtype_family(duck_pdf[c])
        if sf_ != df_ and "all-null" not in (sf_, df_):
            problems.append(
                f"col {c}: dtype family spark={sf_}({spark_pdf[c].dtype}) "
                f"duck={df_}({duck_pdf[c].dtype})"
            )
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        fam = dtype_family(sv)
        if fam == "float":
            sa = pd.to_numeric(sv, errors="coerce")
            da = pd.to_numeric(dv, errors="coerce")
            # exact: the oracle contract (integer-cents sums, round+eps)
            # exists precisely to make Spark and DuckDB bit-identical.
            mismatch = ~((sa.isna() & da.isna()) | (sa == da))
        elif fam == "array":
            mismatch = ~(
                (sv.isna() & dv.isna())
                | (sv.map(lambda v: str(v)) == dv.map(lambda v: str(v)))
            )
        else:
            mismatch = ~((sv.isna() & dv.isna()) | (sv == dv))
        n_bad = int(mismatch.sum())
        if n_bad:
            i = mismatch.idxmax()
            problems.append(
                f"col {c}: {n_bad} mismatches, first at row {i}: spark={sv[i]!r} duck={dv[i]!r}"
            )
    return problems


def resolve(names: list[str]) -> tuple[dict, list[str]]:
    """``(gates, unknown)``: every live gate when ``names`` is empty,
    else each named gate looked up in the live registry, then the
    pending one; ``unknown`` lists the names found in neither."""
    from rearview_spark.plans import all_pending, all_queries

    live = all_queries()
    if not names:
        return live, []
    known = {**all_pending(), **live}
    gates = {n: known[n] for n in names if n in known}
    return gates, sorted(set(names) - gates.keys())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    gates, unknown = resolve(sys.argv[2:])
    if unknown:
        print(f"unknown gate name(s), neither live nor pending: {unknown}")
        return 1

    spark = get_spark("oracle_check")
    con = duck_con(sf_dir)

    failed = []
    for name, spec in sorted(gates.items()):
        try:
            sdf = spec["fn"](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if not spec.get("oracle"):
            print(f"skip  {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            ddf = con.execute(spec["oracle"]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0]}")
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok    {name} ({len(sdf)} rows)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
