"""Local replica of the driver's DuckDB-oracle correctness gate.

For each name in ``__spark_entry__.queries()`` with a matching
``oracle_sql()`` entry: run the Spark query and the DuckDB SQL on the
same parquet fixtures, then compare row count, schema (column names),
and an order-insensitive canonical form of the values (columns sorted
by name, rows sorted by their canonical representation).

Floats are compared exactly by default — the goal is that every query
produces *deterministic, engine-independent* values (ints, strings,
explicitly-rounded or decimal-cast aggregates). A tolerance report is
printed when exact comparison fails, to distinguish fp noise from real
bugs.
"""

from __future__ import annotations

import math
import os
import sys
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

import duckdb
import pandas as pd


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            # Spark-written datasets are directories of part files;
            # the driver fixtures are single files. Glob the former so
            # tmp fixtures written by tests are oracle-comparable too.
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


class UnhashableColumn(TypeError):
    """A list/dict/ndarray-valued cell: the driver's pandas sort+hash
    canonicalization raises on these, so the local gate must too —
    otherwise local-green does not predict driver-green."""


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison.

    Mirrors the driver's gate: unhashable (nested) values are an ERROR,
    not silently canonicalized — queries must serialize/explode array
    output at the boundary.
    """
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None  # treat NaN like NULL (duckdb/pandas blur them)
        return v
    if isinstance(v, (list, tuple, dict)):
        raise UnhashableColumn(f"unhashable cell of type {type(v).__name__}: {v!r}")
    # numpy scalars (0-d) are fine; numpy arrays are not
    if hasattr(v, "tolist"):
        out = v.tolist()
        if isinstance(out, list):
            raise UnhashableColumn(f"unhashable ndarray cell: {out!r}")
        return _canon_cell(out)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=repr)


@dataclass
class CompareResult:
    name: str
    ok: bool
    row_count_spark: int
    row_count_oracle: int
    schema_spark: list[str] = field(default_factory=list)
    schema_oracle: list[str] = field(default_factory=list)
    detail: str = ""


def _approx_equal(a, b, rel=1e-9, abs_tol=1e-12) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_approx_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, (float, int)):
        return math.isclose(a, float(b), rel_tol=rel, abs_tol=abs_tol)
    if isinstance(b, float) and isinstance(a, (float, int)):
        return math.isclose(float(a), b, rel_tol=rel, abs_tol=abs_tol)
    return a == b


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    res = CompareResult(
        name=name,
        ok=False,
        row_count_spark=len(spark_pdf),
        row_count_oracle=len(oracle_pdf),
        schema_spark=sorted(spark_pdf.columns),
        schema_oracle=sorted(oracle_pdf.columns),
    )
    if res.schema_spark != res.schema_oracle:
        res.detail = f"schema mismatch: {res.schema_spark} vs {res.schema_oracle}"
        return res
    if len(spark_pdf) != len(oracle_pdf):
        res.detail = "row count mismatch"
        return res
    # dtype-kind strictness: the driver's value hash distinguishes
    # int64 2 from float64 2.0 — an int-vs-float column kind mismatch
    # must fail locally too.
    for c in res.schema_spark:
        ks, ko = spark_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind
        if {ks, ko} <= {"i", "u"}:
            continue  # signedness width is not hashed
        if ks != ko and len(spark_pdf):
            res.detail = (
                f"dtype kind mismatch on '{c}': spark {spark_pdf[c].dtype} "
                f"vs oracle {oracle_pdf[c].dtype}"
            )
            return res
    try:
        s_rows, o_rows = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    except UnhashableColumn as e:
        res.detail = f"UNHASHABLE (driver would error): {e}"
        return res
    if s_rows == o_rows:
        res.ok = True
        return res
    # exact mismatch — check whether it's only fp noise
    n_bad = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
    approx_ok = all(_approx_equal(a, b) for a, b in zip(s_rows, o_rows))
    first_bad = next(((a, b) for a, b in zip(s_rows, o_rows) if a != b), None)
    res.detail = (
        f"{n_bad}/{len(s_rows)} canonical rows differ; "
        f"approx(1e-9)={'OK (fp noise)' if approx_ok else 'MISMATCH'}; "
        f"first diff:\n  spark : {first_bad[0]!r}\n  oracle: {first_bad[1]!r}"
    )
    return res


def run_all(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as entrymod
    from lake_satellite_image_etl_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duckdb_con(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: list[CompareResult] = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results.append(CompareResult(name, False, -1, -1, detail=f"SPARK ERROR: {e}"))
            continue
        if name not in oracles:
            results.append(
                CompareResult(
                    name, True, len(spark_pdf), -1,
                    detail=f"rows-only check: {len(spark_pdf)} rows",
                )
            )
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            results.append(CompareResult(name, False, len(spark_pdf), -1, detail=f"ORACLE ERROR: {e}"))
            continue
        results.append(compare_frames(name, spark_pdf, oracle_pdf))
    return results


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    import __spark_entry__ as entrymod

    # a mistyped name must fail loudly, not compare nothing and pass
    unknown = sorted(set(args.names) - set(entrymod.queries()))
    if unknown:
        print(f"error: unknown query names: {', '.join(unknown)}", file=sys.stderr)
        return 2
    results = run_all(args.sf_dir, only=args.names or None)
    n_ok = 0
    for r in results:
        status = "OK  " if r.ok else "FAIL"
        n_ok += r.ok
        print(f"[{status}] {r.name}  rows={r.row_count_spark}/{r.row_count_oracle}")
        if r.detail and not r.ok:
            print(f"       {r.detail}")
        elif r.detail:
            print(f"       {r.detail}")
    print(f"\n{n_ok}/{len(results)} passed")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
