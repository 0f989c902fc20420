"""Local emulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given scale factor, compare row count, column names/order-insensitive
values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

#: the checkout this script lives in (tools/..)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from end_to_end_datapipeline_project_spark.schemas import TESTDATA_TABLES  # noqa: E402
from end_to_end_datapipeline_project_spark.session import get_spark  # noqa: E402


def canon(v):
    """Canonicalize a cell value for order-insensitive multiset compare."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / +0.0 and format stably
        if v == 0:
            v = 0.0
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


# the driver's hasher distinguishes Arrow types, not just values: a bare
# integer SUM() in DuckDB yields HUGEINT (decimal128(38,0)) while Spark
# yields BIGINT, and the two hash differently even when every value is
# equal.  Lint every oracle result schema for types Spark can never
# produce so the mismatch is caught locally before the driver sees it.
def type_lint(arrow_schema) -> list:
    bad = []
    for f in arrow_schema:
        t = str(f.type).lower()
        # ANY decimal/hugeint result column is a driver hash mismatch:
        # the Spark side only ever emits double/bigint for numerics, and
        # the driver's hasher distinguishes Arrow types even when every
        # value is equal (bit us twice: bare integer SUMs -> hugeint in
        # r1, a DECIMAL(3,2) unnest literal in r2)
        if "hugeint" in t or "decimal" in t:
            bad.append((f.name, str(f.type)))
    return bad


#: the ONLY queries allowed to run without a DuckDB oracle — zlib/
#: DEFLATE has no SQL expression; their values are pinned by pytest
#: closed-form fixtures and a streaming==batch equality pin.  Any other
#: oracle-less query counts as a FAILURE (its oracle was dropped).
ROWS_ONLY_ALLOWED = frozenset(
    {"q_compression_ratio", "q_stream_compression_ratio"}
)


def main() -> int:
    # pin the PROCESS timezone: PySpark's collect() converts timestamps
    # via datetime.fromtimestamp (SYSTEM tz, not the session tz), so on
    # a non-UTC host every timestamp cell would shift by the UTC offset
    # against DuckDB's naive-UTC values and false-fail
    import os as _os
    import time as _time

    _os.environ["TZ"] = "UTC"
    if hasattr(_time, "tzset"):
        _time.tzset()

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd subset must be a loud failure, not a green 0-query run
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 1

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            if name in ROWS_ONLY_ALLOWED:
                print(f"rows {name}: {len(srows)} rows (no oracle) "
                      f"[{time.time()-t0:.1f}s]")
                n_rows_only += 1
            else:
                # an oracle was dropped: every query outside the
                # documented allowlist MUST have a DuckDB twin
                print(f"FAIL {name}: no oracle and not in "
                      f"ROWS_ONLY_ALLOWED ({len(srows)} rows)")
                n_fail += 1
            continue
        try:
            res = con.execute(oracles[name])
            atbl = res.arrow()
            dcols = atbl.column_names
            drows = [
                tuple(atbl.column(i)[j].as_py() for i in range(atbl.num_columns))
                for j in range(atbl.num_rows)
            ]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = []
        bad_types = type_lint(atbl.schema)
        if bad_types:
            problems.append(
                f"oracle result types Spark can't produce (CAST them): {bad_types}"
            )
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            s_set, d_set = rowset(scols, srows), rowset(dcols, drows)
            if s_set != d_set:
                ss, ds = set(s_set), set(d_set)  # hoisted: O(n), not O(n^2)
                diff_s = [r for r in s_set if r not in ds][:3]
                diff_d = [r for r in d_set if r not in ss][:3]
                problems.append(
                    f"values differ; spark-only={diff_s} duck-only={diff_d}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
