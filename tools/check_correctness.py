"""The DuckDB-oracle correctness gate for the query registry.

Runs every registered query at sf0.01 on Spark AND its oracle SQL on DuckDB
over the same parquet files, canonicalizes both results (columns sorted by
name, rows sorted, values stringified), and compares hashes.

Usage:
    python tools/check_correctness.py [query_name ...]
    python tools/check_correctness.py --emit-json SELF.json   # full run + report
    python tools/check_correctness.py --verify-report A.json [B.json ...]

Completeness is part of the gate: a full run (no query-name filter) exits
non-zero unless EVERY registered query produced a result row, and
``--verify-report`` checks that correctness JSONs cover the whole registry —
a registry/report mismatch can never read as green. ``--verify-report``
accepts several files and gates their union (earlier files win per query).
``CORRECTNESS_SELF_r13.json`` is the committed full self-run reference.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# DuckDB's defaults (80 % of RAM, every core) let one oracle query take the
# memory the Spark JVM beside it needs; bounded, a large query spills.
ORACLE_MEMORY_LIMIT = "4GB"
ORACLE_THREADS = 4


def oracle_connection(sf_dir: str, spill_dir: str) -> duckdb.DuckDBPyConnection:
    """A bounded DuckDB connection with one view per table under ``sf_dir``,
    spilling to ``spill_dir`` past its memory limit."""
    con = duckdb.connect(config={
        "memory_limit": ORACLE_MEMORY_LIMIT,
        "threads": ORACLE_THREADS,
        "temp_directory": spill_dir,
    })
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> tuple[str, int]:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v) -> str:
        if v is None or v != v:  # NaN/None
            return "<NULL>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return h, len(rows)


def verify_report(paths: list[str]) -> int:
    """Gate correctness JSON report(s) against the registry: every
    registered query must have a row, every oracle-backed row must be fully
    green, every rows-only row must be error-free. Exit non-zero on any gap
    — this is how a stale/partial report is made un-ignorable. With several
    paths the union is gated; the FIRST file containing a query wins, so
    pass the newest report first and older ones as the fallback."""
    from retail_sales_etl_pipeline_spark.plans.registry import load_all

    registry = load_all()
    report: dict = {}
    for path in paths:
        with open(path) as f:
            part = json.load(f)
        for name, row in part.items():
            if name.startswith("_"):  # report metadata, not a query row
                continue
            report.setdefault(name, row)
    rc = 0
    missing = sorted(set(registry) - set(report))
    unknown = sorted(set(report) - set(registry))
    if missing:
        print(f"MISSING from report ({len(missing)}): {', '.join(missing)}")
        rc = 1
    if unknown:
        print(f"UNKNOWN in report (not registered, {len(unknown)}): {', '.join(unknown)}")
        rc = 1
    for name, row in sorted(report.items()):
        if name not in registry:
            continue
        if registry[name].oracle is None:
            ok = row.get("err") in (None, "no_oracle") and row.get("spark_rows", 0) >= 0
            status = "ROWS " if ok else "FAIL "
        else:
            ok = bool(
                row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
            )
            status = "PASS " if ok else "FAIL "
        if not ok:
            rc = 1
            print(f"{status} {name}: {row}")
    n = len(report)
    print(f"report rows: {n} / registry: {len(registry)} -> {'GREEN' if rc == 0 else 'RED'}")
    return rc


def main() -> int:
    from retail_sales_etl_pipeline_spark.plans.registry import load_all
    from retail_sales_etl_pipeline_spark.session import get_spark

    if len(sys.argv) >= 2 and sys.argv[1] == "--verify-report":
        return verify_report(sys.argv[2:])

    emit_path = None
    argv = sys.argv[1:]
    if "--emit-json" in argv:
        i = argv.index("--emit-json")
        emit_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]

    only = set(argv)
    registry = load_all()
    spark = get_spark("correctness-check")

    spill = tempfile.TemporaryDirectory(prefix="oracle_spill_")
    con = oracle_connection(SF_DIR, spill.name)

    n_pass = n_fail = n_noorcl = 0
    seen: set[str] = set()
    emitted: dict[str, dict] = {}
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        seen.add(name)
        t0 = time.time()
        try:
            sdf = q.spark_fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            emitted[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark: {e}"}
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if q.oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]")
            emitted[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(sdf),
                             "oracle_rows": None, "err": "no_oracle"}
            n_noorcl += 1
            continue
        try:
            odf = con.execute(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            emitted[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(sdf),
                             "oracle_rows": None, "err": f"duckdb: {e}"}
            n_fail += 1
            continue
        sh, sn = canon(sdf)
        oh, on = canon(odf)
        ok = sh == oh and sn == on
        emitted[name] = {"rows_match": sn == on,
                         "schema_match": sorted(sdf.columns) == sorted(odf.columns),
                         "hash_match": sh == oh, "spark_rows": sn,
                         "oracle_rows": on, "err": None}
        n_pass += ok
        n_fail += not ok
        status = "PASS " if ok else "FAIL "
        print(f"{status} {name}: spark {sn} rows / oracle {on} rows, "
              f"hash {'==' if sh == oh else sh + ' != ' + oh} [{t_spark:.1f}s]")
        if not ok and sn and on:
            s_cols = sorted(sdf.columns)
            o_cols = sorted(odf.columns)
            if s_cols != o_cols:
                print(f"      cols spark={s_cols} oracle={o_cols}")
            else:
                print("      sample spark:", sdf.reindex(sorted(sdf.columns), axis=1).head(2).to_dict("records"))
                print("      sample oracle:", odf.reindex(sorted(odf.columns), axis=1).head(2).to_dict("records"))
    # Completeness gate: a full run must cover the WHOLE registry. (With a
    # name filter, unknown names are also an error — a typo must not pass.)
    if only:
        unmatched = sorted(only - seen)
        if unmatched:
            print(f"FAIL  unknown query name(s): {', '.join(unmatched)}")
            n_fail += 1
    elif seen != set(registry):
        print(f"FAIL  registry/report mismatch: {sorted(set(registry) - seen)}")
        n_fail += 1
    if emit_path:
        with open(emit_path, "w") as f:
            json.dump(emitted, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {emit_path} ({len(emitted)} rows)")
    print(f"\n{n_pass} pass / {n_fail} fail / {n_noorcl} rows-only "
          f"({len(seen)}/{len(registry)} registered queries checked)")
    con.close()
    spill.cleanup()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
