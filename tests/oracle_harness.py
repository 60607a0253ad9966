"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB over the same parquet dir,
compare row count, column names, and order-insensitive values.

Usage: python tests/oracle_harness.py [sf_dir] [query ...]

Set SPARK_GRAFT_JSON=/path/out.json to additionally write a driver-format
artifact: {query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}} — used to commit the full-surface correctness record
(CORRECTNESS_full_sf0.01.json) the 50-query driver sample can't produce.

Set SPARK_GRAFT_VANILLA=1 to run on a bare SparkSession (no engine confs),
mimicking the driver's correctness gate — catches any query that silently
depends on session.py configuration (the round-1 events.parquet failure
mode). The meta file records which session ran (``"vanilla": true|false``).
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime


def _norm_cell(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, (datetime, date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_norm_cell(x) for x in v) + "]"
    return f"{type(v).__name__[:1]}:{v}"


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in idx) for r in rows)


_INT_SPARK = {"tinyint", "smallint", "int", "bigint"}
_INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def _type_problems(spark_df, duck_rel) -> list[str]:
    """Driver-parity dtype check: the driver canonicalizes values by their
    arrow dtype before hashing, so a DuckDB HUGEINT (→ float64/object)
    hash-mismatches a Spark bigint even when every digit agrees.  fetchall()
    hides this (HUGEINT → Python int), so check declared types explicitly."""
    s_cols_lower = [c.lower() for c in spark_df.columns]
    d_cols_lower = [c.lower() for c in duck_rel.columns]
    out = []
    # duplicate lowercase names would silently collapse in the dicts below,
    # skipping the check on all but the last duplicate — refuse instead
    for side, cols in (("spark", s_cols_lower), ("duck", d_cols_lower)):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        if dupes:
            out.append(f"{side} result has duplicate column names: {dupes}")
    if out:
        return out
    s_types = {c.lower(): t for c, t in spark_df.dtypes}
    d_types = {c.lower(): str(t).upper() for c, t in zip(duck_rel.columns, duck_rel.types)}
    for col, dt in d_types.items():
        if dt in ("HUGEINT", "UHUGEINT") or dt.startswith("DECIMAL"):
            # both arrow-convert to decimal/object, not int64/float64 — the
            # driver canonicalizes by arrow dtype, so every digit can agree
            # and the value-hash still mismatches
            out.append(f"col {col!r}: DuckDB {dt} will hash-mismatch the driver "
                       "(wrap the oracle expr in CAST(... AS BIGINT/DOUBLE))")
            continue
        st = s_types.get(col)
        if st is None:
            continue
        if (st in _INT_SPARK) != (dt in _INT_DUCK):
            out.append(f"col {col!r}: integer-class mismatch spark={st} duck={dt}")
    return out


def compare(name, spark_df, duck_rel) -> tuple[list[str], int, int]:
    """Returns (problems, spark_row_count, duck_row_count) — counts come
    from the single collect/fetchall here so callers never re-execute the
    query just to fill an artifact."""
    problems = []
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = [c.lower() for c in duck_rel.columns]
    d_rows = duck_rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems, len(s_rows), len(d_rows)
    problems.extend(_type_problems(spark_df, duck_rel))
    if len(s_rows) != len(d_rows):
        problems.append(f"row count: spark={len(s_rows)} duck={len(d_rows)}")
    a = _norm_rows(s_cols, s_rows)
    b = _norm_rows(d_cols, d_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y]
        only_a = set(a) - set(b)
        only_b = set(b) - set(a)
        problems.append(
            f"values differ ({len(diffs)} aligned diffs; {len(only_a)} spark-only, "
            f"{len(only_b)} duck-only); first: "
            + repr((sorted(only_a)[:1], sorted(only_b)[:1]))
        )
    return problems, len(s_rows), len(d_rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from cql_xmlpipe_spark.operators.dedup import unpersist_intermediates
    from cql_xmlpipe_spark.session import get_spark
    from cql_xmlpipe_spark.sources.registry import TABLES

    import os

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-harness-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-harness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    failed = []
    n_ran = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_ran += 1
        # several operators (collapsed dedup, codec query) persist
        # intermediates that live until their lazy result is consumed;
        # the documented cleanup API (operators.dedup.unpersist_
        # intermediates) is called per-query below — this clearCache is
        # the backstop for non-tracked persists (e.g. codec staging)
        spark.catalog.clearCache()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                unpersist_intermediates(df)
                print(f"  [rows-only] {name}: {n} rows")
                results[name] = {
                    "rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": n, "oracle_rows": None, "err": "no_oracle",
                }
                continue
            rel = con.sql(oracles[name])
            problems, n_spark, n_duck = compare(name, df, rel)
            unpersist_intermediates(df)
            results[name] = {
                "rows_match": not any("row count" in p or "columns differ" in p for p in problems),
                # schema = column-name/type agreement only; a value-hash diff
                # (which also says "mismatch") must not flip this flag
                "schema_match": not any(
                    "columns differ" in p or "integer-class mismatch" in p
                    or "hash-mismatch the driver" in p or "duplicate column names" in p
                    for p in problems
                ),
                "hash_match": not problems,
                "spark_rows": n_spark,
                "oracle_rows": n_duck,
                "err": "; ".join(problems)[:300] or None,
            }
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {str(exc)[:500]}"]
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": problems[0][:300],
            }
        if problems:
            failed.append(name)
            print(f"  [FAIL] {name}")
            for p in problems:
                print(f"         {p}")
        else:
            print(f"  [ok]   {name}")
    print(f"\n{n_ran - len(failed)}/{n_ran} passing ({len(qs)} registered)")
    out_json = os.environ.get("SPARK_GRAFT_JSON")
    if out_json:
        import json
        import subprocess
        import time

        with open(out_json, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {out_json}")
        # regeneration stamp (VERDICT r9 #7): a byte-identical artifact
        # produces no git diff, so "regenerated on round-N code" was
        # previously only a BASELINE.md sentence — the meta file makes
        # it a committed fact even when results don't change
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        meta = {
            "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "git_head": head,
            "sf_dir": sf_dir,
            "vanilla": bool(os.environ.get("SPARK_GRAFT_VANILLA")),
            "n_queries": len(results),
            "n_pass": sum(
                1 for r in results.values()
                if r["err"] in (None, "no_oracle")
            ),
        }
        meta_path = out_json[:-5] + ".meta.json" if out_json.endswith(".json") else out_json + ".meta"
        with open(meta_path, "w") as fh:
            json.dump(meta, fh, indent=2)
            fh.write("\n")
        print(f"wrote {meta_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
