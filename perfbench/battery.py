"""The operator battery as a layer: the 38 ``bench.HEADLINE`` queries,
each timed on its own and checked against its DuckDB oracle.

``run`` executes every query once in the caller's Spark session, timing
query build plus ``collect()`` of its result, then compares the rows it
collected with the query's ``queries.ORACLES`` SQL run by DuckDB over
the same parquet files. The comparison is the one ``tools/check_oracle.py``
applies (same column set, compatible types, equal order-insensitive
type-tagged rows), built from that tool's own helpers; it runs after
all queries are timed, so DuckDB never shares the CPU with a timed query.
"""

from __future__ import annotations

import importlib.util
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def compare(co, s_cols, s_types, s_rows, tbl) -> str | None:
    """Why a Spark result differs from the DuckDB one, or None."""
    d_cols = tbl.schema.names
    d_types = [co.canon_arrow_type(f.type) for f in tbl.schema]
    d_rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
    if sorted(s_cols) != sorted(d_cols):
        return f"columns: spark {sorted(s_cols)}, duckdb {sorted(d_cols)}"
    s_map, d_map = dict(zip(s_cols, s_types)), dict(zip(d_cols, d_types))
    bad = [c for c in s_cols if not co.types_compatible(s_map[c], d_map[c])[0]]
    if bad:
        return "types: " + "; ".join(f"{c} spark {s_map[c]}, duckdb {d_map[c]}" for c in bad)
    if len(s_rows) != len(d_rows):
        return f"rows: spark {len(s_rows)}, duckdb {len(d_rows)}"
    # an all-NULL column types as null on one side: tag it with the other's
    eff_s = [d_map[c] if s_map[c] == "null" else s_map[c] for c in s_cols]
    eff_d = [s_map[c] if d_map[c] == "null" else d_map[c] for c in d_cols]
    ns = co.normalize(s_rows, s_cols, eff_s)
    nd = co.normalize(d_rows, list(d_cols), eff_d)
    mism = sum(1 for a, b in zip(ns, nd) if a != b)
    return f"{mism} rows differ" if mism else None


def run(spark, tables_dir: str, names: list[str]) -> tuple[dict[str, float], dict[str, str]]:
    """({query: seconds}, {query: problem}) for one pass over ``names``;
    a query that raises is timed up to the exception."""
    import duckdb

    from sandcrawler_spark.queries import ORACLES, QUERIES

    co = _check_oracle()
    times, problems, results = {}, {}, {}
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = QUERIES[name](spark, tables_dir)
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 — counted as a failed query
            problems[name] = f"spark: {type(e).__name__}: {str(e)[:200]}"
            continue
        finally:
            times[name] = time.perf_counter() - t0
        types = [co.canon_spark_type(f.dataType) for f in sdf.schema.fields]
        results[name] = (sdf.columns, types, rows)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    for name, (cols, types, rows) in results.items():
        try:
            problem = compare(co, cols, types, rows, con.sql(ORACLES[name]).arrow())
        except Exception as e:  # noqa: BLE001
            problem = f"duckdb: {type(e).__name__}: {str(e)[:200]}"
        if problem:
            problems[name] = problem
    con.close()
    return times, problems
