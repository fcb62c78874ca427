"""DuckDB side of the analyst_queries output check: run each query's
oracle SQL over the same parquet tables and compare it with the Spark
result the harness wrote (exact values after a column and row sort, the
comparison `scripts/check_oracle.py` makes)."""
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

# DuckDB twins of the harness's reads of the published lineitem table
# (AnalystQueries.extra in harness/graft/perfbench/Workloads.scala).
ANALYST_ORACLE = {
    "x1_published_flag_totals":
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
           FROM published GROUP BY 1, 2 ORDER BY 1, 2""",
    "x2_published_small_discounted":
        """SELECT id, l_orderkey, l_quantity, l_discount FROM published
           WHERE l_discount > 0.05 AND l_quantity < 5 ORDER BY id""",
    "x3_published_top_lines":
        """SELECT id, l_orderkey, l_extendedprice FROM published
           ORDER BY l_extendedprice DESC, id LIMIT 20""",
    "x4_published_yearly_quantity":
        """SELECT year(l_shipdate) AS yr, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
           FROM published GROUP BY 1 ORDER BY 1""",
}


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = df[c]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check(results_dir):
    """Return [(name, ok, detail)] for every query the run executed."""
    results = Path(results_dir)
    meta = json.loads((results / "data.json").read_text())
    sql = dict(json.loads((results / "oracle.json").read_text()))
    sql.update(ANALYST_ORACLE)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{meta['data']}/{t}.parquet/*.parquet')")
    con.execute("CREATE VIEW published AS SELECT * FROM "
                f"read_parquet('{meta['published']}/*.parquet')")
    out = []
    for name in meta["queries"]:
        try:
            got = canon(pd.read_parquet(results / name))
            want = canon(con.execute(sql[name]).fetchdf())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                out.append((name, False, f"shape {list(got.columns)}x{len(got)} "
                                         f"vs {list(want.columns)}x{len(want)}"))
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            out.append((name, True, f"{len(got)} rows"))
        except Exception as e:  # a mismatch or oracle error fails this check
            out.append((name, False, f"{type(e).__name__}: {str(e)[:300]}"))
    return out
