"""Independent correctness checks, computed with DuckDB.

Registry: each query's output, written by the harness's first warm-up
pass, is compared with its oracle SQL run over the same fixtures, both
sides canonicalised the way the repository's `tools/check.py` does
(columns sorted by name, rows sorted, doubles rounded to 6 decimals,
timestamps as ISO-8601). A query without oracle SQL must return rows.

Wine: the rows the pipeline loads and each validation check's violation
count are recomputed from the generated JSON.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        else:
            out[c] = s.astype(object).where(s.notna(), None)
            out[c] = out[c].apply(lambda v: str(v) if v is not None else None)
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns), na_position="first").reset_index(drop=True)


def check_registry(sf_dir, check_dir, names):
    """Return {query: None if correct else a reason}, plus its row count."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    verdict, rows = {}, {}
    for name in names:
        parts = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        if not parts:
            verdict[name] = "no engine output"
            continue
        eng = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        rows[name] = len(eng)
        sql_path = f"{check_dir}/{name}.sql"
        if not os.path.exists(sql_path):
            verdict[name] = None if len(eng) > 0 else "no rows"
            continue
        try:
            ora = con.execute(open(sql_path).read()).df()
        except duckdb.Error as e:
            verdict[name] = f"oracle SQL error: {e}"
            continue
        ce, co = canon(eng), canon(ora)
        if list(ce.columns) != list(co.columns):
            verdict[name] = f"columns {list(ce.columns)} vs {list(co.columns)}"
        elif len(ce) != len(co):
            verdict[name] = f"rows {len(ce)} vs {len(co)}"
        elif not ce.equals(co):
            verdict[name] = "values differ"
        else:
            verdict[name] = None
    return verdict, rows


# the country allowlist of WinePipeline.checks
ALLOWED = ["US", "France", "Italy", "Spain", "Argentina", "Chile",
           "Australia", "Germany"]


def wine_expected(json_path):
    """`rowsLoaded;check=violations;...` as the harness renders a
    `WinePipeline.Result`, recomputed from the JSON file."""
    con = duckdb.connect()
    con.execute(f"""
      CREATE VIEW raw AS SELECT * FROM read_json('{json_path}', format='array',
        columns={{points: 'VARCHAR', title: 'VARCHAR', description: 'VARCHAR',
                 taster_name: 'VARCHAR', taster_twitter_handle: 'VARCHAR',
                 price: 'DOUBLE', designation: 'VARCHAR', variety: 'VARCHAR',
                 region_1: 'VARCHAR', region_2: 'VARCHAR', province: 'VARCHAR',
                 country: 'VARCHAR', winery: 'VARCHAR'}})""")
    con.execute("""
      CREATE VIEW kept AS SELECT *, TRY_CAST(points AS INTEGER) AS p
      FROM raw WHERE TRY_CAST(points AS INTEGER) IS NOT NULL""")
    allowed = ", ".join(f"'{c}'" for c in ALLOWED)
    row = con.execute(f"""
      WITH m AS (SELECT quantile_cont(price, 0.5) AS med FROM kept),
      t AS (SELECT kept.*, coalesce(price, m.med) AS price2 FROM kept, m)
      SELECT count(*),
        count(*) FILTER (WHERE NOT (p BETWEEN 50 AND 100)),
        count(*) FILTER (WHERE title IS NOT NULL AND NOT (length(title) BETWEEN 3 AND 200)),
        count(*) FILTER (WHERE description IS NOT NULL AND length(description) < 10),
        count(*) FILTER (WHERE price2 < 0),
        count(*) FILTER (WHERE country IS NULL OR country NOT IN ({allowed})),
        count(*) FILTER (WHERE price2 IS NULL OR price2 <= 0)
      FROM t""").fetchone()
    n, pts, title, desc, price, country, category = row
    checks = {
        "points_in_range": pts, "title_str_length": title,
        "description_str_length": desc, "price_ge": price,
        "country_isin": country, "title_length_ge": 0,
        "description_length_ge": 0, "price_category_not_null": category,
        "region_not_null": 0, "country_code_not_null": 0}
    return ";".join([str(n)] + sorted(f"{k}={v}" for k, v in checks.items()))
