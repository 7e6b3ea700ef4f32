"""Output checks, run after the timed ops and outside their timing.

Each check recomputes what the run should have written, in DuckDB, from
the generated inputs alone, and compares it with what Spark wrote. A check
returns the set of op names whose output is wrong; ``run.py`` marks every
op with such a name failed.
"""
import glob
import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    """A frame in canonical form for comparison: columns sorted by name,
    text as str, doubles rounded to six places, timestamps as microsecond
    strings, then rows sorted on every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cached(cache_dir, key, compute):
    """``compute()``'s frame, stored under ``key`` in ``cache_dir``: an
    oracle result depends only on its SQL and its input bytes, so it is
    computed once per input, not once per run."""
    path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = compute()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def connect():
    """An in-memory DuckDB that spills, if ever, under the build directory."""
    con = duckdb.connect()
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "duckdb-tmp")
    con.sql(f"SET temp_directory = '{tmp}'")
    return con


def same(got, want):
    g, w = canon(got), canon(want)
    return list(g.columns) == list(w.columns) and len(g) == len(w) and g.equals(w)


def _parquet(con, pattern):
    files = sorted(glob.glob(pattern, recursive=True))
    if not files:
        raise FileNotFoundError(pattern)
    return con.sql(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)")


# ---------------------------------------------------------------- retail

_RAW_COLUMNS = ("{'event_time': 'VARCHAR', 'event_type': 'VARCHAR', "
                "'product_id': 'BIGINT', 'category_id': 'BIGINT', "
                "'category_code': 'VARCHAR', 'brand': 'VARCHAR', 'price': 'DOUBLE', "
                "'user_id': 'BIGINT', 'user_session': 'VARCHAR', 'event_date': 'DATE'}")


def check_retail(record, raw_root):
    """Staging, fact and dim row sets, all three marts and the streaming
    catch-up against DuckDB over the generated CSVs of the loaded days.
    Returns the names (dates, or ``all`` for the catch-up) that differ."""
    con = connect()
    days = record["loaded_days"]
    files = [os.path.join(raw_root, "Day_Wise", d, "event.csv") for d in days]
    con.sql(f"CREATE TABLE raw AS SELECT * FROM read_csv({files!r}, header = true, "
            f"columns = {_RAW_COLUMNS}, filename = true)")
    con.sql("""CREATE TABLE stg AS SELECT * EXCLUDE (filename, event_date,
                 category_code, brand),
               coalesce(category_code, 'Unknown') AS category_code,
               coalesce(brand, 'Generic') AS brand,
               CAST(regexp_extract(filename, '(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) AS event_date
               FROM raw""")
    con.sql("""CREATE TABLE fact AS SELECT event_date, event_type, product_id, user_id,
               count(*) AS total_events,
               CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN price ELSE 0.0 END
                    AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
               FROM stg GROUP BY ALL""")
    wh, mart = record["warehouse"], record["mart"]
    bad = set()

    def per_day(sql_got, sql_want):
        got = con.sql(sql_got).df().set_index("d")
        want = con.sql(sql_want).df().set_index("d")
        for d in days:
            key = pd.Timestamp(d)
            g = got.loc[[key]] if key in got.index else None
            w = want.loc[[key]] if key in want.index else None
            if g is None or w is None or not same(g.reset_index(drop=True),
                                                   w.reset_index(drop=True)):
                bad.add(d)

    con.register("s_staging", _parquet(con, f"{wh}/staging_events/**/*.parquet").df())
    stats = ("count(*) AS n, count(DISTINCT user_id) AS users, "
             "CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum, "
             "count(*) FILTER (category_code = 'Unknown') AS unknown_codes, "
             "count(*) FILTER (brand = 'Generic') AS generic_brands, "
             "count(DISTINCT user_session) AS sessions")
    per_day(f"SELECT CAST(event_date AS DATE) AS d, {stats} FROM s_staging GROUP BY 1",
            f"SELECT event_date AS d, {stats} FROM stg GROUP BY 1")

    con.register("s_fact", _parquet(con, f"{wh}/fact_events/**/*.parquet").df())
    cols = "event_type, product_id, user_id, total_events, total_revenue"
    per_day(f"SELECT CAST(event_date AS DATE) AS d, {cols} FROM s_fact",
            f"SELECT event_date AS d, {cols} FROM fact")

    # dim_user and dim_product are replaced by every run: they hold the
    # last-run day's rows.
    last = record["last_run_day"]
    got = _parquet(con, f"{wh}/dim_user/*.parquet").df()[["user_id", "user_session"]]
    want = con.sql(f"SELECT DISTINCT user_id, user_session FROM stg "
                   f"WHERE event_date = DATE '{last}'").df()
    if not same(got, want):
        bad.add(last)
    dim_cols = ["product_id", "category_id", "category_code", "brand", "price",
                "category", "sub_category1", "sub_category2"]
    dim_product = f"""SELECT product_id, category_id, category_code, brand, price,
          coalesce(split_part_or_null[1], 'na') AS category,
          coalesce(split_part_or_null[2], 'na') AS sub_category1,
          coalesce(split_part_or_null[3], 'na') AS sub_category2
        FROM (SELECT *, string_split(category_code, '.') AS split_part_or_null,
                row_number() OVER (PARTITION BY product_id ORDER BY price,
                  brand NULLS LAST, category_id) AS rn
              FROM (SELECT DISTINCT product_id, category_id, category_code, brand, price
                    FROM stg WHERE event_date = DATE '{{d}}'))
        WHERE rn = 1"""
    got = _parquet(con, f"{wh}/dim_product/*.parquet").df()[dim_cols]
    if not same(got, con.sql(dim_product.format(d=last)).df()):
        bad.add(last)

    # Marts: every loaded day's partition, built against that day's products.
    for d in days:
        con.sql(f"CREATE OR REPLACE TABLE dp AS {dim_product.format(d=d)}")
        f = f"(SELECT * FROM fact WHERE event_date = DATE '{d}')"
        want_rev = con.sql(f"""SELECT event_date,
              CAST(sum(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(DISTINCT user_id) AS unique_users,
              count(*) FILTER (event_type = 'purchase') AS purchases,
              count(*) FILTER (event_type = 'cart') AS carts,
              count(*) FILTER (event_type = 'view') AS views,
              carts / nullif(views, 0) AS cart_rate,
              purchases / nullif(views, 0) AS purchase_rate
            FROM {f} GROUP BY 1""").df()
        funnel = f"""SELECT event_date, brand, category_code,
              count(*) FILTER (event_type = 'view') AS views,
              count(*) FILTER (event_type = 'cart') AS carts,
              count(*) FILTER (event_type = 'purchase') AS purchases,
              CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN total_revenue
                   ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM {f} JOIN dp USING (product_id) GROUP BY ALL"""
        want_funnel = con.sql(funnel).df()
        want_top = con.sql(f"SELECT * FROM ({funnel}) "
                           "ORDER BY revenue DESC, brand ASC NULLS LAST LIMIT 10").df()
        for name, want in (("daily_revenue_summary", want_rev),
                           ("daily_funnel_by_brand", want_funnel),
                           ("top_brands_by_revenue", want_top)):
            try:
                got = _parquet(con, f"{mart}/aggregates/{name}/dt={d}/*.parquet").df()
            except FileNotFoundError:
                bad.add(d)
                continue
            got["event_date"] = pd.to_datetime(got["event_date"])
            want["event_date"] = pd.to_datetime(want["event_date"])
            if not same(got[list(want.columns)], want):
                bad.add(d)

    got = _parquet(con, f"{record['stream_out']}/*.parquet").df()
    got["event_date"] = pd.to_datetime(got["event_date"])
    want = con.sql("SELECT CAST(substr(event_time, 1, 10) AS DATE) AS event_date, "
                   "event_type, count(*) AS n FROM raw GROUP BY ALL").df()
    want["event_date"] = pd.to_datetime(want["event_date"])
    if not same(got[list(want.columns)], want):
        bad.add("all")
    return bad


# ----------------------------------------------------------- warehouse

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _views(con, tables_dir):
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")


def check_warehouse(record, tables_dir, cache_dir):
    """Each query's first-round output against its ``SparkEntry.oracleSql``
    replayed in DuckDB (later rounds are held to the first round's
    fingerprint inside the run). Returns the names of queries that differ."""
    con = connect()
    _views(con, tables_dir)
    bad = set()
    for name, sql in sorted(record["oracle_sql"].items()):
        files = glob.glob(os.path.join(record["query_out"], name, "*.parquet"))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            want = cached(cache_dir, sql + tables_dir, lambda: con.sql(sql).df())
            if got is None or not same(got, want):
                bad.add(name)
        except Exception as e:  # a failing oracle query fails the check
            print(f"[perfbench] oracle {name}: {e}", file=sys.stderr)
            bad.add(name)
    return bad


# -------------------------------------------------------------- corpus

# The oracle's synthetic-duplicate augmentation (SparkEntry.AugmentedDocsBody,
# SynthOff = 10000). It is only valid below 10,000 documents: the oracle
# hard-codes the 10000 offset while Spark offsets above max(doc_id), so on a
# larger corpus the synthetic copies collide with organic ids. The benchmark
# runs the pipelines on the documents as generated, so the check replaces
# the augmentation with the plain table and keeps every other stage.
_AUGMENTED = ("aug AS (SELECT * FROM documents "
              "UNION ALL SELECT doc_id + 20000, text, lang, source, n_chars FROM documents "
              "WHERE doc_id < 50 "
              "UNION ALL SELECT doc_id + 10000, 'zz' || substr(text, 3), lang, source, n_chars "
              "FROM documents WHERE doc_id < 50) ")
_PLAIN = "aug AS (SELECT * FROM documents) "


def check_corpus(record, documents_path, cache_dir):
    """Every pipeline run's chunk output against the m18 (prepare) or m28
    (prepareV2) oracle over the un-augmented documents. Returns the names
    of the pipelines whose output differs."""
    con = connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    bad = set()
    for name, key in (("prepare", "m18"), ("prepareV2", "m28")):
        sql = record["oracle_sql"][key]
        if sql.count(_AUGMENTED) != 1:
            raise RuntimeError(f"{key} oracle no longer has the known augmentation CTE")
        sql = sql.replace(_AUGMENTED, _PLAIN)
        want = cached(cache_dir, sql + file_digest(documents_path), lambda: con.sql(sql).df())
        outs = sorted(glob.glob(os.path.join(record["corpus_out"], f"{key}-*")))
        if not outs:
            bad.add(name)
        for out in outs:
            got = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{out}/*.parquet")])
            if not same(got, want):
                bad.add(name)
    return bad
