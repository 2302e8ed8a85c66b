"""Output checks for the benchmark, against DuckDB.

Parquet-workload queries are compared with their `SparkEntry.oracleSql`
entry by the comparison rules of tools/check_oracle.py (columns sorted by
name, values compared by type-sensitive representation, rows compared as a
sorted multiset). The crime pipeline's four outputs are compared with
DuckDB `read_csv` queries over the generated CSV, written in the form of
the `s1_crime_weekly` / `s1_crime_badrec` oracle.

DuckDB's answers to the parquet queries depend only on the SQL and the
fixed input, so they are cached, keyed by both. A Spark result that already passed its comparison is known
by its digest (the harness's hash of the result's schema and rows), so a
later run that produces the identical result for the same SQL and input
is not compared again.
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd

CRIME_COLUMNS = ["IncidntNum", "Category", "Descript", "DayOfWeek", "Date",
                 "Time", "PdDistrict", "Resolution", "Address", "X", "Y",
                 "Location"]


def _check_oracle(root):
    """tools/check_oracle.py as a module, for its comparison rules."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _cached(cache_dir, key, compute):
    path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()
                        + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _content_key(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Checker:
    def __init__(self, root, data_dir, cache_dir):
        self.rules = _check_oracle(root)
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.data_key = ",".join(
            _content_key(os.path.join(data_dir, f"{t}.parquet"))
            for t in self.rules.TABLES)

    def _con(self):
        con = _connect()
        for t in self.rules.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        return con

    def _verified(self, key):
        return os.path.join(self.cache_dir, "verified",
                            hashlib.sha256(key.encode()).hexdigest())

    def check(self, kind, key, compare):
        """`compare()`'s (ok, message), or a cached pass for `key`."""
        mark = self._verified(f"{kind}\n{key}")
        if os.path.exists(mark):
            return True, "identical to a verified result"
        ok, msg = compare()
        if ok:
            os.makedirs(os.path.dirname(mark), exist_ok=True)
            open(mark, "w").close()
        return ok, msg

    def parquet(self, spark_dir, sql, digest):
        """(ok, message) for one query's Spark output against its oracle."""
        return self.check(
            "parquet", f"{self.data_key}\n{sql}\n{digest}",
            lambda: self._parquet(spark_dir, sql))

    def crime(self, out_dir, csv_path, digest):
        """(ok, message) for `CrimePipeline.runAll`'s outputs under
        `out_dir` against DuckDB over `csv_path`."""
        key = _content_key(csv_path) + "\n" + json.dumps(crime_sql("<csv>"))
        return self.check("crime", f"{key}\n{digest}",
                          lambda: self._crime(out_dir, csv_path))

    def _parquet(self, spark_dir, sql):
        rules = self.rules
        files = sorted(glob.glob(f"{spark_dir}/*.parquet"))
        if not files:
            return False, "no spark output"
        if not sql:
            return False, "no oracle SQL"

        def oracle():
            con = self._con()
            try:
                df = con.sql(sql).df()
            finally:
                con.close()
            return {"columns": sorted(df.columns),
                    "rows": [list(r) for r in rules.rows_of(df)[0]]}

        try:
            want = _cached(self.cache_dir,
                           f"parquet\n{self.data_key}\n{sql}", oracle)
            spark_df = pd.concat([pd.read_parquet(f) for f in files],
                                 ignore_index=True)
            got = rules.rows_of(spark_df)[0]
        except rules.ArrayColumn:
            return False, "array-typed output column"
        except Exception as e:  # a failed comparison is a failed check
            return False, f"{type(e).__name__}: {e}"
        if sorted(spark_df.columns) != want["columns"]:
            return False, (f"columns {sorted(spark_df.columns)} != "
                           f"{want['columns']}")
        want_rows = [tuple(r) for r in want["rows"]]
        if got != want_rows:
            diff = [(a, b) for a, b in zip(got, want_rows) if a != b]
            return False, (f"{len(got)} vs {len(want_rows)} rows, first "
                           f"difference {diff[0] if diff else None}")
        return True, f"{len(got)} rows"

    def _crime(self, out_dir, csv_path):
        load, queries = crime_sql(csv_path)
        con = _connect()
        try:
            con.execute(load)
            want = {k: [r[0] for r in con.sql(q).fetchall()]
                    for k, q in queries.items()}
        finally:
            con.close()
        for name, lines in want.items():
            got = []
            for f in sorted(glob.glob(f"{out_dir}/{name}/part-*")):
                with open(f, encoding="utf-8") as fh:
                    got += fh.read().splitlines()
            if sorted(got) != sorted(lines):
                missing = sorted(set(lines) - set(got))[:1]
                extra = sorted(set(got) - set(lines))[:1]
                return False, (f"{name}: {len(got)} vs {len(lines)} lines; "
                               f"missing {missing}, unexpected {extra}")
        return True, ", ".join(f"{k} {len(v)} lines" for k, v in want.items())


def crime_sql(csv_path):
    """DuckDB statement loading the CSV as table `raw`, and the queries
    giving each crime output's expected text lines."""
    load = (f"CREATE TABLE raw AS SELECT * FROM read_csv('{csv_path}', "
            "auto_detect=false, delim=',', header=true, quote='\"', "
            "escape='\"', null_padding=true, columns={"
            + ",".join(f"'{c}':'VARCHAR'" for c in CRIME_COLUMNS) + "})")
    date = """try_strptime(split_part("Date", ' ', 1), '%m/%d/%Y')"""
    clean = f"""WITH clean AS (
        SELECT *, CAST({date} AS DATE) AS d FROM raw
        WHERE "Category" IS NOT NULL AND "PdDistrict" IS NOT NULL
          AND {date} IS NOT NULL)"""
    # java.util.Calendar.WEEK_OF_MONTH, as in the s1_crime_weekly oracle
    wom = ("(CAST(floor((dayofmonth(d) + dayofweek(date_trunc('month', d))"
           " - 1) / 7.0) AS INT) + 1)")

    def weekly(key):
        counts = " || ',' || ".join(
            f"CAST(count(*) FILTER (WHERE b = {b}) AS VARCHAR)"
            for b in range(17))
        return f"""{clean},
          keyed AS (SELECT "{key}" AS key,
                           CAST((month(d) - 1) * 5 + {wom} AS INT) AS b
                    FROM clean)
          SELECT key || chr(9) || {counts} FROM keyed GROUP BY key"""

    def dictionary(key):
        return f"""SELECT name, row_number() OVER (ORDER BY name) - 1 AS idx
                   FROM (SELECT DISTINCT "{key}" AS name FROM clean)"""

    star = f"""{clean},
      cats AS ({dictionary("Category")}),
      dists AS ({dictionary("PdDistrict")})
      SELECT strftime(c.d, '%Y/%m/%d') || chr(9) || cats.idx || ',' ||
             dists.idx || ',' || count(*)
      FROM clean c JOIN cats ON c."Category" = cats.name
                   JOIN dists ON c."PdDistrict" = dists.name
      GROUP BY c.d, cats.idx, dists.idx"""
    badrecords = f"""SELECT "IncidntNum" || chr(9) ||
        CASE WHEN "Category" IS NULL THEN 'missing_category'
             WHEN "PdDistrict" IS NULL THEN 'missing_district'
             ELSE 'bad_date' END
      FROM raw
      WHERE "Category" IS NULL OR "PdDistrict" IS NULL OR {date} IS NULL"""
    return load, {"bycategory": weekly("Category"),
                  "bydistrict": weekly("PdDistrict"),
                  "star": star, "badrecords": badrecords}
