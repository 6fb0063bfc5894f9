"""Output checks of one benchmark run, outside every timed region.

Each check recomputes an answer independently in DuckDB over the same
generated input tables and compares it with what the program persisted or
returned:

- pipeline: every stage's persisted output and every published artifact,
  from the registry's DuckDB oracles (`SparkEntry.oracleSql`) and the
  ads-fixture CTEs (`AdsFixture.SQL`), plus weekly/indicator SQL written
  here in the same style;
  and every analyst read, replayed in DuckDB with the same parameters;
- operator_mix: the observed row count and row hash of each sampled query
  must be identical in every pass, and its answer must equal the
  registry's oracle where one exists.

`run(workload, result, data_dir)` returns (failures, number of checks).
"""
import datetime
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values as exact strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda x: repr(float(x)) if pd.notna(x) else "NaN")
        elif s.dtype == object:
            s = s.map(lambda x: str(x.tolist()) if hasattr(x, "tolist") else str(x))
        else:
            s = s.astype(str)
        out[c] = s
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns), kind="mergesort").reset_index(drop=True)


def differ(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, else a one-line reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not g.equals(w):
        neq = (g != w).any(axis=1)
        i = neq[neq].index[0]
        return (f"{int(neq.sum())}/{len(g)} rows differ, e.g. "
                f"{g.loc[i].to_dict()} != {w.loc[i].to_dict()}")
    return None


def cache_entry(root: str, name: str) -> str:
    done = [d for d in glob.glob(f"{root}/{name}-*")
            if os.path.exists(f"{d}/_SUCCESS")]
    if len(done) != 1:
        raise FileNotFoundError(f"{len(done)} complete '{name}' entries in {root}")
    return done[0]


SALARIED_SQL = """SELECT id,
  CASE WHEN NOT excluded THEN round(min_annual2, 2) END AS min_annualised_salary,
  CASE WHEN NOT excluded THEN round(max_annual2, 2) END AS max_annualised_salary
FROM salaried"""


def weekly_tables(con, cte: dict, oracle: dict, start: str, end: str):
    """ads, dupcomps, splitcomps, sal and the weekly expansion (Mondays
    start..end, 42-day windows, in-window min-id exemplar per component),
    as DuckDB temp tables."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ads AS {cte['ads']}")
    con.execute("CREATE OR REPLACE TEMP TABLE dupcomps AS "
                + oracle["dom_dup_subgraphs"])
    con.execute("CREATE OR REPLACE TEMP TABLE splitcomps AS "
                + oracle["dom_subgraphs_by_location"])
    chain = ["sal1", "sal2", "sal3", "sal4", "sal5", "salaried"]
    with_sal = "WITH " + ",\n".join(f"{n} AS ({cte[n]})" for n in chain)
    con.execute(f"CREATE OR REPLACE TEMP TABLE sal AS {with_sal}\n{SALARIED_SQL}")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE weekly AS
WITH spine AS (
  SELECT CAST(wd AS DATE) AS week_date,
    CAST(wd - INTERVAL 42 DAY AS DATE) AS window_from
  FROM (SELECT unnest(generate_series(DATE '{start}', DATE '{end}',
    INTERVAL 7 DAY)) AS wd)),
expanded AS (
  SELECT a.*, sp.week_date FROM ads a JOIN spine sp
    ON a.created >= sp.window_from AND a.created <= sp.week_date),
wdupes AS (
  SELECT week_date, id FROM (
    SELECT e.week_date, e.id,
      row_number() OVER (PARTITION BY e.week_date, c.component
        ORDER BY e.id) AS rn
    FROM expanded e JOIN splitcomps c ON e.id = c.id)
  WHERE rn > 1)
SELECT e.* FROM expanded e
WHERE NOT EXISTS (SELECT 1 FROM wdupes w
  WHERE w.week_date = e.week_date AND w.id = e.id)""")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE loc AS
SELECT DISTINCT ll.job_id, l.nuts_2_code, l.nuts_2_name
FROM ({cte['location_links']}) ll
LEFT JOIN ({cte['locations']}) l ON ll.location_id = l.ipn_18_code""")


def quantiles_sql(src: str, date_col: str) -> str:
    cols = []
    for bound in ("min", "max"):
        for q, label in ((0.25, "lower_quartile"), (0.50, "median"),
                         (0.75, "upper_quartile")):
            cols.append(f"coalesce(quantile_cont({bound}_annualised_salary, {q}),"
                        f" 0.0) / 1000.0 AS {label}_{bound}_salaries_k")
    return (f"SELECT {date_col} AS date, {', '.join(cols)} FROM {src} "
            f"GROUP BY {date_col}")


STD_LOC = """CASE WHEN nuts_2_code IN ('UKI3','UKI4','UKI5','UKI6','UKI7')
       THEN 'London' WHEN nuts_2_code IS NULL THEN 'Unmatched'
       ELSE nuts_2_name END AS nuts_2_name,
  CASE WHEN nuts_2_code IN ('UKI3','UKI4','UKI5','UKI6','UKI7')
       THEN 'UKI' WHEN nuts_2_code IS NULL THEN 'ZZZ1'
       ELSE nuts_2_code END AS nuts_2_code"""


def check_pipeline(res: dict, data: str):
    p = res["pipeline"]
    out, root = f"{p['run_dir']}/out", f"{p['run_dir']}/cache"
    cte, oracle = p["cte"], p["oracle"]
    con = connect(data)
    weekly_tables(con, cte, oracle, p["week_start"], p["week_end"])
    sf, st = p["stock_from"], p["stock_to"]
    dict_sql = ", ".join("'" + s.replace("'", "''") + "'" for s in p["skill_dict"])
    stock_window = f"week_date BETWEEN DATE '{sf}' AND DATE '{st}'"
    gold = {
        "stock_index": f"SELECT CAST(count(*) AS DOUBLE) / 4 AS index_value "
                       f"FROM weekly WHERE {stock_window}",
        "weekly_stock": f"""SELECT week_date AS date,
  CAST(count(*) AS BIGINT) * 100.0
    / (SELECT CAST(count(*) AS DOUBLE) / 4 FROM weekly WHERE {stock_window})
    AS volume_idx
FROM weekly GROUP BY week_date""",
        "weekly_salary_spread": quantiles_sql(
            "(SELECT w.week_date, s.min_annualised_salary, "
            "s.max_annualised_salary FROM weekly w JOIN sal s ON w.id = s.id)",
            "week_date"),
        "weekly_loc_vacancies": f"""WITH std AS (
  SELECT w.week_date, {STD_LOC}
  FROM weekly w LEFT JOIN loc ON w.id = loc.job_id),
idx AS (
  SELECT nuts_2_code, CAST(count(*) AS DOUBLE) / 4 AS code_index
  FROM std WHERE {stock_window} AND nuts_2_code IS NOT NULL GROUP BY 1),
cnt AS (
  SELECT week_date, nuts_2_name, nuts_2_code, count(*) AS n
  FROM std WHERE nuts_2_code IS NOT NULL GROUP BY 1, 2, 3)
SELECT c.week_date AS date, c.nuts_2_name AS location_name,
  c.nuts_2_code AS location_code, c.n * 100.0 / i.code_index AS volume_idx
FROM cnt c JOIN idx i ON c.nuts_2_code = i.nuts_2_code""",
        "aggregate_skills": oracle["dom_aggregate_skills"],
    }
    checks = [
        ("extract.reed", lambda: pd.read_parquet(f"{out}/raw_reed"),
         oracle["dom_extract_reed"]),
        ("extract.indeed", lambda: pd.read_parquet(f"{out}/raw_indeed"),
         oracle["dom_extract_indeed"]),
        ("salaries", lambda: pd.read_parquet(f"{out}/silver_ads")[
            ["id", "min_salary", "max_salary", "min_annualised_salary",
             "max_annualised_salary", "rate"]], oracle["dom_salary_extract"]),
        ("skills", lambda: pd.read_parquet(f"{out}/skills"),
         f"""SELECT doc_id AS id, surface_form
FROM ({oracle['dom_clean_text']}), (SELECT unnest([{dict_sql}]) AS surface_form)
WHERE contains(clean, surface_form)"""),
        ("vector_links", lambda: pd.read_parquet(cache_entry(root, "vector_links")),
         oracle["dom_vector_dedup_links"]),
        ("components", lambda: pd.read_parquet(cache_entry(root, "components")),
         "SELECT * FROM dupcomps"),
        ("split", lambda: pd.read_parquet(cache_entry(root, "split")),
         "SELECT * FROM splitcomps"),
        ("weekly", lambda: pd.read_parquet(cache_entry(root, "weekly"))[
            ["week_date", "id"]], "SELECT week_date, id FROM weekly"),
        ("features", lambda: pd.read_parquet(f"{out}/features"), oracle["dom_features"]),
    ] + [(f"indicators.{t}", (lambda t=t: pd.read_parquet(f"{out}/gold/{t}")), sql)
         for t, sql in gold.items()]
    problems = []
    for name, got, sql in checks:
        try:
            why = differ(got(), con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - a crash is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            problems.append(f"pipeline.{name}: {why}")
    n = len(checks)
    for title in p["published"]:
        want = con.sql(gold[title]).df()
        for version in ("latest", p["version"]):
            n += 1
            why = check_published(f"{out}/publish/{version}", title, want)
            if why:
                problems.append(f"pipeline.publish.{version}.{title}: {why}")
    read_problems, n_reads = replay_reads(con, p["reads"], cte)
    return problems + read_problems, n + n_reads


def check_published(d: str, title: str, want: pd.DataFrame):
    """The JSON and CSV artifacts hold the gold rows, each float rounded to
    two decimals; the data dictionary names every column."""
    try:
        js = pd.concat([pd.read_json(f, lines=True, dtype=False,
                                     convert_dates=False, precise_float=True)
                        for f in glob.glob(f"{d}/{title}.json/part-*")])
        csv = pd.concat([pd.read_csv(f, dtype=str, keep_default_na=False)
                         for f in glob.glob(f"{d}/{title}.csv/part-*")])
        with open(f"{d}/{title}_data_dict.txt") as f:
            ddict = f.read()
    except Exception as e:  # noqa: BLE001
        return f"unreadable: {type(e).__name__}: {e}"
    for frame, kind in ((js, "json"), (csv, "csv")):
        if sorted(frame.columns) != sorted(want.columns):
            return f"{kind} columns {sorted(frame.columns)}"
        if len(frame) != len(want):
            return f"{kind} rows {len(frame)} != {len(want)}"
    missing = [c for c in want.columns if f"- {c} (" not in ddict]
    if missing:
        return f"data dictionary lacks {missing}"
    cols = sorted(want.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])]
    keys = [c for c in cols if c not in floats]

    def keyed(df):
        k = df[keys].astype(str).apply(lambda r: "|".join(r), axis=1)
        return dict(zip(k, df[floats].astype(float).itertuples(index=False)))

    want2 = want.copy()
    for c in keys:
        if pd.api.types.is_datetime64_any_dtype(want2[c]):
            want2[c] = want2[c].dt.strftime("%Y-%m-%d")
        elif c in want2:
            want2[c] = want2[c].map(lambda x: x.isoformat()
                                    if isinstance(x, datetime.date) else x)
    w = keyed(want2)
    for frame, kind in ((js, "json"), (csv, "csv")):
        g = keyed(frame)
        if set(g) != set(w):
            return f"{kind} keys differ"
        for k, vals in g.items():
            for c, got, exp in zip(floats, vals, w[k]):
                if round(got, 2) != got or abs(got - exp) > 0.005 + 1e-9:
                    return f"{kind} {k} {c}: {got} is not {exp} to 2 dp"
    return None


# ---- analyst reads --------------------------------------------------------

def norm(v):
    if v is None or (isinstance(v, float) and v != v):
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 10 and v[4] == "-" and v[7] == "-":
        try:
            return pd.Timestamp(v).isoformat() if "T" in v else v
        except ValueError:
            return v
    return str(v)


def read_sql(kind: str, f: str, t: str):
    window = f"created >= TIMESTAMP '{f}' AND created <= TIMESTAMP '{t}'"
    kept = f"""inwin AS (SELECT * FROM ads WHERE {window}),
dupes AS (
  SELECT id FROM (
    SELECT c.id, row_number() OVER (PARTITION BY c.component ORDER BY c.id) AS rn
    FROM {{graphs}} c WHERE c.id IN (SELECT id FROM inwin))
  WHERE rn > 1),
kept AS (SELECT * FROM inwin WHERE id NOT IN (SELECT id FROM dupes))"""
    if kind == "get_job_ads":
        return [f"WITH {kept.format(graphs='dupcomps')} "
                "SELECT id, created, job_location_raw, raw_salary_unit FROM kept"]
    if kind == "job_ads_features":
        return [f"""WITH {kept.format(graphs='dupcomps')}
SELECT loc.nuts_2_code, count(*) AS n,
  count(s.max_annualised_salary) AS n_salaried,
  min(s.min_annualised_salary) AS min_salary,
  max(s.max_annualised_salary) AS max_salary,
  count(sk.job_id) AS n_with_skills
FROM kept a LEFT JOIN sal s ON a.id = s.id
LEFT JOIN loc ON a.id = loc.job_id
LEFT JOIN (SELECT DISTINCT job_id FROM skill_links) sk ON a.id = sk.job_id
GROUP BY 1"""]
    if kind == "snapshot_ads":
        return [f"WITH {kept.format(graphs='splitcomps')} "
                "SELECT job_location_raw, count(*) AS n FROM kept GROUP BY 1"]
    if kind == "weekly_indicators":
        sl = f"(SELECT * FROM weekly WHERE week_date BETWEEN DATE '{f}' AND DATE '{t}')"
        return [
            f"""SELECT 'stock', week_date, CAST(count(*) AS BIGINT) * 100.0
  / (SELECT CAST(count(*) AS DOUBLE) / 4 FROM {sl}) FROM {sl} GROUP BY week_date""",
            "SELECT 'spread', q.* FROM (" + quantiles_sql(
                f"(SELECT w.week_date, s.min_annualised_salary, "
                f"s.max_annualised_salary FROM {sl} w JOIN sal s ON w.id = s.id)",
                "week_date") + ") q"]
    raise ValueError(kind)


def replay_reads(con, path: str, cte: dict):
    """Every analyst read, replayed in DuckDB with the same parameters over
    the temp tables `weekly_tables` made."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE skill_links AS {cte['skill_links']}")
    problems, n = [], 0
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            n += 1
            want = []
            for sql in read_sql(rec["kind"], rec["from"], rec["to"]):
                want += [tuple(norm(v) for v in row)
                         for row in con.execute(sql).fetchall()]
            got = [tuple(norm(v) for v in row) for row in rec["rows"]]
            if sorted(got) != sorted(want):
                diff = sorted(set(got) ^ set(want))[:2]
                problems.append(f"read.{rec['kind']} {rec['from']}..{rec['to']}: "
                                f"{len(got)} rows vs {len(want)}, e.g. {diff}")
    return problems, n


# ---- operator_mix --------------------------------------------------------

def check_mix(res: dict, data: str):
    m = res["mix"]
    con = connect(data)
    problems, n = [], 0
    for name in m["sample"]:
        seen = m["observed"].get(name, [])
        n += 1
        if len(set(map(tuple, seen))) != 1:
            problems.append(f"query.{name}: answers differ across passes: {seen}")
            continue
        if name in m["oracle"]:
            n += 1
            try:
                got = pd.read_parquet(f"{m['answers_dir']}/{name}")
                why = differ(got, con.sql(m["oracle"][name]).df())
                if not why and len(got) != seen[0][0]:
                    why = f"{len(got)} rows written, {seen[0][0]} observed"
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {e}"
            if why:
                problems.append(f"query.{name}: oracle: {why}")
    return problems, n


def run(workload: str, res: dict, data: str):
    return {"pipeline": check_pipeline,
            "operator_mix": check_mix}[workload](res, data)
