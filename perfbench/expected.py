"""Expected results and the checks that compare the program's outputs
with them. Everything here is computed apart from the program: DuckDB
runs the slate's oracle SQL over the same input files, and Python or
DuckDB recompute what no oracle covers.

Expected results depend only on the workload, its input size and the
seed; `compute` writes them once per seed into a directory that `check`
reads. Neither is part of any timed figure.
"""
import glob
import json
import math
import os

import duckdb

# checked against a Python recomputation instead of the oracle SQL, whose
# all-pairs Levenshtein join is the work the operator exists to avoid
PROPERTY_CHECKED = {"q_edit_join"}
DEFTUNES_TABLES = ["serving_dim_songs", "serving_dim_artists",
                   "serving_dim_users", "serving_fact_session",
                   "sales_per_artist_vw", "sales_per_country_vw"]


def _connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for p in sorted(glob.glob(f"{input_dir}/*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def compute(workload, queries, input_dir, oracle_sql, out):
    """Write the expected result of every checked output under `out`."""
    os.makedirs(out, exist_ok=True)
    con = _connect(input_dir)
    if workload == "deftunes_backfill":
        _deftunes_expected(con, input_dir)
        for t in DEFTUNES_TABLES:
            con.execute(f"COPY (SELECT * FROM {t}) TO '{out}/{t}.parquet' "
                        "(FORMAT PARQUET)")
    else:
        for q in queries:
            if q in PROPERTY_CHECKED:
                continue
            con.execute(f"COPY ({oracle_sql[q]}) TO '{out}/{q}.parquet' "
                        "(FORMAT PARQUET)")
    con.close()


def _deftunes_expected(con, d):
    """The star schema and BI views the two DAGs must leave after
    backfilling every window, recomputed from the generated payloads."""
    windows = json.load(open(f"{d}/manifest.json"))["windows"]
    users, sessions = [], []
    for w in windows:
        users.append(f"""SELECT user_id, user_lastname, user_name,
            CAST(user_since AS VARCHAR) AS user_since,
            user_location[3] AS place_name,
            user_location[4] AS country_code
            FROM read_json('{d}/users/{w[:7]}.json', format='array')""")
        sessions.append(f"""SELECT session_id, user_id, i.song_id,
            i.artist_id, i.price, i.liked,
            CAST(i.liked_since AS VARCHAR) AS liked_since,
            CAST(session_start_time AS TIMESTAMP) AS session_start_time,
            i.artist_name
            FROM (SELECT *, unnest(session_items) AS i FROM read_json(
              '{d}/sessions/{w[:7]}.json', format='array'))""")
    n = len(windows)
    con.execute(f"""CREATE TABLE songs AS SELECT * FROM read_csv(
        '{d}/songs.csv', header=true, all_varchar=true)""")
    con.execute(f"""CREATE TABLE serving_dim_songs AS
        SELECT song_id, track_id, title, release,
               CAST(year AS INTEGER) AS year
        FROM songs, range({n})""")
    con.execute("""CREATE TABLE serving_dim_artists AS
        SELECT DISTINCT artist_id, artist_mbid, artist_name FROM songs""")
    con.execute("CREATE TABLE serving_dim_users AS " +
                " UNION ALL ".join(users))
    con.execute("CREATE TABLE s AS " + " UNION ALL ".join(sessions))
    con.execute("""CREATE TABLE serving_fact_session AS
        SELECT session_id, user_id, song_id, artist_id, price, liked,
               liked_since, session_start_time FROM s""")
    con.execute("""CREATE TABLE sales_per_artist_vw AS
        SELECT CAST(year(f.session_start_time) AS INTEGER) AS session_year,
               a.artist_name, SUM(f.price) AS total_sales
        FROM serving_fact_session f
        LEFT JOIN serving_dim_artists a USING (artist_id)
        GROUP BY ALL""")
    con.execute("""CREATE TABLE sales_per_country_vw AS
        SELECT CAST(month(f.session_start_time) AS INTEGER) AS session_month,
               CAST(year(f.session_start_time) AS INTEGER) AS session_year,
               u.country_code, SUM(f.price) AS total_sales
        FROM serving_fact_session f
        LEFT JOIN serving_dim_users u USING (user_id)
        GROUP BY ALL""")


def compare(got, exp, rel_tol=0.0):
    """The comparison rule of the slate's oracle check: columns sorted by
    name, rows sorted by value, cells compared exactly (floats too; NaN
    equals NaN). `rel_tol` admits float sums whose accumulation order
    differs. Returns None when equal, else the first difference."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    cols = list(got.columns)
    gs = got.sort_values(by=cols, na_position="first").reset_index(drop=True)
    es = exp.sort_values(by=cols, na_position="first").reset_index(drop=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(gs[c], es[c])):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a != b and not (rel_tol and math.isclose(
                        a, b, rel_tol=rel_tol)):
                    return f"col={c} row={i} got={a!r} expected={b!r}"
            elif str(a) != str(b):
                return f"col={c} row={i} got={a!r} expected={b!r}"
    return None


def check(workload, names, input_dir, expected_dir, results_dir):
    """{output name: reason} for every output that is wrong."""
    con = duckdb.connect()
    bad = {}
    for name in names:
        res = f"{results_dir}/{name}"
        if not os.path.isdir(res):
            bad[name] = "no result written"
            continue
        got = con.execute(f"SELECT * FROM '{res}/*.parquet'").df()
        if name in PROPERTY_CHECKED:
            why = _properties(name, got, input_dir)
        else:
            exp = con.execute(
                f"SELECT * FROM '{expected_dir}/{name}.parquet'").df()
            why = compare(got, exp, rel_tol=1e-9
                          if workload == "deftunes_backfill" else 0.0)
        if why:
            bad[name] = why
    con.close()
    return bad


def _properties(name, got, input_dir):
    """The one-edit self-join over fixed-width names: a pair is within one
    edit exactly when the names differ in one character, so the whole
    pair set is recomputed by trying every single-digit substitution."""
    con = _connect(input_dir)
    names = dict(con.execute(
        "SELECT c_custkey, c_name FROM customer").fetchall())
    con.close()
    by_name = {v: k for k, v in names.items()}
    want = set()
    for k, v in names.items():
        for i, ch in enumerate(v):
            for alt in "0123456789":
                o = by_name.get(v[:i] + alt + v[i + 1:])
                if alt != ch and o is not None and k < o:
                    want.add((k, o, 1))
    have = set(zip(got["id_a"], got["id_b"], got["dist"]))
    if have != want:
        return (f"{len(have - want)} unexpected and "
                f"{len(want - have)} missing pairs")
    return None
