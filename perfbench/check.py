"""Output checks of the benchmark, run outside the timed region.

Gate results are compared with `SparkEntry.oracleSql` run in DuckDB by the
repository's own type-faithful comparison, tools/compare.py. The MEDS
pipeline's output is compared with a DuckDB replay of the pipeline over the
generated root.
"""
import os
import re
import subprocess
import sys

import duckdb

COMPARE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tools", "compare.py")


def check_gates(table_dir, results_dir, gates):
    """{gate: (ok, message)} for every gate the run executed. results_dir
    holds one parquet directory per gate and oracle_sql.json."""
    r = subprocess.run([sys.executable, COMPARE, table_dir, results_dir,
                        "--only", ",".join(gates)],
                       capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(OK|FAIL) +([^ :]+):? ?(.*)", line)
        if m:
            verdicts[m.group(2)] = (m.group(1) == "OK", m.group(3))
    why = f"no verdict from compare.py (exit {r.returncode}): {r.stderr[-500:]}"
    return {g: verdicts.get(g, (False, why)) for g in gates}


# the meds_etl pipeline's parameters (perfbench/meds_preprocess.yaml)
MIN_EVENTS = 5
STDDEV_CUTOFF = 4.5
US_PER_YEAR = 365.2422 * 86400.0 * 1e6
TOD_BOUNDS = [0, 6, 12, 18, 24]


def _parquet(path):
    """DuckDB source of a parquet file or of a directory of part files."""
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _meds_replay(con, in_root):
    tod = " ".join(f"WHEN hour(time) >= {a} AND hour(time) < {b} "
                   f"THEN 'TIME_OF_DAY//[{a:02d},{b:02d})'"
                   for a, b in zip(TOD_BOUNDS, TOD_BOUNDS[1:]))
    con.execute(f"""
      CREATE TABLE raw AS SELECT subject_id, time, code, numeric_value AS v,
        regexp_extract(filename, '/data/([^/]+)/', 1) AS split
      FROM read_parquet('{in_root}/data/*/*.parquet', filename=true);
      CREATE TABLE survivors AS SELECT subject_id FROM raw GROUP BY 1
        HAVING count(DISTINCT time) + max(CASE WHEN time IS NULL THEN 1 ELSE 0 END)
          >= {MIN_EVENTS};
      CREATE TABLE f AS SELECT * FROM raw SEMI JOIN survivors USING (subject_id);
      CREATE TABLE ue AS SELECT DISTINCT subject_id, time, split FROM f
        WHERE time IS NOT NULL;
      CREATE TABLE dob AS SELECT subject_id, min(time) AS dob FROM f
        WHERE regexp_matches(code, 'MEDS_BIRTH') GROUP BY 1;
      CREATE TABLE a AS
        SELECT subject_id, time, code, v, split FROM f
        UNION ALL
        SELECT * FROM (SELECT ue.subject_id, ue.time, 'AGE' AS code,
          CAST((epoch_us(ue.time) - epoch_us(dob.dob)) / {US_PER_YEAR!r} AS FLOAT) AS v,
          ue.split
          FROM ue JOIN dob USING (subject_id)) WHERE v > 0
        UNION ALL
        SELECT subject_id, time, CASE {tod} END, NULL, split FROM ue;
      -- values/sum_sqd squares in single precision, as the engine's float
      -- column does; a variance rounded below zero occludes every value
      CREATE TABLE s1 AS SELECT code, mean,
        CASE WHEN var < 0 THEN 'NaN'::DOUBLE ELSE sqrt(var) END AS std
        FROM (SELECT code, s / n AS mean, ss / n - pow(s / n, 2) AS var FROM (
          SELECT code, count(v) AS n, sum(CAST(v AS DOUBLE)) AS s,
            sum(CAST(v * v AS DOUBLE)) AS ss
          FROM a WHERE split = 'train' AND v IS NOT NULL GROUP BY 1));
      CREATE TABLE occ AS SELECT a.subject_id, a.code, a.split,
        CASE WHEN a.v IS NULL OR s1.std IS NULL OR isnan(s1.std) THEN NULL
             WHEN abs(CAST(a.v AS DOUBLE) - s1.mean) <= {STDDEV_CUTOFF} * s1.std
             THEN CAST(a.v AS DOUBLE) END AS v
        FROM a LEFT JOIN s1 USING (code);
      CREATE TABLE fit AS SELECT code, count(*) AS n_occ,
        count(DISTINCT subject_id) AS n_subj, sum(v) AS v_sum
        FROM occ WHERE split = 'train' GROUP BY 1;
    """)


def check_meds(in_root, out_root, resumed_root):
    """The meds_etl output against a DuckDB replay of the pipeline:
    (ok, messages, resumed output equals the output, measured shares)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _meds_replay(con, in_root)
    con.execute(f"""
      CREATE TABLE out_codes AS SELECT * FROM '{_parquet(out_root + "/metadata/codes.parquet")}';
      CREATE TABLE out_data AS SELECT *,
        regexp_extract(filename, '/data/([^/]+)/', 1) AS split
        FROM read_parquet('{out_root}/data/*/*.parquet', filename=true);
    """)
    msgs = []

    def expect(name, got, want):
        if got != want:
            msgs.append(f"{name}: got {got} want {want}")

    expect("surviving subjects",
           con.sql("SELECT count(DISTINCT subject_id) FROM out_data").fetchone()[0],
           con.sql("SELECT count(*) FROM survivors").fetchone()[0])
    expect("subjects outside the survivors",
           con.sql("SELECT count(*) FROM (SELECT DISTINCT subject_id FROM out_data) "
                   "ANTI JOIN survivors USING (subject_id)").fetchone()[0], 0)
    fit_diff = con.sql("""
      SELECT count(*) FILTER (WHERE o.code IS NULL OR o."code/n_occurrences" IS DISTINCT FROM f.n_occ
          OR o."code/n_subjects" IS DISTINCT FROM f.n_subj),
        count(*) FILTER (WHERE abs(coalesce(o."values/sum", 0) - coalesce(f.v_sum, 0))
          > 1e-6 * greatest(1, abs(coalesce(f.v_sum, 0)))),
        count(*)
      FROM fit f LEFT JOIN out_codes o USING (code)""").fetchone()
    expect("codes with wrong code/n_occurrences or code/n_subjects", fit_diff[0], 0)
    expect("codes with wrong values/sum", fit_diff[1], 0)
    vocab = [r[0] for r in con.sql(
        'SELECT "code/vocab_index" FROM out_codes ORDER BY 1').fetchall()]
    if not vocab or vocab != list(range(vocab[0], vocab[0] + len(vocab))) \
            or vocab[0] not in (0, 1):
        msgs.append("vocabulary indices are not dense")
    want_rows = dict(con.sql("""SELECT split, count(*) FROM a
      WHERE code IN (SELECT code FROM out_codes) GROUP BY 1""").fetchall())
    got_rows = dict(con.sql("SELECT split, count(*) FROM out_data GROUP BY 1").fetchall())
    expect("rows per split", got_rows, want_rows)
    resume_ok = _same_root(con, out_root, resumed_root)
    shares = {
        "fitted_codes": fit_diff[2],
        "surviving_subject_share": con.sql(
            "SELECT (SELECT count(*) FROM survivors) / count(DISTINCT subject_id) FROM raw"
        ).fetchone()[0],
        "occluded_share_of_numeric": con.sql(
            "SELECT 1 - (SELECT count(v) FROM occ) / (SELECT count(v) FROM a)").fetchone()[0],
        "output_rows": sum(got_rows.values()),
    }
    return not msgs, msgs, resume_ok, shares


def _same_root(con, a, b):
    """The resumed run's output equals the checkpointed run's."""
    def q(sql):
        return con.sql(sql).fetchone()[0]
    for part, cols in (("data/*/*.parquet", "subject_id, time, code, numeric_value"),
                       ("metadata/codes.parquet", "*")):
        pa, pb = _parquet(f"{a}/{part}"), _parquet(f"{b}/{part}")
        diff = q(f"""SELECT count(*) FROM (
          (SELECT {cols} FROM read_parquet('{pa}') EXCEPT ALL
           SELECT {cols} FROM read_parquet('{pb}'))
          UNION ALL
          (SELECT {cols} FROM read_parquet('{pb}') EXCEPT ALL
           SELECT {cols} FROM read_parquet('{pa}')))""")
        if diff:
            return False
    return True
