"""Output checks against DuckDB.

The expected result is computed once per input content and cached as
parquet under the work root; every pass's output root is then compared with
it.

- analysis_ckpt / curation: the repository's own gate oracles
  (`Queries.oracleSql("analysis_pipeline" / "curation_pipeline")`) over the
  generated documents table, against the gates' read-back projections.
- meds_etl: a DuckDB replay of the seven stages, built from the formulas of
  the per-stage gate oracles (filter_subjects, occlude_outliers,
  normalization, fit_vocab); both metadata fits see train-split rows only.
"""
import hashlib
import os

import duckdb

MEDS_CUTOFF = 1.0  # occlude_outliers.stddev_cutoff in meds_etl.yaml
MEDS_MIN_EVENTS = 20  # filter_subjects.min_events_per_subject

# mean and std from (n, sum, sum of squares), as OccludeOutliers and
# Normalization derive them: a negative variance from rounding gives NaN
STATS = """s / nullif(n, 0) AS mu,
  CASE WHEN ss / nullif(n, 0) - (s / nullif(n, 0)) ^ 2 < 0 THEN 'NaN'::DOUBLE
       ELSE sqrt(ss / nullif(n, 0) - (s / nullif(n, 0)) ^ 2) END AS sd"""

MEDS_EXPECTED = f"""
WITH raw AS (SELECT subject_id, time, code, numeric_value,
    regexp_extract(filename, '/data/([^/]+)/', 1) AS split
  FROM read_parquet('{{root}}/data/*/*.parquet', filename = true)),
splits AS (SELECT * FROM '{{root}}/metadata/subject_splits.parquet'),
keep AS (SELECT subject_id FROM raw GROUP BY 1
  HAVING count(DISTINCT time) + (CASE WHEN count(*) > count(time) THEN 1 ELSE 0 END)
    >= {MEDS_MIN_EVENTS}),
f AS (SELECT * FROM raw SEMI JOIN keep USING (subject_id)),
tod AS (SELECT DISTINCT subject_id, time,
    CASE WHEN hour(time) < 6 THEN 'TIME_OF_DAY//[00,06)'
      WHEN hour(time) < 12 THEN 'TIME_OF_DAY//[06,12)'
      WHEN hour(time) < 18 THEN 'TIME_OF_DAY//[12,18)'
      ELSE 'TIME_OF_DAY//[18,24)' END AS code,
    NULL::FLOAT AS numeric_value, split
  FROM f WHERE time IS NOT NULL),
d2 AS (SELECT * FROM f UNION ALL SELECT * FROM tod),
fit1 AS (SELECT code, count(numeric_value) AS n, coalesce(sum(numeric_value), 0) AS s,
    coalesce(sum(numeric_value * numeric_value), 0) AS ss
  FROM d2 JOIN splits t USING (subject_id)
  WHERE coalesce(nullif(d2.split, ''), t.split) = 'train' GROUP BY 1),
m1 AS (SELECT code, {STATS} FROM fit1),
occ AS (SELECT d2.subject_id, d2.time, d2.code, d2.split,
    CASE WHEN d2.numeric_value IS NULL THEN NULL
      WHEN isnan(m1.sd) THEN false
      ELSE abs(d2.numeric_value - m1.mu) <= {MEDS_CUTOFF} * m1.sd END AS inl,
    abs(abs(d2.numeric_value - m1.mu) - {MEDS_CUTOFF} * m1.sd) AS margin,
    d2.numeric_value AS v0
  FROM d2 LEFT JOIN m1 USING (code)),
occ2 AS (SELECT *, CASE WHEN inl THEN v0 END AS v FROM occ),
fit2 AS (SELECT code, count(v) AS n, coalesce(sum(v), 0) AS s,
    coalesce(sum(v * v), 0) AS ss
  FROM occ2 JOIN splits t USING (subject_id)
  WHERE coalesce(nullif(occ2.split, ''), t.split) = 'train' GROUP BY 1),
m2 AS (SELECT code, CAST(row_number() OVER (ORDER BY code) AS BIGINT) AS vocab, {STATS}
  FROM fit2)
SELECT o.subject_id, o.time, m2.vocab AS code, o.split, o.inl, o.margin,
  CAST(CASE WHEN m2.sd = 0 AND o.v - m2.mu IS NOT NULL THEN
      CASE WHEN o.v - m2.mu > 0 THEN 'Infinity'::DOUBLE
        WHEN o.v - m2.mu < 0 THEN '-Infinity'::DOUBLE ELSE 'NaN'::DOUBLE END
    ELSE (o.v - m2.mu) / nullif(m2.sd, 0) END AS FLOAT) AS z
FROM occ2 o JOIN m2 USING (code)
"""

MEDS_GOT = """SELECT subject_id, time, CAST(code AS BIGINT) AS code,
  numeric_value AS v, "numeric_value/is_inlier" AS inl,
  regexp_extract(filename, '/data/([^/]+)/', 1) AS split
FROM read_parquet('{out}/data/*/*.parquet', filename = true)"""

# a row whose |x - mean| sits within this of the cutoff may flip between
# engines on summation-order ulps; its inlier flag is not compared
MARGIN = 1e-6
REL_TOL = 1e-5

MEDS_DIFF = f"""SELECT
  (SELECT count(*) FROM got) AS n_got, (SELECT count(*) FROM exp) AS n_exp,
  count(*) FILTER (WHERE g.subject_id IS NULL) AS missing,
  count(*) FILTER (WHERE e.subject_id IS NULL) AS extra,
  count(*) FILTER (WHERE e.subject_id IS NOT NULL AND g.subject_id IS NOT NULL AND (
    g.split <> e.split
    OR (coalesce(e.margin, 1) > {MARGIN}
        AND (g.inl IS DISTINCT FROM e.inl OR (g.v IS NULL) <> (e.z IS NULL)))
    OR NOT (g.v IS NOT DISTINCT FROM e.z OR g.v IS NULL OR e.z IS NULL
        OR abs(g.v - e.z) <= {REL_TOL} * (1 + abs(e.z))))) AS wrong
FROM exp e FULL OUTER JOIN got g ON e.subject_id = g.subject_id
  AND e.time IS NOT DISTINCT FROM g.time AND e.code = g.code"""

# the gates' read-back projections of the two corpus pipelines
PROJECTIONS = {
    "analysis_ckpt": "SELECT nb_pred, n_tokens, n_terms, js_bits",
    "curation": ("SELECT doc_id, CAST(pack_shard AS BIGINT) AS shard, n_tokens, "
                 "\"offset\", seq_idx, straddles"),
}
GATES = {"analysis_ckpt": "analysis_pipeline", "curation": "curation_pipeline"}


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def expected_sql(workload, root, oracles):
    if workload == "meds_etl":
        return MEDS_EXPECTED.replace("{root}", root)
    return oracles[GATES[workload]]


def ensure_expected(work, workload, manifest, oracles):
    """Path of the cached expected result for these inputs."""
    root = manifest["root"]
    sql = expected_sql(workload, root, oracles)
    key = hashlib.sha256((manifest["content"] + sql.replace(root, "")).encode())
    path = os.path.join(work, "expected", f"{workload}-{key.hexdigest()[:16]}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = _connect()
        if workload != "meds_etl":
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{root}/documents.parquet'")
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
        os.replace(f"{path}.tmp", path)
    return path


def check_output(workload, out, expected):
    """(ok, message) for one pass's output root."""
    if not os.path.exists(os.path.join(out, "_GRAFT_COMPLETE")):
        return False, "output root was not committed"
    con = _connect()
    con.execute(f"CREATE VIEW exp AS SELECT * FROM '{expected}'")
    try:
        if workload == "meds_etl":
            con.execute(f"CREATE VIEW got AS {MEDS_GOT.format(out=out)}")
            n_got, n_exp, missing, extra, wrong = con.execute(MEDS_DIFF).fetchone()
            ok = n_got == n_exp and missing == extra == wrong == 0
            return ok, (f"rows {n_got}/{n_exp}, missing {missing}, extra {extra}, "
                        f"wrong {wrong}")
        cols = [c[0] for c in con.execute("DESCRIBE exp").fetchall()]
        con.execute(f"CREATE VIEW got0 AS {PROJECTIONS[workload]} "
                    f"FROM read_parquet('{out}/data/*/*.parquet')")
        types = dict(con.execute("SELECT column_name, column_type FROM "
                                 "(DESCRIBE exp)").fetchall())

        def norm(c):  # doubles compared to 9 decimals, all else exactly
            return f'round("{c}", 9) AS "{c}"' if types[c] == "DOUBLE" else f'"{c}"'
        sel = ", ".join(norm(c) for c in cols)
        con.execute(f"CREATE VIEW got AS SELECT {sel} FROM got0")
        con.execute(f"CREATE VIEW e AS SELECT {sel} FROM exp")
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL "
                              "SELECT * FROM got)").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                            "SELECT * FROM e)").fetchone()[0]
        n_exp = con.execute("SELECT count(*) FROM e").fetchone()[0]
        return missing == extra == 0, f"rows {n_exp}, missing {missing}, extra {extra}"
    except duckdb.Error as e:
        return False, f"unreadable output: {e}"


def corrupt(workload, out):
    """Change one value in one output file (the self-test's deliberately
    wrong output): the first row's numeric or id column moves by one."""
    con = _connect()
    files = sorted(p for d, _, fs in os.walk(os.path.join(out, "data")) for f in fs
                   if f.endswith(".parquet") for p in [os.path.join(d, f)])
    target = next(p for p in files
                  if con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] > 0)
    col = {"meds_etl": "subject_id", "analysis_ckpt": "n_tokens",
           "curation": "n_tokens"}[workload]
    con.execute(f"""COPY (SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN {col} + 1 ELSE {col} END
        AS {col}) FROM (SELECT *, row_number() OVER () AS rn FROM '{target}'))
        TO '{target}.tmp' (FORMAT PARQUET)""")
    os.replace(f"{target}.tmp", target)
