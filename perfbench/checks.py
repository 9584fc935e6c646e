"""Output checks, run after the timed loop. Each check counts as one
attempted operation; a failed one counts as failed."""
import glob
import importlib.util
import math
import os
import re
import zipfile

import duckdb

import oplog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.details = {}

    def check(self, name, ok, detail=None):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.details[name] = detail if detail is not None else "failed"
        return ok


# -- notion_etl ---------------------------------------------------------------

_CANON_COLS = {
    "timeslices": {"timeslice_id": "VARCHAR", "workflow_definition_id": "VARCHAR",
                   "from_step_id": "VARCHAR", "to_step_id": "VARCHAR",
                   "started_at": "VARCHAR", "ended_at": "VARCHAR",
                   "last_edited_time": "VARCHAR", "created_time": "VARCHAR",
                   "source_page_id": "VARCHAR"},
    "workflowStages": {"workflow_stage_id": "VARCHAR", "source_page_id": "VARCHAR",
                       "stage_number": "DOUBLE", "stage_label": "VARCHAR"},
    "workflowDefinitions": {"workflow_definition_id": "VARCHAR", "source_page_id": "VARCHAR"},
    "qualityIssues": {"rule": "VARCHAR", "entity_id": "VARCHAR"},
}

# Row counts of the seven star tables, recomputed from the canon datasets
# with the derive step's semantics (last-wins keys are unique here).
_STAR_SQL = """
CREATE TEMP VIEW tsx AS SELECT *,
  TRY_CAST(started_at AS TIMESTAMPTZ) s_ts, TRY_CAST(ended_at AS TIMESTAMPTZ) e_ts,
  TRY_CAST(last_edited_time AS TIMESTAMPTZ) l_ts, TRY_CAST(created_time AS TIMESTAMPTZ) c_ts
  FROM timeslices;
CREATE TEMP MACRO la_day(t) AS CAST(timezone('America/Los_Angeles', t) AS DATE);
CREATE TEMP VIEW bounds AS
  SELECT CAST(floor(min(ms) / 3600000.0) AS BIGINT) * 3600000 f0,
         CAST(floor(max(ms) / 3600000.0) AS BIGINT) * 3600000 f1
  FROM (SELECT epoch_ms(s_ts) ms FROM tsx UNION ALL SELECT epoch_ms(e_ts) FROM tsx
        UNION ALL SELECT epoch_ms(l_ts) FROM tsx UNION ALL SELECT epoch_ms(c_ts) FROM tsx)
  WHERE ms IS NOT NULL;
CREATE TEMP VIEW occ AS
  SELECT DISTINCT stage_key, unnest(generate_series(fh, lh, 3600000)) h FROM (
    SELECT st.source_page_id stage_key,
      greatest(CAST(ceil(epoch_ms(s_ts) / 3600000.0) AS BIGINT) * 3600000, f0) fh,
      least(CAST(floor(epoch_ms(e_ts) / 3600000.0) AS BIGINT) * 3600000, f1) lh
    FROM tsx JOIN workflowStages st ON tsx.from_step_id = st.workflow_stage_id, bounds
    WHERE s_ts IS NOT NULL AND e_ts IS NOT NULL AND e_ts >= s_ts)
  WHERE fh <= lh;
CREATE TEMP VIEW thr AS
  SELECT tsx.*, st.source_page_id fk FROM tsx
  JOIN workflowStages st ON tsx.from_step_id = st.workflow_stage_id;
CREATE TEMP VIEW edges AS
  SELECT la_day(coalesce(e_ts, s_ts, l_ts, c_ts)) d, st.source_page_id k FROM tsx
  JOIN workflowStages st ON tsx.to_step_id = st.workflow_stage_id
  WHERE tsx.from_step_id IS NULL AND tsx.to_step_id IS NOT NULL
    AND round(st.stage_number) = 1;
"""

_STAR_COUNTS = {
    "FactTimeslices": "SELECT count(*) FROM timeslices",
    "DimWorkflow": "SELECT count(DISTINCT source_page_id) FROM workflowDefinitions",
    "DimStage": "SELECT count(DISTINCT source_page_id) FROM workflowStages",
    "DimDate": """SELECT coalesce(date_diff('day', min(d), max(d)) + 1, 0) FROM (
        SELECT la_day(TRY_CAST(coalesce(ended_at, started_at, last_edited_time, created_time)
                      AS TIMESTAMPTZ)) d FROM timeslices) WHERE d IS NOT NULL""",
    "DimPlaybackFrame": "SELECT coalesce((f1 - f0) // 3600000 + 1, 0) FROM bounds",
    "StageOccupancy_Hourly": "SELECT count(*) FROM occ",
    "StageThroughput_Daily": """SELECT count(*) FROM (
        SELECT la_day(s_ts) d, fk k FROM thr WHERE s_ts IS NOT NULL
        UNION SELECT la_day(e_ts), fk FROM thr WHERE e_ts IS NOT NULL
        UNION SELECT d, k FROM edges WHERE d IS NOT NULL
        UNION SELECT la_day(to_timestamp(h / 1000)), stage_key FROM occ)""",
}


def canon_connection(data_dir, run_date):
    """DuckDB views over the canon JSONL datasets of one normalize run."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for ds, cols in _CANON_COLS.items():
        files = os.path.join(data_dir, "canon", ds, run_date, "*.json")
        spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols.items()) + "}"
        con.execute(f"CREATE VIEW {ds} AS SELECT * FROM read_json('{files}', "
                    f"format='newline_delimited', columns={spec})")
    return con


def star_counts(data_dir, run_date):
    """Row counts of the seven star tables, recounted from canon."""
    con = canon_connection(data_dir, run_date)
    con.execute(_STAR_SQL)
    return {t: con.execute(q).fetchone()[0] for t, q in _STAR_COUNTS.items()}


def issues_by_rule(data_dir, run_date):
    con = canon_connection(data_dir, run_date)
    return dict(con.execute("SELECT rule, count(*) FROM qualityIssues GROUP BY rule").fetchall())


def xlsx_sheet_rows(path):
    """Data rows per sheet of a workbook (header row excluded)."""
    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode()
        names = re.findall(r'<sheet [^>]*name="([^"]+)"', wb)
        out = {}
        for i, name in enumerate(names, 1):
            xml = z.read(f"xl/worksheets/sheet{i}.xml").decode()
            out[name] = max(0, len(re.findall(r"<row[ >]", xml)) - 1)
        return out


def check_notion(res, manifest, out):
    r = res["outputs"]
    data_dir = r["data_dir"]
    run_date = _only_partition(data_dir)
    star = star_counts(data_dir, run_date)
    out.details["star_recount"] = star
    want_pull = {ds: n + 1 for ds, n in manifest["pages"].items()}  # + database record
    out.check("notion.pull", r["pulled"] == want_pull, [r["pulled"], want_pull])
    out.check("notion.canon", r["canon"] == manifest["canon"], [r["canon"], manifest["canon"]])
    out.check("notion.star", r["star"] == star, [r["star"], star])
    out.check("notion.pbi", r["pbi_tables"] == 7 and r["pbi_rows_posted"] == star,
              [r["pbi_tables"], r["pbi_rows_posted"]])
    got = issues_by_rule(data_dir, run_date)
    want = {k: v for k, v in manifest["issues_by_rule"].items() if v}
    out.check("notion.issues_by_rule", got == want and len(want) == 7, [got, want])
    sheets = xlsx_sheet_rows(os.path.join(data_dir, "star.xlsx"))
    out.check("notion.xlsx_rows", sheets == star, [sheets, star])
    out.check("notion.xlsx_sheet_limit", max(star.values()) < 1048576, star)


def _only_partition(data_dir):
    parts = os.listdir(os.path.join(data_dir, "canon", "timeslices"))
    if len(parts) != 1:
        raise ValueError(f"expected one canon partition, found {parts}")
    return parts[0]


# -- commits_and_queries: the commit round ----------------------------------

def _parquet_rows(con, path, cols):
    return con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')").fetchall()


def check_commits(res, work, sf_dir, out):
    o = res["outputs"]
    fact, dim = oplog.replay(os.path.join(work, "inputs"), sf_dir)
    con = duckdb.connect()
    got_fact = _parquet_rows(con, os.path.join(o["check_dir"], "fact"), oplog.FACT_COLS)
    want_fact = [(k,) + v for k, v in fact.items()]
    out.check("commits.fact", len(got_fact) == len(want_fact) and
              oplog.table_hash(got_fact) == oplog.table_hash(want_fact),
              [len(got_fact), len(want_fact)])
    got_dim = _parquet_rows(con, os.path.join(o["check_dir"], "dim"), ("user_id", "segment"))
    out.check("commits.dim", oplog.table_hash(got_dim) == oplog.table_hash(dim.items()),
              [len(got_dim), len(dim)])
    got_mv = {s: (n, t) for s, n, t in _parquet_rows(
        con, os.path.join(o["check_dir"], "mv"), ("segment", "n", "total"))}
    want_mv = oplog.mv_rows(fact, dim)
    same = got_mv.keys() == want_mv.keys() and all(
        got_mv[s][0] == want_mv[s][0] and
        math.isclose(got_mv[s][1], want_mv[s][1], rel_tol=1e-9, abs_tol=1e-6)
        for s in want_mv)
    out.check("commits.mv", same, [got_mv, want_mv])


# -- commits_and_queries: the queries --------------------------------------

def _oracle_module():
    """The repository's DuckDB-oracle compare, `scripts/check_oracle.py`."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(res, generated, sf_dir, out):
    """Each query's dump against its DuckDB oracle SQL, with the
    normalization of the repository's oracle compare; a query without
    oracle SQL must at least have written its result."""
    oracle = _oracle_module()
    o = res["outputs"]
    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name in generated["order"]:
        files = os.path.join(o["results_dir"], name, "*.parquet")
        if not glob.glob(files):
            out.check(f"query.{name}", False, "no result written")
            continue
        sql = o["oracle_sql"].get(name)
        if sql is None:
            out.check(f"query.{name}", True)
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{files}')")
        got_cols, got_rows = oracle.canon(got.fetchall(), [d[0] for d in got.description])
        want = con.execute(sql)
        want_cols, want_rows = oracle.canon(want.fetchall(), [d[0] for d in want.description])
        bad = next((i for i, (g, w) in enumerate(zip(got_rows, want_rows)) if g != w), None)
        out.check(f"query.{name}", got_cols == want_cols and len(got_rows) == len(want_rows)
                  and bad is None,
                  {"columns": [got_cols, want_cols], "rows": [len(got_rows), len(want_rows)],
                   "first_diff": None if bad is None else [repr(got_rows[bad]), repr(want_rows[bad])]})


def run(workload, res, generated, work, sf_dir):
    out = Outcome()
    try:
        if workload == "notion_etl":
            check_notion(res, generated, out)
        else:
            check_commits(res, work, sf_dir, out)
            check_queries(res, generated, sf_dir, out)
    except Exception as e:  # a check that cannot run has failed
        out.check(f"{workload}.checks", False, f"{type(e).__name__}: {e}")
    return out
