"""Seeded synthetic Notion workspace for the notion_etl workload.

Writes recorded Notion API payloads in the layout the engine's
RecordedNotionAdapter replays: one `<databaseId>.jsonl` per dataset,
line 1 the GET /v1/databases/:id response, then one POST
/v1/databases/:id/query response per line, 100 pages each, chained by
`next_cursor`. Property payloads use the relation / rollup / date /
title / rich_text / number shapes of the engine's fixtures, plus
distractor properties that extraction must ignore.

Dirty rows are planted in fixed numbers (a share of the rows, at least
one of each kind) so that all seven quality rules fire. `manifest.json`,
written beside the payloads, holds the counts a correct pull + normalize
must produce; they are evaluated from the generated ground truth, row by
row, with the rules' own predicates.

The same seed gives byte-identical files.
"""
import datetime
import json
import os
import random

DATABASES = {"workflowDefinitions": "db-wf", "workflowStages": "db-st",
             "timeslices": "db-ts"}
PAGE_SIZE = 100
RULES = ["MISSING_WORKFLOW_DEFINITION", "FROM_STEP_WITHOUT_STARTED_AT",
         "TO_STEP_WITHOUT_ENDED_AT", "WORKFLOW_WITH_NO_STEPS",
         "STEPS_WITHOUT_ANY_TIMESTAMP", "NEGATIVE_DURATION",
         "STAGE_MISSING_LABEL_OR_NUMBER"]
# planted share of each dirty timeslice kind (the rest are clean)
DIRTY_RATE = {"no_workflow": 0.02, "from_no_start": 0.02, "to_no_end": 0.02,
              "no_steps": 0.02, "no_timestamps": 0.02, "negative": 0.02,
              "entry_edge": 0.04}
STAGE_DIRTY = 2  # stages planted without a number and without a label
WINDOW_START_S = 1767571200  # 2026-01-05T00:00:00Z
WINDOW_DAYS = 60


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _uuid(rng):
    h = "%032x" % rng.getrandbits(128)
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _iso(sec):
    d = datetime.datetime.fromtimestamp(sec, datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.000Z")


# -- property payload shapes ------------------------------------------------

def _rich(text):
    return [{"type": "text", "plain_text": text}]


def _title(pid, text):
    return {"id": pid, "type": "title", "title": _rich(text)}


def _relation(pid, ids):
    return {"id": pid, "type": "relation",
            "relation": [{"id": i} for i in ids], "has_more": False}


def _rollup_relation(pid, ids):
    return {"id": pid, "type": "rollup", "rollup": {
        "type": "array", "function": "show_original",
        "array": [{"type": "relation", "relation": [{"id": i}]} for i in ids]}}


def _rollup_text(pid, text):
    return {"id": pid, "type": "rollup", "rollup": {
        "type": "array", "function": "show_original",
        "array": [{"type": "rich_text", "rich_text": _rich(text)}]}}


def _date(pid, start):
    return {"id": pid, "type": "date",
            "date": {"start": start, "end": None, "time_zone": None}}


def _rollup_date(pid, start):
    return {"id": pid, "type": "rollup", "rollup": {
        "type": "array", "function": "show_original",
        "array": [{"type": "date", "date": {"start": start, "end": None}}]}}


def _number(pid, n):
    return {"id": pid, "type": "number", "number": n}


def _text(pid, text):
    return {"id": pid, "type": "rich_text", "rich_text": _rich(text)}


def _schema(props):
    """GET /v1/databases property map: display name -> {id, type}."""
    return {name: {"id": pid, "type": tpe, tpe: {}} for name, pid, tpe in props}


TS_SCHEMA = [("Name", "title_prop", "title"),
             ("Workflow", "rel_workflow", "rollup"),
             ("Workflow Record", "rel_workflow_record", "relation"),
             ("Instance", "rollup_instance_name", "rollup"),
             ("From Step", "rel_from_step", "rollup"),
             ("To Step", "rel_to_step", "rollup"),
             ("Start", "start_date", "date"),
             ("End", "end_date", "date"),
             ("From Task Page", "rt_from_task_page", "rollup"),
             ("To Task Page", "rt_to_task_page", "rollup"),
             ("From Task", "rt_from_task_name", "rollup"),
             ("To Task", "rt_to_task_name", "rollup"),
             ("Misleading Relation", "misleading_relation", "relation"),
             ("Misleading Date", "misleading_date", "date")]
ST_SCHEMA = [("Name", "title_prop", "title"),
             ("Workflow Rel", "wf_rel", "relation"),
             ("Stage N", "stage_number", "number"),
             ("Stage", "stage_label", "rich_text"),
             ("Misleading Rel", "misleading_rel", "relation"),
             ("Misleading Number", "misleading_number", "number")]
WF_SCHEMA = [("Name", "title_prop", "title")]


def _database(db_id, props):
    return {"object": "database", "id": db_id,
            "last_edited_time": "2026-01-01T00:00:00.000Z",
            "url": f"https://notion.so/{db_id}", "title": _rich(db_id),
            "properties": _schema(props)}


def _page(pid, created, edited, props):
    return {"object": "page", "id": pid, "created_time": created,
            "last_edited_time": edited,
            "url": f"https://notion.so/{pid.replace('-', '')}",
            "properties": props}


def _write_database(path, db, pages):
    """Database line, then query responses of PAGE_SIZE pages each."""
    n_resp = max(1, -(-len(pages) // PAGE_SIZE))
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(_dumps(db) + "\n")
        for i in range(n_resp):
            chunk = pages[i * PAGE_SIZE:(i + 1) * PAGE_SIZE]
            nxt = f"cur-{i + 1}" if i + 1 < n_resp else None
            f.write(_dumps({"object": "list", "results": chunk,
                            "next_cursor": nxt, "has_more": nxt is not None})
                    + "\n")
    return n_resp


def generate(out_dir, seed, n_timeslices, n_workflows=8, stages_per_workflow=6):
    """Write `<out_dir>/recorded/*.jsonl` and `<out_dir>/manifest.json`;
    return the manifest."""
    rng = random.Random(seed)
    rec = os.path.join(out_dir, "recorded")
    os.makedirs(rec, exist_ok=True)

    wf_ids = [_uuid(rng) for _ in range(n_workflows)]
    wf_pages = [_page(w, "2026-01-01T00:00:00.000Z", "2026-01-02T00:00:00.000Z",
                      {"Name": _title("x", f"Workflow {i + 1}")})
                for i, w in enumerate(wf_ids)]

    stages = []  # (stage page id, workflow id, stage number)
    st_pages = []
    n_stages = n_workflows * stages_per_workflow
    dirty_stages = dict(zip(rng.sample(range(n_stages), STAGE_DIRTY),
                            ("no_number", "no_label") * STAGE_DIRTY))
    for w in wf_ids:
        for n in range(1, stages_per_workflow + 1):
            sid = _uuid(rng)
            dirty = dirty_stages.get(len(stages))
            stages.append((sid, w, n))
            props = {"Name": _title("x", f"Stage {n}"),
                     "Workflow Rel": _relation("x", [w]),
                     "Misleading Rel": _relation("x", [_uuid(rng)]),
                     "Misleading Number": _number("x", 999)}
            if dirty != "no_number":
                props["Stage N"] = _number("x", n)
            if dirty != "no_label":
                props["Stage"] = _text("x", f"Step {n}")
            st_pages.append(_page(sid, "2026-01-01T00:00:00.000Z",
                                  "2026-01-02T00:00:00.000Z", props))
    by_wf = {}
    for sid, w, n in stages:
        by_wf.setdefault(w, []).append(sid)

    kinds = [k for k, rate in DIRTY_RATE.items()
             for _ in range(max(1, round(rate * n_timeslices)))]
    kinds += ["clean"] * (n_timeslices - len(kinds))
    rng.shuffle(kinds)
    rule_counts = dict.fromkeys(RULES, 0)
    rule_counts["STAGE_MISSING_LABEL_OR_NUMBER"] = STAGE_DIRTY
    clean = 0
    ts_pages = []
    window = WINDOW_DAYS * 86400
    for i, kind in enumerate(kinds):
        pid = _uuid(rng)
        w = wf_ids[rng.randrange(n_workflows)]
        k = rng.randrange(stages_per_workflow - 1)
        frm, to = by_wf[w][k], by_wf[w][k + 1]
        start = WINDOW_START_S + rng.randrange(window - 8 * 3600)
        end = start + 60 * rng.randrange(5, 360)
        has_wf, has_start, has_end = True, True, True
        if kind == "no_workflow":
            has_wf = False
        elif kind == "from_no_start":
            has_start = False
        elif kind == "to_no_end":
            has_end = False
        elif kind == "no_steps":
            frm = to = None
        elif kind == "no_timestamps":
            has_start = has_end = False
        elif kind == "negative":
            start, end = end, start
        elif kind == "entry_edge":
            frm, to = None, by_wf[w][0]
        created = _iso(min(start, end) - 60 * rng.randrange(1, 60))
        edited = _iso(max(start, end) + 60 * rng.randrange(1, 60))
        props = {
            "Name": _title("x", f"Slice {i}"),
            "Workflow": _rollup_relation("x", [w] if has_wf else []),
            "Workflow Record": _relation("x", [_uuid(rng)]),
            "Instance": _rollup_text("x", f"Instance {i % 997}"),
            "From Step": _rollup_relation("x", [frm] if frm else []),
            "To Step": _rollup_relation("x", [to] if to else []),
            "From Task Page": _rollup_text("x", f"task-{i}-a"),
            "To Task Page": _rollup_text("x", f"task-{i}-b"),
            "From Task": _rollup_text("x", f"Task {i % 31}"),
            "To Task": _rollup_text("x", f"Task {(i + 1) % 31}"),
            "Misleading Relation": _relation("x", [_uuid(rng)]),
            "Misleading Date": _date("x", _iso(WINDOW_START_S)),
        }
        # both started-at payload shapes the extractor accepts
        if has_start:
            props["Start"] = (_rollup_date("x", _iso(start)) if i % 5 == 0
                              else _date("x", _iso(start)))
        if has_end:
            props["End"] = _date("x", _iso(end))
        ts_pages.append(_page(pid, created, edited, props))
        # the rules, evaluated on the canonical fields they read
        s_ok, e_ok = has_start, has_end
        rule_counts["MISSING_WORKFLOW_DEFINITION"] += not has_wf
        rule_counts["FROM_STEP_WITHOUT_STARTED_AT"] += frm is not None and not s_ok
        rule_counts["TO_STEP_WITHOUT_ENDED_AT"] += to is not None and not e_ok
        rule_counts["WORKFLOW_WITH_NO_STEPS"] += has_wf and frm is None and to is None
        rule_counts["STEPS_WITHOUT_ANY_TIMESTAMP"] += (
            (frm is not None or to is not None) and not s_ok and not e_ok)
        rule_counts["NEGATIVE_DURATION"] += s_ok and e_ok and end < start
        clean += has_wf

    responses = {}
    for ds, props, pages in (("workflowDefinitions", WF_SCHEMA, wf_pages),
                             ("workflowStages", ST_SCHEMA, st_pages),
                             ("timeslices", TS_SCHEMA, ts_pages)):
        db = DATABASES[ds]
        responses[ds] = _write_database(os.path.join(rec, db + ".jsonl"),
                                        _database(db, props), pages)
    raw_bytes = sum(os.path.getsize(os.path.join(rec, db + ".jsonl"))
                    for db in DATABASES.values())
    manifest = {
        "seed": seed,
        "databases": DATABASES,
        "pages": {"workflowDefinitions": len(wf_pages),
                  "workflowStages": len(st_pages),
                  "timeslices": len(ts_pages)},
        "query_responses": responses,
        "raw_bytes": raw_bytes,
        "canon": {"workflowDefinitions": len(wf_pages),
                  "workflowStages": len(st_pages),
                  "timeslices": clean,
                  "qualityIssues": sum(rule_counts.values())},
        "issues_by_rule": rule_counts,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        f.write(_dumps(manifest) + "\n")
    return manifest
