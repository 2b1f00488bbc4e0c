"""Monitoring web GUI: server-rendered HTML over the same DataFrame
queries the JSON API serves — the browser-facing counterpart of the
reference's React pages and JSPs:

- run list    (python_code/web/src/pages/RunList.jsx:48-59 — table of
               run number / id link / pipeline / status / created)
- run detail  (python_code/web/src/pages/RunDetail.jsx:67-96 — run
               fields + steps table, 2 s poll while Running;
               java_code/.../run-detail.jsp:119-158 with the same
               2 s auto-refresh via a meta tag)
- logs        (python_code/web/src/pages/Logs.jsx — level-filtered,
               newest-first table)

Design: plain stdlib-rendered HTML (no JS framework — the charter
forbids new dependencies, and the reference's JSP variant proves the
server-rendered form is sufficient). Each page is a pure function
list-of-dicts -> html string so tests can assert the rendered rows
against the DataFrame twins byte-for-byte; http_api.py mounts them at
GET /, /ui/runs/{id}, /ui/logs. The 2 s auto-refresh is the JSP's
``<meta http-equiv="refresh">`` (run-detail.jsp renders the same
cadence the React page polls at), emitted only while the run is
Running/Pending so a finished page goes quiet.

Duration display follows RunDetail.jsx:26-29: finished_at -
started_at in whole seconds, "-" when either end is missing.
"""

from __future__ import annotations

import html as _html
import urllib.parse
from datetime import datetime

_STYLE = """
body { font-family: system-ui, sans-serif; margin: 2rem; color: #222; }
h1 { font-size: 1.4rem; }
table { border-collapse: collapse; width: 100%; margin-top: 1rem; }
th, td { border: 1px solid #ccc; padding: .35rem .6rem; text-align: left;
         font-size: .9rem; }
th { background: #f0f0f0; }
.status-Success { color: #0a7a0a; font-weight: 600; }
.status-Failed, .status-Failed-TimeOut-6Hours { color: #b00020; font-weight: 600; }
.status-Running { color: #b8860b; font-weight: 600; }
.status-Pending { color: #666; }
nav a { margin-right: 1rem; }
dl { display: grid; grid-template-columns: max-content 1fr; gap: .2rem 1rem; }
dt { font-weight: 600; }
"""


def _esc(v) -> str:
    if v is None:
        return "-"
    return _html.escape(str(v))


def _status_cell(status) -> str:
    cls = _html.escape(str(status or ""), quote=True).replace(" ", "-")
    return f'<td class="status-{cls}">{_esc(status)}</td>'


def _page(title: str, body: str, refresh_sec: int | None = None) -> str:
    meta = (
        f'<meta http-equiv="refresh" content="{int(refresh_sec)}">'
        if refresh_sec
        else ""
    )
    return (
        "<!doctype html><html><head>"
        '<meta charset="utf-8">'
        f"<title>{_html.escape(title)}</title>{meta}"
        f"<style>{_STYLE}</style></head><body>"
        '<nav><a href="/">Runs</a><a href="/ui/manual-run">Manual Run</a>'
        '<a href="/ui/schedules">Schedules</a><a href="/ui/logs">Logs</a>'
        '<a href="/ui/admin">Admin</a></nav>'
        f"{body}</body></html>"
    )


def _duration_sec(row: dict) -> str:
    """RunDetail.jsx:26-29: whole seconds between started and finished,
    '-' when either side is missing. Endpoint rows carry naive ISO
    strings in the process's local time (http_api renders the Arrow
    twins' UTC values as Spark's collect renders them), so a run that
    spans a DST shift is off by the shift. Raw datetimes, both naive or
    both aware, are also accepted for direct use."""
    s, f = row.get("started_at"), row.get("finished_at")

    def as_dt(v):
        if isinstance(v, datetime):
            return v
        if isinstance(v, str):
            try:
                return datetime.fromisoformat(v)
            except ValueError:
                return None
        return None

    sd, fd = as_dt(s), as_dt(f)
    if sd is None or fd is None:
        return "-"
    return f"{int((fd - sd).total_seconds())}s"


def render_run_list(runs: list[dict]) -> str:
    """RunList.jsx:48-59: newest-first table, run number + id link +
    pipeline + status + created."""
    rows = "".join(
        "<tr>"
        f"<td>{_esc(r.get('run_number'))}</td>"
        f'<td><a href="/ui/runs/{urllib.parse.quote(str(r.get("run_id")), safe="")}">'
        f"{_esc(r.get('run_id'))}</a></td>"
        f"<td>{_esc(r.get('pipeline_name'))}</td>"
        + _status_cell(r.get("status"))
        + f"<td>{_esc(r.get('created_at'))}</td>"
        "</tr>"
        for r in runs
    )
    body = (
        "<h1>Pipeline Runs</h1>"
        "<table><thead><tr><th>#</th><th>Run ID</th><th>Pipeline</th>"
        "<th>Status</th><th>Created</th></tr></thead>"
        f"<tbody>{rows}</tbody></table>"
        f"<p>{len(runs)} runs (top 100, newest first)</p>"
    )
    # list page refreshes at the reference's suggested list cadence
    # (projectplan.md:267-270 recommends 5-10 s for the overview)
    return _page("Pipeline Runs", body, refresh_sec=5)


def render_run_detail(detail: dict) -> str:
    """RunDetail.jsx:67-96 / run-detail.jsp:119-158: run fields +
    per-step table (number, name, status, rows affected, timing,
    error), 2 s auto-refresh while the run is live."""
    fields = [
        ("Run ID", detail.get("run_id")),
        ("Run number", detail.get("run_number")),
        ("Pipeline", detail.get("pipeline_name")),
        ("Status", detail.get("status")),
        ("Started", detail.get("started_at")),
        ("Finished", detail.get("finished_at")),
        ("Duration", _duration_sec(detail)),
    ]
    dl = "".join(f"<dt>{_esc(k)}</dt><dd>{_esc(v)}</dd>" for k, v in fields)
    steps = detail.get("steps") or []
    step_rows = "".join(
        "<tr>"
        f"<td>{_esc(s.get('step_number'))}</td>"
        f"<td>{_esc(s.get('step_name'))}</td>"
        + _status_cell(s.get("status"))
        + f"<td>{_esc(s.get('rows_affected'))}</td>"
        f"<td>{_esc(s.get('started_at'))}</td>"
        f"<td>{_esc(s.get('finished_at'))}</td>"
        f"<td>{_esc(s.get('error_message'))}</td>"
        "</tr>"
        for s in steps
    )
    rid = urllib.parse.quote(str(detail.get("run_id")), safe="")
    body = (
        f"<h1>Run {_esc(detail.get('run_id'))}</h1><dl>{dl}</dl>"
        "<h2>Steps</h2>"
        "<table><thead><tr><th>#</th><th>Step</th><th>Status</th>"
        "<th>Rows</th><th>Started</th><th>Finished</th><th>Error</th>"
        f"</tr></thead><tbody>{step_rows}</tbody></table>"
        f'<p><a href="/ui/logs?runId={rid}">Logs for this run</a></p>'
    )
    live = detail.get("status") in ("Running", "Pending")
    return _page(
        f"Run {detail.get('run_id')}", body, refresh_sec=2 if live else None
    )


def render_logs(logs: list[dict], run_id=None, level=None) -> str:
    """Logs.jsx: newest-first table of (time, run, step, level,
    message) with the active filters echoed."""
    rows = "".join(
        "<tr>"
        f"<td>{_esc(r.get('log_at'))}</td>"
        f'<td><a href="/ui/runs/{urllib.parse.quote(str(r.get("run_id")), safe="")}">'
        f"{_esc(r.get('run_id'))}</a></td>"
        f"<td>{_esc(r.get('step_name'))}</td>"
        f"<td>{_esc(r.get('level'))}</td>"
        f"<td>{_esc(r.get('message'))}</td>"
        "</tr>"
        for r in logs
    )
    filt = []
    if run_id:
        filt.append(f"run={_esc(run_id)}")
    if level:
        filt.append(f"level={_esc(level)}")
    sub = f" ({', '.join(filt)})" if filt else ""
    body = (
        f"<h1>Pipeline Logs{sub}</h1>"
        "<table><thead><tr><th>Time</th><th>Run</th><th>Step</th>"
        "<th>Level</th><th>Message</th></tr></thead>"
        f"<tbody>{rows}</tbody></table>"
        f"<p>{len(logs)} log lines (newest first)</p>"
    )
    return _page("Pipeline Logs", body)


def render_not_found(what: str) -> str:
    return _page("Not found", f"<h1>404</h1><p>{_esc(what)} not found</p>")


def render_manual_run() -> str:
    """manual-run.jsp counterpart: a form POSTing multipart to
    /pipeline/trigger (the same endpoint the JSON API uses). The
    response is the trigger JSON; the page links back to the runs
    table where the new Running row appears."""
    body = (
        "<h1>Trigger pipeline manually</h1>"
        '<form method="post" action="/pipeline/trigger" '
        'enctype="multipart/form-data">'
        "<p><label>CSV or JSON file "
        '<input type="file" name="file" accept=".csv,.json" required>'
        "</label></p>"
        '<p><button type="submit">Run pipeline</button></p>'
        "</form>"
        '<p><a href="/">&larr; Back to runs</a> (the triggered run '
        "appears there as Running)</p>"
    )
    return _page("Manual Run", body)


def render_schedules(schedules: list[dict]) -> str:
    """schedules.jsp counterpart: add form + schedules table with
    enable/disable and delete actions. The JSON API verbs are PUT and
    DELETE (reference parity), which HTML forms cannot send, so the
    action buttons use the same tiny fetch() calls the JSP uses."""
    rows = "".join(
        "<tr>"
        f"<td>{_esc(s.get('name'))}</td>"
        f"<td>{_esc(s.get('schedule_type'))}</td>"
        f"<td>{_esc(s.get('run_at_time'))}</td>"
        f"<td>{_esc(s.get('day_of_week'))}</td>"
        f"<td>{_esc(s.get('day_of_month'))}</td>"
        f"<td>{'yes' if s.get('enabled') else 'no'}</td>"
        f"<td>{_esc(s.get('last_run_at'))}</td>"
        f"<td>{_esc(s.get('next_run_at'))}</td>"
        f"<td>"
        f"<button onclick=\"toggleSchedule('{_esc(s.get('schedule_id'))}',"
        f" {'false' if s.get('enabled') else 'true'})\">"
        f"{'Disable' if s.get('enabled') else 'Enable'}</button> "
        f"<button onclick=\"deleteSchedule('{_esc(s.get('schedule_id'))}')\">"
        "Delete</button>"
        "</td></tr>"
        for s in schedules
    )
    body = (
        "<h1>Schedules</h1>"
        "<h2>Add schedule</h2>"
        '<form method="post" action="/schedules" '
        'enctype="multipart/form-data">'
        '<p><label>Name <input type="text" name="name" required></label> '
        "<label>Type "
        '<select name="scheduleType">'
        '<option value="daily">Daily</option>'
        '<option value="weekly">Weekly</option>'
        '<option value="monthly">Monthly</option>'
        "</select></label> "
        '<label>Run at <input type="time" name="runAtTime" value="09:00">'
        "</label> "
        '<label>Day of week (weekly, 1=Mon..7=Sun) <input type="number"'
        ' name="dayOfWeek" min="1" max="7"></label> '
        '<label>Day of month (monthly) <input type="number"'
        ' name="dayOfMonth" min="1" max="31"></label> '
        '<label>File <input type="file" name="file" accept=".csv,.json"'
        " required></label> "
        '<button type="submit">Add</button></p>'
        "</form>"
        "<table><thead><tr><th>Name</th><th>Type</th><th>Run at</th>"
        "<th>DoW</th><th>DoM</th><th>Enabled</th><th>Last run</th>"
        "<th>Next run</th><th>Actions</th></tr></thead>"
        f"<tbody>{rows}</tbody></table>"
        f"<p>{len(schedules)} schedules</p>"
        "<script>"
        "function toggleSchedule(id, enabled) {"
        "  fetch('/schedules/' + encodeURIComponent(id), {"
        "    method: 'PUT', headers: {'Content-Type': 'application/json'},"
        "    body: JSON.stringify({enabled: enabled})"
        "  }).then(function() { location.reload(); });"
        "}"
        "function deleteSchedule(id) {"
        "  fetch('/schedules/' + encodeURIComponent(id), {method: 'DELETE'})"
        "    .then(function() { location.reload(); });"
        "}"
        "</script>"
    )
    return _page("Schedules", body)


def render_admin() -> str:
    """admin.jsp counterpart: the 6 h running-status check button; the
    result of POST /admin/check-running-status renders in place."""
    body = (
        "<h1>Admin</h1>"
        "<h2>Running status check (6h timeout)</h2>"
        "<p>Mark every run that has been Running for more than 6 hours "
        "as <strong>Failed-TimeOut-6Hours</strong> (also cancels its "
        "Spark job group and closes its stale step rows).</p>"
        '<p><button id="checkBtn">Check running status now</button></p>'
        '<pre id="result"></pre>'
        "<script>"
        "document.getElementById('checkBtn').addEventListener('click',"
        " function() {"
        "  fetch('/admin/check-running-status', {method: 'POST'})"
        "    .then(function(r) { return r.json(); })"
        "    .then(function(b) {"
        "      document.getElementById('result').textContent ="
        "        JSON.stringify(b, null, 2);"
        "    });"
        "});"
        "</script>"
    )
    return _page("Admin", body)
