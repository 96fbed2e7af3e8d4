"""Output checks: MCP tool reports against the generator's truth, and
registry results against DuckDB.

Each tool check parses the markdown report back into values and
compares them with ``gen.Truth``; it returns ``None`` when the report
is right and a one-line reason otherwise. Parsing (rather than
comparing rendered text) keeps the checks about values, so a change to
a report's layout is not read as a wrong answer.
"""

from __future__ import annotations

import bisect
import importlib.util
import os
import re

from gen import Truth

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_analyze(text: str) -> dict:
    nodes = {
        n: (int(e), int(w), int(t))
        for n, e, w, t in re.findall(
            r"### (\S+)\n- Errors: (\d+)\n- Warnings: (\d+)\n"
            r"- Total lines: (\d+)", text)
    }
    issues = {i: int(n) for i, n in
              re.findall(r"^- (\w+): (\d+) occurrences$", text, re.M)}
    recs = re.findall(r"^\*\*(\w+)\*\* \((\w+)\)$", text, re.M)
    return {"nodes": nodes, "issues": issues, "recs": recs}


def check_analyze(text: str, truth: Truth, _args: dict) -> str | None:
    got = parse_analyze(text)
    if got["nodes"] != truth.node_summary():
        return "node summary differs"
    if got["issues"] != truth.issue_counts():
        return "issue counts differ"
    if got["recs"] != truth.recommendations():
        return "recommendations differ"
    return None


#: search hits right but numbered differently from the raw lines
NUMBERING = "hit line numbers differ"


def check_search(text: str, truth: Truth, args: dict) -> str | None:
    hits = truth.search(args["pattern"])
    m = re.search(r"^Total: (\d+)$", text, re.M)
    if not m or int(m.group(1)) != len(hits):
        return "hit count differs"
    shown = re.findall(r"^\*\*(\S+)\*\* \(line (\d+)\)\n```\n(.*)\n```$",
                       text, re.M)
    got = [(n, int(i), raw) for n, i, raw in shown]
    want = hits[: args.get("limit", 100)]
    if [(n, raw) for n, _, raw in got] != [(n, raw) for n, _, raw in want]:
        return "hit lines differ"
    if got != want:
        return NUMBERING
    return None


def check_errors(text: str, truth: Truth, args: dict) -> str | None:
    got = re.findall(r"^\*\*(\S+)\*\* \[([^\]]+)\]\n```\n(.*)\n```$",
                     text, re.M)
    if got != truth.first_errors(args.get("limit", 50)):
        return "error entries differ"
    return None


def check_compare(text: str, truth: Truth, _args: dict) -> str | None:
    rows = re.findall(
        r"^\| (\S+) \| (\d+) \| (\d+) \| (\d+) \| ([0-9.eE-]+) \|$",
        text, re.M)
    got = {n: (int(e), int(w), int(ln)) for n, e, w, ln, _ in rows}
    if got != truth.node_summary():
        return "node rows differ"
    for _n, e, _w, ln, rate in rows:
        if abs(float(rate) - round(int(e) / int(ln), 4)) > 1e-9:
            return "error rate differs"
    return None


def check_issues(text: str, truth: Truth, args: dict) -> str | None:
    sev = args.get("severity", "all")
    want = [(i, s) for i, s in truth.recommendations()
            if sev == "all" or s.lower() == sev.lower()]
    got = re.findall(r"^\*\*(\w+)\*\* \((\w+)\)$", text, re.M)
    return None if got == want else "recommendations differ"


def check_health(text: str, truth: Truth, _args: dict) -> str | None:
    rows = re.findall(
        r"^\| (\d+) \| (\S+) \| (\w+) \| (\d+) \| (\d+) \| (\d+) \| (\d+)"
        r" \| (\d+) \|$", text, re.M)
    got = [(int(r), n, g, *map(int, rest)) for r, n, g, *rest in rows]
    return None if got == truth.health() else "health rows differ"


def check_nodes(nodes: list, truth: Truth, _args: dict) -> str | None:
    return None if sorted(nodes) == sorted(truth.content) else "node list differs"


TOOL_CHECKS = {
    "analyze_cluster": check_analyze,
    "search_logs": check_search,
    "get_errors": check_errors,
    "compare_nodes": check_compare,
    "detect_issues": check_issues,
    "cluster_health": check_health,
    "nodes": check_nodes,
}


def check_tool(tool: str, output, args: dict, truth: Truth,
               previous: Truth | None) -> tuple[str, str] | None:
    """``None`` when right; else (kind, reason) where kind is "stale"
    when the output is right for the content before the last append
    (a read served from a cache the append did not invalidate) and
    "wrong" otherwise."""
    check = TOOL_CHECKS[tool]
    reason = check(output, truth, args)
    if reason is None:
        return None
    # a stale search result also carries the numbering defect
    if (previous is not None and reason != NUMBERING
            and check(output, previous, args) in (None, NUMBERING)):
        return "stale", reason
    return "wrong", reason


# ---------------------------------------------------------------------------
# Registry results.
# ---------------------------------------------------------------------------

def _load_check_tool():
    """tools/check.py's canonical order-insensitive hash."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_tool", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_hash


class RegistryOracle:
    """Expected registry results for one sf dir, computed once with
    DuckDB from ``registry.oracle_sql()`` (untimed)."""

    def __init__(self, sf_dir: str, names: list[str], oracle_sql: dict):
        import duckdb

        self.hash = _load_check_tool()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
            self.expected = {}
            for n in names:
                if n in oracle_sql:
                    df = con.execute(oracle_sql[n]).fetchdf()
                    self.expected[n] = (
                        len(df), sorted(c.lower() for c in df.columns),
                        self.hash(df))
            self.values = {
                t: [v for (v,) in con.execute(
                    "SELECT value FROM events WHERE event_type = ?",
                    [t]).fetchall()]
                for (t,) in con.execute(
                    "SELECT DISTINCT event_type FROM events").fetchall()
            }
        finally:
            con.close()

    def check(self, name: str, pdf) -> str | None:
        """``pdf``: the query's result as pandas."""
        if name == "streaming_percentiles_tdigest":
            return self._check_tdigest(pdf)
        n_rows, cols, h = self.expected[name]
        if len(pdf) != n_rows:
            return f"rows {len(pdf)} vs {n_rows}"
        if sorted(c.lower() for c in pdf.columns) != cols:
            return "columns differ"
        return None if self.hash(pdf) == h else "value hash differs"

    def _check_tdigest(self, pdf) -> str | None:
        """No oracle: exact counts, and each estimate within the rank
        tolerance of DuckDB's exact values."""
        got = {r.event_type: r for r in pdf.itertuples(index=False)}
        if set(got) != set(self.values):
            return "event types differ"
        for t, vals in self.values.items():
            r = got[t]
            if r.n != len(vals):
                return f"count differs for {t}"
            for q, est in ((0.5, r.p50), (0.95, r.p95), (0.99, r.p99)):
                if not rank_ok(vals, q, est):
                    return f"p{int(q * 100)} of {t} outside rank tolerance"
        return None


def rank_ok(values: list[float], q: float, estimate: float) -> bool:
    """Whether ``estimate`` sits within the rank tolerance of quantile
    ``q`` of ``values``: |rank(estimate)/n - q| <= max(2/n, 0.01)."""
    s = sorted(values)
    n = len(s)
    below = bisect.bisect_right(s, estimate)
    return abs(below / n - q) <= max(2.0 / n, 0.01)
