"""Self-tests of the benchmark: no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from cassandra_log_analyzer_mcp_spark.functions.parsing import (  # noqa: E402
    ALL_PATTERNS,
    ERROR_PATTERNS,
    LOG_LINE_REGEX,
    RECOMMENDATION_RULES,
    WARNING_PATTERNS,
)


def _text(plans) -> str:
    return "".join(p.text for plan in plans for ph in plan.phases
                   for p in ph.pastes)


def test_generator_is_deterministic():
    assert _text(gen.paste_schedule(7, 3)) == _text(gen.paste_schedule(7, 3))
    assert _text(gen.paste_schedule(7, 3)) != _text(gen.paste_schedule(8, 3))
    assert gen.events_rows(7, 500) == gen.events_rows(7, 500)
    assert gen.events_rows(7, 500) != gen.events_rows(8, 500)


def test_events_file_bytes_repeat(tmp_path):
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    gen.write_events(str(a), 3, 300)
    gen.write_events(str(b), 3, 300)
    assert a.read_bytes() == b.read_bytes()


def _parse(raw: str):
    """Pure-Python twin of parse_lines + with_issue_flags: the first
    match of the reference regex anywhere in the line, as Spark's
    regexp_extract finds it; no match means the line is dropped."""
    m = re.search(LOG_LINE_REGEX, raw)
    if not m or not m.group(1):
        return None
    level, ts, _thread, _clazz, _line, message = m.groups()
    issues = frozenset(n for n, p in ALL_PATTERNS.items()
                       if re.search(p, message))
    return level, ts, message, issues


def _all_lines(seed: int, defects: bool = False):
    content: dict[str, list] = {}
    for plan in gen.paste_schedule(seed, 4, defects):
        for ph in plan.phases:
            for p in ph.pastes:
                content.setdefault(p.node, []).extend(p.lines)
    return content


def test_labels_agree_with_reference_parse():
    for seed, defects in ((1, False), (2, True), (3, False)):
        for lines in _all_lines(seed, defects).values():
            for ln in lines:
                got = _parse(ln.raw)
                if ln.kind == "entry":
                    assert got == (ln.level, ln.ts, ln.message, ln.issues), ln
                else:
                    assert got is None, ln


def test_truth_agrees_with_reference_parse():
    for defects in (False, True):
        _truth_agrees(_all_lines(5, defects))


def _truth_agrees(content):
    truth = gen.Truth(content)
    parsed = {n: [(i + 1, _parse(ln.raw)) for i, ln in enumerate(ls)]
              for n, ls in content.items()}
    parsed = {n: [(i, p) for i, p in ps if p] for n, ps in parsed.items()}

    def is_err(p):
        return p[0] == "ERROR" or bool(p[3] & set(ERROR_PATTERNS))

    def is_warn(p):
        return p[0] == "WARN" or bool(p[3] & set(WARNING_PATTERNS))

    assert truth.node_summary() == {
        n: (sum(map(is_err, (p for _, p in ps))),
            sum(map(is_warn, (p for _, p in ps))), len(ps))
        for n, ps in parsed.items()
    }
    counts: dict[str, int] = {}
    for ps in parsed.values():
        for _, p in ps:
            for i in p[3]:
                counts[i] = counts.get(i, 0) + 1
    assert truth.issue_counts() == counts
    assert truth.recommendations() == [
        (i, sev) for i, thr, sev, _ in RECOMMENDATION_RULES
        if counts.get(i, 0) > thr
    ]
    errors = sorted((n, p[1], i, p[2]) for n, ps in parsed.items()
                    for i, p in ps if is_err(p))
    assert truth.first_errors(50) == [(n, t, m) for n, t, _, m in errors[:50]]
    for pattern in gen.SEARCH_PATTERNS:
        rx = re.compile(pattern, re.I)
        # every raw line: junk and stack frames never match
        want = sorted((n, i + 1, ln.raw) for n, ls in content.items()
                      for i, ln in enumerate(ls) if rx.search(ln.raw))
        assert truth.search(pattern) == want
    assert truth.lines_in == sum(map(len, content.values()))
    assert truth.lines_parsed == sum(map(len, parsed.values()))


def test_measured_session_keeps_clear_of_known_defects():
    """Second pastes are new nodes; no junk or continuation line comes
    before an entry of its node."""
    for plan in gen.paste_schedule(4, 6):
        first, second = plan.phases
        assert not ({p.node for p in first.pastes}
                    & {p.node for p in second.pastes})
        for ph in plan.phases:
            for p in ph.pastes:
                kinds = [ln.kind for ln in p.lines]
                last_entry = len(kinds) - kinds[::-1].index("entry")
                assert set(kinds[:last_entry]) == {"entry"}
                assert set(kinds[last_entry:]) <= {"cont", "junk"}
    defect = gen.paste_schedule(4, 1, defects=True)[0].phases
    assert ({p.node for p in defect[1].pastes}
            <= {p.node for p in defect[0].pastes})


def test_generator_coverage():
    lines = [ln for ls in _all_lines(1).values() for ln in ls]
    entries = [ln for ln in lines if ln.kind == "entry"]
    seen = set().union(*(ln.issues for ln in entries))
    assert seen == set(ALL_PATTERNS) == set(gen.ALL_ISSUES)
    assert any(len(ln.issues) > 1 for ln in entries)
    assert any(ln.level == "INFO" and ln.is_error for ln in entries)
    kinds = {k: sum(ln.kind == k for ln in lines) for k in ("cont", "junk")}
    assert kinds["cont"] > 0 and kinds["junk"] > 0
    assert 0.005 < kinds["junk"] / len(lines) < 0.05


def test_rank_tolerance():
    vals = list(range(1000))
    assert checks.rank_ok(vals, 0.5, 500)
    assert not checks.rank_ok(vals, 0.5, 600)


def test_tail_percentile():
    assert run.tail(list(range(10))) is None
    pct, v = run.tail(list(range(100)))
    assert pct == 90.0 and v == 89
    assert sum(1 for x in range(100) if x > v) == 10


def test_printed_metrics_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for key, declared in (("end_to_end", run.E2E),
                          ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert listed == declared, key
    assert {w["name"] for w in bench["workloads"]} == {
        "paste_session", "registry_slate"}
    assert "setup_s" in run.E2E
