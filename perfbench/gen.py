"""Seeded inputs and their ground truth.

Everything here is pure Python: the same seed gives the same bytes,
and the truth is computed from the labels the generator attaches to
each line while it writes it, never by parsing the text back. The
self-tests (``perfbench/tests``) cross-check those labels against a
pure-Python parse with the package's reference regexes.

Two kinds of input:

- pasted log chunks for the interactive MCP session
  (``paste_schedule``), with per-version truth (``Truth``);
- an ``events`` table for the registry slate (``write_events``), the
  table every log query of the registry synthesizes its lines from.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Message catalog. Each entry carries the issue labels its text trips under
# the reference patterns; the self-tests verify every label.
# ---------------------------------------------------------------------------

ERROR_ISSUES = (
    "timeout", "oom", "connection", "compaction", "repair",
    "gc", "tombstone", "dropped", "unavailable", "coordinator",
)
WARNING_ISSUES = ("heap", "slow_query", "batch", "streaming")
ALL_ISSUES = ERROR_ISSUES + WARNING_ISSUES

#: (issue, threshold, severity) of the reference recommendation rules,
#: in rule order (ref _generate_recommendations)
RECOMMENDATION_RULES = (
    ("timeout", 10, "HIGH"),
    ("oom", 0, "CRITICAL"),
    ("tombstone", 5, "MEDIUM"),
    ("gc", 5, "HIGH"),
    ("dropped", 10, "HIGH"),
)

#: (message template, issue labels). ``{n}`` is filled with a number.
ERROR_MESSAGES = [
    ("Operation timed out waiting for {n} replica responses", {"timeout"}),
    ("java.lang.OutOfMemoryError: Java heap space", {"oom"}),
    ("Connection to /10.0.0.{n} refused by peer", {"connection"}),
    ("Compaction of sstable {n} failed with IOException", {"compaction"}),
    ("Repair session {n} failed on range owner", {"repair"}),
    ("UnavailableException: not enough replicas alive for QUORUM",
     {"unavailable"}),
    ("Coordinator timeout during read at consistency QUORUM",
     {"coordinator", "timeout"}),
    ("Unexpected exception during request {n}", set()),
]
WARN_MESSAGES = [
    ("GC pause of {n}ms exceeded threshold", {"gc"}),
    ("Read {n} live rows and 50001 tombstone cells, tombstone warning",
     {"tombstone"}),
    ("Slow query on table ks.events took {n}ms", {"slow_query"}),
    ("Batch for keyspace ks is too large: {n} bytes", {"batch"}),
    ("Heap pressure warning, flushing memtable {n}", {"heap"}),
    ("Streaming session with peer {n} failed during bootstrap",
     {"streaming"}),
    ("GC pause of {n}ms exceeded, heap pressure warning", {"gc", "heap"}),
    ("Dropped {n} MUTATION messages in the last 5000ms", {"dropped"}),
]
INFO_MESSAGES = [
    ("Completed flushing memtable {n} to disk", set()),
    ("Handshaking version with peer {n}", set()),
    ("Enqueuing flush of sstable segment {n}", set()),
    ("Node /10.0.0.{n} state jump to NORMAL", set()),
    # INFO lines that trip ERROR-severity issues (ref :245 counts them
    # as errors)
    ("Dropped {n} HINT messages during drain", {"dropped"}),
    ("Hint delivery to peer {n} timed out, retrying", {"timeout"}),
]
#: lines that the reference parser drops (ref parse_log_line → None)
JUNK_LINES = [
    "----- log rotated -----",
    "Picked up JAVA_TOOL_OPTIONS for node",
    "<<< truncated output >>>",
]
THREADS = ["ReadStage-1", "MutationStage-2", "CompactionExecutor-3",
           "GossipStage-1", "Native-Transport-Requests-4"]
CLASSES = ["StorageProxy.java", "CompactionManager.java", "GCInspector.java",
           "MessagingService.java", "ColumnFamilyStore.java"]

#: shares of the generated lines, in draw order
LEVEL_WEIGHTS = (("ERROR", 0.18), ("WARN", 0.22), ("INFO", 0.60))
STACK_SHARE = 0.25   # ERROR entries followed by a stack trace
STACK_FRAMES = 2     # continuation lines per stack trace
JUNK_SHARE = 0.02    # junk lines between entries

#: search patterns the client draws from; none can match a junk or
#: continuation line, so the hits are exactly the matching entries
SEARCH_PATTERNS = ["tombstone", "timed out", "Dropped \\d+", "refused",
                   "slow query"]

DROPPED_RE = re.compile(r"Dropped (\d+) (\w+) messages")
SESSION_GAP_S = 300
HEALTH_WEIGHTS = (5, 1, 50, 2)  # errors, warnings, bursts, dropped


@dataclass(frozen=True)
class Line:
    """One generated raw line and its labels."""

    raw: str
    kind: str                       # "entry" | "cont" | "junk"
    level: str = ""
    ts: str = ""                    # "YYYY-MM-DD HH:MM:SS,mmm"
    message: str = ""
    issues: frozenset = frozenset()

    @property
    def is_error(self) -> bool:
        return self.level == "ERROR" or bool(self.issues & set(ERROR_ISSUES))

    @property
    def is_warning(self) -> bool:
        return self.level == "WARN" or bool(self.issues & set(WARNING_ISSUES))


class NodeWriter:
    """Generates the lines of one node, timestamps strictly rising."""

    def __init__(self, rng: random.Random, start: dt.datetime):
        self.rng = rng
        self.t = start

    def lines(self, n_entries: int) -> list[Line]:
        rng = self.rng
        out: list[Line] = []
        for _ in range(n_entries):
            if rng.random() < JUNK_SHARE:
                out.append(Line(rng.choice(JUNK_LINES), "junk"))
            # mostly seconds apart, sometimes a quiet gap that closes
            # an error burst (SESSION_GAP_S)
            gap_ms = rng.randint(1, 4000)
            if rng.random() < 0.03:
                gap_ms += rng.randint(SESSION_GAP_S, 3 * SESSION_GAP_S) * 1000
            self.t += dt.timedelta(milliseconds=gap_ms)
            r = rng.random()
            level = "INFO"
            acc = 0.0
            for lv, w in LEVEL_WEIGHTS:
                acc += w
                if r < acc:
                    level = lv
                    break
            catalog = {"ERROR": ERROR_MESSAGES, "WARN": WARN_MESSAGES,
                       "INFO": INFO_MESSAGES}[level]
            tmpl, issues = catalog[rng.randrange(len(catalog))]
            msg = tmpl.format(n=rng.randint(2, 999))
            ts = self.t.strftime("%Y-%m-%d %H:%M:%S,") + (
                f"{self.t.microsecond // 1000:03d}"
            )
            clazz = rng.choice(CLASSES)
            raw = (f"{level} [{ts}] [{rng.choice(THREADS)}] "
                   f"{clazz}:{rng.randint(10, 999)} - {msg}")
            out.append(Line(raw, "entry", level, ts, msg, frozenset(issues)))
            if level == "ERROR" and rng.random() < STACK_SHARE:
                for k in range(STACK_FRAMES):
                    out.append(Line(
                        f"\tat org.apache.cassandra.{clazz[:-5]}.run"
                        f"({clazz}:{100 + k})", "cont"))
        return out


# ---------------------------------------------------------------------------
# Paste session: a schedule of pastes per pass.
# ---------------------------------------------------------------------------

@dataclass
class Paste:
    node: str
    lines: list[Line]

    @property
    def text(self) -> str:
        return "\n".join(ln.raw for ln in self.lines) + "\n"


@dataclass
class Phase:
    """Pastes (all new nodes, or all appends), then reads."""

    pastes: list[Paste]
    search: str
    severity: str


@dataclass
class PassPlan:
    phases: list[Phase] = field(default_factory=list)


#: nodes pasted before the first reads, nodes pasted (or appended to)
#: between the first and the second reads, entries per paste
N_FIRST = 2
N_SECOND = 1
ENTRIES = 550


def noise_last(lines: list[Line]) -> list[Line]:
    """The same lines, the junk and continuation lines moved after the
    last entry."""
    return ([ln for ln in lines if ln.kind == "entry"]
            + [ln for ln in lines if ln.kind != "entry"])


def paste_schedule(seed: int, n_passes: int,
                   defects: bool = False) -> list[PassPlan]:
    """Per pass: paste N_FIRST new nodes and read, then paste N_SECOND
    more and read again. Every pass has fresh content (its own store),
    drawn from ``seed``.

    The measured session (``defects=False``) keeps clear of two known
    defects of the interactive path, so that every operation has one
    right answer: its second pastes are new nodes, and each paste puts
    its junk and continuation lines after its last entry.
    ``defects=True`` gives the schedule that shows them: the second
    pastes append to nodes already read (``LogStore.flagged()`` serves
    the cached pre-append content), and junk and continuation lines sit
    between the entries (``search_report`` numbers hits among parsed
    lines only, not among raw lines)."""
    plans = []
    for p in range(n_passes):
        rng = random.Random(f"paste:{seed}:{p}")
        start = dt.datetime(2024, 3, 1) + dt.timedelta(
            seconds=rng.randint(0, 86400 * 20))
        names = [f"cass-{p}-{rng.randrange(10**6):06d}-{i}"
                 for i in range(N_FIRST + N_SECOND)]
        writers = {n: NodeWriter(rng, start + dt.timedelta(
            seconds=rng.randint(0, 600))) for n in names}
        first, more = names[:N_FIRST], names[N_FIRST:]
        if defects:
            more = rng.sample(first, N_SECOND)
        arrange = (lambda ls: ls) if defects else noise_last
        phases = []
        for nodes, severities in ((first, ["all", "high", "critical"]),
                                  (more, ["all", "high", "medium"])):
            phases.append(Phase(
                [Paste(n, arrange(writers[n].lines(ENTRIES)))
                 for n in nodes],
                rng.choice(SEARCH_PATTERNS),
                rng.choice(severities),
            ))
        plans.append(PassPlan(phases))
    return plans


# ---------------------------------------------------------------------------
# Ground truth of a store's content (node -> lines, in raw line order).
# ---------------------------------------------------------------------------

class Truth:
    """Expected tool outputs for one version of a store's content."""

    def __init__(self, content: dict[str, list[Line]]):
        self.content = {n: list(ls) for n, ls in content.items()}
        self.entries = {
            n: [(i + 1, ln) for i, ln in enumerate(ls) if ln.kind == "entry"]
            for n, ls in self.content.items()
        }

    @property
    def lines_in(self) -> int:
        return sum(len(ls) for ls in self.content.values())

    @property
    def lines_parsed(self) -> int:
        return sum(len(es) for es in self.entries.values())

    def node_summary(self) -> dict[str, tuple[int, int, int]]:
        """node -> (errors, warnings, total parsed lines)"""
        return {
            n: (sum(ln.is_error for _, ln in es),
                sum(ln.is_warning for _, ln in es), len(es))
            for n, es in self.entries.items()
        }

    def issue_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for es in self.entries.values():
            for _, ln in es:
                for i in ln.issues:
                    out[i] = out.get(i, 0) + 1
        return out

    def recommendations(self) -> list[tuple[str, str]]:
        """Fired (issue, severity) in rule order."""
        counts = self.issue_counts()
        return [(i, sev) for i, thr, sev in RECOMMENDATION_RULES
                if counts.get(i, 0) > thr]

    def first_errors(self, limit: int) -> list[tuple[str, str, str]]:
        """First ``limit`` errors as (node, ts, message), ordered by
        (node, ts, line)."""
        rows = sorted(
            (n, ln.ts, i, ln.message)
            for n, es in self.entries.items() for i, ln in es if ln.is_error
        )
        return [(n, ts, m) for n, ts, _, m in rows[:limit]]

    def search(self, pattern: str) -> list[tuple[str, int, str]]:
        """Case-insensitive hits as (node, raw line number, raw), ordered
        by (node, line). Line numbers count every raw line of the node,
        as the reference's enumerate() over the file does."""
        rx = re.compile(pattern, re.IGNORECASE)
        return sorted(
            (n, i, ln.raw)
            for n, es in self.entries.items() for i, ln in es
            if rx.search(ln.raw)
        )

    def bursts(self) -> dict[str, int]:
        """Error sessions per node: a new one starts after a gap of more
        than SESSION_GAP_S whole seconds."""
        out = {}
        for n, es in self.entries.items():
            secs = sorted(
                int(dt.datetime.strptime(ln.ts[:19], "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=dt.timezone.utc).timestamp())
                for _, ln in es if ln.is_error
            )
            out[n] = sum(
                1 for k, s in enumerate(secs)
                if k == 0 or s - secs[k - 1] > SESSION_GAP_S
            )
        return out

    def dropped(self) -> dict[str, int]:
        out = {}
        for n, es in self.entries.items():
            out[n] = sum(
                int(m.group(1)) for _, ln in es
                if (m := DROPPED_RE.search(ln.message))
            )
        return out

    def health(self) -> list[tuple]:
        """(rank, node, grade, penalty, errors, warnings, bursts,
        dropped), ranked by penalty then node."""
        we, ww, wb, wd = HEALTH_WEIGHTS
        summ, bursts, dropped = self.node_summary(), self.bursts(), self.dropped()
        rows = []
        for n, (e, w, _) in summ.items():
            pen = we * e + ww * w + wb * bursts[n] + wd * dropped[n]
            rows.append((n, pen, e, w, bursts[n], dropped[n]))
        top = max((r[1] for r in rows), default=0)
        rows.sort(key=lambda r: (-r[1], r[0]))
        out = []
        for k, (n, pen, e, w, b, d) in enumerate(rows, 1):
            grade = ("attention" if 4 * pen >= 3 * top
                     else "watch" if 2 * pen >= top else "ok")
            out.append((k, n, grade, pen, e, w, b, d))
        return out


# ---------------------------------------------------------------------------
# Registry input: the events table.
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def events_rows(seed: int, n_rows: int, n_users: int = 150) -> dict[str, list]:
    """Columns of a seeded events table shaped like the testdata's:
    uniform event types over one month, per-user props."""
    rng = random.Random(f"events:{seed}")
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ids = list(range(n_rows))
    rng.shuffle(ids)
    ts = sorted(start + dt.timedelta(microseconds=rng.randrange(span_us))
                for _ in range(n_rows))
    return {
        "event_id": ids,
        "ts": ts,
        "user_id": [rng.randrange(n_users) for _ in range(n_rows)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_rows)],
        "value": [round(rng.lognormvariate(3.5, 1.0), 2) + 0.01
                  for _ in range(n_rows)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_rows)],
    }


def write_events(path: str, seed: int, n_rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = events_rows(seed, n_rows)
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    pq.write_table(pa.table(cols, schema=schema), path)

