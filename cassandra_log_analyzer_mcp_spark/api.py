"""Report/tool surface — parity with the reference MCP server's tools.

The reference renders analysis as markdown text for an LLM client
(ref handle_call_tool :582-857). This module is that surface on top of
the Spark engine: each function mirrors one tool's report shape. Only
final small aggregates are collected to the driver — every scan stays
distributed.

``LogStore`` replaces the reference's in-memory ``logs_storage`` dict:
nodes register log *paths* (local/HDFS/S3 globs or pasted content
landed to disk), and analysis reads them through the distributed
sources. That is the design change that takes the tool surface from
one-machine-RAM to 100 TB.

Content-version contract: a store resolves its data once per *content
version*, the (path, length, mtime) of every file its globs match.
Within one version every tool call reads the same cached flagged frame;
any paste, append, new or removed file is a new version, and the next
call reads it.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.parsing import parse_lines, with_issue_flags
from .operators import analysis
from .sources.logfiles import NODE_REGEX, check_node_name, read_log_dir


class LogStore:
    """Registered log locations, one or more per node.

    The store's content version is the sorted (uri, length, mtime) of
    every file its globs match, listed with one Hadoop ``globStatus``
    per glob (the listing ``spark.read.text`` does, so every scheme
    ``read_log_dir`` accepts works). ``flagged()`` returns the same
    cached DataFrame while the version is unchanged, re-caches it if
    its cache entry was dropped (``clear_caches``), and on a new version
    unpersists the old frame before building the new one, so a store
    holds at most one cache entry and never serves pre-append content.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._globs: list[str] = []
        self._paste_dir: str | None = None
        self._version: tuple | None = None
        self._flagged: DataFrame | None = None

    def add_glob(self, path_glob: str) -> None:
        """Register a directory glob whose paths encode the node name
        (…/<node>/<file>.log)."""
        self._globs.append(path_glob)

    def add_pasted(self, node_name: str, content: str) -> None:
        """Parity with the reference's manual load_logs tool (ref
        :724-736): land pasted content to a local staging dir."""
        check_node_name(node_name)
        if self._paste_dir is None:
            self._paste_dir = tempfile.mkdtemp(prefix="logstore_")
            self._globs.append(f"{self._paste_dir}/*/*.log")
        d = os.path.join(self._paste_dir, node_name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "pasted.log"), "a") as fh:
            fh.write(content if content.endswith("\n") else content + "\n")

    def _files(self) -> tuple[tuple[str, int, int], ...]:
        """The content version: (uri, length, mtime ms) of every file the
        globs match, sorted. A matched directory contributes its
        non-hidden files, as Spark's listing of it does."""
        if not self._globs:
            raise ValueError("no logs loaded — register a glob or paste content")
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        out = []
        for g in self._globs:
            path = jvm.org.apache.hadoop.fs.Path(g)
            fs = path.getFileSystem(conf)
            for st in fs.globStatus(path) or []:
                if not st.isDirectory():
                    out.append(_file_version(st))
                    continue
                root = st.getPath().toUri().toString()
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    f = _file_version(it.next())
                    if not re.search(r"/[._]", f[0][len(root):]):
                        out.append(f)
        return tuple(sorted(out))

    def lines(self) -> DataFrame:
        if not self._globs:
            raise ValueError("no logs loaded — register a glob or paste content")
        dfs = [read_log_dir(self.spark, g) for g in self._globs]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def flagged(self) -> DataFrame:
        """Parsed, issue-flagged lines of the current content version,
        cached (see the class docstring for the contract)."""
        version = self._files()
        if version != self._version:
            if self._flagged is not None:
                self._flagged.unpersist()
            self._flagged = with_issue_flags(parse_lines(self.lines()))
            self._version = version
        if not self._flagged._jdf.storageLevel().isValid():
            self._flagged.cache()
        return self._flagged

    def nodes(self) -> list[str]:
        """Sorted names of the nodes with at least one line, read off the
        file listing (no Spark job), with ``read_log_dir``'s node regex."""
        rx = re.compile(NODE_REGEX)
        return sorted({
            m.group(1) if (m := rx.search(uri)) else ""
            for uri, length, _ in self._files() if length
        })


def _file_version(st) -> tuple[str, int, int]:
    return (st.getPath().toUri().toString(), st.getLen(),
            st.getModificationTime())


def analyze_cluster_report(flagged: DataFrame) -> str:
    """Markdown parity with the reference's analyze_cluster (ref :738-771)."""
    summary = analysis.node_summary(flagged).orderBy("node").collect()
    issues = analysis.issue_counts(flagged).orderBy(F.desc("n"), "issue").collect()
    recs = analysis.recommendations(flagged).collect()

    out = ["# Cassandra Cluster Analysis", "", "## Summary by Node"]
    for r in summary:
        out += [
            f"\n### {r.node}",
            f"- Errors: {r.errors}",
            f"- Warnings: {r.warnings}",
            f"- Total lines: {r.total_lines}",
        ]
    out += ["", "## Detected Issues"]
    for r in issues:
        out.append(f"- {r.issue}: {r.n} occurrences")
    if recs:
        out += ["", "## Recommendations"]
        for r in recs:
            out += [f"\n**{r.issue}** ({r.severity})", f"→ {r.recommendation}"]
    return "\n".join(out)


def search_report(flagged: DataFrame, pattern: str, case_sensitive: bool = False,
                  node_filter: str | None = None, limit: int = 100) -> str:
    """Markdown parity with search_logs (ref :773-799).

    Hits are numbered by ``line_id``, the raw per-node line number
    ``read_log_dir`` pins, as the reference's enumerate() over the file
    does: junk and stack-trace lines before a hit count. The pattern is
    compiled first with ``java.util.regex`` (the engine ``rlike`` runs),
    so an invalid one raises ``ValueError`` before any job starts.
    """
    pat = pattern if case_sensitive else f"(?i){pattern}"
    try:
        flagged.sparkSession._jvm.java.util.regex.Pattern.compile(pat)
    except IllegalArgumentException as e:
        raise ValueError(f"invalid search pattern {pattern!r}: {e}") from None
    df = flagged
    if node_filter:
        df = df.filter(F.col("node") == node_filter)
    hits = df.filter(F.col("raw").rlike(pat)).select("node", "line_id", "raw")
    total = hits.count()
    shown = hits.orderBy("node", "line_id").limit(limit).collect()
    out = [f"# Search results: '{pattern}'", "", f"Total: {total}", ""]
    for r in shown:
        out += [f"**{r.node}** (line {r.line_id})", "```", r.raw, "```", ""]
    if total > limit:
        out.append(f"... and {total - limit} more results")
    return "\n".join(out)


def errors_report(flagged: DataFrame, node_name: str | None = None,
                  limit: int = 50) -> str:
    """Markdown parity with get_errors (ref :801-826): ONE list
    truncated to ``limit`` across nodes (the reference slices the
    concatenated per-node lists, ref :816-819) — served by
    get_errors_global, whose oracle pins exactly these semantics."""
    df = flagged
    if node_name:
        df = df.filter(F.col("node") == node_name)
    errs = analysis.get_errors_global(df, limit=limit).orderBy("rn").collect()
    out = [f"# Errors ({len(errs)})", ""]
    for r in errs:
        out += [f"**{r.node}** [{r.ts_str}]", "```", r.message, "```", ""]
    return "\n".join(out)


def compare_report(flagged: DataFrame, nodes: list[str] | None = None) -> str:
    """Markdown parity with compare_nodes (ref :828-842)."""
    rows = analysis.compare_nodes(flagged).orderBy("rank").collect()
    if nodes:
        rows = [r for r in rows if r.node in nodes]
    out = [
        "# Node Comparison",
        "",
        "| Node | Errors | Warnings | Lines | Error rate |",
        "|------|--------|----------|-------|------------|",
    ]
    for r in rows:
        out.append(
            f"| {r.node} | {r.errors} | {r.warnings} | {r.lines} | {r.error_rate} |"
        )
    return "\n".join(out)


def issues_report(flagged: DataFrame, severity: str = "all") -> str:
    """Markdown parity with detect_issues (ref :844-857)."""
    recs = analysis.recommendations(flagged).collect()
    out = ["# Detected Issues", ""]
    for r in recs:
        if severity == "all" or r.severity.lower() == severity.lower():
            out += [f"**{r.issue}** ({r.severity})", f"→ {r.recommendation}", ""]
    return "\n".join(out)


def health_report(flagged: DataFrame) -> str:
    """Markdown report over node_health_score — the composed
    report-card narrative the reference's analyze_cluster implies
    (who needs attention, ranked, with the penalty breakdown)."""
    rows = analysis.node_health_score(flagged).orderBy("rank").collect()
    out = [
        "# Cluster Health",
        "",
        "| Rank | Node | Grade | Penalty | Errors | Warnings | Bursts | Dropped |",
        "|------|------|-------|---------|--------|----------|--------|---------|",
    ]
    for r in rows:
        out.append(
            f"| {r.rank} | {r.node} | {r.grade} | {r.penalty} |"
            f" {r.errors} | {r.warnings} | {r.n_bursts} | {r.n_dropped} |"
        )
    flagged_rows = [r for r in rows if r.grade != "ok"]
    if flagged_rows:
        out += ["", "Needs attention: " + ", ".join(
            f"{r.node} ({r.grade})" for r in flagged_rows
        )]
    return "\n".join(out)
