"""The two workloads: an interactive MCP session over a pasted store,
and a registry slate. Both drive the package from outside through the
public functions of its layers.

A workload is one closed-loop client: it sends its next operation
only after the previous one returned. Each operation is timed, then
(outside the timing) its output is checked; a pass's time is the sum of
its operations' times.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import gen
from checks import RegistryOracle, check_tool

PKG = "cassandra_log_analyzer_mcp_spark"


@dataclass
class Op:
    name: str
    ms: float
    #: None when the output was right, else (kind, reason) with kind in
    #: "error" | "timeout" | "stale" | "wrong"
    fail: tuple[str, str] | None = None


#: an operation slower than this counts as failed (timeout)
OP_TIMEOUT_S = 60.0


def storage(spark) -> tuple[float, int]:
    """(MB, blocks) of cached RDD/DataFrame data held right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() + i.diskSize() for i in infos)
    return mem / 1e6, sum(i.numCachedPartitions() for i in infos)


class Workload:
    """Shared client loop: ``run_op`` times one call, then checks."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.ops: list[Op] = []
        self.pass_s: list[float] = []
        self.cached: list[tuple[float, int]] = []
        self.tracer = None
        self.recording = True

    def attach(self, tracer) -> None:
        """Trace the following operations (``None`` stops tracing)."""
        self.tracer = tracer

    def run_op(self, name: str, call, check=None):
        tracer = self.tracer
        sp = tracer.start_op(name) if tracer else None
        t0 = time.perf_counter()
        out = err = None
        try:
            out = call()
        except Exception as e:  # an operation's failure is a measurement
            err = f"{type(e).__name__}: {str(e)[:200]}"
        dur = time.perf_counter() - t0
        if sp is not None:
            tracer.end_op(sp)
            tracer.enabled = False
        if err is not None:
            fail = ("error", err)
        elif dur > OP_TIMEOUT_S:
            fail = ("timeout", f"{dur:.1f} s")
        else:
            fail = check(out) if check else None
        if sp is not None:
            tracer.enabled = True
        if self.recording:
            self.ops.append(Op(name, dur * 1e3, fail))
        return out

    #: throwaway passes in set-up: one, which runs cold. The JVM keeps
    #: compiling through the measured passes too; a second warm-up pass
    #: would settle them further but does not fit the run budget
    WARM_PASSES = 1

    def passes(self, seconds: float) -> int:
        """Passes that fill ``seconds`` at the nominal pass time. The
        count is fixed per run length, not read off the clock: the JVM
        is still warming up during the window, so a run that fits one
        more pass would report a faster median pass."""
        return max(1, round(seconds / self.NOMINAL_PASS_S))

    def run(self, spark, seconds: float, tracer=None) -> list[float]:
        """The passes of a ``seconds`` window. A pass's time is the sum
        of its operations' times, so the output checks between them do
        not count.

        With a tracer, the window is three passes of the same plan:
        untraced, traced, untraced. The traced pass sits between the
        two it is compared with, so a linear JVM warm-up trend cancels.
        The traced pass's time is returned, the untraced ones land in
        ``pass_s``."""
        if tracer is None:
            schedule = [(False, k) for k in range(self.passes(seconds))]
        else:
            schedule = [(False, 0), (True, 0), (False, 0)]
        traced: list[float] = []
        for on, k in schedule:
            if on:
                self.attach(tracer)
                tracer.enabled = True
            n0 = len(self.ops)
            try:
                self.one_pass(spark, k)
            finally:
                if on:
                    tracer.enabled = False
                    self.attach(None)
            took = sum(op.ms for op in self.ops[n0:]) / 1e3
            (traced if on else self.pass_s).append(took)
        return traced


# ---------------------------------------------------------------------------

class PasteSession(Workload):
    """An operator's MCP session: paste two nodes; call
    ``analyze_cluster``, ``search_logs``, ``get_errors`` and the ``nodes``
    resource; paste a third node; call ``compare_nodes``,
    ``detect_issues`` and ``cluster_health``; clear caches.

    The calls follow ``server.call_tool``: ``store.flagged()`` then the
    ``api.*_report`` function. With ``defects=True`` the plans are the
    ones that show the known defects of this path
    (``gen.paste_schedule``); reads after an append that return the
    pre-append content are counted as stale (failed) reads.
    """

    N_PLANS = 6
    NOMINAL_PASS_S = 8.0
    #: tools read after the first pastes, and after the second ones
    READS = [
        ["analyze_cluster", "search_logs", "get_errors", "nodes"],
        ["compare_nodes", "detect_issues", "cluster_health"],
    ]

    def __init__(self, seed: int, work: str, defects: bool = False):
        super().__init__(seed, work)
        self.plans = gen.paste_schedule(seed, self.N_PLANS, defects)
        self.warm_plans = gen.paste_schedule(seed + 10**6, self.WARM_PASSES)
        self.store = None
        self.last_truth = None

    def prepare(self) -> None:
        """Inputs are the pastes themselves; nothing to write."""

    def setup(self, spark) -> None:
        """Warm-up: WARM_PASSES throwaway passes on their own content."""
        self.recording = False
        for plan in self.warm_plans:
            self._pass(spark, plan)
        self.recording = True

    def one_pass(self, spark, k: int) -> None:
        self._pass(spark, self.plans[k % len(self.plans)])

    def _pass(self, spark, plan: gen.PassPlan) -> None:
        import importlib

        api = importlib.import_module(f"{PKG}.api")
        session = importlib.import_module(f"{PKG}.session")

        self.store = store = api.LogStore(spark)
        content: dict[str, list] = {}
        previous = None
        for i, phase in enumerate(plan.phases):
            for paste in phase.pastes:
                self.run_op("load_logs", lambda p=paste: store.add_pasted(
                    p.node, p.text))
                content.setdefault(paste.node, []).extend(paste.lines)
            truth = gen.Truth(content)
            self._reads(store, api, phase, truth, previous,
                        self.READS[i])
            previous = truth
        self.last_truth = previous
        self.cached.append(storage(spark))
        self.run_op("clear_caches", lambda: session.clear_caches(spark))

    def _reads(self, store, api, phase, truth, previous, names) -> None:
        search = {"pattern": phase.search}
        errors = {"limit": 50}
        issues = {"severity": phase.severity}
        tools = [
            ("analyze_cluster", {},
             lambda: api.analyze_cluster_report(store.flagged())),
            ("search_logs", search,
             lambda: api.search_report(store.flagged(), phase.search,
                                       False, None)),
            ("get_errors", errors,
             lambda: api.errors_report(store.flagged(), None, 50)),
            ("compare_nodes", {},
             lambda: api.compare_report(store.flagged(), None)),
            ("detect_issues", issues,
             lambda: api.issues_report(store.flagged(), phase.severity)),
            ("cluster_health", {},
             lambda: api.health_report(store.flagged())),
            ("nodes", {}, store.nodes),
        ]
        for name, args, call in tools:
            if name in names:
                self.run_op(name, call, lambda out, n=name, a=args:
                            check_tool(n, out, a, truth, previous))


# ---------------------------------------------------------------------------

class RegistrySlate(Workload):
    """One pass over a fixed slate of registry queries, in an order
    permuted by the seed, each materialized through the noop sink. The
    slate mixes log queries (parse + classify silver, then an analysis
    operator) with streaming bridges; the silver layer and the landed
    stream are pre-built in set-up, as ``bench.py`` does. The warm-up
    runs on the measured table: the only data it leaves behind is those
    shared layers."""

    SLATE = [
        "issue_counts", "streaming_issue_counts",
        "streaming_percentiles_tdigest",
    ]
    EVENTS = 10_000
    NOMINAL_PASS_S = 7.0

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.sf_dir = os.path.join(self.work, "sf")
        self.order = list(self.SLATE)
        random.Random(f"slate:{seed}").shuffle(self.order)
        self.oracle = None
        self.queries = None

    def prepare(self) -> None:
        """Write the events tables and compute the expected results."""
        from cassandra_log_analyzer_mcp_spark.plans import registry

        os.makedirs(self.sf_dir, exist_ok=True)
        gen.write_events(os.path.join(self.sf_dir, "events.parquet"),
                         self.seed, self.EVENTS)
        self.oracle = RegistryOracle(self.sf_dir, self.SLATE,
                                     registry.oracle_sql())

    def setup(self, spark) -> None:
        """Pre-build the shared layers (the parsed silver cache and the
        landed stream), then WARM_PASSES throwaway passes."""
        from cassandra_log_analyzer_mcp_spark.plans import registry
        from cassandra_log_analyzer_mcp_spark.sources.tables import (
            logs_flagged,
        )
        from cassandra_log_analyzer_mcp_spark.streaming.batch_bridge import (
            _landed_log_dir,
        )

        logs_flagged(spark, self.sf_dir).write.format("noop").mode(
            "overwrite").save()
        _landed_log_dir(spark, self.sf_dir)
        self.queries = registry.queries()
        for _ in range(self.WARM_PASSES):
            for name in self.order:
                self.queries[name](spark, self.sf_dir).write.format(
                    "noop").mode("overwrite").save()

    def attach(self, tracer) -> None:
        """The registry closes over the operator functions when its
        query table is built; rebuild it so the closures hold the
        traced wrappers."""
        from cassandra_log_analyzer_mcp_spark.plans import registry

        super().attach(tracer)
        self.queries = registry.queries()

    def one_pass(self, spark, _k: int) -> None:
        for name in self.order:
            built = {}

            def call(n=name):
                df = self._build(spark, n)
                df.write.format("noop").mode("overwrite").save()
                built["df"] = df

            def check(_out, n=name):
                reason = self.oracle.check(n, built["df"].toPandas())
                return None if reason is None else ("wrong", reason)

            self.run_op(name, call, check)
        self.cached.append(storage(spark))

    def _build(self, spark, name: str):
        fn = self.queries[name]
        if self.tracer is None:
            return fn(spark, self.sf_dir)
        sp = self.tracer.begin(f"plans.registry.{name}", "plans.registry")
        try:
            return fn(spark, self.sf_dir)
        finally:
            self.tracer.finish(sp)


WORKLOADS = {"paste_session": PasteSession, "registry_slate": RegistrySlate}
