"""Traced-run instrumentation, installed from outside the engine.

The tracer wraps the public functions of the engine's modules
(``session.get_spark``, ``registry.all_queries``,
``catalog.load_table``, the ``checkpoints`` release functions), the
DataFrame ``localCheckpoint`` method the operators call, and the py4j
client, and records one span per layer boundary plus the counters the
benchmark reports per layer. Spark-side counters come from the status
store (``sc._jsc.sc().statusStore()``, readable with the UI disabled),
keyed by one job group per query and phase.

:meth:`Tracer.install` must run before ``registry`` imports the
operator modules: they bind ``from ..catalog import load_table`` at
import time, so only a wrapper already in place is seen by them.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

MB = 1024.0 * 1024.0
#: a stage enters the skew figure only when its tasks ran this long in
#: total; below it, millisecond rounding dominates the max/median ratio
SKEW_MIN_STAGE_MS = 100
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


class Tracer:
    """Spans and per-layer counters for one benchmark process.

    While ``enabled`` is false every wrapper calls straight through, so
    one process can alternate traced and untraced passes and report
    the tracing overhead.
    """

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._stack: list[int] = []
        self._count_py4j = False
        self._mapper = None

    # ---------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` from entry to exit, parented to the
        innermost open span."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def maybe_span(self, name: str, **attrs):
        return self.span(name, **attrs) if self.enabled else nullcontext()

    @contextmanager
    def counting_py4j(self):
        """Count py4j call commands issued inside this block."""
        self._count_py4j = True
        try:
            yield
        finally:
            self._count_py4j = False

    # -------------------------------------------------------- install
    def _wrap(self, owner, attr: str, layer: str, result_counter=None):
        """Replace ``owner.attr`` with a wrapper that, when enabled,
        records a span named ``layer`` and adds to ``<layer>_calls`` and
        ``<layer>_s`` (and the call's integer result to
        ``result_counter``)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(layer) as rec:
                out = orig(*args, **kwargs)
            self.counters[f"{layer}_calls"] += 1
            self.counters[f"{layer}_s"] += rec["end"] - rec["start"]
            if result_counter:
                self.counters[result_counter] += int(out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from py4j import protocol
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.classic.dataframe import DataFrame

        from mapreducewordcounting_spark import (
            catalog, checkpoints, registry, session,
        )

        self._wrap(session, "get_spark", "session.get_spark")
        self._wrap(registry, "all_queries", "registry.load")
        self._wrap(catalog, "load_table", "catalog.load_table")
        self._wrap(checkpoints, "release_all_pinned", "checkpoints.release",
                   result_counter="checkpoints.pinned_rdds")
        self._wrap(checkpoints, "release_created_since",
                   "checkpoints.release")
        self._wrap(checkpoints.CheckpointRotator, "release",
                   "checkpoints.release")
        self._wrap(DataFrame, "localCheckpoint", "checkpoints.local")

        send = GatewayClient.send_command
        call = protocol.CALL_COMMAND_NAME

        # Only call commands: object-release ("m") traffic depends on
        # when Python's garbage collector runs, so it is not counted.
        @functools.wraps(send)
        def counted_send(client, command, *args, **kwargs):
            if self._count_py4j and command.startswith(call):
                self.counters["operators.py4j_calls"] += 1
            return send(client, command, *args, **kwargs)

        GatewayClient.send_command = counted_send

    # -------------------------------------------- status store / plan
    def plan_stats(self, df) -> dict:
        """Catalyst planning time and exchange count of ``df``'s
        executed plan (forcing the plan is what is timed)."""
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0
        text = plan.toString()
        return {"plan.s": plan_s,
                "plan.exchanges": sum(
                    1 for line in text.splitlines()
                    if _EXCHANGE.search(line)
                    and "ReusedExchange" not in line)}

    def _json(self, sc, obj) -> dict:
        if self._mapper is None:
            jvm = sc._jvm
            scala = jvm.com.fasterxml.jackson.module.scala
            module = getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(module)
        return json.loads(self._mapper.writeValueAsString(obj))

    def group_stats(self, sc, group: str, prefix: str) -> dict:
        """Status-store totals for every job of job group ``group``,
        keyed ``<prefix><metric>`` (``exec.tasks``,
        ``operators.build_tasks``)."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in jobs:
            stage_ids.update(self._json(sc, store.job(jid))["stageIds"])
        tot = Counter()
        skew = 1.0
        quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in stage_ids:
            st = self._json(sc, store.lastStageAttempt(sid))
            if st["status"] == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st["numTasks"]
            tot["task_run_s"] += st["executorRunTime"] / 1e3
            tot["task_cpu_s"] += st["executorCpuTime"] / 1e9
            tot["gc_s"] += st["jvmGcTime"] / 1e3
            tot["input_mb"] += st["inputBytes"] / MB
            tot["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            tot["spill_mb"] += (st["memoryBytesSpilled"]
                                + st["diskBytesSpilled"]) / MB
            if st["numTasks"] > 1 and \
                    st["executorRunTime"] >= SKEW_MIN_STAGE_MS:
                summary = store.taskSummary(sid, st["attemptId"], quantiles)
                if summary.isDefined():
                    med, top = self._json(sc, summary.get())[
                        "executorRunTime"]
                    skew = max(skew, top / max(med, 1.0))
        out = {f"{prefix}{k}": v for k, v in tot.items()}
        out[f"{prefix}jobs"] = len(jobs)
        out[f"{prefix}stages"] = tot["stages"]
        out[f"{prefix}task_wait_s"] = max(
            tot["task_run_s"] - tot["task_cpu_s"], 0.0)
        out[f"{prefix}task_skew"] = skew
        return out
