"""Workload base: one timed sample = cold reset, then build -> (plan) ->
action, each wrapped in a span when tracing is on."""

from __future__ import annotations

import time
import traceback
from contextlib import contextmanager

import numpy as np

import sparkenv


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = ctx.root
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.rng = np.random.default_rng(ctx.seed)
        self.setup_errors: list[str] = []
        self.phases: dict[str, float] = {}

    # -- hooks -----------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def sample(self, i: int) -> dict:
        raise NotImplementedError

    def finished(self, elapsed: float, n: int) -> bool:
        """Stop once ``elapsed`` >= --seconds, at a whole cycle of the mix."""
        raise NotImplementedError

    def units(self, rec: dict) -> float:
        return 1.0

    def report(self, samples: list[dict]) -> dict:
        return {}

    def trace_extra(self) -> dict:
        return {}

    # -- shared ----------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase (reported next to setup_s)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def fresh_session(self, request: int | None = None):
        with self.tracer.span("session", request=request):
            return sparkenv.cold_session(self.root)

    def run_request(self, i: int, kind: str, build, action, check) -> dict:
        """One sample from cold state: reset, then build(session) ->
        action(df) timed, then check(result). The reset is not part of
        the sample's latency; an exception is a failed sample."""
        ctx, tr = self.ctx, self.tracer
        rec = {"i": i, "kind": kind}
        s = self.fresh_session(i)
        sc = self.root.sparkContext
        t0 = time.perf_counter()
        try:
            with tr.span("request", request=i, kind=kind):
                with tr.span("build") as b:
                    if tr.enabled:
                        with tr.bookkeeping():
                            calls0 = ctx.py4j.calls
                            sc.setJobGroup(f"build-{i}", kind)
                    df = build(s)
                    if tr.enabled:
                        with tr.bookkeeping():
                            b["attrs"]["py4j_calls"] = ctx.py4j.calls - calls0
                            ctx.status.drain()
                            b["attrs"]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"build-{i}"))
                            sc.setJobGroup(f"exec-{i}", kind)
                if tr.enabled:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    out = action(df)
            rec["wall_s"] = time.perf_counter() - t0
            rec["ok"] = bool(check(out))
        except Exception as e:  # noqa: BLE001 — a failing request is a counted failure
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc()
        finally:
            if tr.enabled:
                sc.setJobGroup("idle", "idle")
        # what this sample left behind, read before the next reset
        rec["cache_left"] = sparkenv.cache_entries(self.root)
        return rec

