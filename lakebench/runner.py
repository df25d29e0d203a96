"""One benchmark run: set up, measure a closed loop for a fixed time
and at least ``MIN_OPS`` operations, check outputs, and turn timings
and spans into metrics.

A workload object provides:

- ``generate(ctx)``  write the seeded inputs under ``ctx.inputs`` and
  return their manifest;
- ``prepare(ctx)``   one-off set-up on top of the inputs (e.g. build the
  lake the dashboard reads), part of set-up time;
- ``op(ctx)``        one operation of the closed loop, run by a single
  client that waits for each result;
- ``warmup_ops``     operations run before the measured loop;
- ``check(ctx)``     compare every recorded output with an independent
  answer; returns the indexes of operations whose output was wrong;
- ``detail(ctx, lat)``  workload-specific headline numbers;
- ``layer_metrics(ctx)``  per-layer values only the workload can compute.

The first ``warmup_ops`` operations are a warm-up (the first repetition
of Spark code runs 1.3-4x slower, and JIT compilation keeps shortening
short requests for several more): they are part of set-up time, not of
the measured loop, but their outputs are checked like any other.
Warm-up operations are numbered -1, -2, ...; measured ones 1, 2, ...
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import eventlog, layers, stats
from .session import host_size, jvm_pid, peak_rss_mb, start_session, stop_session
from .trace import Tracer

# measured operations per loop phase, however long they take: the
# reported medians never rest on fewer samples
MIN_OPS = 3


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    trace: bool
    work: str
    inputs: str
    rng: random.Random
    manifest: dict = field(default_factory=dict)
    op_index: int = 0
    state: dict = field(default_factory=dict)


def _attempt(fn, ctx) -> tuple[bool, float]:
    t0 = time.perf_counter()
    try:
        fn(ctx)
    except Exception:  # counted as a failed operation, never swallowed
        print(f"operation {ctx.op_index} failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return False, time.perf_counter() - t0
    return True, time.perf_counter() - t0


def run(workload, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    """Returns ``(result, detail)``: the contract's result object and a
    dict of workload-specific figures for the human-readable line."""
    host = host_size()
    spark, session_s = start_session(work, event_log=trace, host=host)
    try:
        tracer = Tracer(spark, enabled=False)
        ctx = Context(spark=spark, tracer=tracer, seed=seed, trace=trace, work=work,
                      inputs=os.path.join(work, "inputs"),
                      rng=random.Random(seed))
        t0 = time.perf_counter()
        ctx.manifest = workload.generate(ctx)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.prepare(ctx)
        prepare_s = time.perf_counter() - t0

        failed: set[int] = set()
        warm_s = 0.0
        for i in range(workload.warmup_ops):
            ctx.op_index = -(i + 1)
            ok, dt = _attempt(workload.op, ctx)
            warm_s += dt
            if not ok:
                failed.add(ctx.op_index)
        ctx.op_index = 0
        setup_s = session_s + gen_s + prepare_s + warm_s

        # measured closed loop; a traced run measures an untraced phase
        # first, so the tracing overhead can be reported
        lat: dict[bool, list[float]] = {False: [], True: []}
        for traced in (False, True) if trace else (False,):
            tracer.enabled = traced
            deadline = time.perf_counter() + (seconds / 2 if trace else seconds)
            tries = 0
            while tries < MIN_OPS or time.perf_counter() < deadline:
                tries += 1
                ctx.op_index += 1
                tracer.new_request()
                with tracer.span("op"):
                    ok, dt = _attempt(workload.op, ctx)
                if ok:
                    lat[traced].append(dt)
                else:
                    failed.add(ctx.op_index)
        tracer.enabled = False
        attempted = workload.warmup_ops + ctx.op_index
        rss = peak_rss_mb([os.getpid(), jvm_pid(spark)])

        failed |= set(workload.check(ctx))
        measured = lat[True] if trace else lat[False]
        detail = dict(workload.detail(ctx, measured), peak_rss_mb=rss,
                      op_ms=[round(x * 1e3, 1) for x in measured],
                      host=vars(host), setup={
                          "session_s": session_s, "generate_s": gen_s,
                          "prepare_s": prepare_s, "warmup_s": warm_s})
        result = {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
        }
        if not trace:
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_ms": {"value": stats.median(measured) * 1e3, "unit": "ms"},
            }
            return result, detail
        layer_extra = workload.layer_metrics(ctx)
        overhead = (stats.median(lat[True]) / stats.median(lat[False]) - 1.0
                    if lat[True] and lat[False] else 0.0)
    finally:
        stop_session(spark)

    counters = eventlog.read_counters(os.path.join(work, "eventlog"))
    tracer.dump(os.path.join(work, "spans.json"))
    values = layers.compute(tracer, counters)
    values.update(layer_extra)
    values.update({
        "session.start_s": session_s,
        "peak_rss_mb": rss,
        "failed_ops_ratio": len(failed) / attempted,
        "trace.overhead_ratio": overhead,
    })
    result["metrics"] = layers.render(values)
    return result, detail
