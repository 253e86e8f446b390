"""CDC ingest benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json for why each
exists):

- ``replay_bulk``     closed loop: snapshot, catch up a 16-chunk log in two
                      micro-batches, one full read of the final table;
- ``stream_steady``   open loop: snapshot, then the log's chunks arrive every
                      2.5 s while the job tails one chunk per batch.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a separate traced run, which
also times half of the curation heads (``perfbench/heads.py``) to a noop
sink. Every final table is checked against the pandas oracle on every
column and every head run against its DuckDB twin; ``attempted``/``failed``
count those checks plus any exception.

Everything is written under ``.bench_work/`` in the working directory; the
run's own directory is emptied first, oracle results are cached beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test; failing here (e.g. a directory holding only the
# benchmark) exits non-zero before any result is printed
import seatunnel_spark.streaming.job  # noqa: E402,F401

from perfbench import cdc, heads, host, trace  # noqa: E402
from perfbench.host import log  # noqa: E402

CACHE = os.path.join(".bench_work", "cache")
RESULTS = os.path.join(".bench_work", "results")
SETUPS = 3
# (n_base, n_events, buckets). Traced on a 4-core host, the two bulk
# batches spend 71-76% of their wall time in lake.merge at 48k, 64k, 100k
# and 200k events; a linear fit puts ~2.2 s of the merge as fixed and
# ~13 us per event, so at 64k about a quarter of it grows with the events.
# Larger logs do not fit the run budget (48 runs within 57 minutes).
BULK = (16_000, 64_000, 16)
# one replay_bulk iteration's measured time on a 4-core host; the run makes
# --seconds / this many iterations, so the count does not depend on speed
BULK_ITERATION_S = 10.0
STREAM = (4_000, 16_000, 4)
# open-loop chunk interval. The steady one-chunk batch measured 0.6-1.0 s
# on a 4-core host and 1.2-1.5 s while the same host ran ~1.5x slower; a
# compaction batch takes 2-5 s. At 2 s the slow periods pushed the log into
# backlog and the freshness median jumped between runs; at 2.5 s a
# compaction's backlog drains within two chunks even then, so the median
# chunk is a steady one and the tail is set by compaction.
STREAM_INTERVAL_S = 2.5
TAIL_Q = 0.9
WORKLOAD_HEADS = {"replay_bulk": heads.BULK_HEADS, "stream_steady": heads.STREAM_HEADS}


def _quantile(values: list[float], q: float) -> float:
    vs = sorted(values)
    pos = q * (len(vs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


class Outcome:
    """Counts checks and failures across a run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {what}: {detail}")
        return ok


def run_workload(args, out: Outcome) -> dict:
    stream = args.workload == "stream_steady"
    n_base, n_events, buckets = STREAM if stream else BULK
    head_names = WORKLOAD_HEADS[args.workload]
    n_cores = host.cores()
    work = host.fresh_dir(os.path.join(".bench_work", args.workload))
    fx_dir = os.path.join(work, "fx")

    # at least SETUPS, and as many more as a short one needs to fill
    # cdc.SAMPLE_FLOOR_S (up to cdc.MAX_SAMPLES)
    setups = []
    while len(setups) < SETUPS or (
            sum(setups) < cdc.SAMPLE_FLOOR_S and len(setups) < cdc.MAX_SAMPLES):
        t0 = time.time()
        paths = cdc.generate(fx_dir, n_base, n_events, args.seed)
        setups.append(time.time() - t0)
    fx = cdc.finish_fixture(paths, n_events, stream)
    expected = cdc.expected_state(fx, os.path.join(
        CACHE, f"oracle-{args.workload}-{args.seed}-{n_base}"
               f"-{n_events}-v{cdc.ORACLE_VERSION}.json"))
    # made by the first run in a checkout, whichever it is, so that no
    # traced run pays DuckDB's ~40 s
    heads_dir, heads_want = heads.inputs(os.path.join(CACHE, f"heads-sf{heads.SF}"))
    log(f"oracles ready; host {host.host_record(n_cores)}; "
        f"set-ups {[round(s, 2) for s in setups]}")

    def once(spark, name: str, tr=None) -> dict:
        it = os.path.join(work, name)
        if stream:
            res = cdc.stream_steady_once(spark, fx, it, buckets, STREAM_INTERVAL_S, tr)
        else:
            res = cdc.replay_bulk_once(spark, fx, it, buckets, tr)
        log(f"{name}: snapshot {res['snapshot_s']:.2f}s catch-up {res['catchup_s']:.2f}s "
            f"scan {res['scan_s']:.2f}s freshness ms "
            f"{[round(f) for f in res['freshness_ms']]}")
        return res

    def verify(spark, name: str, res: dict) -> None:
        got = cdc.actual_state(spark, res["table_root"])
        out.check(f"final state of {name}", got == expected,
                  f"engine {got} vs oracle {expected}")

    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = host.start_session(work, n_cores, event_log)
    try:
        # an untimed replay of the workload's own log first (a 1/16-size log
        # left the bulk's measured replay ~50% slower). The bulk takes it in
        # two micro-batches, as it measures; the stream in eight: warmed by
        # two, its one-chunk batches still sped up through the measured run
        # and freshness_p50 spread 0.23-0.26 (IQR/median, 7-15 runs) against
        # 0.09-0.10 (two sets of 10) with eight
        warm_fpt = 2 if stream else cdc.N_CHUNKS // 2
        cdc.warm_up(spark, fx, os.path.join(work, "warm"), buckets, fpt=warm_fpt)
        if args.trace:
            return _replay_layers(args, spark, once, verify, work, event_log, n_cores,
                                  heads_dir, head_names, heads_want, out)
        results = []
        n_iter = 1 if stream else max(1, round(args.seconds / BULK_ITERATION_S))
        while len(results) < n_iter:
            name = f"it{len(results)}"
            try:
                res = once(spark, name)
                verify(spark, name, res)
            except Exception:
                out.check(name, False, traceback.format_exc())
                break
            results.append(res)
        rss = host.jvm_peak_rss_mb()
    finally:
        spark.stop()
    if not results:
        raise RuntimeError("no iteration completed")
    fresh = [f for r in results for f in r["freshness_ms"]]
    log(f"{len(results)} iteration(s), {len(fresh)} freshness samples")
    return {
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss, "MB"),
        "snapshot_s": (statistics.median(r["snapshot_s"] for r in results), "s"),
        "scan_s": (statistics.median(r["scan_s"] for r in results), "s"),
        "replay_events_per_s": (
            statistics.median(r["events_per_s"] for r in results), "events/s"),
        "freshness_p50_ms": (statistics.median(fresh), "ms"),
        "freshness_tail_ms": (_quantile(fresh, TAIL_Q), "ms"),
    }


def _replay_layers(args, spark, once, verify, work, event_log, n_cores,
                   heads_dir, head_names, heads_want, out) -> dict:
    """Traced run: an iteration traced after the warm-up, as in the timed
    run, then the workload's half of the curation heads. For replay_bulk,
    one untraced local[1] iteration follows for the scaling efficiency."""
    tr = trace.Tracer(spark)
    with trace.instrumented(tr), tr.span("bench"):
        traced = once(spark, "traced", tr)
        walls = heads.run(spark, heads_dir, head_names, heads_want, out.check, tr)
    log(f"heads {[round(w, 2) for w in walls.values()]}")
    verify(spark, "traced", traced)
    meta_dir = os.path.join(traced["table_root"], "metadata")
    meta_bytes = sum(os.path.getsize(os.path.join(meta_dir, f)) for f in os.listdir(meta_dir))
    spark.stop()
    groups = trace.task_metrics(event_log, tr.spans[0])
    metrics = trace.layer_metrics(tr.spans, groups, n_cores, traced["arrivals"], heads.HEADS)
    metrics.update(trace.coverage(tr.spans, groups, 0, traced["arrivals"], tr.overhead_s))
    merges = [sum(1 for m in tr.spans if m["name"] == "lake.merge" and m["parent"] == b["id"])
              for b in tr.spans if b["name"] == "streaming.job"]
    log(f"merges per batch {merges}")
    efficiency = 0.0
    if args.workload == "replay_bulk":
        single = host.start_session(work, 1)
        try:
            one = once(single, "local1")
            verify(single, "local1", one)
        finally:
            single.stop()
        # (throughput at n cores / throughput at 1 core) / n, as BASELINE.md
        efficiency = ((one["snapshot_s"] + one["catchup_s"])
                      / (traced["snapshot_s"] + traced["catchup_s"])) / n_cores
    metrics.update({
        "lake.table.metadata_bytes": (meta_bytes, "B"),
        "lake.table.max_stack_depth": (traced["max_stack_depth"], "count"),
        "sources.generator.late_max_ms": (traced["late_max_ms"], "ms"),
        "scaling_efficiency": (efficiency, "ratio"),
    })
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_HEADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is still stopped below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = Outcome()
    try:
        metrics = run_workload(args, out)
    finally:
        host.stop_processes()
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    # the same result with the host it came from, kept beside the run
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"host": host.host_record(host.cores()), "args": vars(args), **result}, fh)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
