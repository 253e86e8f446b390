"""Round-7 optimization harness — separate from the FROZEN bench.py.

Sub-commands:
  cdc [events] [base] [fpt]   timed CDC replay (per-layer times: perfbench/run.py --trace 1)
  queries [name ...]          noop-sink isolation timings for headline queries
  plans <outdir> [name ...]   dump .explain("formatted") per query
  scaleup [name ...]          timings at the x10 scaled corpus (same synth as bench.py)

All output to stderr except a final JSON line per sub-command on stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.environ.get("BENCH_CACHE", "/root/repo/.cache")

HEADLINE = [
    "k5_lww_dedup", "q1_pricing_summary", "q3_order_revenue",
    "q5_revenue_by_nation", "w_events_hourly", "dedup_exact",
    "dedup_minhash_signatures", "text_token_count", "text_quality_score",
    "ann_cosine_topk", "ann_ivf_topk", "text_pii_redact", "udf_sha256",
    "w_events_sessions", "corpus_clean",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _spark():
    from seatunnel_spark.session import get_spark

    os.makedirs(CACHE, exist_ok=True)
    extra = {}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark-tmp"
    return get_spark("bench_extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS, extra_conf=extra)


def run_cdc(events: int = 4_000_000, base: int = 500_000, fpt: int = 8) -> dict:
    from seatunnel_spark.lake import LakeTable
    from seatunnel_spark.schema import REPO_FIELDS, REPO_KEY, event_schema
    from seatunnel_spark.sources import generator as gen
    from seatunnel_spark.streaming.job import CdcIngestJob

    spark = _spark()
    fx_dir = os.path.join(CACHE, f"cdc_{base}_{events}")
    t0 = time.time()
    paths = gen.write_fixture(fx_dir, base, events, seed=42, n_event_files=16)
    log(f"fixture ready in {time.time()-t0:.1f}s")

    work_base = "/dev/shm/cdc_bench" if os.path.isdir("/dev/shm") else CACHE
    work = os.path.join(work_base, "bench_extra_run")
    shutil.rmtree(work, ignore_errors=True)
    job = CdcIngestJob(
        spark,
        table_root=os.path.join(work, "table"),
        events_dir=paths["events"],
        checkpoint_dir=os.path.join(work, "ckpt"),
        num_buckets=32,
        max_files_per_trigger=fpt,
        total_events=events,
    )
    base_df = spark.read.parquet(paths["base"])
    events_df = spark.read.schema(event_schema()).parquet(paths["events"])

    t0 = time.time()
    job.ensure_snapshot(base_df, events_df, REPO_FIELDS, REPO_KEY, max_fence=events // 20)
    snap_s = time.time() - t0
    t0 = time.time()
    job.run_incremental(available_now=True, timeout_s=3600)
    inc_s = time.time() - t0
    wall = snap_s + inc_s

    table = LakeTable.load(os.path.join(work, "table"))
    n = table.scan(spark).count()
    out = {
        "events": events, "wall_s": round(wall, 2), "snapshot_s": round(snap_s, 2),
        "incremental_s": round(inc_s, 2), "events_per_sec": round(events / wall, 1),
        "final_rows": n,
    }
    log(json.dumps(out))
    return out


def run_queries(names: list[str], runs: int = 3) -> dict:
    from seatunnel_spark.entry_queries import QUERIES

    spark = _spark()
    names = names or HEADLINE
    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        samples.sort()
        out[name] = {"median": samples[len(samples) // 2], "samples": samples}
        log(f"{name}: {out[name]}")
    return out


def dump_plans(outdir: str, names: list[str], suffix: str) -> None:
    from seatunnel_spark.entry_queries import QUERIES

    spark = _spark()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        log(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)")


def run_scaleup(names: list[str], runs: int = 1) -> dict:
    import bench as _b

    spark = _spark()
    scaled = _b.ensure_scaled_tables(spark, SF_DIR, 10)
    from seatunnel_spark.entry_queries import QUERIES

    out = {}
    for name in names or _b.SCALEUP_HEADS:
        fn = QUERIES[name]
        fn(spark, scaled).count()
        samples = []
        for _ in range(runs):
            t0 = time.time()
            fn(spark, scaled).count()
            samples.append(round(time.time() - t0, 3))
        samples.sort()
        out[name] = samples[len(samples) // 2]
        log(f"scaleup {name}: {out[name]}s {samples}")
    return out


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "cdc":
        ev = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
        bs = int(sys.argv[3]) if len(sys.argv) > 3 else 500_000
        fpt = int(sys.argv[4]) if len(sys.argv) > 4 else 8
        print(json.dumps(run_cdc(ev, bs, fpt)))
    elif cmd == "queries":
        print(json.dumps(run_queries(sys.argv[2:])))
    elif cmd == "plans":
        outdir = sys.argv[2]
        names = sys.argv[3:] or HEADLINE
        dump_plans(outdir, names, os.environ.get("PLAN_SUFFIX", "before"))
    elif cmd == "scaleup":
        print(json.dumps(run_scaleup(sys.argv[2:])))
    else:
        raise SystemExit(f"unknown sub-command {cmd}")
