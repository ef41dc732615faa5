"""Extra benchmarks for the optimization rounds (guide §1.4 isolation).

NOT the frozen driver bench (bench.py). This harness isolates phases so
optimizations can be attributed:

- ``replay``: the bench replay with per-batch walls (from the lineage
  log) and the end-of-replay compact timed separately.
- ``queries``: each headline query timed with the noop sink, with
  ``.explain("formatted")`` captured to ``plans/r06/<name>_<tag>.txt``.

Usage:
    python bench_extra.py replay [--reps N]
    python bench_extra.py queries [--tag before] [--only name1,name2]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # reuse the frozen harness's config + generator cache


def _spark():
    from etl_pipeline_spark.session import get_spark

    return get_spark(
        app_name="bench-extra",
        master=f"local[{bench.USED_CPUS}]",
        shuffle_partitions=bench.USED_CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        },
    )


def run_replay(reps: int = 2) -> None:
    from etl_pipeline_spark.lake.lineage import LineageLog
    from etl_pipeline_spark.lake.minilake import MiniLakeTable
    from etl_pipeline_spark.pipeline import ApplyConfig
    from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA
    from etl_pipeline_spark.streaming.ingest import replay_files

    sf = bench.sf_from_dir(bench.SF_DIR)
    n_events = max(int(bench.EVENTS_PER_SF * sf), 100_000)
    clog = bench.changelog_dir(n_events)
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    work = tempfile.mkdtemp(prefix="bench_extra_")
    out: dict = {"runs": []}
    try:
        for rep in range(reps):
            table = MiniLakeTable.create(
                spark, os.path.join(work, f"t{rep}"), TRANSCRIPT_SCHEMA,
                key_cols=["conv_id", "turn_idx"], n_buckets=32,
                write_mode="mor",
            )
            spark.sparkContext.setJobDescription(f"replay rep{rep}")
            t0 = time.time()
            replay_files(
                spark, clog, table,
                files_per_batch=bench.FILES_PER_BATCH,
                cfg=ApplyConfig(lineage_level="batch"),
                pipeline_depth=bench.PIPELINE_DEPTH,
            )
            replay_s = time.time() - t0
            spark.sparkContext.setJobDescription(f"compact rep{rep}")
            t1 = time.time()
            table.compact(drop_tombstones=False)
            compact_s = time.time() - t1
            batches = [
                {
                    "batch_id": r["batch_id"],
                    "wall_ms": r.get("wall_ms"),
                    "events": r.get("events_in"),
                }
                for r in LineageLog(table.root).records()
            ]
            out["runs"].append(
                {
                    "replay_s": round(replay_s, 3),
                    "compact_s": round(compact_s, 3),
                    "total_s": round(replay_s + compact_s, 3),
                    "events_per_sec": round(n_events / (replay_s + compact_s), 1),
                    "batches": batches,
                }
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def run_queries(tag: str = "probe", only: list[str] | None = None) -> None:
    from etl_pipeline_spark.queries import QUERIES

    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    plans_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", "r06"
    )
    os.makedirs(plans_dir, exist_ok=True)
    names = only or bench.BENCH_QUERIES
    timings: dict[str, list[float]] = {}
    for name in names:
        q = QUERIES[name]
        df = q(spark, bench.SF_DIR)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"{name} [{tag}]")
            t0 = time.time()
            q(spark, bench.SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            timings.setdefault(name, []).append(round(time.time() - t0, 3))
    print(json.dumps({"tag": tag, "timings": timings,
                      "mins": {k: min(v) for k, v in timings.items()}}))


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "replay":
        run_replay(
            reps=int(args[args.index("--reps") + 1]) if "--reps" in args else 2,
        )
    elif args and args[0] == "queries":
        tag = args[args.index("--tag") + 1] if "--tag" in args else "probe"
        only = (
            args[args.index("--only") + 1].split(",")
            if "--only" in args
            else None
        )
        run_queries(tag=tag, only=only)
    else:
        print("usage: bench_extra.py replay|queries [...]", file=sys.stderr)
        sys.exit(2)
