"""CDC ingest benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload trickle-exact --seed 1 \
        --seconds 27 --trace 0

Generates the workload's WAL (``gen.py``), replays it through
``CDCPipeline`` one ``run(max_batches=1)`` call at a time (a closed loop
with one client: the next batch starts after the previous one commits),
runs a fixed read phase on the lake, checks every output against
independently computed expectations (``checks.py``) and prints one JSON
line: ``correct``, ``attempted`` and ``failed`` batches, and the metrics
by name with their unit. ``--trace 1`` also wraps the engine's entry
points in spans (``spans.py``), times single layers alone afterwards and
adds the per-layer metrics to the end-to-end ones. Everything the run
writes stays under ``.perfbench_work/`` in the working directory, which
must be the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probe  # noqa: E402
import spans  # noqa: E402
from workloads import (  # noqa: E402
    READ_SCANS,
    WARMUP,
    WORKLOADS,
    timed_batches,
)

#: the isolated MinHashIndex layer: batches of documents, index settings
NEARDUP_BATCHES, NEARDUP_DOCS = 4, 200
MINHASH = {"num_buckets": 16, "num_hashes": 16, "bands": 8,
           "threshold": 0.8}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit: UTC, a temp
    dir inside the work dir, and the repository on PYTHONPATH so the
    JSON rules' Arrow UDF can import the package in worker processes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def spark_session(work: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    java_opts = "-Xms2g -Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    spark = (SparkSession.builder.master("local[%d]" % cores)
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions", java_opts)
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.sql.warehouse.dir",
                    os.path.join(work, "warehouse"))
            .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then shut the JVM down and wait for it to exit
    (left alone it would only exit after this process does)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def build_pipeline(spark, wl, work: str):
    from embulk_filter_column_spark.cdc import CDCPipeline
    from embulk_filter_column_spark.operators.incremental import (
        FingerprintIndex,
    )

    index = None
    if wl.content_dedup:
        index = FingerprintIndex(spark, os.path.join(work, "index"),
                                 num_buckets=16)
    return CDCPipeline(
        spark, os.path.join(work, "wal"), os.path.join(work, "lake"),
        os.path.join(work, "checkpoint"), filter_config=wl.rules,
        dedup_index=index, dedup_text_col="body",
        dlq_path=os.path.join(work, "dlq") if wl.dlq else None,
        **wl.pipeline)


def parquet_bytes(*dirs: str) -> tuple:
    """(bytes, files) of the parquet files under ``dirs``."""
    total = files = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(base, n))
                    files += 1
    return total, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_phase(pipe, snap_lo: int, snap_hi: int) -> None:
    """Fixed read work on the final lake: full scans plus the changelog
    between the first and last timed snapshots."""
    for _ in range(READ_SCANS):
        noop(pipe.table().read())
    noop(pipe.table().changes(snap_lo, snap_hi))


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    try:
        import embulk_filter_column_spark  # noqa: F401
    except ImportError as e:
        print("perfbench: the engine package is not importable from %s: %s"
              % (ROOT, e), file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        "%s-%d-%d" % (wl.name, args.seed, os.getpid()))
    prepare_env(work)
    try:
        return run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def generate(wl, seed: int, batches: int, work: str):
    """Start the generator as a child process; it overlaps the JVM
    start-up and keeps its memory out of the measured processes."""
    return subprocess.Popen([
        sys.executable, os.path.join(HERE, "gen.py"), "--workload", wl.name,
        "--seed", str(seed), "--batches", str(batches), "--out", work])


def isolated_layers(spark, tracer, wl, seed: int, work: str) -> list:
    """Layers timed alone, three samples each, outside every batch:
    the column-rule projection and last-writer-wins over the timed part
    of the WAL into a noop sink, and ``MinHashIndex.dedup_ids`` on seeded
    near-duplicate batches (the first call seeds the index; each later
    one probes it). Returns the failed near-duplicate checks."""
    import pyarrow.parquet as pq

    import checks
    from embulk_filter_column_spark.cdc import WalReader, last_writer_wins
    from embulk_filter_column_spark.operators.incremental import (
        MinHashIndex,
    )
    from embulk_filter_column_spark.plans.compiler import compile_filter

    reader = WalReader(spark, os.path.join(work, "wal"))
    wal = reader.read_chunks(WARMUP, reader.end_offset)
    projected = compile_filter(wl.rules, wal.schema).apply(wal)
    for name, df in (("bench.projection", projected),
                     ("bench.lww", last_writer_wins(wal))):
        for _ in range(3):
            with tracer.span(name):
                noop(df)

    docs = gen.neardup(seed, NEARDUP_BATCHES, NEARDUP_DOCS)
    index = MinHashIndex(spark, os.path.join(work, "minhash"), **MINHASH)
    survivors = []
    for b, t in enumerate(docs):
        path = os.path.join(work, "neardup", "b%d" % b)
        os.makedirs(path)
        pq.write_table(t.select(["url", "text"]),
                       os.path.join(path, "part-0.parquet"))
        with tracer.batch("minhash-%d" % b):
            kept = index.dedup_ids(spark.read.parquet(path), text_col="text",
                                   id_col="url", batch_id="b%d" % b)
        survivors.append({r["url"] for r in kept.collect()})
    return checks.neardup_failures(
        docs, survivors, MINHASH["threshold"],
        MINHASH["num_hashes"] // MINHASH["bands"], MINHASH["bands"])


def layer_metrics(tracer, pipe, work: str, timed: list) -> dict:
    """Per-layer metrics of a traced run; per-batch values are means over
    the ``timed`` batches."""
    t = tracer
    lake_bytes, lake_files = parquet_bytes(os.path.join(work, "lake", "data"))
    head = pipe.table().head()
    probes = ["minhash-%d" % b for b in range(1, NEARDUP_BATCHES)]
    m = {
        "spark.jobs_per_batch": (t.per_batch(timed, None, "jobs"), "count"),
        "spark.stages_per_batch": (t.per_batch(timed, None, "stages"),
                                   "count"),
        "spark.tasks_per_batch": (t.per_batch(timed, None, "tasks"),
                                  "count"),
        "plans.compile_s": (t.total("plans.compile"), "s"),
        "plans.projection_s": (t.median("bench.projection", "s", [None]),
                               "s"),
        "dedup.lww_s": (t.median("bench.lww", "s", [None]), "s"),
        "incremental.minhash_dedup_ids_s": (
            t.median("incremental.minhash_dedup_ids", "s", probes), "s"),
        "incremental.minhash_dedup_ids_jobs": (
            t.median("incremental.minhash_dedup_ids", "jobs", probes),
            "count"),
        "lake.files_scanned": (sum(len(f) for f in head["buckets"].values()),
                               "count"),
        "lake.bytes_written": (lake_bytes, "bytes"),
        "lake.files_written": (lake_files, "count"),
        "lake.read_s": (t.total("bench.read_phase"), "s"),
        "incremental.index_bytes": (
            parquet_bytes(os.path.join(work, "index"))[0], "bytes"),
        "dlq.bytes_written": (parquet_bytes(os.path.join(work, "dlq"))[0],
                              "bytes"),
        "wal.bytes": (parquet_bytes(os.path.join(work, "wal"))[0], "bytes"),
        "pipeline.self_s": (t.per_batch(timed, "pipeline.run", "self_s"),
                            "s"),
        "pipeline.self_jobs": (t.per_batch(timed, "pipeline.run", "jobs"),
                               "count"),
    }
    for name in ("dedup.hot_keys", "incremental.dedup_ids", "lake.merge"):
        m[name + "_jobs"] = (t.per_batch(timed, name, "jobs"), "count")
    for name in ("dedup.hot_keys", "incremental.dedup_ids", "lake.merge",
                 "lake.compact", "wal.read_chunks", "metrics.record",
                 "checkpoint.commit"):
        m[name + "_s"] = (t.per_batch(timed, name, "s"), "s")
    return m


def run(args, wl, work: str) -> int:
    n_timed = timed_batches(args.seconds)
    child = generate(wl, args.seed, WARMUP + n_timed, work)
    try:
        spark = spark_session(work)
    finally:
        if child.wait() != 0:
            raise SystemExit("perfbench: input generation failed")
    rss = probe.PeakRss()
    rss.watch_tree(probe.gateway_pid(spark))
    rss.start()
    try:
        tracer = spans.Tracer(spark)
        if args.trace:
            tracer.install()
        pipe = build_pipeline(spark, wl, work)
        for b in range(1, WARMUP + 1):
            with tracer.batch(b):
                pipe.run(max_batches=1)
        setup_s = time.perf_counter() - T_START

        snap_lo = pipe.table().head()["snapshot_id"]
        timed = list(range(WARMUP + 1, WARMUP + n_timed + 1))
        times, failed = [], 0
        t_loop = time.perf_counter()
        for b in timed:
            t0 = time.perf_counter()
            try:
                with tracer.batch(b):
                    if len(pipe.run(max_batches=1)) != 1:
                        failed += 1
            except Exception as e:  # noqa: BLE001 — counted as failed
                print("perfbench: batch %d failed: %r" % (b, e),
                      file=sys.stderr)
                failed += 1
            times.append(time.perf_counter() - t0)
        loop_s = time.perf_counter() - t_loop
        snap_hi = pipe.table().head()["snapshot_id"]

        with tracer.span("bench.read_phase") as rec:
            read_phase(pipe, snap_lo, snap_hi)
        rss.stop()

        import checks

        batches = gen.read_wal(os.path.join(work, "wal"))
        replayed = WARMUP + n_timed - failed
        failures = checks.run_all(pipe, wl, batches[:replayed])
        out_bytes, _ = parquet_bytes(*[os.path.join(work, d)
                                       for d in ("lake", "index", "dlq")])
        wal_bytes, _ = parquet_bytes(os.path.join(work, "wal"))
        events = sum(t.num_rows for t in batches[WARMUP:replayed])
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_events_per_s": (events / loop_s, "events/s"),
            "batch_s_p50": (statistics.median(times), "s"),
            "read_s": (rec["end"] - rec["start"], "s"),
            "write_amp": (out_bytes / wal_bytes, "bytes/byte"),
            "peak_rss_mb": (rss.peak_mb(), "MB"),
        }
        if args.trace:
            failures += isolated_layers(spark, tracer, wl, args.seed, work)
            tracer.uninstall()
            tracer.count_jobs()
            metrics.update(layer_metrics(tracer, pipe, work, timed))
            tracer.dump(
                os.path.join(os.getcwd(), ".perfbench_out",
                             "trace-%s-%d.json" % (wl.name, args.seed)),
                {"workload": wl.name, "seed": args.seed,
                 "metrics": metrics})
    finally:
        rss.stop()
        stop_spark(spark)
    for f in failures:
        print("perfbench: check failed: %s" % f, file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": n_timed,
        "failed": n_timed if failures else failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
