#!/usr/bin/env python3
"""CDC ingest benchmark for datax_spark.

    python3 perfbench/run.py --workload {bulk_upsert,trickle_serve,all}
                             [--seed N] [--seconds S] [--trace 0|1]

One run = one workload in one process, closed loop on ``local[min(4,
nproc)]``:

1. generate the workload's event log from ``--seed`` (cached under
   ``.bench_build/perfbench/logs``; never timed, not part of ``setup_s``);
2. set up (``setup_s``): Spark session, a warm-up ingest of a small
   separate log with one lookup, and creation of a fresh table;
3. the workload's fixed number of epochs, each applied through
   ``EpochDriver.run`` and followed by one point lookup through
   ``IceTable.lookup``; each operation starts when the previous one
   returned. ``--seconds`` caps the timed region: no epoch starts
   after it has passed. Runs do the same work, so a growing table's later,
   costlier epochs weigh the same in every run;
4. correctness gate against ``datagen.reference_apply``; any mismatch
   marks operations failed and the run exits 1.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``): the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. The line
before it is the node-health stamp taken before and after the run.
``--workload all`` runs every workload untraced and traced, prints a
table with the tracing overhead, and ends with a combined result line.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_build" / "perfbench"
LOG_CACHE = WORK_ROOT / "logs"
DEFAULT_SEED = 1
# point reads after each epoch: enough samples for a steady lookup median
# within the run budget, where a lookup costs about 2 s
LOOKUPS_PER_EPOCH = 2
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ---------------------------------------------------------------------- #
# environment, session and process lifetime
# ---------------------------------------------------------------------- #
def prepare_env(work: Path) -> None:
    """Make the package importable here and in the Python workers, and
    keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["DATAX_DRIVER_MEM"] = DRIVER_MEM


def start_session(work: Path, trace: bool):
    from datax_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark (which completes the event log) and wait for the gateway
    JVM, which exits on EOF of its stdin, to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        for line in (Path("/proc") / str(pid) / "status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def node_health() -> dict:
    """Memory-bandwidth and single-core probe, reported beside the metrics
    (never folded into them): a degraded host shows here first."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8)
    copies = []
    for _ in range(3):
        t = time.perf_counter()
        b = a.copy()
        copies.append(time.perf_counter() - t)
        del b
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    cpu = time.perf_counter() - t
    return {
        "mem_copy_gbps": round(0.128 / statistics.median(copies), 3),
        "cpu_loop_1m_s": round(cpu, 4),
    }


# ---------------------------------------------------------------------- #
# inputs
# ---------------------------------------------------------------------- #
def cached_log(spec) -> Path:
    """The event log for ``spec``, generated once. The cache key covers
    every spec field, so no two specs can share a log. Same key and
    ``_DONE`` marker as ``bench._cached_event_log``, but the cache lives
    in the checkout instead of the system temp directory."""
    from datax_spark.datagen.generator import generate_event_log

    key = "-".join(f"{k}{getattr(spec, k)}" for k in sorted(vars(spec)))
    dest = LOG_CACHE / key
    if (dest / "_DONE").exists():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    generate_event_log(dest, spec)
    (dest / "_DONE").touch()
    return dest


class WriteMeter:
    """Bytes of files that appeared (or changed) under the table root."""

    def __init__(self, root: Path):
        self.root = root
        self.seen = self._scan()
        self.bytes = 0

    def _scan(self) -> set[tuple[str, int, int]]:
        out = set()
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                out.add((os.path.join(dirpath, n), st.st_size, st.st_mtime_ns))
        return out

    def update(self) -> None:
        now = self._scan()
        self.bytes += sum(size for _, size, _ in now - self.seen)
        self.seen = now


# ---------------------------------------------------------------------- #
# one run
# ---------------------------------------------------------------------- #
def new_driver(spark, workload, log_dir: Path, root: Path):
    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable
    from datax_spark.streaming.driver import EpochDriver
    from datax_spark.streaming.source import ChangeTailSource
    from workloads import TABLE_PARTITIONS

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    table = IceTable.create(spark, root / "table", schema, num_partitions=TABLE_PARTITIONS)
    driver = EpochDriver(
        spark,
        ChangeTailSource(spark, log_dir),
        table,
        root / "checkpoint",
        **workload.driver_kwargs,
    )
    return table, driver


def lookup_rows(table, keys: list[str]) -> list[tuple]:
    rows = table.lookup(keys, with_lsn=True).select("url", "_lsn", "html").collect()
    return sorted((r["url"], r["_lsn"], bytes(r["html"])) for r in rows)


def run_one(workload_name: str, seed: int, seconds: float, trace: bool) -> int:
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return _run_one(workload_name, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_one(workload_name: str, seed: int, seconds: float, trace: bool, work: Path) -> int:
    import pyarrow.parquet as pq

    from workloads import WORKLOADS

    bench = load_benchmark()
    workload = WORKLOADS[workload_name]
    health_before = node_health()

    # ---- inputs (untimed) --------------------------------------------- #
    t = time.monotonic()
    log_dir = cached_log(workload.spec(seed))
    warm_dir = cached_log(workload.warmup_spec())
    shards = sorted(str(p) for p in log_dir.glob("events-e*.parquet"))
    shard_rows = [pq.read_metadata(s).num_rows for s in shards]
    shard_bytes = [os.path.getsize(s) for s in shards]
    shard_urls = [
        sorted({u for u in pq.read_table(s, columns=["url"]).column(0).to_pylist() if u})
        for s in shards
    ]
    log(f"{workload_name} seed={seed}: {len(shards)} shards, {sum(shard_rows)} events "
        f"ready in {time.monotonic() - t:.1f}s")

    # ---- set-up: session, warm-up ingest, fresh table ----------------- #
    t_setup = time.monotonic()
    spark = start_session(work, trace)
    try:
        _, warm = new_driver(spark, workload, warm_dir, work / "warmup")
        warm.run(max_epochs=1)
        lookup_rows(warm.table, shard_urls[0][:1] + ["https://absent.example.org/0"])
        table, driver = new_driver(spark, workload, log_dir, work / "bench")
        setup_s = time.monotonic() - t_setup
        log(f"setup {setup_s:.2f}s")
        result = closed_loop(spark, workload, seed, seconds, trace, table, driver,
                             shards, shard_rows, shard_bytes, shard_urls)
    finally:
        stop_session(spark)
    if trace:
        from tracing import fold_event_log, layer_metrics

        # the event log is complete only once the session has stopped
        result["metrics"] = layer_metrics(
            result["spans"],
            fold_event_log(work / "eventlog"),
            epochs_events=result["events"],
            epochs_wall_s=sum(result["walls"]),
            bytes_in=result["bytes_in"],
            bytes_written=result["bytes_written"],
            live_files_end=result["live_files"],
            delete_rows_end=result["delete_rows"],
        )
    else:
        result["metrics"] = {
            "events_per_s": result["events"] / sum(result["walls"]),
            "epoch_p50_s": statistics.median(result["walls"]),
            "lookup_p50_ms": statistics.median(result["lookup_ms"]),
            "setup_s": setup_s,
            "peak_rss_mb": result["rss_mb"],
            "write_amp": result["bytes_written"] / result["bytes_in"],
        }
    health_after = node_health()
    print(json.dumps({"node_health": {"before": health_before, "after": health_after}}))
    section = "per_layer" if trace else "end_to_end"
    missing = [m["name"] for m in bench[section] if m["name"] not in result["metrics"]]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    units = {m["name"]: m["unit"] for m in bench[section]}
    for name, unit in units.items():
        log(f"  {name:26s} {result['metrics'][name]:14.4f} {unit}")
    log(f"  {'ops_failed_frac':26s} {result['failed'] / result['attempted']:14.4f} ratio")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    n: {"value": result["metrics"][n], "unit": u} for n, u in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if result["correct"] else 1


def closed_loop(spark, workload, seed, seconds, trace, table, driver,
                shards, shard_rows, shard_bytes, shard_urls) -> dict:
    """The timed epochs and lookups, then the correctness gate. Returns the
    raw measurements and the operation counts."""
    import gate
    from tracing import Tracer

    tracer = None
    if trace:
        tracer = Tracer(spark.sparkContext)
        tracer.install()

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    rng = random.Random(seed)
    applied = 0
    present_pool: list[str] = []
    walls: list[float] = []
    events = bytes_in = 0
    lookups: list[dict] = []
    epoch_error = False
    meter = WriteMeter(table.root)
    truncated = False
    t0 = time.monotonic()
    try:
        while applied < len(shards):
            if time.monotonic() - t0 >= seconds:
                truncated = True
                break
            try:
                with span("epoch"):
                    e0 = time.monotonic()
                    stats = driver.run(max_epochs=1)
                    walls.append(time.monotonic() - e0)
            except Exception:
                traceback.print_exc()
                epoch_error = True
                break
            if len(stats) != 1:
                log(f"expected one epoch, EpochDriver.run applied {len(stats)}")
                epoch_error = True
                break
            events += shard_rows[applied]
            bytes_in += shard_bytes[applied]
            present_pool.extend(shard_urls[applied])
            applied += 1
            meter.update()
            log(f"epoch {applied}: {walls[-1]:.2f}s {stats[0].merge_mode} {stats[0].lww_strategy_used}")
            # point reads after each epoch, each of a key from the applied
            # log (live or deleted) and a key that never existed
            for _ in range(LOOKUPS_PER_EPOCH):
                keys = [
                    rng.choice(present_pool),
                    f"https://absent.example.org/{rng.randrange(1 << 30):x}",
                ]
                rec = {"keys": keys, "shards_applied": applied, "rows": [], "error": None}
                with span("lookup"):
                    l0 = time.monotonic()
                    try:
                        rec["rows"] = lookup_rows(table, keys)
                    except Exception as ex:
                        traceback.print_exc()
                        rec["error"] = repr(ex)
                    rec["latency_s"] = time.monotonic() - l0
                lookups.append(rec)
    finally:
        if tracer:
            tracer.uninstall()
    log(f"timed: {len(walls)} epochs, {len(lookups)} lookups in {time.monotonic() - t0:.1f}s")

    rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    live_files = len(table.manifest_entries())
    delete_rows = sum(d["rows"] for d in table.delete_entries())

    # ---- correctness gate --------------------------------------------- #
    g0 = time.monotonic()
    shard_events = [gate.read_events([s]) for s in shards[:applied]]
    bad: list[str] = []
    if not epoch_error:
        bad += gate.check_table(table, [e for evs in shard_events for e in evs])
        bad += gate.check_replay(driver)
    lookup_failed = gate.check_lookups(lookups, shard_events)
    log(f"gate: {time.monotonic() - g0:.1f}s")
    for msg in bad[:20]:
        log(f"MISMATCH {msg}")
    for i in lookup_failed[:20]:
        log(f"MISMATCH lookup {lookups[i]['keys']} after {lookups[i]['shards_applied']} shards")
    # a wrong final table or a failed epoch fails every epoch that built
    # it; a run cut short by --seconds fails the epochs it did not apply,
    # so a truncated run never passes as comparable to a full one
    n_epochs = len(walls) + int(epoch_error)
    failed = (n_epochs if (epoch_error or bad) else 0) + len(lookup_failed)
    if truncated:
        log(f"--seconds {seconds:g} passed with {len(shards) - applied} epochs left")
        n_epochs = len(shards)
        failed += len(shards) - applied
    return {
        "correct": failed == 0 and bool(walls) and bool(lookups),
        "attempted": max(n_epochs + len(lookups), 1),
        "failed": failed,
        "walls": walls or [float("nan")],
        "lookup_ms": [lk["latency_s"] * 1000.0 for lk in lookups] or [float("nan")],
        "events": events,
        "bytes_in": bytes_in or float("nan"),
        "bytes_written": meter.bytes,
        "rss_mb": rss,
        "live_files": live_files,
        "delete_rows": delete_rows,
        "spans": tracer.spans if tracer else None,
    }


# ---------------------------------------------------------------------- #
# all workloads, untraced and traced
# ---------------------------------------------------------------------- #
def run_all(seed: int, seconds: float) -> int:
    from workloads import WORKLOADS

    bench = load_benchmark()
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
            if res is None or proc.returncode != 0:
                combined["correct"] = False
                log(f"{name} trace={trace} exited {proc.returncode}")
            if res is None:
                continue
            runs[trace] = res
            combined["attempted"] += res["attempted"]
            combined["failed"] += res["failed"]
            combined["correct"] &= res["correct"]
            for m, v in res["metrics"].items():
                combined["metrics"][f"{name}.{m}"] = v
        print(f"\n== {name} ==")
        for section, trace in (("end_to_end", 0), ("per_layer", 1)):
            for m in bench[section]:
                v = runs.get(trace, {}).get("metrics", {}).get(m["name"])
                print(f"  {m['name']:26s} {v['value'] if v else float('nan'):14.4f} {m['unit']}")
        if 0 in runs and 1 in runs:
            overhead = 1.0 - (
                runs[1]["metrics"]["trace.events_per_s"]["value"]
                / runs[0]["metrics"]["events_per_s"]["value"]
            )
            combined["metrics"][f"{name}.trace_overhead_frac"] = {
                "value": overhead, "unit": "ratio"
            }
            print(f"  {'tracing overhead':26s} {overhead:14.4f} of events_per_s")
            fails = runs[0]["failed"] + runs[1]["failed"]
            tries = runs[0]["attempted"] + runs[1]["attempted"]
            print(f"  {'ops_failed_frac':26s} {fails / tries:14.4f} ratio")
    print(json.dumps(combined), flush=True)
    return 0 if combined["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=load_benchmark()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "datax_spark" / "__init__.py").is_file():
        log(f"the datax_spark package is not in {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in [*WORKLOADS, "all"]:
        ap.error(f"--workload must be one of {[*WORKLOADS, 'all']}")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
