#!/usr/bin/env python3
"""Toy-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Runs every workload, scaled down to two tiny epochs, untraced and traced
   through ``run.main`` and checks that the result line carries exactly the
   metrics BENCHMARK.json names, each with its unit, and passes the gate.
2. Runs one toy workload with ``--seconds 0`` and checks that the run,
   cut short before its first epoch, fails every epoch and exits 1.
3. Ingests a toy log, tampers with the table and with a lookup answer, and
   checks that the correctness gate reports both.

Each run is a child process, so every Spark session gets a fresh JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from dataclasses import replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def toy_workloads() -> dict:
    from workloads import WORKLOADS

    toy = {}
    for name, w in WORKLOADS.items():
        kw = dict(w.spec_kwargs, n_urls=max(w.spec_kwargs["n_urls"] // 20, 20))
        if "evolve_at_epoch" in kw:
            kw["evolve_at_epoch"] = 1
        driver_kw = dict(w.driver_kwargs)
        if "max_files_per_partition" in driver_kw:
            driver_kw["max_files_per_partition"] = 1  # compact within two epochs
        toy[name] = replace(
            w, epoch_events=300, epochs=2, spec_kwargs=kw, driver_kwargs=driver_kw
        )
    return toy


def child_run(workload: str, trace: str, seconds: str) -> int:
    sys.path.insert(0, str(run.ROOT))
    import workloads

    workloads.WORKLOADS = toy_workloads()
    return run.main(
        ["--workload", workload, "--seed", "3", "--trace", trace, "--seconds", seconds]
    )


def child_tamper() -> int:
    """Gate must pass on an honest table and fail on a tampered one."""
    work = run.WORK_ROOT / f"selftest-{os.getpid()}"
    run.prepare_env(work)
    sys.path.insert(0, str(run.ROOT))
    import gate

    from datax_spark.datagen.generator import reference_apply
    from datax_spark.operators.merge import apply_epoch

    w = toy_workloads()["bulk_upsert"]
    log_dir = run.cached_log(w.spec(5))
    shards = sorted(str(p) for p in log_dir.glob("events-e*.parquet"))
    events = gate.read_events(shards)
    spark = run.start_session(work, trace=False)
    problems = []
    try:
        table, driver = run.new_driver(spark, w, log_dir, work / "t")
        driver.run()
        if gate.check_table(table, events) or gate.check_replay(driver):
            problems.append("gate failed on an honest table")
        key, live = sorted(reference_apply(events).items())[0]
        lk = {"keys": [key], "shards_applied": len(shards), "error": None,
              "rows": run.lookup_rows(table, [key])}
        shard_events = [gate.read_events([s]) for s in shards]
        if gate.check_lookups([lk], shard_events):
            problems.append("honest lookup flagged")
        lk["rows"] = [(key, lk["rows"][0][1] + 1, lk["rows"][0][2])]
        if gate.check_lookups([lk], shard_events) != [0]:
            problems.append("tampered lookup answer not flagged")
        # tamper: a delete the log never contained, committed as epoch 99
        batch = spark.createDataFrame(
            [(live["lsn"] + 10**9, "D", key, None, None, live["lang"], None)],
            "lsn long, op string, url string, warc_ts timestamp, html binary, "
            "lang string, title string",
        )
        apply_epoch(table, batch, 99)
        bad = gate.check_table(table, events)
        if not any(key in b for b in bad):
            problems.append(f"tampered table passed the gate: {bad}")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


def main() -> int:
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    failures = []
    sys.path.insert(0, str(run.ROOT))
    for name in toy_workloads():
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            proc = subprocess.run(
                [sys.executable, __file__, "--child", "run", name, trace, "60"],
                stdout=subprocess.PIPE,
                text=True,
            )
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                failures.append(f"{name} trace={trace}: no result line")
                continue
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{name} trace={trace}: result keys {sorted(res)}")
            if got != want:
                failures.append(f"{name} trace={trace}: metrics {got} != {want}")
            if proc.returncode != 0 or not res.get("correct") or res.get("failed"):
                failures.append(f"{name} trace={trace}: gate failed ({res})")
            print(f"{name} trace={trace}: {len(got)} metrics, exit {proc.returncode}")
    name, w = next(iter(toy_workloads().items()))
    proc = subprocess.run(
        [sys.executable, __file__, "--child", "run", name, "0", "0"],
        stdout=subprocess.PIPE,
        text=True,
    )
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    res = json.loads(last)
    if proc.returncode != 1 or res.get("correct") or res.get("failed") != w.epochs:
        failures.append(f"run cut by --seconds 0 did not fail its epochs: {res}")
    print(f"truncated run: exit {proc.returncode}, failed {res.get('failed')}")
    proc = subprocess.run([sys.executable, __file__, "--child", "tamper"])
    if proc.returncode != 0:
        failures.append("tamper check failed")
    print("tamper check:", "ok" if proc.returncode == 0 else "FAILED")
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        if sys.argv[2] == "run":
            sys.exit(child_run(*sys.argv[3:6]))
        sys.exit(child_tamper())
    sys.exit(main())
