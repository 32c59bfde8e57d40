"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark side only: ``Tracer.install`` wraps
the public calls at each layer boundary, every wrapped call records a span
(name, start, end, parent) and runs under a Spark job group named after
the span, so each Spark job can be attributed to the layer that submitted
it. Jobs submitted from helper threads carry no group; they are
attributed to the innermost span open at their submission time.

After the session stops, ``fold_event_log`` reads Spark's event log and
folds task and stage metrics per span: task time, GC, shuffle bytes,
failed tasks, and the SQL metrics of the Python UDF and LWW exchange
nodes. ``layer_metrics`` turns spans plus the fold into the per-layer
metrics listed in BENCHMARK.json.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``before(args)`` runs
        first; ``after(rec, args, result, before_value)`` may add fields to
        the span record."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            pre = before(args) if before is not None else None
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out, pre)
                return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import datax_spark.streaming.driver as driver_mod
        from datax_spark.icetable.table import IceTable
        from datax_spark.streaming.source import ChangeTailSource

        def epoch_stats(rec, args, kwargs, st, _):
            rec.update(
                merge_mode=st.merge_mode,
                lww=st.lww_strategy_used,
                rows_in=st.rows_in,
                keys=st.rows_upserted + st.rows_deleted,
            )

        def commit_stats(rec, args, kwargs, version, _):
            # commit(epoch, partition_ids, added_files, removed=..., ...)
            rec.update(
                added=len(args[3]) + len(kwargs.get("added_deletes") or []),
                removed=len(kwargs.get("removed") or []),
            )

        def versions(args):
            return sum(1 for _ in args[0].meta_dir.glob("v*.metadata.json"))

        def expired(rec, args, kwargs, out, before):
            rec["expired"] = before - versions(args)

        # apply_epoch is bound into the driver module at import time
        self.wrap(ChangeTailSource, "read_range", "source.read_range")
        self.wrap(driver_mod, "apply_epoch", "merge.apply_epoch", epoch_stats)
        self.wrap(
            IceTable,
            "read_partitions",
            "table.read_partitions",
            lambda rec, a, k, out, _: rec.update(files=len(out[1])),
        )
        self.wrap(
            IceTable,
            "bloom_prune",
            "table.bloom_prune",
            lambda rec, a, k, kept, _: rec.update(probed=len(a[1]), kept=len(kept)),
        )
        self.wrap(IceTable, "stage_data_files", "table.stage")
        self.wrap(IceTable, "stage_data_and_delete_files", "table.stage")
        self.wrap(IceTable, "commit", "table.commit", commit_stats)
        self.wrap(IceTable, "write_lineage", "table.write_lineage")
        self.wrap(
            IceTable,
            "compact_partition",
            "driver.compact_partition",
            lambda rec, a, k, version, _: rec.update(compacted=version is not None),
        )
        self.wrap(
            IceTable, "expire_snapshots", "driver.expire_snapshots", expired, versions
        )
        self.wrap(IceTable, "lookup", "table.lookup")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------- #
# event-log fold
# ---------------------------------------------------------------------- #
def _plan_nodes(info: dict, ancestors: tuple[str, ...] = ()):
    yield info, ancestors
    for child in info.get("children", []):
        yield from _plan_nodes(child, ancestors + (info["nodeName"],))


def fold_event_log(event_dir: Path) -> dict:
    """Parse the (single, uncompressed) event log under ``event_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict[int, float]] = {}
    tasks: dict[int, list[dict]] = {}
    # accumulator ids of interest, with their scale to seconds / units
    acc_kind: dict[int, tuple[str, float]] = {}

    def scan_plan(info: dict) -> None:
        for node, anc in _plan_nodes(info):
            name = node["nodeName"]
            for m in node.get("metrics", []):
                scale = 1e-9 if m["metricType"] == "nsTiming" else 1e-3
                if "Python" in name:
                    if m["name"] == "time to run Python workers":
                        acc_kind[m["accumulatorId"]] = ("python_run_s", scale)
                    elif m["name"] == "time to start Python workers":
                        acc_kind[m["accumulatorId"]] = ("python_start_s", scale)
                    elif m["name"] == "number of output rows":
                        acc_kind[m["accumulatorId"]] = ("python_rows", 1.0)
                elif (
                    name == "Exchange"
                    and "Window" in anc
                    and m["name"] == "shuffle bytes written"
                ):
                    # the exchanges below a Window are the LWW resolve's
                    acc_kind[m["accumulatorId"]] = ("lww_shuffle_bytes", 1.0)

    files = [p for p in Path(event_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": list(ev["Stage IDs"]),
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = stage_acc.setdefault(info["Stage ID"], {})
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["ID"]] = float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "failed": ev["Task End Reason"]["Reason"] != "Success",
                    }
                )
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                scan_plan(ev["sparkPlanInfo"])
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "stage_acc": stage_acc,
        "tasks": tasks,
        "acc_kind": acc_kind,
    }


def _job_stats(fold: dict) -> dict[int, dict]:
    """Per job: stage-level sums of the metrics of interest."""
    out = {jid: {"failed": 0, "gc_s": 0.0} for jid in fold["jobs"]}
    for sid, jid in fold["stage_job"].items():
        js = out[jid]
        for t in fold["tasks"].get(sid, []):
            js["failed"] += int(t["failed"])
            js["gc_s"] += t["gc_ms"] / 1000.0
        for acc_id, value in fold["stage_acc"].get(sid, {}).items():
            kind = fold["acc_kind"].get(acc_id)
            if kind is not None:
                js[kind[0]] = js.get(kind[0], 0.0) + value * kind[1]
    return out


def _final_stage_skew(fold: dict, jid: int) -> float | None:
    stages = [s for s in fold["jobs"][jid]["stages"] if fold["tasks"].get(s)]
    if not stages:
        return None
    runs = [t["run_ms"] for t in fold["tasks"][max(stages)]]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else None


def attribute_jobs(spans: list[dict], fold: dict) -> dict[int, int | None]:
    """job id -> span id: by job group, else the innermost span whose
    interval holds the job's submission time."""
    out: dict[int, int | None] = {}
    for jid, job in fold["jobs"].items():
        g = job["group"]
        if g and g.startswith(GROUP_PREFIX):
            out[jid] = int(g[len(GROUP_PREFIX):])
            continue
        best = None
        for s in spans:
            if s["start"] <= job["submit"] <= (s["end"] or s["start"]):
                if best is None or s["start"] >= spans[best]["start"]:
                    best = s["id"]
        out[jid] = best
    return out


def layer_metrics(
    spans: list[dict],
    fold: dict,
    epochs_events: int,
    epochs_wall_s: float,
    bytes_in: int,
    bytes_written: int,
    live_files_end: int,
    delete_rows_end: int,
) -> dict[str, float]:
    """Per-layer metrics of the timed region (spans rooted at ``epoch`` or
    ``lookup``). Times and amounts are per epoch, lookup figures per
    lookup, ``*_epochs`` and end-state figures are totals."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    def root(s):
        return ([s] + list(ancestors(s)))[-1]

    def under(s, name):
        return any(a["name"] == name for a in ancestors(s))

    def dur(s):
        return s["end"] - s["start"]

    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    epochs = [s for s in spans if s["name"] == "epoch"]
    lookups = [s for s in spans if s["name"] == "lookup"]
    n_ep = max(len(epochs), 1)
    n_lk = max(len(lookups), 1)

    def named(name, within=None, root_name="epoch"):
        return [
            s
            for s in spans
            if s["name"] == name
            and root(s)["name"] == root_name
            and (within is None or under(s, within))
        ]

    def per_epoch(total):
        return total / n_ep

    applies = named("merge.apply_epoch")
    job_span = attribute_jobs(spans, fold)
    jstats = _job_stats(fold)

    def jobs_where(pred):
        return [
            jid
            for jid, sid in job_span.items()
            if sid is not None and pred(by_id[sid])
        ]

    epoch_jobs = jobs_where(lambda s: root(s)["name"] == "epoch")
    lookup_jobs = jobs_where(lambda s: root(s)["name"] == "lookup")
    merge_jobs = jobs_where(
        lambda s: s["name"] == "merge.apply_epoch" or under(s, "merge.apply_epoch")
    )
    timed_jobs = epoch_jobs + lookup_jobs

    def jsum(jids, key):
        return sum(jstats[j].get(key, 0.0) for j in jids)

    stage_jobs = jobs_where(lambda s: s["name"] == "table.stage" and under(s, "merge.apply_epoch"))
    skews = [k for k in (_final_stage_skew(fold, j) for j in stage_jobs) if k is not None]
    prunes = named("table.bloom_prune", within="merge.apply_epoch")
    probed = sum(s["probed"] for s in prunes)
    commits = named("table.commit")
    maint = named("driver.compact_partition") + named("driver.expire_snapshots")
    maint = [s for s in maint if not under(s, "merge.apply_epoch")]
    rows_in = sum(s.get("rows_in", 0) for s in applies)

    return {
        "source.read_s": per_epoch(sum(dur(s) for s in named("source.read_range"))),
        "source.bytes_in": per_epoch(bytes_in),
        "merge.apply_s": per_epoch(sum(dur(s) for s in applies)),
        "merge.self_s": per_epoch(
            sum(dur(s) - sum(dur(c) for c in children.get(s["id"], [])) for s in applies)
        ),
        "merge.jobs_per_epoch": per_epoch(len(merge_jobs)),
        "merge.cow_epochs": sum(s.get("merge_mode") == "cow" for s in applies),
        "merge.mor_epochs": sum(s.get("merge_mode") == "mor" for s in applies),
        "merge.salted_epochs": sum(s.get("lww") == "salted_window" for s in applies),
        "lww.keys_per_event": sum(s.get("keys", 0) for s in applies) / max(rows_in, 1),
        "lww.shuffle_write_bytes": per_epoch(jsum(epoch_jobs, "lww_shuffle_bytes")),
        "extract.python_s": per_epoch(jsum(epoch_jobs, "python_run_s")),
        "extract.rows": per_epoch(jsum(epoch_jobs, "python_rows")),
        "extract.boot_s": per_epoch(jsum(epoch_jobs, "python_start_s")),
        "table.stage_s": per_epoch(
            sum(dur(s) for s in named("table.stage", within="merge.apply_epoch"))
        ),
        "table.write_task_skew": statistics.median(skews) if skews else 1.0,
        "table.bytes_written": per_epoch(bytes_written),
        "table.files_added": per_epoch(sum(s.get("added", 0) for s in commits)),
        "table.files_removed": per_epoch(sum(s.get("removed", 0) for s in commits)),
        "table.prune_s": per_epoch(
            sum(dur(s) for s in named("table.read_partitions", within="merge.apply_epoch"))
        ),
        "table.bloom_keep_ratio": (
            sum(s["kept"] for s in prunes) / probed if probed else 1.0
        ),
        "table.commit_s": per_epoch(
            sum(dur(s) for s in named("table.commit", within="merge.apply_epoch"))
        ),
        "table.lineage_s": per_epoch(sum(dur(s) for s in named("table.write_lineage"))),
        "table.live_files_end": live_files_end,
        "table.delete_rows_end": delete_rows_end,
        "table.lookup_s": sum(dur(s) for s in lookups) / n_lk,
        "table.lookup_files": sum(
            s.get("files", 0) for s in named("table.read_partitions", root_name="lookup")
        )
        / n_lk,
        "table.lookup_jobs": len(lookup_jobs) / n_lk,
        "driver.maintain_s": per_epoch(sum(dur(s) for s in maint)),
        "driver.compactions": sum(
            bool(s.get("compacted")) for s in named("driver.compact_partition")
        ),
        "driver.versions_expired": sum(
            s.get("expired", 0) for s in named("driver.expire_snapshots")
        ),
        "spark.jobs_per_epoch": per_epoch(len(epoch_jobs)),
        "spark.tasks_failed": jsum(timed_jobs, "failed"),
        "spark.gc_s": per_epoch(jsum(epoch_jobs, "gc_s")),
        "trace.events_per_s": epochs_events / epochs_wall_s,
    }
