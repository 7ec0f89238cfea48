"""Outside-in tracing for the benchmark's traced run (``--trace 1``).

Three sources, all taken from outside the library:

* spans the benchmark records around each call into a layer's public
  function (name, start, end, parent), kept in memory;
* ``StreamingQueryProgress`` events from a ``StreamingQueryListener``;
* the Spark event log (jobs, stages, SQL metrics), parsed after the
  session stops.

Everything is attributed by wall-clock containment: the benchmark is a
single closed-loop client, so the innermost span open when a job was
submitted (or a micro-batch was triggered) is the call that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Span recorder. Disabled, ``span`` costs one attribute check.

    The open-span stack is shared by all threads: foreachBatch callbacks run
    on a py4j callback thread while the client thread blocks inside the
    ``processAllAvailable`` span, and they are that span's children."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        """Yields the span's record (empty when disabled)."""
        if not self.enabled:
            yield {}
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(sid)


def _make_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            sink.append(
                {
                    "name": p.name or "",
                    "batch_id": p.batchId,
                    # trigger start + trigger duration: the batch's end,
                    # which falls inside the call that waited for it
                    "t": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                    + (p.durationMs or {}).get("triggerExecution", 0) / 1000.0,
                    "duration": dict(p.durationMs or {}),
                    "rows_in": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` of the session."""

    def __init__(self, spark):
        self.events: list[dict] = []
        self.listener = _make_listener(self.events)
        spark.streams.addListener(self.listener)


# ----------------------------------------------------------- event log ---
def _log_index(path: str) -> tuple:
    parts = os.path.basename(path).split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0, path)


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and SQL metrics from a local JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    sql_start: dict[int, float] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}
    driver_acc: list[tuple[int, int, float]] = []

    def plan_metrics(info):
        for m in info.get("metrics", []):
            acc_meta[m["accumulatorId"]] = (m["name"], m.get("metricType", ""), info.get("nodeName", ""))
        for child in info.get("children", []):
            plan_metrics(child)

    # Spark 4 writes rolling logs: a directory of events_<n>_<app> files
    paths = [p for p in glob.glob(f"{log_dir}/**/*", recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths, key=_log_index):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {"start": None})["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    accs = {}
                    for a in info.get("Accumulables", []):
                        try:
                            accs[a["ID"]] = (a.get("Name", ""), float(a["Value"]))
                        except (KeyError, TypeError, ValueError):
                            continue
                    stages[info["Stage ID"]] = {"accs": accs}
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_start[ev["executionId"]] = ev["time"] / 1000.0
                    plan_metrics(ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", []):
                        acc_meta[m["accumulatorId"]] = (m["name"], m.get("metricType", ""), "")
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_acc.append((ev["executionId"], acc_id, float(value)))
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "stages": stages,
        "sql_start": sql_start,
        "acc_meta": acc_meta,
        "driver_acc": driver_acc,
    }


def _innermost(spans: list[dict], t: float | None) -> dict | None:
    """The latest-starting closed span containing ``t``."""
    if t is None:
        return None
    best = None
    for s in spans:
        if s["end"] is not None and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


#: SQL metrics summed from stage accumulables (executor side)
_STAGE_METRICS = {"time to run Python workers": "python_ms"}
#: SQL metrics the Spark driver posts (scan planning, write statistics)
_DRIVER_METRICS = {
    "number of files read": "files_read",
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of output rows": "rows_written",  # write commands only, below
}


def attribute(spans: list[dict], log: dict, progress: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, job time, SQL metrics, stage metrics and
    streaming progress caused while it was the innermost open span."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    job_span: dict[int, int] = {}
    job_iv: dict[int, list] = defaultdict(list)
    for jid, j in log["jobs"].items():
        s = _innermost(spans, j["start"])
        if s is None:
            continue
        job_span[jid] = s["id"]
        out[s["id"]]["jobs"] += 1
        if j.get("end") is not None:
            job_iv[s["id"]].append((j["start"], min(j["end"], s["end"])))
    for sid, iv in job_iv.items():
        out[sid]["job_ms"] = _union_ms(iv)

    # Accumulator values are running totals: keep the largest reading per
    # accumulator, attributed to the span of its first stage / execution.
    final: dict[int, tuple[int, str, float]] = {}

    def keep(acc_id, span_id, key, value):
        prev = final.get(acc_id)
        final[acc_id] = (prev[0] if prev else span_id, key, max(value, prev[2] if prev else value))

    for stage_id, st in sorted(log["stages"].items()):
        span_id = job_span.get(log["stage_job"].get(stage_id, -1))
        if span_id is None:
            continue
        for acc_id, (name, value) in st["accs"].items():
            if name == "internal.metrics.shuffle.write.bytesWritten":
                out[span_id]["shuffle_write_bytes"] += value
            elif name in ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"):
                out[span_id]["spill_bytes"] += value
            elif name in _STAGE_METRICS:
                if log["acc_meta"].get(acc_id, ("", "", ""))[1] == "nsTiming":
                    value /= 1e6
                keep(acc_id, span_id, _STAGE_METRICS[name], value)
    for exec_id, acc_id, value in log["driver_acc"]:
        name, _, node = log["acc_meta"].get(acc_id, ("", "", ""))
        key = _DRIVER_METRICS.get(name)
        if key == "rows_written" and "InsertInto" not in node:
            continue
        s = _innermost(spans, log["sql_start"].get(exec_id))
        if key is not None and s is not None:
            keep(acc_id, s["id"], key, value)
    for span_id, key, value in final.values():
        out[span_id][key] += value

    for p in progress:
        s = _innermost(spans, p["t"])
        if s is None:
            continue
        o = out[s["id"]]
        o["batches"] += 1
        for k, v in p["duration"].items():
            o[f"{k}_ms"] += v
        for k in ("rows_in", "state_commit_ms"):
            o[k] += p[k]
        # state size is a level, not a flow: keep the latest reading
        o["state_rows"] = p["state_rows"]
        o["state_mem_bytes"] = p["state_mem_bytes"]
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its direct children."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) * 1000.0 - _union_ms(kids.get(s["id"], []))
        for s in spans
        if s["end"] is not None
    }
