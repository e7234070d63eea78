"""Spans, Spark event-log folding and process memory for the benchmark.

A traced run names every Spark job after the layer that caused it: a
span sets the job description before the call into the layer and
restores the outer one after it. Spark writes the description into each
``SparkListenerStageSubmitted`` event, so the stage's
``SparkListenerTaskEnd`` records fold onto the layer. Streaming
micro-batch jobs run on the query's own thread under a description whose
first line is the query name; ``QUERY_LAYERS`` maps those names to
layers.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

#: job-description prefix of jobs that are not measured (set-up, checks)
UNMEASURED = "perfbench:"
#: description of a timed operation's own jobs outside every layer span
OP = "op"
#: streaming query name -> layer
QUERY_LAYERS = {"stream_er": "stream.er", "stream_dedup": "stream.dedup"}

TASK_FIELDS = (
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "rows_out",
    "tasks",
    "tasks_failed",
)


class Tracer:
    """Records nested spans on the calling thread and tags Spark jobs.

    Disabled, ``span`` only runs its body: untimed runs carry no job
    descriptions and no event log.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def _described(self, description: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(description)
        try:
            yield
        finally:
            self.sc.setJobDescription(prev)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "start": time.perf_counter()})
        self._stack.append(idx)
        try:
            with self._described(name):
                yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def phase(self, name: str):
        """Tag unmeasured work (set-up, checks) so the fold skips it."""
        return self._described(UNMEASURED + name) if self.enabled else nullcontext()


@contextmanager
def layer_spans(tracer):
    """Wrap the checkpointed-stage entry points of ``plans.metrics`` in
    spans named after the stage; ``append_metrics`` is its own layer.
    ``run_pipeline`` reaches them as module attributes, so every job of a
    pipeline call lands in one of these spans."""
    from whoiswho_spark.plans import metrics as M

    orig = {k: getattr(M, k) for k in ("stage", "stage_bucketed", "append_metrics")}

    def staged(fn):
        def wrapper(spark, workdir, run_id, name, *args, **kwargs):
            with tracer.span(name):
                return fn(spark, workdir, run_id, name, *args, **kwargs)

        return wrapper

    def append_metrics(*args, **kwargs):
        with tracer.span("metrics"):
            return orig["append_metrics"](*args, **kwargs)

    M.stage = staged(orig["stage"])
    M.stage_bucketed = staged(orig["stage_bucketed"])
    M.append_metrics = append_metrics
    try:
        yield
    finally:
        for k, fn in orig.items():
            setattr(M, k, fn)


def span_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: summed wall and self time. Self time is a span's
    duration minus its direct children's; children must nest inside
    their parent and not overlap each other."""
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            if not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                raise ValueError(f"span {s['name']} escapes its parent {p['name']}")
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"wall_s": 0.0, "self_s": 0.0})
    for i, s in enumerate(spans):
        d = s["end"] - s["start"]
        out[s["name"]]["wall_s"] += d
        out[s["name"]]["self_s"] += d - child_time[i]
    return dict(out)


def _layer_of(description: str | None) -> str | None:
    """Layer a job description folds onto; None for unmeasured jobs."""
    first = (description or "").split("\n", 1)[0]
    if first.startswith(UNMEASURED):
        return None
    if first in QUERY_LAYERS:
        return QUERY_LAYERS[first]
    return first or OP


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application under ``log_dir``: a rolling
    ``eventlog_v2_*`` directory (Spark 4) or a single uncompressed file."""
    apps = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(apps) != 1:
        raise ValueError(f"expected one application log under {log_dir}, found {apps}")
    app = apps[0]
    if os.path.isdir(app):
        parts = glob.glob(os.path.join(app, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [app]
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_events(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum ``SparkListenerTaskEnd`` metrics per layer (see ``_layer_of``)."""
    stage_layer: dict[tuple[int, int], str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = _layer_of(desc)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get((ev["Stage ID"], ev["Stage Attempt ID"]), OP)
            if layer is None:
                continue
            acc = out[layer]
            acc["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                acc["tasks_failed"] += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            acc["task_run_s"] += m["Executor Run Time"] / 1e3
            acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            acc["gc_s"] += m["JVM GC Time"] / 1e3
            acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            acc["rows_out"] += m["Output Metrics"]["Records Written"]
    return dict(out)


# --- process memory -----------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's VmHWM to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass  # the process ended


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM of ``pids`` in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
