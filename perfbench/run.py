"""The ER engine's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates a seeded corpus, boots a
``local[nproc / 2]`` session through ``session.get_spark``, computes the
workload's references, then times the session's first calls of the
workload (at least ``calls`` of them and at least ``--seconds`` of timed
work), checking every output outside the timed region. The last
stdout line is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a run with Spark's
event log on (see README.md beside this file).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

T0 = time.perf_counter()  # set-up time starts before the heavy imports

import pyarrow as pa

from tracing import (
    OP,
    TASK_FIELDS,
    Tracer,
    fold_events,
    layer_spans,
    peak_rss_mb,
    process_tree,
    read_event_log,
    reset_peak_rss,
    span_times,
)
from workloads import (
    CORPUS_SCHEMA,
    WORKLOADS,
    CheckFailed,
    corpus_checksum,
    corpus_frame,
    write_split,
)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

LAYERS = (
    "extract",
    "blocks",
    "pairs",
    "edges",
    "clusters",
    "metrics",
    "dedup.exact",
    "dedup.minhash",
    "dedup.ngram",
    "dedup.simhash",
    "stream.er",
    "stream.dedup",
)
LAYER_FIELDS = {
    "wall_s": "s",
    "self_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "idle_slot_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "rows_out": "count",
}
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
RECORDED = os.path.join(HERE, "recorded")


def self_checks(seed: int, corpus) -> list[str]:
    """The benchmark's own checks; returns the problems found."""
    problems = []
    with open(os.path.join(RECORDED, "fold_expected.json"), encoding="utf-8") as fh:
        want = json.load(fh)
    got = fold_events(read_event_log(os.path.join(RECORDED, "eventlog")))
    got = {layer: {k: round(v, 9) for k, v in acc.items()} for layer, acc in got.items()}
    if got != want:
        problems.append(f"event-log fold of the recorded log changed: {got}")
    if corpus_checksum(corpus) != corpus_checksum(corpus_frame(seed)):
        problems.append(f"seed {seed} gave two different corpora")
    return problems


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the Python
    workers have exited."""
    gateway = spark.sparkContext._gateway
    children = process_tree(os.getpid())[1:]
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def layer_metrics(spans, folded, slots, docs, rows, extras, op_walls):
    """Per-layer metrics of a traced run, per timed operation."""
    n_ops = len(op_walls)
    times = span_times(spans)
    zero_t = {"wall_s": 0.0, "self_s": 0.0}
    zero_f = dict.fromkeys(TASK_FIELDS, 0)
    unattributed_run_s = sum(acc["task_run_s"] for L, acc in folded.items() if L not in LAYERS)
    total_self = sum(times.get(L, zero_t)["self_s"] for L in LAYERS)
    op_self = times.get(OP, zero_t)["self_s"]
    op_wall = times.get(OP, zero_t)["wall_s"]
    problems = []
    if abs(total_self + op_self - op_wall) > 1e-6 * max(1.0, op_wall):
        problems.append(f"layer self times {total_self} + unattributed {op_self} != wall {op_wall}")
    out, per = {}, {}
    for L in LAYERS:
        t = times.get(L, zero_t)
        f = dict(folded.get(L, zero_f))
        if L in rows:
            f["rows_out"] = rows[L]
        per[L] = {
            "wall_s": t["wall_s"] / n_ops,
            "self_s": t["self_s"] / n_ops,
            "task_run_s": f["task_run_s"] / n_ops,
            "task_cpu_s": f["task_cpu_s"] / n_ops,
            "gc_s": f["gc_s"] / n_ops,
            "idle_slot_s": (t["self_s"] * slots - f["task_run_s"]) / n_ops,
            "shuffle_write_bytes": f["shuffle_write_bytes"] / n_ops,
            "spill_bytes": f["spill_bytes"] / n_ops,
            "rows_out": f["rows_out"] / n_ops,
        }
        for k, v in per[L].items():
            out[f"{L}.{k}"] = v
    out["unattributed.self_s"] = op_self / n_ops
    out["unattributed.task_run_s"] = unattributed_run_s / n_ops
    out["tasks_failed"] = sum(acc["tasks_failed"] for acc in folded.values())

    def ratio(a, b):
        return a / b if b else 0.0

    out["blocks.rows_per_doc"] = ratio(per["blocks"]["rows_out"], docs)
    out["pairs.shuffle_bytes_per_doc"] = ratio(per["pairs"]["shuffle_write_bytes"], docs)
    out["pairs.pairs_per_s"] = ratio(per["pairs"]["rows_out"], per["pairs"]["wall_s"])
    out["edges.match_ratio"] = ratio(per["edges"]["rows_out"], per["pairs"]["rows_out"])
    for k in ("stream.er", "stream.dedup"):
        for f in ("batch_p50_s", "batch_tail_s", "state_rows_peak"):
            out[f"{k}.{f}"] = extras.get(f"{k}.{f}", 0.0)
    out["trace.docs_per_s"] = docs * n_ops / sum(op_walls)
    out["trace.wall_s"] = op_wall / n_ops
    return out, problems


PER_LAYER_UNITS = {
    "session.wall_s": "s",
    "unattributed.self_s": "s",
    "unattributed.task_run_s": "s",
    "tasks_failed": "count",
    "blocks.rows_per_doc": "count",
    "pairs.shuffle_bytes_per_doc": "bytes",
    "pairs.pairs_per_s": "1/s",
    "edges.match_ratio": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.wall_s": "s",
}
for _layer in ("stream.er", "stream.dedup"):
    PER_LAYER_UNITS.update(
        {
            f"{_layer}.batch_p50_s": "s",
            f"{_layer}.batch_tail_s": "s",
            f"{_layer}.state_rows_peak": "count",
        }
    )
for _layer in LAYERS:
    PER_LAYER_UNITS.update({f"{_layer}.{f}": u for f, u in LAYER_FIELDS.items()})
E2E_UNITS = {"setup_s": "s", "docs_per_s": "1/s", "pairwise_f1": "ratio", "peak_rss_mb": "MB"}


def run(args) -> dict:
    # half the CPUs run tasks; the rest keep the driver JVM, its JIT and GC
    # threads and the Python processes off the task slots' CPUs
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return measure(args, slots, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, slots: int, work: str) -> dict:
    from whoiswho_spark.session import get_spark

    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    # keep every file Spark and the JVM write inside the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    corpus = corpus_frame(args.seed)
    problems = self_checks(args.seed, corpus)

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and young generation, so the JVM's resident memory
        # follows the work rather than when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g -Xmn512m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    t_session = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{slots}]", shuffle_partitions=slots, extra_conf=conf
    )
    session_s = time.perf_counter() - t_session
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    try:
        with tracer.phase("setup"):
            corpus_dir = os.path.join(work, "corpus")
            table = pa.Table.from_pandas(corpus, schema=CORPUS_SCHEMA, preserve_index=False)
            write_split(table, corpus_dir, slots, "url")
            wl = WORKLOADS[args.workload](spark, tracer, work, corpus, corpus_dir)
            wl.setup()
        setup_s = time.perf_counter() - T0

        walls, f1s, rss, outs, failed = [], [], [], [], 0
        with layer_spans(tracer) if args.trace else nullcontext():
            i = 0
            while len(walls) < wl.calls or sum(walls) < args.seconds:
                reset_peak_rss(process_tree(os.getpid()))
                t0 = time.perf_counter()
                try:
                    with tracer.span("op"):
                        out = wl.op(i)
                except Exception:  # an operation that raises counts as failed
                    traceback.print_exc()
                    out = None
                walls.append(time.perf_counter() - t0)
                rss.append(peak_rss_mb(process_tree(os.getpid())))
                i += 1
                if out is None:
                    failed += 1
                    f1s.append(0.0)
                    continue
                outs.append(out)
                with tracer.phase("check"):
                    try:
                        f1s.append(wl.check(out))
                    except CheckFailed as exc:
                        print(f"check failed: {exc}", file=sys.stderr)
                        failed += 1
                        f1s.append(0.0)
        with tracer.phase("check"):
            extras = wl.layer_extras(outs) if args.trace else {}
            rows = wl.layer_rows(outs) if args.trace else {}
    finally:
        stop_spark(spark)

    docs = len(corpus)
    print(
        f"# {args.workload} seed={args.seed} docs={docs} slots={slots} ops={len(walls)} "
        f"op_wall_s={[round(w, 3) for w in walls]} f1={f1s} peak_rss_mb={[round(r) for r in rss]}"
    )
    if args.trace:
        folded = fold_events(read_event_log(os.path.join(work, "eventlog")))
        metrics, trace_problems = layer_metrics(tracer.spans, folded, slots, docs, rows, extras, walls)
        problems += trace_problems
        metrics["session.wall_s"] = session_s
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": docs * len(walls) / sum(walls),
            "pairwise_f1": min(f1s),
            "peak_rss_mb": max(rss),
        }
        units = E2E_UNITS
    if set(metrics) != set(units):
        problems.append(f"metrics differ from the declared set: {set(metrics) ^ set(units)}")
    bad_names = [k for k in metrics if not METRIC_NAME.fullmatch(k)]
    if bad_names:
        problems.append(f"bad metric names {bad_names}")
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import whoiswho_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the library from {REPO}: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
