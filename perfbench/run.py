"""kgpipe benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run pins its environment (cores,
driver heap, PYTHONPATH, scratch dirs inside the checkout), generates or
reuses the workload's seeded inputs, sets up a fresh Spark JVM ending with
one untimed warm-up op like the timed ones, then runs ops in a closed loop
with one client until ``--seconds`` of op time have been measured. Every op is gated
against planted gold outside its timed region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced ops and reports per-layer metrics (perfbench/tracing.py)
plus the tracing overhead. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the workload-specific figures (sample counts, percentiles, host probe,
every per-layer figure).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "_data")
WORK = os.path.join(HERE, "_work")

DRIVER_MEM = "3g"  # well below this class of host's RAM; same for every run
MIN_OPS = 3  # fewest timed ops in an untraced run
# no op starts after this much run wall time: a run must end within 180 s
MAX_RUN_S = 140.0

END_TO_END_UNITS = {"setup_s": "s", "op_min_s": "s",
                    "triples_per_s": "triples/s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "pipeline.plan_s": "s", "pipeline.py4j_calls": "count",
    "labeler.build_gazetteer_calls": "count", "labeler.build_gazetteer_s": "s",
    "labeler.label_texts_us_per_turn": "us",
    "tokenize.tokenize_batch_us_per_turn": "us",
    "relations.turn_digests_calls": "count", "linker.top1_dict_calls": "count",
    "linker.dict_to_df_s": "s", "canon.local_s": "s",
    "checkpoint.buckets_computed": "count",
    "checkpoint.buckets_skipped": "count",
    "storage.write_triples_s": "s", "storage.commit_s": "s",
    "udf.python_run_s": "s", "udf.python_start_s": "s",
    "udf.arrow_bytes_in": "bytes", "sources.scan_s": "s",
    "shuffle.bytes_written": "bytes", "spark.task_s": "s",
    "spark.slot_busy_frac": "frac", "trace.overhead_s": "s",
}
# reported on the detail line only (the result line must fit in the 2,000
# bytes of stdout that some log collectors keep)
DETAIL_LAYER_UNITS = {
    "canon.merged_ids": "count", "canon.local_calls": "count",
    "checkpoint.bytes_on_disk": "bytes", "storage.bytes_written": "bytes",
    "sources.bytes_read": "bytes", "shuffle.spill_bytes": "bytes",
    "spark.gc_s": "s", "spark.jobs": "count", "udf.arrow_bytes_out": "bytes",
}
_PRODUCT = ["pipeline.plan_s", "pipeline.py4j_calls",
            "labeler.build_gazetteer_calls", "relations.turn_digests_calls",
            "linker.top1_dict_calls", "linker.dict_to_df_s",
            "canon.local_calls", "canon.merged_ids",
            "storage.write_triples_s", "storage.commit_s",
            "storage.bytes_written", "udf.python_run_s", "spark.task_s",
            "spark.jobs", "sources.bytes_read",
            "labeler.label_texts_us_per_turn",
            "tokenize.tokenize_batch_us_per_turn"]
# per-layer figures that must be non-zero in a traced run: a zero means a
# wrapper no longer sees the calls it should (e.g. a name rebound at import)
EXPECTED_NONZERO = {
    "bulk": _PRODUCT + ["sources.scan_s"],
    "resume": _PRODUCT + ["checkpoint.buckets_computed",
                          "checkpoint.buckets_skipped",
                          "checkpoint.bytes_on_disk"],
}
# tiny sizes for the self-tests: every code path, a few seconds per op
SMOKE_SIZES = {
    "bulk": {"n_convs": 60, "avg_turns": 10},
    "resume": {"n_convs": 60, "avg_turns": 10},
}


def pin_environment(work: str, trace: bool) -> int:
    """Environment for the Spark JVM and its Python workers; must run
    before the session starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # local[N] and shuffle width
    os.environ["KGPIPE_DRIVER_MEM"] = DRIVER_MEM
    # C1-only JIT: ops run at a steady speed from the first one after
    # set-up. With tiered C2 the JVM-side work (plan analysis, Arrow and
    # parquet I/O) keeps getting faster for ~10 full ops (~50 s), longer
    # than a run measures, so each run's figure would depend on how far
    # along that curve it got, and on how much CPU the JIT threads got.
    os.environ["KGPIPE_JAVA_OPTS"] = (
        "-XX:+UseParallelGC -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={tmp}")
    # Python workers import kgpipe from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    if trace:
        os.environ["KGPIPE_STAGE_METRICS"] = "1"  # UI on: status REST API
    else:
        os.environ.pop("KGPIPE_STAGE_METRICS", None)
    return cores


def host_probe() -> dict:
    """Host speed beside the run (reported, never gated): one-thread
    Python loop time and a NumPy triad's bandwidth."""
    import numpy as np

    def best_of(fn, n: int) -> float:
        ts = []
        for _ in range(n):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return min(ts)

    loop_s = best_of(lambda: sum(i * i for i in range(300_000)), 5)
    b = np.ones(2_000_000)
    c = np.ones(2_000_000)
    a = np.empty_like(b)
    triad_s = best_of(lambda: np.add(b, 3.0 * c, out=a), 9)
    return {"py_loop_ns_per_iter": loop_s / 300_000 * 1e9,
            "triad_gb_s": 4 * b.nbytes / triad_s / 1e9}


def steal_s() -> float:
    """CPU time stolen from this VM by its hypervisor so far, summed over
    CPUs (/proc/stat): a timing taken while it grows was slowed by other
    tenants of the host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its descendants: the JVM and the Python workers.
    Time the hypervisor steals from the VM is not charged to them."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb() -> dict[str, float]:
    """Resident memory of the process tree in MB, by process name.

    Each process counts its proportional share (Pss) of resident pages: a
    forked child (Python workers forked by the worker daemon, a JVM's
    short-lived helper forks) shares its parent's pages copy-on-write, and
    summing plain RSS would count those pages once per process."""
    by_name: dict[str, float] = {}
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        by_name[name] = (by_name.get(name, 0.0)
                                         + int(line.split()[1]) / 1024)
                        break
        except OSError:
            continue
    return by_name


class RssSampler:
    """Peak resident memory of the whole process tree (benchmark, JVM,
    Python workers), sampled from /proc every 0.2 s."""

    def __init__(self):
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            by_name = tree_rss_mb()
            if sum(by_name.values()) > self.peak_mb:
                self.peak_mb = sum(by_name.values())
                self.at_peak = by_name
            self._stop.wait(0.2)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def start_session(wl, scratch: str):
    """Fresh JVM + session, then one untimed warm-up op, the same as a
    timed one, so JVM class loading, JIT compilation, code generation,
    Python worker start and the workers' per-dictionary state land in
    set-up: without it the first timed op ran 10–20% slower than the
    rest."""
    from kgpipe.session import get_spark

    spark = get_spark("perfbench")
    wl.op(spark, os.path.join(scratch, "warmup"))
    clear_outputs(scratch)
    return spark


def clear_outputs(scratch: str) -> None:
    """Delete every op output and run dir, keeping Spark's and the temp
    dirs."""
    for name in os.listdir(scratch):
        if name not in ("spark", "tmp"):
            shutil.rmtree(os.path.join(scratch, name))


def stop_session() -> None:
    """Stop Spark and its JVM, and wait until every process the run
    started (JVM, Python worker daemon and workers) has exited. Safe after
    a set-up that failed half way."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while (left := descendants()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def labeler_microbench(wl) -> dict:
    """Direct calls on a fixed sample of the workload's texts: the UDF body
    runs in Python workers, out of reach of driver-side spans."""
    from kgpipe.functions.tokenize import tokenize_batch
    from kgpipe.operators.labeler import (
        build_gazetteer,
        build_transitions,
        label_texts,
    )

    texts = wl.sample_texts()
    gaz, trans = build_gazetteer(wl.dictionary()), build_transitions()

    def med_us(fn) -> float:
        fn()
        ts = []
        for _ in range(5):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts) / len(texts) * 1e6

    return {"labeler.label_texts_us_per_turn":
            med_us(lambda: label_texts(texts, gaz, trans)),
            "tokenize.tokenize_batch_us_per_turn":
            med_us(lambda: tokenize_batch(texts))}


def layer_metrics(tracer, traced: list[dict], spark_m: dict, cores: int) -> dict:
    """Per-layer figures, averaged over the traced ops."""
    per_op = tracer.per_op([o["i"] for o in traced])
    sums: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        sums[k] = sums.get(k, 0.0) + v

    for o in traced:
        rec, sm = per_op[o["i"]], spark_m[o["i"]]
        t, c = rec["time"], rec["calls"]
        add("pipeline.plan_s", rec["plan_s"])
        add("pipeline.py4j_calls", rec["py4j"])
        add("labeler.build_gazetteer_calls", c["labeler.build_gazetteer"])
        add("labeler.build_gazetteer_s", t["labeler.build_gazetteer"])
        add("relations.turn_digests_calls", c["relations.turn_digests"])
        add("linker.top1_dict_calls", c["linker.top1_dict"])
        add("linker.dict_to_df_s", t["linker.dict_to_df"])
        add("canon.local_s", t["canon.build_canon_map_local"])
        add("canon.local_calls", c["canon.build_canon_map_local"])
        add("canon.merged_ids", rec["merged"])
        add("checkpoint.buckets_computed", rec["computed"])
        add("checkpoint.buckets_skipped", rec["skipped"])
        add("checkpoint.bytes_on_disk", o.get("checkpoint_bytes", 0))
        add("storage.write_triples_s", t["storage.write_triples"])
        add("storage.commit_s", t["storage._commit_snapshot"])
        add("storage.bytes_written", o.get("bytes_written", 0))
        add("udf.python_run_s", sm["python_run_s"])
        add("udf.python_start_s", sm["python_start_s"])
        add("udf.arrow_bytes_in", sm["arrow_bytes_in"])
        add("udf.arrow_bytes_out", sm["arrow_bytes_out"])
        add("sources.scan_s", sm["scan_s"])
        add("sources.bytes_read", sm["input_bytes"])
        add("shuffle.bytes_written", sm["shuffle_bytes"])
        add("shuffle.spill_bytes", sm["spill_bytes"])
        add("spark.task_s", sm["task_s"])
        add("spark.gc_s", sm["gc_s"])
        add("spark.jobs", sm["jobs"])
        execute_s = max(o["wall_s"] - rec["plan_s"], 1e-9)
        add("spark.slot_busy_frac", sm["task_s"] / (execute_s * cores))
    return {k: v / len(traced) for k, v in sums.items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (self-tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kgpipe")):
        print(f"kgpipe not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    cores = pin_environment(scratch, bool(args.trace))
    # SIGTERM unwinds like an error: the JVM and its Python workers are
    # stopped and waited for, and the scratch dir is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, cores, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def closed_loop(wl, spark, scratch: str, seconds: float, min_ops: int,
                tracer, deadline: float, rss) -> tuple[list[dict], int, int]:
    """Ops back to back, one client, until ``seconds`` of op time are
    measured and at least ``min_ops`` ran. Each op's outputs are gated and
    then deleted, outside its timed region. With a tracer, ops alternate
    untraced / traced after op 0 and each op's Spark jobs carry a job tag.
    Each op records the tree's peak memory so far. Returns (ops that
    completed, ops failed, ops attempted)."""
    sc = spark.sparkContext
    ops, failed, measured, i = [], 0, 0.0, 0
    while (i < min_ops or measured < seconds) and time.monotonic() < deadline:
        traced = tracer is not None and i % 2 == 1
        tag = f"perfbench-op-{i}"
        if tracer is not None:
            sc.addJobTag(tag)
            tracer.op = i if traced else None
        t, stolen, cpu = time.perf_counter(), steal_s(), tree_cpu_s()
        try:
            op = wl.run_op(spark, i, scratch)
        except Exception:
            traceback.print_exc()
            op = None
        finally:
            if tracer is not None:
                tracer.op = None
                sc.removeJobTag(tag)
        if op is None:
            failed += 1
            measured += time.perf_counter() - t
        else:
            measured += op["wall_s"]
            op["steal_s"] = steal_s() - stolen
            op["cpu_s"] = tree_cpu_s() - cpu
            op["peak_rss_mb"] = rss.peak_mb
            tg = time.perf_counter()
            try:
                gate = wl.check(spark, op)
            except Exception:
                traceback.print_exc()
                gate = {"ok": False}
            if not gate["ok"]:
                failed += 1
                print(f"op {i} failed the gold gate: {gate}", file=sys.stderr)
            op.update(gate, i=i, traced=traced, tag=tag,
                      gate_s=time.perf_counter() - tg)
            op.pop("outputs")
            ops.append(op)
        clear_outputs(scratch)
        i += 1
    return ops, failed, i


def end_to_end(workload: str, wl, good: list[dict], setup_s: float,
               rss, detail: dict) -> dict:
    walls = [o["wall_s"] for o in good]
    # The fastest op, not the median: other tenants of a shared host only
    # ever add time to an op, in bursts of seconds (the detail line has the
    # CPU time stolen from the VM during each op), and a run's few ops are
    # too few for a median to stay clear of a burst that covers two of them.
    metrics = {
        "setup_s": setup_s,
        "op_min_s": min(walls),
        # distinct gold triples committed (the gate requires each once)
        "triples_per_s": max(o["gold_triples"] / o["wall_s"] for o in good),
        # through the first MIN_OPS ops, which every run has: the JVM heap
        # keeps growing over later ops, and how many a run gets depends on
        # the host's speed
        "peak_rss_mb": good[min(MIN_OPS, len(good)) - 1]["peak_rss_mb"],
    }
    detail.update(samples=len(walls), op_walls_s=walls,
                  op_steal_s=[o["steal_s"] for o in good],
                  op_cpu_s=[o["cpu_s"] for o in good],
                  op_gate_s=[o["gate_s"] for o in good],
                  rss_at_peak_mb=rss.at_peak)
    if workload == "bulk":
        named = {"triples_per_s": metrics["triples_per_s"],
                 "turns_per_s": wl.turns / metrics["op_min_s"]}
    else:
        named = {"cold_build_s": min(o["cold_build_s"] for o in good),
                 "resume_s": min(o["resume_s"] for o in good)}
    detail["named"] = named
    return metrics


def traced_layers(workload: str, wl, tracer, sc, good: list[dict],
                  cores: int, detail: dict) -> dict:
    from tracing import spark_metrics

    traced = [o for o in good if o["traced"]]
    plain = [o for o in good if not o["traced"] and o["i"] > 0]
    if not traced or not plain:
        raise RuntimeError("traced run lost every traced or every untraced "
                           "op; see the errors above")
    spark_m = spark_metrics(sc, {o["i"]: o["tag"] for o in traced})
    metrics = layer_metrics(tracer, traced, spark_m, cores)
    metrics.update(labeler_microbench(wl))
    traced_wall = statistics.median(o["wall_s"] for o in traced)
    metrics["trace.overhead_s"] = (
        traced_wall - statistics.median(o["wall_s"] for o in plain))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces",
                             f"{workload}-s{wl.seed}.json"))
    zero = [k for k in EXPECTED_NONZERO[workload] if not metrics.get(k)]
    detail.update(layers=metrics, layer_units={**PER_LAYER_UNITS,
                                                **DETAIL_LAYER_UNITS},
                  self_time_s=tracer.self_times(),
                  ops={"traced": len(traced), "untraced": len(plain)},
                  # where a traced op's time goes: plan build against op
                  # wall, the Python UDF against executor task time
                  shares={"plan_of_op_wall": metrics["pipeline.plan_s"]
                          / traced_wall,
                          "udf_of_task_time": metrics["udf.python_run_s"]
                          / max(metrics["spark.task_s"], 1e-9)},
                  zero_counters=zero)
    return metrics


def run(args, cores: int, scratch: str) -> int:
    t_start = time.monotonic()
    trace = bool(args.trace)
    data = os.path.join(DATA, "smoke") if args.smoke else DATA
    size = SMOKE_SIZES[args.workload] if args.smoke else None
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "driver_mem": DRIVER_MEM, "loop": "closed", "clients": 1,
              "host": host_probe()}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](data, args.seed, size)
    detail.update(size=wl.size, turns=wl.turns, gen_s=time.perf_counter() - t)

    metrics: dict[str, float] = {}
    with RssSampler() as rss:
        try:
            t = time.perf_counter()
            spark = start_session(wl, scratch)
            setup_s = time.perf_counter() - t
            tracer = None
            if trace:
                from tracing import Tracer

                tracer = Tracer()
                tracer.install()
            # a traced run needs op 0 (the first after set-up, left out of
            # the overhead estimate) and two ops of each kind after it
            min_ops = 5 if trace else MIN_OPS
            ops, failed, attempted = closed_loop(
                wl, spark, scratch, args.seconds, min_ops, tracer,
                t_start + MAX_RUN_S, rss)
            good = [o for o in ops if o["ok"]]
            detail["failed_op_walls_s"] = [o["wall_s"] for o in ops
                                           if not o["ok"]]
            if trace:
                tracer.uninstall()
                metrics = traced_layers(args.workload, wl, tracer,
                                        spark.sparkContext, good, cores,
                                        detail)
        finally:
            t = time.perf_counter()
            stop_session()
            detail["teardown_s"] = time.perf_counter() - t
    if not trace and good:
        metrics = end_to_end(args.workload, wl, good, setup_s, rss, detail)
    detail.update(setup_s=setup_s, run_wall_s=time.monotonic() - t_start)

    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    correct = failed == 0 and bool(good) and not detail.get("zero_counters")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                          for k, u in units.items()}}
    print(json.dumps(detail, default=float))
    print(json.dumps(result, separators=(",", ":")))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
