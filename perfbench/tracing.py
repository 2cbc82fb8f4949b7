"""Tracing for the benchmark's traced runs, from outside the program.

Spans go around calls into each ``kgpipe`` layer by wrapping the public
functions; Spark's own counters come from the status REST API (the UI is
on in traced runs). Nothing under ``kgpipe/`` changes.

A name that a module imported at its top (``from kgpipe.operators.linker
import dict_to_df`` in ``kgpipe.pipeline``) is a second binding of the same
function object, so a wrapper on the defining module alone never sees
those calls: ``install`` replaces every binding of the original in every
loaded ``kgpipe`` module.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
import urllib.request
from collections import Counter

# (layer, defining module, function or Class.method). The layer is the
# module's short name; an entry whose name a later kgpipe no longer
# defines is skipped, and the expected-counter check then fails the run.
TARGETS = [
    ("pipeline", "kgpipe.pipeline",
     ["run_from_dir", "run_pipeline", "run_pipeline_checkpointed"]),
    ("sources", "kgpipe.sources.transcripts", ["read_transcripts_any"]),
    ("labeler", "kgpipe.operators.labeler",
     ["build_gazetteer", "label_transcripts"]),
    ("relations", "kgpipe.operators.relations",
     ["turn_digests", "extract_triples_fused", "triples_from_digests",
      "extract_triples"]),
    ("linker", "kgpipe.operators.linker",
     ["dict_to_df", "top1_dict", "link_entities"]),
    ("mentions", "kgpipe.operators.mentions", ["extract_mentions"]),
    ("canon", "kgpipe.operators.canon",
     ["build_canon_map", "build_canon_map_local", "canonicalize"]),
    ("checkpoint", "kgpipe.operators.checkpoint",
     ["input_fingerprint", "CheckpointedRun.stage"]),
    ("storage", "kgpipe.sources.storage", ["write_triples", "_commit_snapshot"]),
]
# the entry calls: their time outside `checkpoint.stage` (the only layer
# that runs Spark actions inside an entry call) is driver-side plan build
ENTRY = {"pipeline.run_from_dir", "pipeline.run_pipeline",
         "pipeline.run_pipeline_checkpointed"}
ACTION_SPANS = {"checkpoint.CheckpointedRun.stage"}


class Tracer:
    """In-memory span recorder. Spans are ``[name, start, end, parent,
    op]`` (perf_counter seconds); per-span extras (bucket counts, merged
    ids) land in ``extra`` keyed by span index."""

    def __init__(self):
        self.spans: list[list] = []
        self.extra: dict[int, dict] = {}
        self.stack: list[int] = []
        self.op: int | None = None  # traced op id; None = tracing off
        self.py4j: Counter = Counter()  # op -> py4j commands during plan build
        self._undo: list[tuple] = []

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            sid = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else None
            span = [name, time.perf_counter(), None, parent, tracer.op]
            tracer.spans.append(span)
            tracer.stack.append(sid)
            try:
                result = fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                tracer.stack.pop()
            tracer._note(sid, name, result)
            return result

        return wrapper

    def _note(self, sid: int, name: str, result) -> None:
        if name == "checkpoint.CheckpointedRun.stage":
            self.extra[sid] = {"computed": len(result.computed_buckets),
                               "skipped": len(result.skipped_buckets)}
        elif name == "canon.build_canon_map_local":
            self.extra[sid] = {"merged": len(result)}

    def in_plan(self) -> bool:
        """Inside an entry call but not inside a span that runs actions."""
        names = [self.spans[s][0] for s in self.stack]
        return any(n in ENTRY for n in names) and not any(
            n in ACTION_SPANS for n in names)

    def install(self) -> None:
        """Wrap every target in every loaded kgpipe module that binds it,
        and count the py4j commands sent during plan build."""
        for layer, modname, names in TARGETS:
            mod = importlib.import_module(modname)
            for qual in names:
                owner, attr = mod, qual
                if "." in qual:
                    cls, attr = qual.split(".")
                    owner = getattr(mod, cls, None)
                orig = getattr(owner, attr, None) if owner else None
                if orig is None:
                    continue
                wrapped = self._wrap(f"{layer}.{qual}", orig)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith("kgpipe"):
                        continue
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._undo.append((m, k, orig))
                            setattr(m, k, wrapped)
                if owner is not mod:
                    self._undo.append((owner, attr, orig))
                    setattr(owner, attr, wrapped)
        self._count_py4j()

    def _count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command
            tracer = self

            def send_command(conn, command, *a, _orig=orig, **k):
                if tracer.op is not None and tracer.in_plan():
                    tracer.py4j[tracer.op] += 1
                return _orig(conn, command, *a, **k)

            self._undo.append((cls, "send_command", orig))
            cls.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries ----------------------------------------------------------
    def per_op(self, ops: list[int]) -> dict[int, dict]:
        """Per traced op: total time and calls per span name, entry plan
        time, and the extras."""
        out = {op: {"time": Counter(), "calls": Counter(), "plan_s": 0.0,
                    "computed": 0, "skipped": 0, "merged": 0,
                    "py4j": self.py4j[op]} for op in ops}
        children: dict[int, list[int]] = {}
        for sid, (_, _, _, parent, _) in enumerate(self.spans):
            if parent is not None:
                children.setdefault(parent, []).append(sid)

        def action_time(sid: int) -> float:
            t = 0.0
            for c in children.get(sid, []):
                name, s, e = self.spans[c][:3]
                t += (e - s) if name in ACTION_SPANS else action_time(c)
            return t

        for sid, (name, s, e, parent, op) in enumerate(self.spans):
            if op not in out:
                continue
            rec = out[op]
            rec["time"][name] += e - s
            rec["calls"][name] += 1
            if name in ENTRY and parent is None:
                rec["plan_s"] += (e - s) - action_time(sid)
            for k, v in self.extra.get(sid, {}).items():
                # bucket counts add up over stages; each canon-map build
                # of an op sees the same dictionary
                rec[k] = max(rec[k], v) if k == "merged" else rec[k] + v
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per span name over all traced ops: the span minus the
        part of it that its child spans cover."""
        child_t: Counter = Counter()
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                child_t[parent] += e - s
        out: Counter = Counter()
        for sid, (name, s, e, _, _) in enumerate(self.spans):
            out[name] += (e - s) - child_t[sid]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans,
                       "extra": {str(k): v for k, v in self.extra.items()}},
                      f)


# -- Spark status REST API ----------------------------------------------------
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4}
_NUM = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """A SQL-metric string as a number (seconds for times, bytes for
    sizes): ``'2.1 s'``, ``'13.1 KiB'``, ``'266'`` or the multi-task form
    ``'total (min, med, max ...)\\n4.9 KiB (...)'``."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2) or "", 1.0)


def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_metrics(sc, op_tags: dict[int, str]) -> dict[int, dict]:
    """Per op (by job tag): job count and summed stage and SQL-operator
    metrics. Waits for the listener bus to deliver every tagged job
    first."""
    deadline = time.monotonic() + 20
    while True:
        jobs = _get(sc, "/jobs")
        pending = [j for j in jobs if j["status"] == "RUNNING"]
        seen = {t for j in jobs for t in j.get("jobTags", [])}
        if (not pending and set(op_tags.values()) <= seen) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _get(sc, "/stages?status=complete")}
    sql = _get(sc, "/sql?details=true&planDescription=false"
                   "&offset=0&length=100000")
    out = {}
    for op, tag in op_tags.items():
        mine = [j for j in jobs if tag in j.get("jobTags", [])]
        job_ids = {j["jobId"] for j in mine}
        stage_ids = {s for j in mine for s in j["stageIds"]} & stages.keys()
        st = [stages[s] for s in stage_ids]
        rec = {
            "jobs": len(mine),
            "task_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in st),
            "input_bytes": sum(s["inputBytes"] for s in st),
        }
        sqlm: Counter = Counter()
        for ex in sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                nm = node["nodeName"]
                for m in node.get("metrics", []):
                    if nm == "ArrowEvalPython" or nm.startswith("Scan "):
                        key = "scan" if nm.startswith("Scan ") else "udf"
                        sqlm[f"{key}:{m['name']}"] += metric_value(m["value"])
        rec["python_run_s"] = sqlm["udf:time to run Python workers"]
        rec["python_start_s"] = sqlm["udf:time to start Python workers"]
        rec["arrow_bytes_out"] = sqlm["udf:data sent to Python workers"]
        rec["arrow_bytes_in"] = sqlm["udf:data returned from Python workers"]
        rec["scan_s"] = sqlm["scan:scan time"]
        rec["scan_bytes"] = sqlm["scan:size of files read"]
        out[op] = rec
    return out
