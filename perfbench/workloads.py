"""Seeded inputs, operations and correctness gates of the kgpipe benchmark.

Every input is produced from the workload seed by
``kgpipe.fixtures.generator.generate`` (the planted-gold generator), written
under the benchmark's own data dir and cached by (workload, seed, size), so
the program under test only ever sees generated files. Each workload is a
closed loop with one client: ``run_op`` returns only after the op's triples
are committed, and the next op starts after that.

Correctness (``check``) runs outside the timed region: the committed
triples are read back with ``read_triples`` and scored against the planted
gold; an op passes only at precision = recall = 1.0 with no duplicate rows
in the committed table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

# Input sizes. BENCHMARK.json states the same figures in each workload's
# `why` (perfbench/selftest.py checks they agree), and each build checks
# that the generated tables have these sizes.
SIZES = {
    # ~30k turns of parquet in 15 part files
    "bulk": {"n_convs": 2500, "avg_turns": 12},
    # ~18k turns, checkpointed into 32 conv_id buckets
    "resume": {"n_convs": 1500, "avg_turns": 12},
}
# the triple key that precision and recall are scored on (as in
# kgpipe.operators.evaluate)
KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]
HOT_FRAC = 0.05  # share of turns in the one hot conversation (skew)
FORMAT_VERSION = 1  # bump when the on-disk layout of generated data changes


def _key(workload: str, seed: int, size: dict) -> str:
    blob = json.dumps({"w": workload, "seed": seed, "size": size,
                       "v": FORMAT_VERSION}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _write_parquet(df: pd.DataFrame, path: str, n_parts: int = 1) -> None:
    """Microsecond timestamps (Spark rejects TIMESTAMP(NANOS)); with
    ``n_parts > 1``, a directory of part files."""
    kw = {"index": False, "coerce_timestamps": "us",
          "allow_truncated_timestamps": True}
    if n_parts == 1:
        df.to_parquet(path, **kw)
        return
    os.makedirs(path)
    cuts = np.linspace(0, len(df), n_parts + 1).astype(int)
    for i in range(n_parts):
        df.iloc[cuts[i]:cuts[i + 1]].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), **kw)


def _write_fixture(out: str, transcripts: pd.DataFrame, cand: pd.DataFrame,
                   gold: pd.DataFrame) -> None:
    """Transcripts go to one part file per ~2k turns, as `materialize` does
    for the repo's own fixtures."""
    os.makedirs(out)
    _write_parquet(transcripts, os.path.join(out, "transcripts.parquet"),
                   max(1, len(transcripts) // 2000))
    _write_parquet(cand, os.path.join(out, "candidate_dict.parquet"))
    _write_parquet(gold, os.path.join(out, "gold_triples.parquet"))


def _cached(data_root: str, workload: str, seed: int, size: dict, build) -> str:
    """Return the dataset dir for (workload, seed, size), building it with
    ``build(tmp_dir)`` on first use. The build lands in a private temp dir
    and is renamed into place, so a killed run never leaves a half-written
    dataset that a later run would trust."""
    out = os.path.join(data_root, f"{workload}-s{seed}-{_key(workload, seed, size)}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, out)
    return out


def _generate(seed: int, size: dict) -> dict[str, pd.DataFrame]:
    from kgpipe.fixtures.generator import generate

    return generate(n_convs=size["n_convs"], seed=seed,
                    avg_turns=size["avg_turns"], hot_frac=HOT_FRAC)


def _expect_turns(n: int, size: dict) -> None:
    # generate() draws each conversation's length around avg_turns; a
    # corpus far off n_convs * avg_turns means the size was not applied
    want = size["n_convs"] * size["avg_turns"]
    if not 0.8 * want <= n <= 1.25 * want:
        raise RuntimeError(f"generated {n} turns, expected about {want}")


def _key_set(df: pd.DataFrame) -> set[tuple]:
    return set(df[KEY].astype(str).itertuples(index=False, name=None))


def _gold_ok(spark, out_dir: str, gold_path: str) -> dict:
    """Score one committed triple table against the gold: set precision and
    recall over the triple key, as ``evaluate_triples`` defines them, but
    computed here in pandas, apart from the code under test and without
    the cost of two Spark jobs per output. The gate also requires the table
    to hold each key once: a table with duplicate rows fails even at
    P = R = 1.0."""
    from kgpipe.sources.storage import read_triples

    got = read_triples(spark, out_dir).select(*KEY).toPandas()
    p, g = _key_set(got), _key_set(pd.read_parquet(gold_path, columns=KEY))
    tp = len(p & g)
    ev = {"tp": tp, "fp": len(p - g), "fn": len(g - p), "rows": len(got)}
    ev["ok"] = (tp > 0 and ev["fp"] == 0 and ev["fn"] == 0
                and ev["rows"] == tp)
    return ev


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """One benchmark workload: construction builds (or finds) its seeded
    inputs, ``run_op`` performs op ``i`` and returns its timings, and
    ``check`` gates the op's committed output against planted gold."""

    name = ""

    def __init__(self, data_root: str, seed: int, size: dict | None = None):
        self.seed = seed
        self.size = size or SIZES[self.name]
        self.data = _cached(data_root, self.name, seed, self.size, self._build)
        self.turns = self._count_turns()

    def _build(self, tmp: str) -> None:
        t = _generate(self.seed, self.size)
        _expect_turns(len(t["transcripts"]), self.size)
        _write_fixture(os.path.join(tmp, "fixture"), t["transcripts"],
                       t["candidate_dict"], t["gold_triples"])

    def _count_turns(self) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetDataset(
            os.path.join(self.fixture, "transcripts.parquet")
        ).read(columns=["turn_idx"]).num_rows

    def sample_texts(self, n: int = 4000) -> pd.Series:
        """A fixed slice of the workload's own turn texts (for the direct
        labeler / tokenizer timings of the traced run)."""
        return pd.read_parquet(
            os.path.join(self.fixture, "transcripts.parquet"),
            columns=["text"])["text"].head(n).reset_index(drop=True)

    def dictionary(self) -> pd.DataFrame:
        return pd.read_parquet(
            os.path.join(self.fixture, "candidate_dict.parquet"))

    @property
    def fixture(self) -> str:
        """The input dir of every timed op."""
        return os.path.join(self.data, "fixture")

    def run_op(self, spark, i: int, scratch: str) -> dict:
        return self.op(spark, os.path.join(scratch, f"op{i}"))

    def op(self, spark, out: str) -> dict:
        """One op over the workload's input, writing under the path prefix
        ``out`` (set-up runs one, untimed, as its warm-up)."""
        from kgpipe.pipeline import run_from_dir
        from kgpipe.sources.storage import write_triples

        fixture = self.fixture
        t0 = time.perf_counter()
        write_triples(run_from_dir(spark, fixture)["triples"], out)
        return {"wall_s": time.perf_counter() - t0,
                "outputs": [(out, os.path.join(
                    fixture, "gold_triples.parquet"))]}

    def check(self, spark, op: dict) -> dict:
        """Gate every committed output of the op; bytes are measured here,
        outside the timed region. ``gold_triples`` is the number of
        distinct gold triples the op committed, summed over its outputs:
        the count that ``triples_per_s`` divides by op time."""
        res = {"ok": True, "bytes_written": 0, "gold_triples": 0}
        for out_dir, gold in op["outputs"]:
            ev = _gold_ok(spark, out_dir, gold)
            res["bytes_written"] += dir_bytes(out_dir)
            res["gold_triples"] += ev["tp"]
            if not ev["ok"]:
                res["ok"] = False
                res["eval"] = {k: ev[k] for k in ("tp", "fp", "fn", "rows")}
        return res


class Bulk(Workload):
    """The paper's throughput case: one op is ``run_from_dir`` over the
    whole parquet corpus, then ``write_triples``."""

    name = "bulk"


class Resume(Workload):
    """Checkpointed runs: one op is ``run_pipeline_checkpointed`` into a
    fresh run dir plus ``write_triples`` (the cold build), then the same
    call on the same dir plus ``write_triples`` (the resume)."""

    name = "resume"

    def op(self, spark, out: str) -> dict:
        from kgpipe.pipeline import run_pipeline_checkpointed
        from kgpipe.sources.storage import write_triples

        fixture = self.fixture
        gold = os.path.join(fixture, "gold_triples.parquet")
        run_dir, cold_out, warm_out = (f"{out}-run", f"{out}-cold",
                                       f"{out}-resume")
        t0 = time.perf_counter()
        write_triples(
            run_pipeline_checkpointed(spark, fixture, run_dir)["triples"],
            cold_out)
        t1 = time.perf_counter()
        write_triples(
            run_pipeline_checkpointed(spark, fixture, run_dir)["triples"],
            warm_out)
        t2 = time.perf_counter()
        return {"wall_s": t2 - t0, "cold_build_s": t1 - t0,
                "resume_s": t2 - t1, "run_dir": run_dir,
                "outputs": [(cold_out, gold), (warm_out, gold)]}

    def check(self, spark, op: dict) -> dict:
        res = super().check(spark, op)
        res["checkpoint_bytes"] = dir_bytes(op["run_dir"])
        return res


WORKLOADS = {w.name: w for w in (Bulk, Resume)}
