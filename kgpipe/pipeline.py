"""End-to-end KG-construction pipeline (BASELINE.json north_rule).

scan -> stable order -> CRF-style labeling (Arrow UDF) -> mention explode ->
broadcast entity linking -> turn-window triple extraction (window functions)
-> similarity-join + connected-components canonicalization -> triples.

Every stage is a DataFrame-in/DataFrame-out function so stages can be
checkpointed and resumed independently (operators/checkpoint.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, MutableMapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe.operators.canon import (
    build_canon_map,
    build_canon_map_local,
    canonicalize,
)
from kgpipe.operators.labeler import label_transcripts
from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
from kgpipe.operators.mentions import extract_mentions
from kgpipe.operators.relations import extract_triples, extract_triples_fused
from kgpipe.schemas import TRANSCRIPTS


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """A1 scan: schema-enforced read; column pruning/pushdown via Catalyst.

    Deliberately NO repartition here: a blanket rebalance-to-all-cores
    shuffles the full text corpus before any work, and A/B runs on the
    gazetteer pipeline at sf0.1 measured it as a pure loss (13-17s
    without vs 23-61s with at local[32] — the extra shuffle plus this
    host's >8-busy-thread contention). The one stage that genuinely
    needs input parallelism — the trained-perceptron Arrow UDF, ~13x
    the per-row cost of the gazetteer decoder — rebalances its own
    input in ``label_transcripts_trained``. At real scale neither path
    repartitions: a 10^12-turn table scans as orders of magnitude more
    splits than executors."""
    return spark.read.schema(TRANSCRIPTS).parquet(path)


def locate_transcripts(fixture_dir: str) -> str:
    """First transcripts file present in the fixture dir, by format
    preference: parquet (pruning+pushdown fast path), then the dump
    formats logs arrive in (sources/transcripts.py reads any of them
    schema-enforced). Shared by BOTH fixture-dir entry points so the
    ingestion surface cannot silently differ between the plain and the
    checkpointed pipeline.

    Raises ``FileNotFoundError`` naming every probed path when none
    exists."""
    probed = [os.path.join(fixture_dir, f"transcripts.{ext}")
              for ext in ("parquet", "jsonl", "csv")]
    for p in probed:
        if os.path.exists(p):
            return p
    raise FileNotFoundError(
        f"no transcripts in {fixture_dir}: probed {', '.join(probed)}")


def salt(df: DataFrame, n_salts: int = 8) -> DataFrame:
    """A2: split hot conversations across tasks for grouped stages
    (BASELINE.json: "salted by conv_id to tame skew")."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salts))
    )


# above this many dictionary rows the canon map is built with the
# distributed similarity-join + CC path; below it, driver-side (the dict is
# broadcast-sized by construction, so the iterative DataFrame CC would pay
# seconds of driver-loop job latency to compute milliseconds of work)
LOCAL_CANON_MAX_DICT = 200_000


def canon_map_for(spark: SparkSession, candidate_dict: pd.DataFrame,
                  dict_df: DataFrame, cc_algo: str = "two_phase") -> DataFrame:
    if len(candidate_dict) > LOCAL_CANON_MAX_DICT:
        return build_canon_map(dict_df, algo=cc_algo)
    pdf = build_canon_map_local(candidate_dict)
    return spark.createDataFrame(
        pdf, schema="entity_id string, canonical_id string")


class LazyFrames(MutableMapping):
    """Pipeline outputs by name; a name defined with a builder is built on
    first access and then kept. Membership tests and ``keys()`` do not
    build anything."""

    def __init__(self) -> None:
        self._built: dict[str, DataFrame] = {}
        self._builders: dict[str, Callable[[], DataFrame]] = {}

    def define(self, name: str, build: Callable[[], DataFrame]) -> None:
        self._builders[name] = build

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            if name not in self._builders:
                raise KeyError(name)
            self._built[name] = self._builders.pop(name)()
        return self._built[name]

    def __setitem__(self, name: str, df: DataFrame) -> None:
        self._builders.pop(name, None)
        self._built[name] = df

    def __delitem__(self, name: str) -> None:
        if name in self._built:
            del self._built[name]
        else:
            del self._builders[name]

    def __contains__(self, name: object) -> bool:
        return name in self._built or name in self._builders

    def __iter__(self) -> Iterator[str]:
        yield from list(self._built)
        yield from list(self._builders)

    def __len__(self) -> int:
        return len(self._built) + len(self._builders)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    candidate_dict: pd.DataFrame,
    window: int = 3,
    cc_algo: str = "two_phase",
    predicates=None,
    labeler_model=None,
    extractor: str = "fused",
) -> LazyFrames:
    """Build the pipeline plan over ``transcripts``; returns its named
    DataFrames (all lazy: no Spark action runs here).

    ``labeler_model``: optional ``TrainedLabeler`` (operators/train.py) —
    when given, labeling uses the learned perceptron weights instead of
    the hand-weighted gazetteer decoder; every downstream stage is
    identical (same spans schema).

    ``extractor``: ``"fused"`` (default) extracts triples via the
    narrow-shuffle turn-digest path (operators/relations.py:
    turn_digests — the conv_id window shuffles ~50-byte per-turn rows
    instead of per-mention rows carrying the full text: measured at
    sf0.1, total shuffle write 12.8 -> 6.2 MB and executor CPU -40%
    for identical output; the factor grows with turn length at real
    transcript scale);
    ``"exploded"`` is the window-over-mentions reference plan. Output
    equality between the two is pinned by tests/test_relations_fused.py.

    Return contract: a ``LazyFrames`` mapping with the keys ``triples``
    (the product output), ``canon_map``, ``labeled``, ``mentions``,
    ``linked`` and ``raw_triples`` (pre-canonicalization). ``triples`` and
    ``canon_map`` are built here; the others are built on first access
    (``out["linked"]``), so a product run pays driver-side plan build for
    the product plan only. On the fused small-dictionary path
    ``raw_triples`` is an INDEPENDENT plan from ``triples`` — they share
    no subtree, so evaluating both runs the corpus scan + inline labeling
    twice. Consumers that need both should evaluate ``triples`` and derive
    the raw view from the exploded intermediates instead. The mapping
    accepts assignment, e.g. ``out["gold"] = ...``.
    """
    out = LazyFrames()
    if labeler_model is not None:
        from kgpipe.operators.train import label_transcripts_trained

        out.define("labeled", lambda: label_transcripts_trained(
            spark, transcripts, labeler_model, candidate_dict))
    else:
        out.define("labeled", lambda: label_transcripts(
            spark, transcripts, candidate_dict))
    out.define("mentions", lambda: extract_mentions(out["labeled"]))
    # no persist anywhere: with the window-free top-1 linker and the
    # single-pass triple extractor, every intermediate is referenced exactly
    # once, so the plan is one straight pipeline (scan -> Arrow UDF ->
    # explode -> broadcast join -> one conv_id window -> broadcast join ->
    # dedup). Block-manager persists measurably ANTI-scaled at high core
    # counts (MemoryStore unroll contention: 46s vs 16s to build the same
    # 2.8M-row stage at local[32]).
    out.define("linked", lambda: link_entities(
        out["mentions"], dict_to_df(spark, top1_dict(candidate_dict)),
        k=1, ranked=False))
    # eager on every path (one small createDataFrame); the
    # large-dictionary canon map is built from it
    dict_df = dict_to_df(spark, candidate_dict)
    if extractor == "fused":
        # Labeling runs INSIDE the digest UDF on the product path: the
        # labeled->digest two-UDF chain cannot be merged by Spark
        # (dependent Python UDFs), so it ships every turn's text across
        # the JVM<->Python boundary twice and the span structs back in
        # between. Inline = one ArrowEvalPython, half the Arrow traffic.
        # The trained path keeps its under-partitioned-input rebalance
        # (the perceptron decode is ~13x the gazetteer's per-row cost).
        inline_src = transcripts
        if labeler_model is not None:
            parallelism = spark.sparkContext.defaultParallelism
            if inline_src.rdd.getNumPartitions() < parallelism:
                inline_src = inline_src.repartition(parallelism)
        inline_mode = "gaz" if labeler_model is None else "trained"
        out.define("raw_triples", lambda: extract_triples_fused(
            spark, inline_src, candidate_dict, window=window,
            predicates=predicates, inline_labeler=inline_mode,
            model=labeler_model))
    else:
        out.define("raw_triples", lambda: extract_triples(
            spark, out["linked"], window=window, predicates=predicates))
    if extractor == "fused" and len(candidate_dict) <= LOCAL_CANON_MAX_DICT:
        # single-shuffle product path: the canon map (driver-side,
        # dict-derived, broadcast-sized by construction) is composed
        # into the digest UDF's link map and dedup happens per turn —
        # the generic canonicalize stage's two broadcast joins and
        # corpus-scale dedup exchange vanish.
        canon_pdf = build_canon_map_local(candidate_dict)
        canon_d = dict(zip(canon_pdf["entity_id"],
                           canon_pdf["canonical_id"]))
        out["triples"] = extract_triples_fused(
            spark, inline_src, candidate_dict, window=window,
            predicates=predicates, canon=canon_d, dedup=True,
            inline_labeler=inline_mode, model=labeler_model)
        out["canon_map"] = spark.createDataFrame(
            canon_pdf, schema="entity_id string, canonical_id string")
    else:
        out["canon_map"] = canon_map_for(spark, candidate_dict, dict_df,
                                         cc_algo)
        out["triples"] = canonicalize(out["raw_triples"], out["canon_map"])
    return out


def run_pipeline_checkpointed(
    spark: SparkSession,
    fixture_dir: str,
    run_dir: str,
    window: int = 3,
    n_buckets: int = 32,
    cc_algo: str = "two_phase",
    predicates=None,
    labeler_model=None,
    stage_layout: str = "digests",
) -> dict[str, object]:
    """A14 resumable run: conv_id-bucketed stages with per-bucket lineage
    manifests (operators/checkpoint.py). Re-invoking with the same
    ``run_dir`` + unchanged input skips every completed bucket; a run
    interrupted mid-stage resumes from the last durably-committed bucket.

    Two durable-stage layouts, both conv_id-bucket-resumable:

    * ``stage_layout="linked"``: stages the EXPLODED ``linked``
      intermediate — the durable cut between labeling and extraction makes
      the expensive Arrow-UDF labeling stage independently resumable, and
      the staged table doubles as the mentions product. The cost is that
      the staged rows carry the full turn text (the wide form the fused
      product plan eliminated).
    * ``stage_layout="digests"`` (default — the product economics): stages
      the FUSED per-turn digests
      (operators/relations.py turn_digests, labeling inlined) — the
      durable tables are the ~50-byte narrow rows, so the resumable path
      keeps the single-shuffle product economics end to end: stage 1 is
      scan -> one ArrowEvalPython -> narrow bucket write (labeling still
      independently resumable, at bucket granularity), stage 2 is the
      narrow window + per-turn dedup. Canonical ids are composed into the
      digest link map (small-dict product path), so no canonicalize stage
      exists to checkpoint. Requires len(candidate_dict) <=
      LOCAL_CANON_MAX_DICT; larger dictionaries fall back to "linked"
      (the composed-canon trick needs the driver-side map).

    Output parity across layouts and with the plain paths holds because
    fused == exploded is pinned by tests/test_relations_fused.py and
    full == checkpointed (both layouts) by tests/test_checkpoint.py.

    Stage fingerprints chain (fp_{k+1} = h(fp_k, params)): the pipeline is
    deterministic, so a stage's output is fully determined by its input
    fingerprint — no re-stat of intermediate files needed, and any change
    to the source input invalidates every downstream stage transitively.
    """
    import hashlib

    from kgpipe.operators.checkpoint import CheckpointedRun, input_fingerprint

    from kgpipe.sources.transcripts import read_transcripts_any

    tpath = locate_transcripts(fixture_dir)
    dpath = os.path.join(fixture_dir, "candidate_dict.parquet")
    transcripts = read_transcripts_any(spark, tpath)
    candidate_dict = pd.read_parquet(dpath)
    dict_df = dict_to_df(spark, candidate_dict)

    from kgpipe.predicates import predicates_dict

    pred_map = predicates_dict(predicates)
    # the predicate table is stage config: changing it must invalidate the
    # raw_triples checkpoint (and transitively everything downstream)
    pred_fp = hashlib.sha256(
        repr(sorted(pred_map.items())).encode()).hexdigest()[:8]
    # the labeler weights are stage-1 config: a different trained model (or
    # switching gazetteer<->trained) must invalidate the linked checkpoint
    model_fp = (
        hashlib.sha256(labeler_model.W.tobytes()
                       + labeler_model.trans.tobytes()).hexdigest()[:8]
        if labeler_model is not None else "gazetteer"
    )

    if stage_layout == "digests" and len(candidate_dict) > LOCAL_CANON_MAX_DICT:
        import warnings

        warnings.warn(
            f"stage_layout='digests' needs a broadcastable dictionary "
            f"(<= {LOCAL_CANON_MAX_DICT} rows; got {len(candidate_dict)}) — "
            f"falling back to the 'linked' layout", stacklevel=2)
        stage_layout = "linked"

    run = CheckpointedRun(spark, run_dir)

    if stage_layout == "digests":
        from kgpipe.operators.relations import (
            triples_from_digests,
            turn_digests,
        )

        canon_pdf = build_canon_map_local(candidate_dict)
        canon_d = dict(zip(canon_pdf["entity_id"], canon_pdf["canonical_id"]))
        inline_mode = "gaz" if labeler_model is None else "trained"
        # digests depend on the dictionary+canon (both derived from dpath),
        # the predicate table (first_pred/intra matching happens inside the
        # digest UDF) and the labeler weights — but NOT on the turn window
        fpd1 = input_fingerprint(
            [tpath, dpath],
            {"stage": "digests", "v": 1, "labeler": model_fp, "p": pred_fp})
        fpd2 = hashlib.sha256(
            f"{fpd1}|triples|w={window}|v=1".encode()).hexdigest()[:16]

        def _digests(df: DataFrame) -> DataFrame:
            src = df
            if labeler_model is not None:
                parallelism = spark.sparkContext.defaultParallelism
                if src.rdd.getNumPartitions() < parallelism:
                    src = src.repartition(parallelism)
            return turn_digests(
                spark, src, candidate_dict, predicates=pred_map,
                canon=canon_d, inline_labeler=inline_mode,
                model=labeler_model)

        s1 = run.stage("digests", transcripts, _digests,
                       n_buckets=n_buckets, fingerprint=fpd1)
        # the window partitions by conv_id, so triples are bucket-local too
        s2 = run.stage(
            "triples", s1.df,
            lambda df: triples_from_digests(df, window=window, dedup=True),
            n_buckets=n_buckets, fingerprint=fpd2)
        canon_map = spark.createDataFrame(
            canon_pdf, schema="entity_id string, canonical_id string")
        run.write_metrics()
        return {"triples": s2.df, "digests": s1.df, "canon_map": canon_map,
                "metrics": run.metrics, "run": run}

    fp1 = input_fingerprint(
        [tpath, dpath], {"stage": "linked", "v": 1, "labeler": model_fp})
    fp2 = hashlib.sha256(
        f"{fp1}|raw_triples|w={window}|p={pred_fp}|v=1".encode()
    ).hexdigest()[:16]
    fp3 = hashlib.sha256(f"{fp2}|triples|cc={cc_algo}|v=1".encode()).hexdigest()[:16]

    top1_df = dict_to_df(spark, top1_dict(candidate_dict))
    def _label(df: DataFrame) -> DataFrame:
        if labeler_model is not None:
            from kgpipe.operators.train import label_transcripts_trained

            return label_transcripts_trained(
                spark, df, labeler_model, candidate_dict)
        return label_transcripts(spark, df, candidate_dict)

    s1 = run.stage(
        "linked", transcripts,
        lambda df: link_entities(
            extract_mentions(_label(df)), top1_df, k=1, ranked=False),
        n_buckets=n_buckets, fingerprint=fp1)
    s2 = run.stage(
        "raw_triples", s1.df,
        lambda df: extract_triples(spark, df, window=window,
                                   predicates=pred_map),
        n_buckets=n_buckets, fingerprint=fp2)
    canon_map = canon_map_for(spark, candidate_dict, dict_df, cc_algo)
    s3 = run.stage(
        "triples", s2.df,
        lambda df: canonicalize(df, canon_map),
        n_buckets=n_buckets, fingerprint=fp3)
    run.write_metrics()
    return {"triples": s3.df, "linked": s1.df, "raw_triples": s2.df,
            "metrics": run.metrics, "run": run}


def fit_labeler(spark: SparkSession, fixture_dir: str,
                candidate_dict: pd.DataFrame, train_sample: int = 2000):
    """Fit the structured perceptron (operators/train.py) driver-side on a
    bounded sample of the fixture dir's transcripts, in whichever format
    ``locate_transcripts`` finds."""
    from kgpipe.operators.train import fit_perceptron, sample_texts
    from kgpipe.sources.transcripts import read_transcripts_any

    tpath = locate_transcripts(fixture_dir)
    if tpath.endswith(".parquet"):
        sample = sample_texts(tpath, train_sample)
    else:
        # text formats lack parquet's metadata row count / row-take, so
        # sample via Spark: the n smallest rows by a content hash — a
        # deterministic uniform draw with NO head bias (sample(frac)
        # .limit(n) trims in partition order, i.e. a head; and frac
        # capped at 1.0 degenerates to a bare head-take). Spark plans
        # orderBy+limit as TakeOrderedAndProject: per-partition top-K
        # heaps + a driver merge of K rows, not a full sort.
        sample = (read_transcripts_any(spark, tpath)
                  .select("text",
                          F.xxhash64("conv_id", "turn_idx", "text")
                          .alias("_h"))
                  .orderBy("_h").limit(train_sample)
                  .toPandas()["text"])
    return fit_perceptron(sample, candidate_dict)


def run_from_dir(spark: SparkSession, fixture_dir: str,
                 window: int = 3, predicates=None,
                 trained: bool = False,
                 train_sample: int = 2000,
                 cc_algo: str = "two_phase") -> LazyFrames:
    """Run the pipeline over a fixture directory (transcripts.parquet,
    .jsonl or .csv + candidate_dict.parquet [+ gold_triples.parquet]
    [+ predicates.parquet: a (phrase, pred) table overriding the default
    predicate config]). Returns ``run_pipeline``'s mapping, plus ``gold``
    when the dir has a gold table.

    ``trained=True`` fits the structured perceptron on a bounded sample of
    the input (driver-side, weights broadcast) and labels with it instead
    of the hand-weighted gazetteer decoder.
    """
    from kgpipe.predicates import load_predicates

    # transcripts may arrive as parquet (the fast path: pruning+pushdown)
    # or as the dump formats conversation logs ship in (JSONL, CSV) —
    # first match wins, schema-enforced either way
    from kgpipe.sources.transcripts import read_transcripts_any

    transcripts = read_transcripts_any(spark, locate_transcripts(fixture_dir))
    candidate_dict = pd.read_parquet(
        os.path.join(fixture_dir, "candidate_dict.parquet"))
    if predicates is None:
        ppath = os.path.join(fixture_dir, "predicates.parquet")
        predicates = load_predicates(ppath) if os.path.exists(ppath) else None
    model = None
    if trained:
        model = fit_labeler(spark, fixture_dir, candidate_dict, train_sample)
    out = run_pipeline(spark, transcripts, candidate_dict, window=window,
                       cc_algo=cc_algo, predicates=predicates,
                       labeler_model=model)
    gold_path = os.path.join(fixture_dir, "gold_triples.parquet")
    if os.path.exists(gold_path):
        out["gold"] = spark.read.parquet(gold_path)
    return out
