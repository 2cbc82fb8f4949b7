import pandas as pd

from kgpipe.operators.labeler import (
    build_gazetteer,
    build_transitions,
    label_texts,
)

DICT = pd.DataFrame(
    {
        "alias": ["acme corp", "acme", "alice womack", "port zephyr"],
        "entity_id": ["org1", "org1", "per1", "pl1"],
        "prior": [0.9, 0.6, 0.9, 0.9],
        "ent_class": ["ORG", "ORG", "PER", "PLACE"],
    }
)


def _spans(texts):
    gaz = build_gazetteer(DICT)
    trans = build_transitions()
    return label_texts(pd.Series(texts), gaz, trans)


def test_longest_match_wins():
    sp = _spans(["Alice Womack works at Acme Corp ."])
    got = [(s, e, c) for s, e, c, _ in sp.iloc[0]]
    assert got == [(0, 12, "PER"), (22, 31, "ORG")]


def test_case_insensitive():
    sp = _spans(["ACME CORP released it", "acme corp too"])
    assert [(c, s, e) for s, e, c, _ in sp.iloc[0]] == [("ORG", 0, 9)]
    assert [(c, s, e) for s, e, c, _ in sp.iloc[1]] == [("ORG", 0, 9)]


def test_unigram_alias_alone():
    sp = _spans(["we should ask acme about this"])
    got = sp.iloc[0]
    assert len(got) == 1 and got[0][2] == "ORG"
    assert (got[0][0], got[0][1]) == (14, 18)


def test_capitalization_alone_never_opens_span():
    sp = _spans(["Random Capitalized Words here", "nothing"])
    assert sp.iloc[0] == [] and sp.iloc[1] == []


def test_whitespace_noise():
    txt = "Acme  Corp released it"  # doubled space inside the mention
    sp = _spans([txt])
    # normalized n-gram still matches; offsets cover the raw surface
    assert len(sp.iloc[0]) == 1
    s, e, c, _ = sp.iloc[0][0]
    assert txt[s:e] == "Acme  Corp" and c == "ORG"


def test_empty_batch():
    assert list(_spans(["", None])) == [[], []]


def test_packed_path_equals_direct_udf_path(spark, unit_fixture_dir):
    """label_transcripts ships spans as packed strings rebuilt JVM-side;
    this must equal the direct SPANS_ARRAY UDF row-for-row (the docstring
    claims it — pin it, don't imply it via e2e P/R)."""
    import os

    from pyspark.sql import functions as F

    from kgpipe.operators.labeler import label_transcripts, make_labeler_udf
    from kgpipe.pipeline import read_transcripts

    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))

    packed = label_transcripts(spark, t, cd).select(
        "conv_id", "turn_idx", "spans")
    direct_udf = make_labeler_udf(spark, cd, packed=False)
    direct = t.select(
        "conv_id", "turn_idx", direct_udf(F.col("text")).alias("spans"))

    def rows(df):
        return {
            (r.conv_id, r.turn_idx,
             tuple((s.start, s.end, s.ent_type, s.score) for s in r.spans))
            for r in df.collect()
        }

    assert rows(packed) == rows(direct)


def _per_alias_gazetteer(candidate_dict):
    """Reference builder: one hash_array call per alias, a dict per token
    length (last class wins), sorted keys. The vectorized build_gazetteer
    must reproduce it bit for bit."""
    import numpy as np

    from kgpipe.operators.labeler import MAX_ALIAS_TOKENS, _fold_hashes
    from kgpipe.schemas import ENT_CLASSES

    cls_idx = {c: i for i, c in enumerate(ENT_CLASSES)}
    by_len = {}
    for alias, cls in zip(candidate_dict["alias"],
                          candidate_dict["ent_class"]):
        toks = alias.split()
        if not toks or len(toks) > MAX_ALIAS_TOKENS:
            continue
        th = pd.util.hash_array(np.array(toks, dtype=object))
        h = _fold_hashes(th, len(toks), 1)[0]
        by_len.setdefault(len(toks), []).append((int(h), cls_idx[cls]))
    gaz = {}
    for ln, pairs in by_len.items():
        dedup = dict(pairs)
        keys = np.fromiter(dedup.keys(), dtype=np.uint64, count=len(dedup))
        vals = np.fromiter(dedup.values(), dtype=np.int8, count=len(dedup))
        order = np.argsort(keys)
        gaz[ln] = (keys[order], vals[order])
    return gaz


def _random_dict(seed: int) -> pd.DataFrame:
    """Aliases of 1-6 tokens (so some exceed MAX_ALIAS_TOKENS) over a small
    vocabulary, with repeats that carry a different class, odd whitespace
    and an all-blank alias."""
    import random

    from kgpipe.schemas import ENT_CLASSES

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)] + ["acme", "zephyr", "é", "ß"]
    aliases = [" ".join(rng.choice(vocab) for _ in range(rng.randint(1, 6)))
               for _ in range(300)]
    aliases += [rng.choice(aliases) for _ in range(120)]  # duplicates
    aliases += ["  acme\tcorp ", "   "]
    rng.shuffle(aliases)
    return pd.DataFrame({
        "alias": aliases,
        "ent_class": [rng.choice(ENT_CLASSES) for _ in aliases],
    })


def test_vectorized_gazetteer_equals_per_alias_builder(unit_fixture_dir):
    import os

    import numpy as np

    dicts = [_random_dict(s) for s in range(8)] + [
        DICT, pd.read_parquet(os.path.join(unit_fixture_dir,
                                           "candidate_dict.parquet"))]
    for cd in dicts:
        want = _per_alias_gazetteer(cd)
        got = build_gazetteer(cd)
        assert list(got) == list(want)  # same lengths, same order
        for ln, (keys, vals) in want.items():
            g_keys, g_vals = got[ln]
            assert g_keys.dtype == keys.dtype and g_vals.dtype == vals.dtype
            assert np.array_equal(g_keys, keys)
            assert np.array_equal(g_vals, vals)
    # the generated dictionaries exercise every branch of the builder
    cd = dicts[0]
    n_tok = cd["alias"].str.split().str.len()
    assert (n_tok == 1).any() and (n_tok > 4).any()
    dup = cd[cd["alias"].duplicated(keep=False)]
    assert (dup.groupby("alias")["ent_class"].nunique() > 1).any()
    assert build_gazetteer(DICT.iloc[:0]) == {}
