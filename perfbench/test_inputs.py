"""Checks of the benchmark's input generator (numpy only, no Spark).

    python3 -m pytest perfbench/test_inputs.py -q
"""

import hashlib
import os
import sys
from itertools import islice

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs as I  # noqa: E402
import workloads as W  # noqa: E402


def _digest(obj, h=None):
    h = h or hashlib.sha256()
    if isinstance(obj, dict):
        for k in sorted(obj, key=str):
            h.update(repr(k).encode())
            _digest(obj[k], h)
    elif isinstance(obj, (list, tuple)):
        h.update(f"[{len(obj)}".encode())
        for v in obj:
            _digest(v, h)
    elif isinstance(obj, np.ndarray):
        h.update(str(obj.dtype).encode() + repr(obj.shape).encode() + obj.tobytes())
    elif isinstance(obj, bytes):
        h.update(obj)
    else:
        h.update(repr(obj).encode())
    return h.hexdigest()


N_BATCHES = 4


def _refresh(seed):
    inp = I.refresh_inputs(seed, **W.REFRESH)
    return {**inp, "batches": list(islice(inp["batches"], N_BATCHES))}


def _all(seed):
    return {"serve": I.serve_inputs(seed, **W.SERVE), "refresh": _refresh(seed)}


def test_same_seed_gives_byte_identical_inputs():
    a, b = _all(7), _all(7)
    for name in a:
        assert _digest(a[name]) == _digest(b[name]), name


def test_other_seed_gives_other_inputs():
    a, b = _all(7), _all(8)
    for name in a:
        assert _digest(a[name]) != _digest(b[name]), name


def test_encoder_decodes_the_planted_vector():
    inp = _refresh(3)
    names, blobs = zip(*inp["initial"][:20])
    got = I.PlantedVectorEncoder().encode_batch(pd.Series(list(blobs)))
    for name, vec in zip(names, got):
        want = inp["initial_live"][int(name.split(".")[0])]
        assert np.array_equal(np.asarray(vec, dtype=np.float32), want)
    assert I.PlantedVectorEncoder().encode_batch(pd.Series([I.TOMBSTONE])) == [None]


def test_change_batches_keep_the_live_corpus():
    inp = _refresh(3)
    live = dict(inp["initial_live"])
    for b in inp["batches"]:
        assert not set(map(int, b["ins"])) & set(live)
        assert set(map(int, b["upd"])) <= set(live) and set(map(int, b["del"])) <= set(live)
        for i, v in zip(b["ins"], b["ins_v"]):
            live[int(i)] = v
        for i, v in zip(b["upd"], b["upd_v"]):
            live[int(i)] = v
        for i in b["del"]:
            del live[int(i)]
        assert live.keys() == b["live"].keys()


def test_planted_duplicates_are_in_the_ground_truth():
    inp = _refresh(5)
    for b in inp["batches"]:
        keys = np.array(sorted(b["live"]), dtype=np.int64)
        x = np.stack([b["live"][int(k)] for k in keys])
        docs = [b["text"][int(k)] for k in keys]
        dups = set(map(int, b["ins"][-W.REFRESH["dup"]:]))
        cos_hit = {i for p in I.cosine_pairs(x, keys, W.COS_T) for i in p}
        jac_hit = {i for p in I.jaccard_pairs(docs, keys, W.JAC_T) for i in p}
        assert dups <= cos_hit and dups <= jac_hit


def test_caption_follows_the_vector():
    inp = _refresh(3)
    for name, blob in inp["batches"][0]["files"]:
        if name.endswith(".img"):
            i = int(name.split(".")[0])
            assert blob[I.CAPTION_OFFSET - 1:].decode() == inp["batches"][0]["text"][i]


def test_exact_topk_check_is_tie_aware():
    x = I.unit_rows(np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]))
    ids = np.array([5, 3, 9])
    q = np.array([1.0, 0.0])
    assert I.check_topk(x, ids, q, 1, [5], [1.0], exact=True)
    assert I.check_topk(x, ids, q, 1, [3], [1.0], exact=True)
    assert not I.check_topk(x, ids, q, 1, [9], [0.0], exact=True)
