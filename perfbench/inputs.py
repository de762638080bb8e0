"""Seeded inputs and numpy ground truth for the benchmark workloads.

Every generator here is a pure function of its ``numpy.random.Generator``:
the same seed gives byte-identical vectors, texts, image files and change
batches (``test_inputs.py`` pins that). The program under test only ever
receives these generated inputs; the answers it must give are computed
here, independently, with numpy and plain Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIM = 64
#: Header of a generated "image" file. The bytes that follow are the
#: planted float32 vector, then the image's UTF-8 caption, so the file is
#: an opaque blob to the ingest layer and only the benchmark's encoder can
#: decode the vector.
MAGIC = b"VLB1"
#: Body of a ``.del`` file: a delete lands as a file too. It is not empty
#: (the binary-file scan skips empty files) and has no vector to decode.
TOMBSTONE = b"DELETED"

# --------------------------------------------------------------------- #
# vectors
# --------------------------------------------------------------------- #

def unit_rows(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def mixture(rng: np.random.Generator, n: int, clusters: int, spread: float) -> np.ndarray:
    """``n`` unit float32 vectors around ``clusters`` random directions;
    ``spread`` is the noise norm relative to the unit center."""
    centers = unit_rows(rng.standard_normal((clusters, DIM)))
    labels = rng.integers(0, clusters, n)
    noise = rng.standard_normal((n, DIM)) * (spread / np.sqrt(DIM))
    return unit_rows(centers[labels] + noise)


def perturb(rng: np.random.Generator, x: np.ndarray, noise: float) -> np.ndarray:
    return unit_rows(x + rng.standard_normal(x.shape) * (noise / np.sqrt(DIM)))


def cosines(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of ``q`` against every corpus row in float64, the precision
    the package scores in (its float32 inputs are widened first)."""
    c = corpus.astype(np.float64)
    qq = np.asarray(q, dtype=np.float64)
    return (c @ qq) / (np.linalg.norm(c, axis=1) * np.linalg.norm(qq))


def topk_ids(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Exact top-``k`` ids under the package's order: score desc, id asc."""
    s = cosines(corpus, q)
    return ids[np.lexsort((ids, -s))[:k]]


def check_topk(
    corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int,
    got_ids: list, got_scores: list, exact: bool,
) -> bool:
    """A returned top-``k`` is well formed: ``k`` distinct known ids,
    scores that match numpy's cosine for those ids, in descending order.
    With ``exact`` it must also be a true top-``k``: tie-aware, so any id
    scoring at least the k-th best score is accepted."""
    if len(got_ids) != min(k, len(ids)) or len(set(got_ids)) != len(got_ids):
        return False
    pos = {int(v): i for i, v in enumerate(ids)}
    if any(int(g) not in pos for g in got_ids):
        return False
    s = cosines(corpus, q)
    mine = np.array([s[pos[int(g)]] for g in got_ids])
    got = np.asarray(got_scores, dtype=np.float64)
    if not np.allclose(mine, got, atol=1e-6) or np.any(np.diff(got) > 1e-12):
        return False
    if exact:
        kth = np.sort(s)[::-1][len(got_ids) - 1]
        return bool(np.all(mine >= kth - 1e-9))
    return True


def recall(truth: np.ndarray, got: list) -> float:
    return len({int(t) for t in truth} & {int(g) for g in got}) / len(truth)


# --------------------------------------------------------------------- #
# "image" files and the encoder that reads them
# --------------------------------------------------------------------- #

def image_bytes(vec: np.ndarray, caption: str) -> bytes:
    return MAGIC + np.asarray(vec, dtype="<f4").tobytes() + caption.encode()


#: 1-based byte offset of the caption inside an image file
CAPTION_OFFSET = len(MAGIC) + 4 * DIM + 1


class PlantedVectorEncoder:
    """``embed.encoders.Encoder`` that decodes the vector planted in a
    generated image file, so the embed UDF's Arrow plumbing is measured
    while recall stays checkable. Other bytes encode to None, the
    package's failed-row convention."""

    def encode_batch(self, batch: pd.Series) -> list:
        out = []
        for blob in batch:
            b = bytes(blob) if blob is not None else b""
            if b[:4] != MAGIC or len(b) < 4 + 4 * DIM:
                out.append(None)
            else:
                vec = np.frombuffer(b, dtype="<f4", count=DIM, offset=4)
                out.append(vec.astype(float).tolist())
        return out


# --------------------------------------------------------------------- #
# texts with planted edits
# --------------------------------------------------------------------- #

def texts(rng: np.random.Generator, n: int, words: int = 30, vocab: int = 5000) -> list[str]:
    w = rng.integers(0, vocab, (n, words))
    return [" ".join(f"w{t}" for t in row) for row in w]


def edit_one_word(rng: np.random.Generator, text: str, vocab: int = 5000) -> str:
    toks = text.split(" ")
    toks[int(rng.integers(0, len(toks)))] = f"x{int(rng.integers(0, vocab))}"
    return " ".join(toks)


def shingles(text: str, n: int = 3) -> frozenset:
    """Distinct word n-grams under the package's ``word_shingles`` rule."""
    ws = [t for t in text.split(" ") if t]
    if not ws:
        return frozenset([""])
    if len(ws) < n:
        return frozenset([" ".join(ws)])
    return frozenset(" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


# --------------------------------------------------------------------- #
# duplicate-pair ground truth
# --------------------------------------------------------------------- #

def cosine_pairs(x: np.ndarray, ids: np.ndarray, threshold: float) -> set:
    """Every (id_a < id_b) pair with cosine >= ``threshold``."""
    xx = x.astype(np.float64)
    xx /= np.linalg.norm(xx, axis=1, keepdims=True)
    a, b = np.nonzero(np.triu(xx @ xx.T >= threshold, k=1))
    return {_pair(ids[i], ids[j]) for i, j in zip(a, b)}


def jaccard_pairs(docs: list[str], ids: np.ndarray, threshold: float) -> set:
    """Every (id_a < id_b) pair with shingle Jaccard >= ``threshold``,
    found through an inverted shingle index: pairs that share no shingle
    have Jaccard 0."""
    sh = [shingles(d) for d in docs]
    postings: dict = {}
    for i, s in enumerate(sh):
        for g in s:
            postings.setdefault(g, []).append(i)
    cand = {
        (rows[x], rows[y])
        for rows in postings.values()
        for x in range(len(rows))
        for y in range(x + 1, len(rows))
    }
    return {
        _pair(ids[i], ids[j]) for i, j in cand if jaccard(sh[i], sh[j]) >= threshold
    }


def _pair(a, b) -> tuple:
    a, b = int(a), int(b)
    return (a, b) if a < b else (b, a)


# --------------------------------------------------------------------- #
# workload inputs
# --------------------------------------------------------------------- #

def substream(seed: int, name: str) -> np.random.Generator:
    """Independent generator per (seed, workload part): adding a draw to
    one part never shifts another part's inputs."""
    return np.random.default_rng([int(seed), *name.encode()])


def serve_inputs(seed: int, n: int, clusters: int, n_single: int, n_panels: int, panel: int) -> dict:
    """Corpus with an id and a filepath payload, plus query streams made
    of perturbed corpus points: ``single`` for one-query calls and
    ``panels`` of ``panel`` queries for batched calls."""
    rng = substream(seed, "serve")
    x = mixture(rng, n, clusters, 0.6)
    ids = np.arange(n, dtype=np.int64)
    paths = [f"/Volumes/images/{i:07d}.jpg" for i in ids]
    pick = rng.integers(0, n, n_single + n_panels * panel)
    q = perturb(rng, x[pick], 0.15)
    return {
        "x": x, "ids": ids, "paths": paths,
        "single": q[:n_single],
        "panels": q[n_single:].reshape(n_panels, panel, DIM),
    }


def refresh_inputs(
    seed: int, n0: int, clusters: int, ins: int, dup: int, upd: int, dele: int,
) -> dict:
    """An initial corpus of ``n0`` captioned image files and an endless
    iterator of change batches, each drawn only when the caller asks for
    it. Each batch inserts ``ins`` new ids, ``dup`` of them
    near-duplicates of live ids (a slightly perturbed vector and a caption
    with one word replaced), updates ``upd`` live ids to a new vector and
    caption, and deletes ``dele`` live ids; a delete lands as a ``.del``
    file holding ``TOMBSTONE``. Files are ``(name, bytes)`` pairs, written
    by the caller. ``live`` and ``text`` after each batch are the
    ground-truth corpus."""
    rng = substream(seed, "refresh")
    centers = unit_rows(rng.standard_normal((clusters, DIM)))

    def draw(m: int) -> np.ndarray:
        lab = rng.integers(0, clusters, m)
        return unit_rows(centers[lab] + rng.standard_normal((m, DIM)) * (0.6 / np.sqrt(DIM)))

    live0 = {int(i): v for i, v in enumerate(draw(n0))}
    text0 = {int(i): d for i, d in enumerate(texts(rng, n0))}
    initial = [(f"{i:07d}.img", image_bytes(v, text0[i])) for i, v in live0.items()]

    def batches():
        live, text, next_id = live0, text0, n0
        while True:
            keys = np.array(sorted(live), dtype=np.int64)
            chosen = rng.choice(keys, upd + dele + dup, replace=False)
            upd_ids, del_ids, src_ids = chosen[:upd], chosen[upd:upd + dele], chosen[upd + dele:]
            ins_ids = np.arange(next_id, next_id + ins, dtype=np.int64)
            next_id += ins
            ins_v = np.concatenate([draw(ins - dup),
                                    perturb(rng, np.stack([live[int(i)] for i in src_ids]), 0.1)])
            ins_t = texts(rng, ins - dup) + [edit_one_word(rng, text[int(i)]) for i in src_ids]
            upd_v, upd_t = draw(upd), texts(rng, upd)
            files = [(f"{i:07d}.img", image_bytes(v, t)) for i, v, t in zip(ins_ids, ins_v, ins_t)]
            files += [(f"{i:07d}.img", image_bytes(v, t)) for i, v, t in zip(upd_ids, upd_v, upd_t)]
            files += [(f"{i:07d}.del", TOMBSTONE) for i in del_ids]
            old = {int(i): live[int(i)] for i in del_ids}
            live, text = dict(live), dict(text)
            for ids_, vs, ts in ((ins_ids, ins_v, ins_t), (upd_ids, upd_v, upd_t)):
                for i, v, t in zip(ids_, vs, ts):
                    live[int(i)], text[int(i)] = v, t
            for i in del_ids:
                del live[int(i)], text[int(i)]
            yield {
                "files": files, "ins": ins_ids, "ins_v": ins_v, "upd": upd_ids,
                "upd_v": upd_v, "del": del_ids, "del_old": old, "live": live, "text": text,
            }

    return {"initial": initial, "initial_live": live0, "batches": batches()}
