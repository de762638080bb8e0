"""The benchmark workloads: ``serve`` (read path) and ``refresh`` (write
and curation path).

Each workload has a set-up (seeded inputs handed to the package and the
program state its loop needs: persisted indexes or an initial corpus)
and a closed loop with one client that repeats a fixed cycle of
operations until the measuring window is over. Every operation calls the
package's public API and is then checked against ground truth computed
here with numpy; the checks run outside the timed span.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import inputs as I
from spans import dir_bytes

K = 10
WARMUP = "warmup"  # kind of an operation run at set-up: checked, not timed

# --------------------------------------------------------------------- #
# sizes (chosen so one run of each workload fits its time budget on a
# 4-core host; see README.md)
# --------------------------------------------------------------------- #

SERVE = dict(n=4000, clusters=32, n_single=400, n_panels=8, panel=16)
IVF_NLIST, NPROBE = 16, 4
# the graph's quantizer routes each query to entry points: one cell per
# cluster keeps the entries inside the query's own cluster
GRAPH_NLIST, GRAPH_DEGREE, GRAPH_BEAM, GRAPH_HOPS = 32, 8, 24, 4
SERVE_CYCLE_SINGLES = 6  # (exact, ivf) pairs before each graph panel
SERVE_WARMUP = 3  # (exact, ivf) pairs run at set-up

REFRESH = dict(n0=600, clusters=8, ins=40, dup=8, upd=20, dele=20)
# one graph cell per cluster, as in serve. A batch's cost is mostly the
# driver's py4j calls that spell out each centroid as an expression, so
# it grows with the cell count: 8 cells take a batch from 59k calls and
# about 22 s to 36k calls and about 17 s on a 4-core host, which pays for
# the warm-up batch at set-up.
REFRESH_NLIST = 8
COS_T, JAC_T = 0.92, 0.7  # duplicate thresholds: cosine of vectors, Jaccard of captions


class Op:
    __slots__ = ("kind", "wall", "items", "ok", "span")

    def __init__(self, kind, wall, items, ok, span):
        self.kind, self.wall, self.items, self.ok, self.span = kind, wall, items, ok, span


class Loop:
    """Runs operations, times them, checks them and keeps the record."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list = ctx.ops  # kept by the caller if the JVM dies mid-run
        self.quality: dict = {}

    def op(self, kind: str, items: int, call, check) -> object:
        """Time ``call()`` as one operation inside a top-level span, then
        compute the span's deferred extras and run ``check(result)``,
        both untimed. An exception in any of them is a failed operation;
        a dead JVM fails the rest of the run."""
        tr = self.ctx.tracer
        span = None
        t = time.perf_counter()
        try:
            with tr.span(f"op.{kind}"):
                span = tr.current()
                res = call()
            wall = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 - an operation failure is data
            self.ctx.log(f"op {kind} failed: {type(e).__name__}: {e}")
            self.ops.append(Op(kind, time.perf_counter() - t, items, False, span))
            tr.flush(run=False)
            self.ctx.check_alive()
            return None
        try:
            tr.flush()
            ok = bool(check(res))
        except Exception as e:  # noqa: BLE001
            self.ctx.log(f"check {kind} raised: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            self.ctx.log(f"op {kind} returned a wrong result")
        self.ops.append(Op(kind, wall, items, ok, span))
        return res

    def note(self, name: str, value: float) -> None:
        self.quality.setdefault(name, []).append(float(value))


def run_window(ctx, cycle, seconds: float) -> None:
    """Repeat ``cycle(i)`` (a list of zero-arg steps) until ``seconds``
    have passed, always ending on a whole cycle so every run sees the
    same mix of operations."""
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        for step in cycle(i):
            step()
        i += 1


def _vec(v) -> list:
    return [float(x) for x in v]


# --------------------------------------------------------------------- #
# serve
# --------------------------------------------------------------------- #

def serve(ctx) -> dict:
    from vectorsearch_image_embeddings_databricks_spark.index.ann import IVFIndex
    from vectorsearch_image_embeddings_databricks_spark.index.catalog import IndexCatalog
    from vectorsearch_image_embeddings_databricks_spark.index.graph_ann import KNNGraphIndex
    from vectorsearch_image_embeddings_databricks_spark.index.vector_index import to_data_array

    spark, tr, loop = ctx.spark, ctx.tracer, Loop(ctx)
    state: dict = {}

    def setup() -> float:
        t = time.perf_counter()
        inp = I.serve_inputs(ctx.seed, **SERVE)
        pdf = pd.DataFrame({
            "vec_id": inp["ids"],
            "embedding": list(inp["x"].astype(np.float64)),
            "filepath": inp["paths"],
        })
        df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>, filepath string")
        root = ctx.work("serve")
        cat = IndexCatalog(spark, os.path.join(root, "catalog"))
        b0 = time.perf_counter()
        with tr.span("catalog.create_index") as ex:
            cat.create_index("images", df, dim=I.DIM)
        _defer_bytes(tr, ex, os.path.join(root, "catalog", "images"))
        with tr.span("ann.ivf_build"):
            ivf = IVFIndex(df.select("vec_id", "embedding"), nlist=IVF_NLIST,
                           replication=2, seed=ctx.seed)
        with tr.span("ann.save") as ex:
            ivf.save(os.path.join(root, "ivf"))
        _defer_bytes(tr, ex, os.path.join(root, "ivf"))
        with tr.span("graph_ann.build"):
            g = KNNGraphIndex.build(df, "vec_id", "embedding", degree=GRAPH_DEGREE,
                                    strategy="ivf", nlist=GRAPH_NLIST,
                                    nprobe=NPROBE, seed=ctx.seed)
        with tr.span("graph_ann.save") as ex:
            g.save(os.path.join(root, "graph"))
        _defer_bytes(tr, ex, os.path.join(root, "graph"))
        with tr.span("ann.load"):
            ivf = IVFIndex.load(spark, os.path.join(root, "ivf"))
        with tr.span("graph_ann.load"):
            g = KNNGraphIndex.load(spark, os.path.join(root, "graph"))
        build_s = time.perf_counter() - b0
        tr.flush()
        # cell sizes, read once, give each traced IVF query's rows_probed
        cells = {int(r[0]): int(r[1]) for r in
                 ivf.assigned.groupBy("centroid_id").count().collect()} if tr.enabled else {}
        # warm-up: the first queries of a session run well above steady state
        for q in inp["single"][:SERVE_WARMUP]:
            to_data_array(cat.get_index("images").search(_vec(q), k=K, columns=["filepath"]))
            ivf.search(_vec(q), k=K, nprobe=NPROBE).collect()
        state.update(inp=inp, cat=cat, ivf=ivf, g=g, cells=cells)
        loop.note("build_s", build_s)
        return time.perf_counter() - t

    ctx.setup_s = setup()
    inp, cat, ivf, g, cells = (state[k] for k in ("inp", "cat", "ivf", "g", "cells"))
    x, ids, paths = inp["x"], inp["ids"], inp["paths"]
    cursor = {"single": SERVE_WARMUP, "panel": 0}

    def exact():
        q = inp["single"][cursor["single"] % len(inp["single"])]
        cursor["single"] += 1

        def call():
            with tr.span("catalog.get_index"):
                idx = cat.get_index("images")
            with tr.span("vector_index.search") as ex:
                res = to_data_array(idx.search(_vec(q), k=K, columns=["filepath"]))
            ex["rows_scored"] = len(ids)
            return res

        def check(res):
            rows = res["result"]["data_array"]
            got = [r[0] for r in rows]
            if any(r[1] != paths[int(r[0])] for r in rows):
                return False
            return I.check_topk(x, ids, q, K, got, [r[-1] for r in rows], exact=True)

        loop.op("exact_query", 1, call, check)

    def ivf_query():
        q = inp["single"][cursor["single"] % len(inp["single"])]
        cursor["single"] += 1

        def call():
            with tr.span("ann.ivf_search") as ex:
                rows = ivf.search(_vec(q), k=K, nprobe=NPROBE).collect()

            def rows_probed():
                d = np.array([float(np.dot(c, q)) for c in ivf.centroids])
                probes = np.argsort(-d, kind="stable")[:NPROBE]
                ex["rows_probed"] = sum(cells.get(int(p), 0) for p in probes)

            tr.defer(rows_probed)
            return rows

        def check(rows):
            got = [r["vec_id"] for r in rows]
            loop.note("ivf_recall_at_10", I.recall(I.topk_ids(x, ids, q, K), got))
            return I.check_topk(x, ids, q, K, got, [r["score"] for r in rows], exact=False)

        loop.op("ivf_query", 1, call, check)

    def graph_panel():
        qs = inp["panels"][cursor["panel"] % len(inp["panels"])]
        cursor["panel"] += 1

        def call():
            qdf = spark.createDataFrame(
                [(j, _vec(v)) for j, v in enumerate(qs)],
                "query_id int, query_vec array<double>")
            stats = [] if tr.enabled else None
            with tr.span("graph_ann.search") as ex:
                rows = g.search(qdf, k=K, beam=GRAPH_BEAM, hops=GRAPH_HOPS,
                                nprobe=NPROBE, stats=stats).collect()
            tr.defer(lambda: ex.update(candidates_scored=int(sum(stats))))
            return rows

        def check(rows):
            return _check_panel(loop, "graph_recall_at_10", x, ids, qs, rows)

        loop.op("graph_panel", len(qs), call, check)

    def cycle(_i):
        return [exact, ivf_query] * SERVE_CYCLE_SINGLES + [graph_panel]

    run_window(ctx, cycle, ctx.seconds)
    # one sample per (exact, IVF) pair: a median pooled over both kinds
    # would sit between the slowest of the faster kind and the fastest
    # of the slower one
    pairs = [e.wall + v.wall for e, v in zip(
        (o for o in loop.ops if o.kind == "exact_query"),
        (o for o in loop.ops if o.kind == "ivf_query"))]
    report = _issue_metrics(loop, {
        "build_s": ("s", loop.quality["build_s"][-1:]),
        "exact_query_p50_ms": ("ms", _ms(loop, "exact_query")),
        "exact_query_p90_ms": ("ms", _ms(loop, "exact_query"), 90),
        "ivf_query_p50_ms": ("ms", _ms(loop, "ivf_query")),
        "ivf_recall_at_10": ("ratio", loop.quality.get("ivf_recall_at_10", []), "mean"),
        "graph_batch_p50_ms": ("ms", _ms(loop, "graph_panel")),
        "graph_recall_at_10": ("ratio", loop.quality.get("graph_recall_at_10", []), "mean"),
    })
    return _result(loop, pairs, report)


def _check_panel(loop, note, x, ids, qs, rows, live_ok=None) -> bool:
    """Each query of a panel got a well-formed top-k; ``live_ok`` (a set)
    rejects any id outside it."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    ok = True
    for j, q in enumerate(qs):
        got = sorted(by_q.get(j, []), key=lambda r: (-r["score"], r[1]))
        gid = [int(r[1]) for r in got]
        if live_ok is not None and any(i not in live_ok for i in gid):
            ok = False
        loop.note(note, I.recall(I.topk_ids(x, ids, q, K), gid))
        ok &= I.check_topk(x, ids, q, K, gid, [r["score"] for r in got], exact=False)
    return ok


# --------------------------------------------------------------------- #
# refresh
# --------------------------------------------------------------------- #

def refresh(ctx) -> dict:
    from pyspark.sql import functions as F

    from vectorsearch_image_embeddings_databricks_spark.embed.udf import embed_column
    from vectorsearch_image_embeddings_databricks_spark.index.ann import CosineLSHIndex
    from vectorsearch_image_embeddings_databricks_spark.index.graph_ann import KNNGraphIndex
    from vectorsearch_image_embeddings_databricks_spark.index.vector_index import VectorIndex
    from vectorsearch_image_embeddings_databricks_spark.operators.dedup import (
        near_dedup_minhash, near_dup_pairs_cosine, semantic_dedup)
    from vectorsearch_image_embeddings_databricks_spark.sources.binary import ingest_binary_dir
    from vectorsearch_image_embeddings_databricks_spark.streaming.refresh import IncrementalIndexer

    spark, tr, loop = ctx.spark, ctx.tracer, Loop(ctx)
    state: dict = {}
    counts = {"tp": 0, "truth": 0, "reported": 0}

    def land(directory: str, files: list) -> None:
        os.makedirs(directory)
        for name, blob in files:
            with open(os.path.join(directory, name), "wb") as f:
                f.write(blob)

    def ingest_embed(directory: str, log_dir: str, rows: int):
        """``rows`` landed files → rows → embeddings appended to the change
        log. Returns the embedded batch, materialized once."""
        with tr.span("sources.ingest_binary_dir") as ex:
            raw = ingest_binary_dir(spark, directory, glob="*.*").select(
                F.regexp_extract("path", r"(\d+)\.(img|del)$", 1).cast("long").alias("vec_id"),
                (F.regexp_extract("path", r"\.(img|del)$", 1) == "del").alias("deleted"),
                F.expr(f"decode(substring(content, {I.CAPTION_OFFSET}), 'UTF-8')").alias("caption"),
                "path", "content",
            ).localCheckpoint(eager=True)
        ex["rows"] = rows
        with tr.span("embed.embed_column") as ex:
            t = time.perf_counter()
            emb = embed_column(raw, "content", I.PlantedVectorEncoder).select(
                "vec_id", "deleted", "path", "caption", "embedding").localCheckpoint(eager=True)
            emb.write.mode("append").parquet(log_dir)
            ex["rows_per_s"] = rows / (time.perf_counter() - t)
        return emb

    def index_refresh(indexer, index_dir):
        with tr.span("streaming.refresh") as ex:
            indexer.refresh(spark)
        # each refresh rewrites the whole snapshot
        _defer_bytes(tr, ex, os.path.join(index_dir, "data"))

    def save_load(g, path, changed_bytes):
        with tr.span("graph_ann.save") as ex:
            g.save(path)

        def written():
            ex["bytes_written"] = dir_bytes(path)
            if changed_bytes:
                ex["write_amplification"] = ex["bytes_written"] / changed_bytes

        tr.defer(written)
        with tr.span("graph_ann.load"):
            return KNNGraphIndex.load(spark, path)

    def curate_corpus(queries):
        """Re-curate the live corpus after a batch: near-duplicate images
        by vector (semantic and CosineLSH) and by caption (MinHash), and
        the nearest live images of the batch's new ones (kNN join)."""
        live = indexer.current(spark).filter(~F.col("deleted")).select(
            "vec_id", "embedding", "caption")
        with tr.span("dedup.semantic_dedup") as sem_ex:
            sem = semantic_dedup(live, "vec_id", "embedding", threshold=COS_T,
                                 seed=ctx.seed).collect()
        with tr.span("ann.cosine_lsh_near_dup") as lsh_ex:
            idx = CosineLSHIndex(live, key="vec_id", vector_col="embedding", seed=ctx.seed)
            lsh = near_dup_pairs_cosine(live, "vec_id", "embedding", threshold=COS_T,
                                        ann_index=idx).collect()
        with tr.span("dedup.near_dedup_minhash") as mh_ex:
            mh = near_dedup_minhash(live, "vec_id", "caption", threshold=JAC_T).collect()

        def extras():
            sem_ex["pairs_out"] = len(_label_pairs(sem))
            mh_ex["pairs_out"] = len(_label_pairs(mh))
            # re-runs the band self-join, so only after the operation
            lsh_ex["candidate_pairs"] = cand = idx.candidate_pairs().count()
            lsh_ex["useful_ratio"] = len(lsh) / max(1, cand)

        tr.defer(extras)
        qdf = spark.createDataFrame([(j, _vec(v)) for j, v in enumerate(queries)],
                                    "query_id int, query_vec array<double>")
        with tr.span("vector_index.search_batch") as ex:
            t = time.perf_counter()
            knn = VectorIndex(live, dim=I.DIM).search_batch(qdf, k=K, local_topk=True).collect()
            ex["queries_per_s"] = len(queries) / (time.perf_counter() - t)
        return sem, lsh, mh, (queries, knn)

    def check_curation(b, keys, x, sem, lsh, mh, knn) -> dict:
        """Every reported duplicate re-verifies against its threshold; the
        kNN join equals numpy's top-k. Scores pairs against ground truth."""
        pos = {int(v): i for i, v in enumerate(keys)}
        xs = x.astype(np.float64) / np.linalg.norm(x, axis=1, keepdims=True)
        docs = [b["text"][int(k)] for k in keys]
        sh = [I.shingles(d) for d in docs]

        def cos_ok(a, c):
            return float(xs[pos[a]] @ xs[pos[c]]) >= COS_T - 1e-9

        def jac_ok(a, c):
            return I.jaccard(sh[pos[a]], sh[pos[c]]) >= JAC_T - 1e-9

        def score(reported: set, true: set) -> None:
            counts["tp"] += len(reported & true)
            counts["truth"] += len(true)
            counts["reported"] += len(reported)

        cos_truth = _components(I.cosine_pairs(x, keys, COS_T))
        pairs = [(int(r["id_a"]), int(r["id_b"])) for r in lsh]
        score(set(pairs), cos_truth)
        queries, rows = knn
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        knn_ok = True
        for j, q in enumerate(queries):
            got = sorted(by_q.get(j, []), key=lambda r: (-r["score"], r["vec_id"]))
            knn_ok &= I.check_topk(x, keys, q, K, [r["vec_id"] for r in got],
                                   [r["score"] for r in got], exact=True)
        return {
            "semantic_dedup labels verify": _check_labels(sem, pos, cos_truth, cos_ok, score),
            "cosine LSH pairs verify": len(set(pairs)) == len(pairs) and all(
                a < c and cos_ok(a, c) for a, c in pairs),
            "minhash labels verify": _check_labels(
                mh, pos, _components(I.jaccard_pairs(docs, keys, JAC_T)), jac_ok, score),
            "kNN join equals numpy top-k": knn_ok,
        }

    def batch_step(i: int, b: dict, kind: str = "batch"):
        """The write path: the batch lands as files and is searchable in
        both the flat and the graph index."""
        d = os.path.join(paths["landing"], f"b{i + 1:04d}")
        land(d, b["files"])
        n_changed = len(b["ins"]) + len(b["upd"]) + len(b["del"])
        probe_ins = b["ins_v"][0]
        old_id, old_v = next(iter(b["del_old"].items()))
        panel = np.concatenate([
            b["ins_v"][:8], b["upd_v"][:4], np.stack(list(b["del_old"].values())[:4]),
        ])

        def call():
            emb = ingest_embed(d, paths["log"], len(b["files"]))
            index_refresh(indexer, paths["flat"])
            with tr.span("graph_ann.append"):
                state["g"].append(emb.filter(~F.col("deleted")).select("vec_id", "embedding"))
            with tr.span("graph_ann.delete"):
                state["g"].delete(emb.filter(F.col("deleted")).select("vec_id"))
            state["g"] = save_load(state["g"], paths["graph"],
                                   4 * I.DIM * (len(b["ins"]) + len(b["upd"])))
            # freshness probes: the batch is searchable in both indexes
            with tr.span("vector_index.search"):
                flat = VectorIndex(indexer.current(spark).filter(~F.col("deleted")), dim=I.DIM)
                hit = flat.search(_vec(probe_ins), k=K).collect()
                gone = flat.search(_vec(old_v), k=K).collect()
            qdf = spark.createDataFrame([(j, _vec(v)) for j, v in enumerate(panel)],
                                        "query_id int, query_vec array<double>")
            with tr.span("graph_ann.search"):
                rows = state["g"].search(qdf, k=K, beam=GRAPH_BEAM, hops=GRAPH_HOPS,
                                         nprobe=NPROBE).collect()
            return hit, gone, rows

        def check(res):
            hit, gone, rows = res
            keys, x = _live_arrays(b["live"])
            loop.quality.pop("graph_recall_at_10", None)  # keep the last batch only
            ok = _report_checks(ctx, f"refresh batch {i + 1}", {
                "refresh equals rebuild": indexer.verify_equivalence(spark),
                "inserted id at rank 1": bool(hit) and int(hit[0]["vec_id"]) == int(b["ins"][0]),
                "deleted id absent from flat": all(int(r["vec_id"]) != old_id for r in gone),
                "flat top-k exact": I.check_topk(x, keys, probe_ins, K, [r["vec_id"] for r in hit],
                                                 [r["score"] for r in hit], exact=True),
                "graph answers live and well formed": _check_panel(
                    loop, "graph_recall_at_10", x, keys, panel, rows, live_ok=set(b["live"])),
            })
            vec_bytes = 4 * I.DIM * len(b["live"])
            loop.note("index_bytes_per_vector_byte",
                      (dir_bytes(paths["flat"]) + dir_bytes(paths["graph"])) / vec_bytes)
            return ok

        loop.op(kind, n_changed, call, check)

    def curate_step(i: int, b: dict):
        """Re-curation of the live corpus the batch left. It changes no
        rows, so it adds busy time but no items."""
        def check(res):
            keys, x = _live_arrays(b["live"])
            return _report_checks(ctx, f"refresh curation {i + 1}",
                                  check_curation(b, keys, x, *res))

        loop.op("curate", 0, lambda: curate_corpus(b["ins_v"][:16]), check)

    t = time.perf_counter()
    inp = I.refresh_inputs(ctx.seed, **REFRESH)
    root = ctx.work("refresh")
    paths = {k: os.path.join(root, k) for k in ("landing", "log", "flat", "ckpt", "graph")}
    land(os.path.join(paths["landing"], "b0000"), inp["initial"])
    ingest_embed(os.path.join(paths["landing"], "b0000"), paths["log"], len(inp["initial"]))
    indexer = IncrementalIndexer(paths["log"], paths["flat"], paths["ckpt"], key="vec_id")
    index_refresh(indexer, paths["flat"])
    with tr.span("graph_ann.build"):
        state["g"] = KNNGraphIndex.build(
            indexer.current(spark).filter(~F.col("deleted")).select("vec_id", "embedding"),
            "vec_id", "embedding", degree=GRAPH_DEGREE, strategy="ivf",
            nlist=REFRESH_NLIST, nprobe=NPROBE, seed=ctx.seed)
    # the built graph's vectors still read the flat index's snapshot,
    # which the next refresh replaces; the reloaded one reads its own
    state["g"] = save_load(state["g"], paths["graph"], 0)
    tr.flush()
    # Warm-up: the first change batch of a session runs the graph's
    # append, delete and search plans for the first time and takes 15-30 %
    # longer than the next. Over ten seeds on a 4-core host the first
    # batch's spread was 0.27 of its median, the second's 0.13. It is
    # checked like any batch; its time counts in setup_s.
    batch_step(0, next(inp["batches"]), WARMUP)
    ctx.setup_s = time.perf_counter() - t

    def cycle(i):
        b = next(inp["batches"])
        return [lambda: batch_step(i + 1, b), lambda: curate_step(i + 1, b)]

    run_window(ctx, cycle, ctx.seconds)
    report = _issue_metrics(loop, {
        "refresh_batch_p50_s": ("s", [o.wall for o in loop.ops if o.kind == "batch"]),
        "curation_p50_s": ("s", [o.wall for o in loop.ops if o.kind == "curate"]),
        "graph_recall_at_10": ("ratio", loop.quality.get("graph_recall_at_10", []), "mean"),
        "index_bytes_per_vector_byte": ("ratio", loop.quality.get(
            "index_bytes_per_vector_byte", [])[-1:]),
        "dup_pair_recall": ("ratio", [counts["tp"] / max(1, counts["truth"])]),
        "dup_pair_precision": ("ratio", [counts["tp"] / max(1, counts["reported"])]),
    })
    return _result(loop, [o.wall for o in loop.ops if o.kind == "batch"], report)


def _live_arrays(live: dict) -> tuple:
    keys = np.array(sorted(live), dtype=np.int64)
    return keys, np.stack([live[int(k)] for k in keys])


def _report_checks(ctx, what: str, checks: dict) -> bool:
    for name, good in checks.items():
        if not good:
            ctx.log(f"{what}: check failed: {name}")
    return all(checks.values())


def _defer_bytes(tr, extra: dict, path: str) -> None:
    tr.defer(lambda: extra.update(bytes_written=dir_bytes(path)))


def _components(pairs: set) -> set:
    """All within-component pairs of the graph the ``pairs`` span."""
    parent: dict = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict = {}
    for a in parent:
        groups.setdefault(find(a), []).append(a)
    return {(a, b) for g in groups.values() for a in g for b in g if a < b}


def _label_pairs(rows) -> set:
    groups: dict = {}
    for r in rows:
        groups.setdefault(int(r["rep_id"]), []).append(int(r["id"]))
    return {(a, b) for g in groups.values() for a in g for b in g if a < b}


def _check_labels(rows, pos, true_pairs, verify, score) -> bool:
    """``(id, rep_id)`` labels: every id once, rep_id the group's least
    id, and every member of a group re-verifies against another member."""
    ids = [int(r["id"]) for r in rows]
    if sorted(ids) != sorted(pos):
        return False
    groups: dict = {}
    for r in rows:
        groups.setdefault(int(r["rep_id"]), []).append(int(r["id"]))
    ok = True
    for rep, members in groups.items():
        if rep != min(members):
            ok = False
        if len(members) > 1 and not all(
                any(verify(min(a, b), max(a, b)) for b in members if b != a) for a in members):
            ok = False
    score(_label_pairs(rows), true_pairs)
    return ok


# --------------------------------------------------------------------- #
# summaries
# --------------------------------------------------------------------- #

def _ms(loop, kind):
    return [o.wall * 1000 for o in loop.ops if o.kind == kind]


def _issue_metrics(loop, spec: dict) -> dict:
    """Named per-workload metrics with unit and sample count. Latencies
    are medians unless a percentile is given; ratios are means."""
    out = {}
    for name, (unit, samples, *how) in spec.items():
        samples = list(samples)
        if not samples:
            value = None
        elif how and how[0] == "mean":
            value = float(np.mean(samples))
        elif how:
            value = float(np.percentile(samples, how[0]))
        else:
            value = float(statistics.median(samples))
        out[name] = {"value": value, "unit": unit, "samples": len(samples)}
    return out


def _result(loop, latencies_s: list, report: dict) -> dict:
    ops = loop.ops
    timed = [o for o in ops if o.kind != WARMUP]
    busy = sum(o.wall for o in timed)
    items = sum(o.items for o in timed)
    lat_ms = [v * 1000 for v in latencies_s]
    return {
        "ops": ops,
        "timed_ops": timed,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o.ok),
        "latency_ms": lat_ms,
        "p50_ms": float(np.percentile(lat_ms, 50)) if lat_ms else None,
        "items_per_s": items / busy if busy else None,
        "report": report,
    }


WORKLOADS = {"serve": serve, "refresh": refresh}
