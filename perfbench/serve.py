"""The serving half of the sync target, run after the live phase in traced
cdc_sync runs.

Builds the IVF-PQ index (8 clusters, as the CLI builds it) and the BM25
impact index over a generated serving corpus, then one closed-loop client
sends a fixed number of ``POST /api/v1/search`` requests to OpsServer +
make_search_handler, alternating the ivfpq and bm25 tiers. After a third
and after two thirds of the searches one maintenance batch runs
(ivf_pq_index_add, bm25_index_add and both *_index_remove). Its numbers are
per-layer only.
"""

from __future__ import annotations

import decimal
import http.client
import json
import math
import os
import sys
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import gen
from common import job_ids, median, percentile

WARM_SIZE = 10  # the warm-up uses only this corpus's held-out queries
K = 10


def generate(ctx) -> dict:
    corpus = gen.ServeCorpus(ctx.seed)
    data_dir = os.path.join(ctx.run_dir, "serve")
    corpus.write(data_dir)
    batches = []
    for j in range(gen.SERVE["maintenance_batches"]):
        b = corpus.maintenance(j)
        bdir = os.path.join(data_dir, f"maint-{j:03d}")
        os.makedirs(bdir)
        pq.write_table(b["vectors"], os.path.join(bdir, "vectors.parquet"))
        pq.write_table(b["docs"], os.path.join(bdir, "docs.parquet"))
        batches.append({**b, "dir": bdir})
    warm = gen.ServeCorpus(ctx.seed + 1_000_003, vectors=WARM_SIZE, docs=WARM_SIZE)
    return {"corpus": corpus, "data_dir": data_dir, "batches": batches, "warm": warm}


def _build(spark, data_dir: str, index_dir: str) -> tuple[str, str]:
    from k8s_vectordb_sync_spark.operators import ann_index as ai
    from k8s_vectordb_sync_spark.operators import lexical_index as lx
    from k8s_vectordb_sync_spark.sources.tables import load_table

    ivf, bm25 = os.path.join(index_dir, "ivfpq"), os.path.join(index_dir, "bm25")
    ai.build_ivf_pq_index(load_table(spark, data_dir, "embeddings"), ivf, n_clusters=8)
    lx.build_bm25_index(load_table(spark, data_dir, "documents"), bm25)
    return ivf, bm25


def _serve(spark, ivf: str, bm25: str, handler_wrap=None):
    from k8s_vectordb_sync_spark import api, api_server

    handle = api.make_search_handler(spark, ivfpq_path=ivf, bm25_path=bm25, default_k=K)
    server = api_server.OpsServer(
        resync=lambda: 0, bind_address="127.0.0.1:0",
        search=handler_wrap(handle) if handler_wrap else handle,
    )
    return server, server.start()


def _request(addr, body: dict) -> tuple[int, dict]:
    conn = http.client.HTTPConnection(*addr, timeout=120)
    try:
        conn.request("POST", "/api/v1/search", json.dumps(body), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def _search_body(corpus, i: int) -> dict:
    q = (i // 2) % len(corpus.query_vecs)
    if i % 2 == 0:
        return {"tier": "ivfpq", "query_id": q, "k": K, "query_vec": corpus.query_vecs[q].tolist()}
    return {"tier": "bm25", "query_id": q, "k": K, "terms": corpus.query_terms[q]}


def _maintain(spark, ivf: str, bm25: str, batch: dict) -> None:
    from k8s_vectordb_sync_spark.operators import ann_index as ai
    from k8s_vectordb_sync_spark.operators import lexical_index as lx

    ai.ivf_pq_index_add(spark.read.parquet(os.path.join(batch["dir"], "vectors.parquet")), ivf)
    lx.bm25_index_add(spark.read.parquet(os.path.join(batch["dir"], "docs.parquet")), bm25)
    ai.ivf_pq_index_remove(
        spark, ivf, spark.createDataFrame([(i,) for i in batch["remove_vec_ids"]], "vec_id long")
    )
    lx.bm25_index_remove(
        spark, bm25, spark.createDataFrame([(i,) for i in batch["remove_doc_ids"]], "doc_id long")
    )


def instrument_trainers(ctx) -> None:
    """Spans around the k-means and product-quantizer trainers."""
    from k8s_vectordb_sync_spark.operators import ann_index as ai
    from k8s_vectordb_sync_spark.operators import similarity as sim

    for mod, attr, name in (
        # ann_index binds the trainers at import: patch both names
        (sim, "kmeans_centroids", "operators.similarity.kmeans"),
        (ai, "kmeans_centroids", "operators.similarity.kmeans"),
        (sim, "pq_codebooks", "operators.similarity.pq_train"),
        (ai, "pq_codebooks", "operators.similarity.pq_train"),
    ):
        if hasattr(mod, attr):
            ctx.tracer.patch(mod, attr, name)


def trainer_metrics(ctx) -> None:
    tr = ctx.tracer
    ctx.layer["operators.similarity.kmeans_s"] = sum(tr.durations("operators.similarity.kmeans"))
    ctx.layer["operators.similarity.pq_train_s"] = sum(tr.durations("operators.similarity.pq_train"))


def instrument(spark, ctx):
    """Traced runs: spans around the handler, each probe, the collect, every
    index mutation and the two trainers; Spark jobs per search."""
    from k8s_vectordb_sync_spark.operators import ann_index as ai
    from k8s_vectordb_sync_spark.operators import lexical_index as lx

    tr = ctx.tracer
    instrument_trainers(ctx)
    for mod, attr, name in (
        (ai, "ivf_pq_probe", "operators.ann_index.probe"),
        (lx, "bm25_index_probe", "operators.lexical_index.probe"),
        (ai, "ivf_pq_index_add", "operators.ann_index.add"),
        (ai, "ivf_pq_index_remove", "operators.ann_index.remove"),
        (lx, "bm25_index_add", "operators.lexical_index.add"),
        (lx, "bm25_index_remove", "operators.lexical_index.remove"),
        (ai, "build_ivf_pq_index", "operators.ann_index.build"),
        (lx, "build_bm25_index", "operators.lexical_index.build"),
    ):
        if hasattr(mod, attr):
            tr.patch(mod, attr, name)
    if not tr.enabled:
        return None
    jobs: list[int] = []

    def wrap(handle):
        def traced(req):
            group = f"search-{len(jobs)}-{time.monotonic_ns()}"
            spark.sparkContext.setJobGroup(group, "perfbench search")
            with tr.span(f"api.handler.{req.get('tier')}"):
                out = handle(req)
            jobs.append(len(job_ids(spark, group)))
            return out

        return traced

    return wrap, jobs


def measure(spark, inputs, ctx, hooks) -> dict:
    t0 = time.perf_counter()
    ivf, bm25 = _build(spark, inputs["data_dir"], os.path.join(ctx.run_dir, "index"))
    build_s = time.perf_counter() - t0

    server, addr = _serve(spark, ivf, bm25, hooks[0])
    corpus = inputs["corpus"]
    # warm-up: one search per tier on a held-out query of another corpus
    for j in range(2):
        status, _ = _request(addr, _search_body(inputs["warm"], j))
        if status != 200:
            server.stop()
            raise RuntimeError(f"warm-up search failed: HTTP {status}")
    searches: list[dict] = []
    updates_ms: list[float] = []
    errors = 0
    n_batches = 0
    n_search = gen.SERVE["searches"]
    maintain_after = {n_search * (j + 1) // (len(inputs["batches"]) + 1) for j in range(len(inputs["batches"]))}
    try:
        for i in range(n_search):
            body = _search_body(corpus, i)
            t = time.perf_counter()
            status, resp = _request(addr, body)
            searches.append(
                {"body": body, "ms": (time.perf_counter() - t) * 1000, "status": status,
                 "results": resp.get("results", []), "batches_before": n_batches}
            )
            if status != 200:
                errors += 1
                print(f"perfbench: search HTTP {status}: {resp}", file=sys.stderr)
            if i + 1 in maintain_after:
                t = time.perf_counter()
                _maintain(spark, ivf, bm25, inputs["batches"][n_batches])
                updates_ms.append((time.perf_counter() - t) * 1000)
                n_batches += 1
    finally:
        server.stop()
    ctx.layer.update(
        {
            "index_build_s": build_s,
            "index_update_p50_ms": median(updates_ms) if updates_ms else 0.0,
            "search.count": len(searches),
            "operators.ann_index.codes_files": _count_files(os.path.join(ctx.run_dir, "index", "ivfpq")),
        }
    )
    return {
        "attempted": len(searches) + len(updates_ms),
        "latency_ms": [s["ms"] for s in searches],
        "updates_ms": updates_ms,
        "searches": searches,
        "errors": errors,
        "n_batches": n_batches,
        "hooks": hooks,
        "index": (ivf, bm25),
    }


def _count_files(path: str) -> int:
    """Parquet files under any ``codes`` directory of the index."""
    return sum(
        1 for d, _, files in os.walk(path) if "codes" in d.split(os.sep)
        for f in files if f.endswith(".parquet")
    )


def _bm25_brute(corpus, terms: list[str], meta: dict) -> list[tuple[int, float]]:
    """Top-k BM25 over the generated documents with the index's k1/b, the
    same rounding (idf and each term's impact to 6 places) and the same
    order (score desc, doc id asc)."""
    k1, b = meta["k1"], meta["b"]
    texts = corpus.docs.column("text").to_pylist()
    ids = corpus.docs.column("doc_id").to_pylist()
    toks = [[t for t in text.lower().split() if t] for text in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = Counter(term for t in toks for term in set(t))
    q = decimal.Decimal("0.000001")

    def r6(x: float) -> decimal.Decimal:
        return decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)

    idf = {t: float(r6(math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)))) for t in terms}
    scores = []
    for doc_id, tk in zip(ids, toks):
        tf = Counter(tk)
        s = decimal.Decimal(0)
        hit = False
        for t in terms:
            if tf[t]:
                hit = True
                s += r6(idf[t] * tf[t] * (k1 + 1.0) / (tf[t] + k1 * ((1.0 - b) + b * len(tk) / avgdl)))
        if hit:
            scores.append((doc_id, float(s)))
    scores.sort(key=lambda x: (-x[1], x[0]))
    return scores[:K]


def check(spark, inputs, ctx, result) -> int:
    """Search errors; bm25 answers before any add against brute-force BM25;
    recall@10 of ivfpq answers against exact cosine over the live corpus."""
    from k8s_vectordb_sync_spark.operators import lexical_index as lx

    corpus = inputs["corpus"]
    failed = result["errors"]
    meta = lx.load_bm25_meta(result["index"][1])
    vecs = [corpus.vecs] + [
        np.array(b["vectors"].column("embedding").to_pylist(), dtype=np.float64)
        for b in inputs["batches"][: result["n_batches"]]
    ]
    allv = np.concatenate(vecs).astype(np.float32).astype(np.float64)
    allv /= np.linalg.norm(allv, axis=1, keepdims=True)
    recalls = []
    for s in result["searches"]:
        if s["status"] != 200:
            continue
        body = s["body"]
        got = [r["neighbor_id"] for r in sorted(s["results"], key=lambda r: r["rank"])]
        nb = s["batches_before"]
        if body["tier"] == "bm25":
            if nb == 0:
                want = _bm25_brute(corpus, body["terms"], meta)
                have = [(r["neighbor_id"], r["score"]) for r in sorted(s["results"], key=lambda r: r["rank"])]
                # the handler serves scores rounded to 4 places
                ok = len(want) == len(have) and all(
                    abs(round(a[1], 4) - h[1]) <= 1e-4 + 1e-9 for a, h in zip(want, have)
                ) and {i for i, sc in want if sc > want[-1][1] + 1e-4} <= {i for i, _ in have}
                if not ok:
                    print(f"perfbench: bm25 {body['terms']} got {have} want {want}", file=sys.stderr)
                failed += not ok
            continue
        n_live = len(corpus.vecs) + nb * gen.SERVE["maintenance_add"]
        mask = np.ones(n_live, dtype=bool)
        for b in inputs["batches"][:nb]:
            mask[b["remove_vec_ids"]] = False
        q = np.asarray(body["query_vec"], dtype=np.float64)
        sims = allv[:n_live] @ (q / np.linalg.norm(q))
        sims[~mask] = -np.inf
        exact = set(np.argsort(-sims, kind="stable")[:K].tolist())
        recalls.append(len(exact & set(got)) / K)
    ctx.layer["recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    return failed


def layer_metrics(ctx, result) -> None:
    tr = ctx.tracer
    _, jobs = result["hooks"]
    h_ivf = tr.durations("api.handler.ivfpq")
    h_bm = tr.durations("api.handler.bm25")
    handler = {s["idx"]: s for s in tr.spans if s["name"].startswith("api.handler.")}
    probe_ms = {"operators.ann_index.probe": [], "operators.lexical_index.probe": []}
    collect_ms = []
    for s in tr.spans:
        if s["name"] in probe_ms and s["parent"] in handler:
            probe_ms[s["name"]].append((s["end"] - s["start"]) * 1000)
    for s in handler.values():
        collect_ms.append((s["end"] - s["start"] - s["children_s"]) * 1000)
    lat = result["latency_ms"]
    # the first handler spans are the warm-up searches, which have no round trip
    handler_all = [(s["end"] - s["start"]) * 1000 for s in sorted(handler.values(), key=lambda s: s["start"])]
    handler_all = handler_all[len(handler_all) - len(lat):]

    def med_ms(name):
        d = tr.durations(name)
        return median(d) * 1000 if d else 0.0

    ctx.layer.update(
        {
            "search.p50_ms": median(lat),
            "search.p90_ms": percentile(lat, 90),
            "api_server.overhead_ms": median([a - h for a, h in zip(lat, handler_all)]) if handler_all else 0.0,
            "api.handler_ms.ivfpq": median(h_ivf) * 1000 if h_ivf else 0.0,
            "api.handler_ms.bm25": median(h_bm) * 1000 if h_bm else 0.0,
            "operators.ann_index.probe_plan_ms": median(probe_ms["operators.ann_index.probe"] or [0.0]),
            "operators.lexical_index.probe_plan_ms": median(probe_ms["operators.lexical_index.probe"] or [0.0]),
            "api.collect_ms": median(collect_ms or [0.0]),
            "api.jobs_per_search": median(jobs or [0]),
            "operators.ann_index.build_s": sum(tr.durations("operators.ann_index.build")),
            "operators.lexical_index.build_s": sum(tr.durations("operators.lexical_index.build")),
            "operators.ann_index.add_ms": med_ms("operators.ann_index.add"),
            "operators.ann_index.remove_ms": med_ms("operators.ann_index.remove"),
            "operators.lexical_index.add_ms": med_ms("operators.lexical_index.add"),
            "operators.lexical_index.remove_ms": med_ms("operators.lexical_index.remove"),
        }
    )
    trainer_metrics(ctx)
