"""curation_batch: the LLM-data operators run as a batch job.

A fixed list of 15 registered queries runs over a generated corpus shaped
like the fixture, each output written in full to a run-local parquet path
(``count()`` would let Catalyst prune the operator work; a ``noop`` write
would leave nothing to check). ``batch_s`` is the wall time of the whole
pass, ``typical_ms`` the geometric mean of the per-query times (build plus
write) and ``tail_ms`` the mean of the three slowest. Both weigh several
queries: the median query and the single slowest one changed identity from
run to run and spread up to twice as much. Outputs are checked against the registry's DuckDB
oracles, computed before the JVM launches and cached per seed.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import pickle
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import gen
import serve
from common import median

QUERY_LIST = [
    "dedup_minhash_clusters",
    "dedup_simhash_clusters",
    "dedup_exact",
    "dedup_substring_spans",
    "documents_tfidf_neardup_topk",
    "hybrid_search_rrf",
    "ann_ivf_pq_topk",
    "ann_recall_nprobe_sweep",
    "embeddings_pq_codes",
    "dedup_graph_pagerank",
    "text_bpe_pair_counts",
    "documents_quality_rules",
    "text_pii_scrub",
    "pipeline_corpus_clean",
    "pipeline_training_mix",
]
# the warm-up runs over a corpus this small
WARM_DOCS = 30


def normalize(rows, cols):
    """Order-insensitive comparable form of a result: columns sorted by
    name, floats rounded to 6 places (and -0.0 folded), rows sorted.
    The same rule as the oracle parity tests."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _oracles(data_dir: str, cache_dir: str, seed: int) -> dict:
    """Reference rows of every query, from the DuckDB oracles, cached per
    seed (keyed also by the oracle SQL and the generator source)."""
    from k8s_vectordb_sync_spark.queries import ORACLES

    key = hashlib.sha256(
        repr([ORACLES[q] for q in QUERY_LIST]).encode() + inspect.getsource(gen).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, f"curation-seed{seed}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def run(q):
        cur = con.cursor()
        res = cur.execute(ORACLES[q])
        cols = [d[0] for d in res.description]
        return q, (cols, normalize(res.fetchall(), cols))

    # the two iterative oracles take most of the time: start them first
    heavy_first = sorted(QUERY_LIST, key=lambda q: q not in ("ann_recall_nprobe_sweep", "dedup_graph_pagerank"))
    with ThreadPoolExecutor(4) as ex:
        ref = dict(ex.map(run, heavy_first))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(ref, fh)
    os.replace(path + ".tmp", path)
    return ref


def generate(ctx) -> dict:
    data_dir = os.path.join(ctx.run_dir, "curation")
    gen.write_curation(ctx.seed, data_dir)
    warm_dir = os.path.join(ctx.run_dir, "warm")
    gen.write_curation(ctx.seed + 1_000_003, warm_dir, docs=WARM_DOCS, vectors=WARM_DOCS)
    ref = _oracles(data_dir, os.path.join(ctx.root, ".perfbench", "cache"), ctx.seed)
    return {"data_dir": data_dir, "warm_dir": warm_dir, "ref": ref}


def warm_up(spark, inputs, ctx) -> None:
    """The first query of the list over a tiny corpus: it starts the Python
    workers. One pass over a tiny corpus of the whole list was tried and
    left the measured pass as slow (JIT needs more than one pass), at
    five times the cost; the pass is measured as a batch job sees it."""
    from k8s_vectordb_sync_spark.queries import QUERIES

    QUERIES[QUERY_LIST[0]](spark, inputs["warm_dir"]).write.mode("overwrite").parquet(
        os.path.join(ctx.run_dir, "warm-out")
    )


def measure(spark, inputs, ctx) -> dict:
    from k8s_vectordb_sync_spark.queries import QUERIES

    tr = ctx.tracer
    serve.instrument_trainers(ctx)
    out_dir = os.path.join(ctx.run_dir, "out")
    per_query: dict[str, float] = {}
    t_pass = time.perf_counter()
    for q in QUERY_LIST:
        if tr.enabled:
            spark.sparkContext.setJobGroup(f"q-{q}", q)
        t0 = time.perf_counter()
        with tr.span(f"queries.{q}.build", rid=q):
            df = QUERIES[q](spark, inputs["data_dir"])
        with tr.span(f"queries.{q}.write", rid=q):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, q))
        per_query[q] = (time.perf_counter() - t0) * 1000
    curation_s = time.perf_counter() - t_pass
    print("perfbench: per-query ms " + " ".join(f"{q}={v:.0f}" for q, v in per_query.items()), file=sys.stderr)
    return {
        "batch_s": curation_s,
        "typical_ms": statistics.geometric_mean(per_query.values()),
        "tail_ms": sum(sorted(per_query.values())[-3:]) / 3,
        "attempted": len(QUERY_LIST),
        "out_dir": out_dir,
        "per_query_ms": per_query,
    }


def check(spark, inputs, ctx, result) -> int:
    """Each written output against its oracle: same column names, same
    normalized rows."""
    import pyarrow.parquet as pq

    failed = 0
    for q in QUERY_LIST:
        table = pq.read_table(os.path.join(result["out_dir"], q))
        cols = table.column_names
        rows = list(zip(*(table.column(c).to_pylist() for c in cols))) if cols else []
        rcols, rrows = inputs["ref"][q]
        ok = sorted(cols) == sorted(rcols) and normalize(rows, cols) == rrows
        if not ok:
            print(f"perfbench: {q} output differs from its oracle", file=sys.stderr)
        failed += not ok
    return failed


def layer_metrics(ctx, result, groups) -> None:
    tr = ctx.tracer
    skews, weights, spill = [], [], 0
    for q in QUERY_LIST:
        g = groups.get(f"q-{q}", {"jobs": 0, "shuffle_bytes": 0, "spill_bytes": 0, "stage_tasks": {}})
        ctx.layer[f"queries.{q}.build_s"] = sum(tr.durations(f"queries.{q}.build"))
        ctx.layer[f"queries.{q}.write_s"] = sum(tr.durations(f"queries.{q}.write"))
        ctx.layer[f"queries.{q}.jobs"] = g["jobs"]
        ctx.layer[f"queries.{q}.shuffle_bytes"] = g["shuffle_bytes"]
        spill += g["spill_bytes"]
        for tasks in g["stage_tasks"].values():
            if len(tasks) >= 2 and median(tasks) > 0:
                skews.append(max(tasks) / median(tasks))
                weights.append(sum(tasks))
    ctx.layer["curation.spill_bytes"] = spill
    # per-stage max/median task time, weighted by the stage's task time
    ctx.layer["curation.task_skew"] = (
        sum(s * w for s, w in zip(skews, weights)) / sum(weights) if weights else 0.0
    )
    ctx.layer["curation_s"] = result["batch_s"]
    serve.trainer_metrics(ctx)
