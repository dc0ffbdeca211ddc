"""Seeded input generator for the three benchmark corpora.

Everything the engine reads is produced here from ``--seed`` and written as
parquet under the run directory; the engine never sees the seed. The same
seed always yields the same rows (the CDC live events additionally carry the
wall-clock time they were published at, which is stamped at drop time).

The properties below are the ones README.md documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# cdc_sync: the change stream
# ---------------------------------------------------------------------------
CDC = {
    "keys": 30_000,  # live entities; every key gets one initial ADD
    "backlog_events": 300_000,  # initial list: one ADD per key + churn
    # Measured on the fixture events table (seed 42; sf0.01 and sf0.1 agree):
    # user_id is uniform (per-key counts have the Poisson spread, a rank/count
    # log-log slope of 0.11), so the key skew exponent is 0; event_type is
    # uniform over five raw types, i.e. ADD 20% / UPDATE 60% / DELETE 20%
    # after the sources.cdc projection (signup -> ADD, error -> DELETE).
    "zipf_s": 0.0,
    "raw_mix": {"signup": 0.2, "click": 0.2, "purchase": 0.2, "view": 0.2, "error": 0.2},
    # Not measured: the fixture has no re-delivered event_id. A stated
    # small share, so the watermark dedup path has work.
    "redelivery_share": 0.02,
    "live_rate_per_s": 2_000,
    "drop_interval_ms": 250,
}
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _ops(rng: np.random.Generator, n: int) -> np.ndarray:
    mix = CDC["raw_mix"]
    return rng.choice(np.array(list(mix)), size=n, p=list(mix.values()))


class CdcStream:
    """The backlog plus a deterministic live schedule of drops.

    ``backlog()`` returns the initial-list table (timestamps just before
    ``t0``). ``drop(j)`` returns the event columns of live drop ``j`` without
    timestamps; the publisher stamps them when it publishes the file.
    """

    def __init__(self, seed: int, stream: int = 0):
        self.rng = np.random.default_rng([seed, 1, stream])
        self.keys = CDC["keys"]
        self.n_backlog = CDC["backlog_events"]
        # hot keys are scattered over the id space, not the lowest ids
        self.key_perm = self.rng.permutation(self.keys).astype(np.int64)
        self.key_p = _zipf_probs(self.keys, CDC["zipf_s"])
        self.next_event_id = 0
        self.per_drop = CDC["live_rate_per_s"] * CDC["drop_interval_ms"] // 1000
        self._recent: list[dict] = []  # last drops, the re-delivery pool

    def _events(self, n: int) -> dict:
        ids = np.arange(self.next_event_id, self.next_event_id + n, dtype=np.int64)
        self.next_event_id += n
        return {
            "event_id": ids,
            "user_id": self.key_perm[self.rng.choice(self.keys, size=n, p=self.key_p)],
            "event_type": _ops(self.rng, n),
            "value": np.round(self.rng.uniform(0, 100, n), 2),
            "props": np.array([f'{{"k": {k}}}' for k in self.rng.integers(0, 100, n)]),
        }

    def backlog(self, t0_us: int, span_s: float = 60.0) -> pa.Table:
        # the initial ADD of every key comes first, then the churn
        adds = {
            "event_id": np.arange(self.keys, dtype=np.int64),
            "user_id": np.arange(self.keys, dtype=np.int64),
            "event_type": np.full(self.keys, "signup"),
            "value": np.zeros(self.keys),
            "props": np.full(self.keys, '{"k": 0}'),
        }
        self.next_event_id = self.keys
        churn = self._events(self.n_backlog - self.keys)
        cols = {k: np.concatenate([adds[k], churn[k]]) for k in adds}
        n = self.n_backlog
        start = t0_us - int(span_s * 1e6)
        cols["ts"] = start + np.arange(n, dtype=np.int64) * int(span_s * 1e6 // n)
        return to_table(cols)

    def drop(self) -> dict:
        """Columns of the next live drop: fresh events plus a share of
        re-deliveries (verbatim copies, same event_id) from recent drops."""
        n_redeliver = int(round(self.per_drop * CDC["redelivery_share"])) if self._recent else 0
        fresh = self._events(self.per_drop - n_redeliver)
        if n_redeliver:
            pool = self._recent[int(self.rng.integers(len(self._recent)))]
            pick = self.rng.choice(len(pool["event_id"]), size=n_redeliver, replace=False)
            cols = {k: np.concatenate([fresh[k], pool[k][pick]]) for k in fresh}
            cols["redelivered"] = np.arange(len(cols["event_id"])) >= len(fresh["event_id"])
        else:
            cols = dict(fresh)
            cols["redelivered"] = np.zeros(len(fresh["event_id"]), dtype=bool)
        self._recent = (self._recent + [fresh])[-4:]
        return cols


def to_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# curation_batch / vector_serve: documents and embeddings
# ---------------------------------------------------------------------------
# The fixture's measured vocabulary: 30 words plus the near-dup marker.
FIXTURE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
CURATION = {
    "docs": 100,
    "vectors": 100,
    "words_per_doc": [10, 100],  # uniform, as in the fixture
    "near_dup_share": 0.05,  # copy of an earlier doc + " dup"
    "exact_dup_share": 0.0016,  # verbatim copy of an earlier doc (at least one)
    "lang_mix": {"en": 0.40, "fr": 0.15, "es": 0.15, "zh": 0.15, "de": 0.15},
    "sources": 20,  # source = 'src' || doc_id % 20
    "dim": 64,
    "clusters": 10,
    "cluster_center_norm": 0.14,  # fixture centroid norms 0.13-0.18 at 500 rows
}
SERVE = {
    "vectors": 5_000,
    "docs": 5_000,
    # two-level clusters: 32 unit centers, 16 sub-centers each (noise 0.05
    # per dimension), points around a sub-center (noise 0.01 per dimension)
    "clusters": 32,
    "sub_clusters": 16,
    "noise": 0.01,
    "vocab": 2_000,  # synthetic ASCII words, Zipf(1.0) term frequencies
    "words_per_doc": [10, 100],
    "query_vectors": 64,  # held out: never in the corpus
    "query_terms": [1, 3],
    "searches": 32,  # one closed-loop client, alternating ivfpq and bm25
    "maintenance_batches": 2,  # after a third and two thirds of the searches
    "maintenance_add": 20,  # vectors and documents added per batch
    "maintenance_remove": 5,  # vector ids and doc ids removed per batch
}


def documents(
    rng: np.random.Generator,
    n: int,
    vocab: list[str],
    word_p: np.ndarray | None = None,
    first_id: int = 0,
    dup_rates: bool = True,
) -> pa.Table:
    """Documents with stratified properties: lengths spread evenly over the
    range, exact near-dup / exact-dup counts and language shares, so seeds
    change the content but not the amount of work."""
    lo, hi = CURATION["words_per_doc"]
    lengths = rng.permutation(np.round(np.linspace(lo, hi, n)).astype(int))
    kind = np.zeros(n, dtype=int)  # 0 fresh, 1 near-dup, 2 exact dup
    if dup_rates and n >= 2:
        n_near = int(round(CURATION["near_dup_share"] * n))
        n_exact = max(1, int(round(CURATION["exact_dup_share"] * n)))
        picks = rng.choice(np.arange(1, n), size=n_near + n_exact, replace=False)
        kind[picks[:n_near]] = 1
        kind[picks[n_near:]] = 2
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 0:
            texts.append(" ".join(rng.choice(vocab, size=int(lengths[i]), p=word_p)))
        else:
            src = texts[int(rng.integers(i))]
            texts.append(src + " dup" if kind[i] == 1 else src)
    shares = CURATION["lang_mix"]
    langs = np.concatenate(
        [np.full(int(round(p * n)), lang) for lang, p in shares.items()] + [np.array(["en"] * n)]
    )[:n]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.permutation(langs), pa.string()),
            "source": pa.array([f"src{i % CURATION['sources']}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def cluster_centers(rng: np.random.Generator, n: int, norm: float) -> np.ndarray:
    c = rng.normal(size=(n, CURATION["dim"]))
    return c / np.linalg.norm(c, axis=1, keepdims=True) * norm


def unit_vectors(
    rng: np.random.Generator, centers: np.ndarray, n: int, noise: float = 0.125
) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.permutation(np.arange(n) % len(centers))  # balanced clusters
    x = centers[labels] + rng.normal(scale=noise, size=(n, centers.shape[1]))
    return x / np.linalg.norm(x, axis=1, keepdims=True), labels


def embeddings_table(vecs: np.ndarray, labels: np.ndarray, first_id: int = 0) -> pa.Table:
    ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_curation(seed: int, out_dir: str, docs: int | None = None, vectors: int | None = None) -> None:
    """documents.parquet + embeddings.parquet shaped like the fixture."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        documents(rng, docs or CURATION["docs"], FIXTURE_VOCAB),
        os.path.join(out_dir, "documents.parquet"),
    )
    centers = cluster_centers(rng, CURATION["clusters"], CURATION["cluster_center_norm"])
    vecs, labels = unit_vectors(rng, centers, vectors or CURATION["vectors"])
    pq.write_table(embeddings_table(vecs, labels), os.path.join(out_dir, "embeddings.parquet"))


def serve_vocab(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < SERVE["vocab"]:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 9)))))
    return sorted(words), _zipf_probs(SERVE["vocab"], 1.0)


class ServeCorpus:
    """The serving corpus, held-out queries and maintenance batches."""

    def __init__(self, seed: int, vectors: int | None = None, docs: int | None = None):
        self.rng = np.random.default_rng([seed, 3])
        self.n_vec = vectors or SERVE["vectors"]
        self.n_doc = docs or SERVE["docs"]
        self.vocab, self.word_p = serve_vocab(self.rng)
        self.word_p = self.rng.permutation(self.word_p)
        top = cluster_centers(self.rng, SERVE["clusters"], 1.0)
        self.centers = np.repeat(top, SERVE["sub_clusters"], axis=0) + self.rng.normal(
            scale=0.05, size=(len(top) * SERVE["sub_clusters"], top.shape[1])
        )
        self.vecs, self.labels = unit_vectors(self.rng, self.centers, self.n_vec, SERVE["noise"])
        self.docs = documents(self.rng, self.n_doc, self.vocab, self.word_p, dup_rates=False)
        self.query_vecs, _ = unit_vectors(self.rng, self.centers, SERVE["query_vectors"], SERVE["noise"])
        lo, hi = SERVE["query_terms"]
        self.query_terms = [
            list(self.rng.choice(self.vocab, size=int(self.rng.integers(lo, hi + 1)), replace=False, p=self.word_p))
            for _ in range(SERVE["query_vectors"])
        ]

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(embeddings_table(self.vecs, self.labels), os.path.join(out_dir, "embeddings.parquet"))
        pq.write_table(self.docs, os.path.join(out_dir, "documents.parquet"))

    def maintenance(self, j: int) -> dict:
        """Batch ``j``: new vectors/docs (ids past the corpus) and ids to
        remove, drawn from the original corpus so no batch removes twice."""
        add = SERVE["maintenance_add"]
        rm = SERVE["maintenance_remove"]
        vecs, labels = unit_vectors(self.rng, self.centers, add, SERVE["noise"])
        return {
            "vectors": embeddings_table(vecs, labels, first_id=self.n_vec + j * add),
            "docs": documents(self.rng, add, self.vocab, self.word_p, first_id=self.n_doc + j * add, dup_rates=False),
            "remove_vec_ids": [int(i) for i in range(j * rm, (j + 1) * rm)],
            "remove_doc_ids": [int(i) for i in range(j * rm, (j + 1) * rm)],
        }
