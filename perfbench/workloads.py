"""The benchmark workloads.

Each workload has a ``setup`` (inputs and, for the serve workloads, the
persisted corpus; it returns the results of the checks it makes), an
``op`` (one closed-loop operation, timed by the caller) and a ``check``
of the op's output against a reference computed outside the library.
Every library call a set-up or an op makes is wrapped in a span named
``<module>.<function>``; the untraced mode's spans are no-ops.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import gen

K = 10
BATCH = 64
TIE_EPS = 1e-9
INDEX_CHECK_ROWS = 64


class Ctx:
    """What a workload needs from the run: the session, a scratch
    directory inside the checkout, the seed and the size scale."""

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{prefix}-{self._n}")
        os.makedirs(path)
        return path

    def size(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))


def write_docs(ctx: Ctx, pdf) -> str:
    d = ctx.fresh_dir("docs")
    pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d


def topk_matches(scores: np.ndarray, ids: np.ndarray, got: list[int], k: int) -> bool:
    """``got`` is an exact top-k of ``scores`` (row ``j`` has id
    ``ids[j]``): k distinct ids, none scoring below the k-th best, and
    every id scoring above it present. Scores within TIE_EPS of the k-th
    best are ties, and any of them may fill the boundary."""
    if len(got) != k or len(set(got)) != k:
        return False
    kth = np.partition(scores, -k)[-k]
    by_id = dict(zip(ids.tolist(), scores.tolist()))
    if any(g not in by_id or by_id[g] < kth - TIE_EPS for g in got):
        return False
    return set(ids[scores > kth + TIE_EPS].tolist()) <= set(got)


# ---------------------------------------------------------------- serve
class _Serve:
    """Shared part of the serve workloads: a persisted encoded corpus
    and its vectors, collected once as the exact top-k reference."""

    n_queries = 1024

    def build(self, ctx: Ctx, src: str, tr) -> None:
        """Build and persist the corpus of ``src/documents.parquet``."""
        from fuserank_spark import flagship

        self.ctx = ctx
        with tr.span("flagship.build_corpus"):
            corpus = flagship.build_corpus(ctx.spark, src)
        with tr.span("flagship.build_corpus.materialize"):
            corpus.encoded = corpus.encoded.persist()
            self.n = corpus.encoded.count()
        self.corpus = corpus
        with tr.span("perfbench.check"):
            pdf = corpus.encoded.select("row_id", "vector").toPandas()
        self.ids = pdf["row_id"].to_numpy()
        self.vectors = np.stack(pdf["vector"].to_numpy())

    def compile(self, spec):
        from fuserank_spark import flagship
        from fuserank_spark.embed import DeterministicStubEmbedder
        from fuserank_spark.query import compile_query

        text, aux = spec
        return compile_query(
            text, aux, flagship.AUX_SCHEMA, self.corpus.stats, self.corpus.layout,
            text_embedder=DeterministicStubEmbedder(flagship.EMB_DIM),
            num_harmonics=flagship.NUM_HARMONICS,
        )

    def teardown(self) -> None:
        if hasattr(self, "corpus"):
            self.corpus.encoded.unpersist()


class ServePoint(_Serve):
    name = "serve_point"
    corpus_rows = 30_000
    items_per_op = 1
    # point operations kept getting faster over the first six or so as
    # the JVM compiled their hot paths
    warmup_ops, min_ops = 6, 7

    def setup(self, ctx: Ctx, tr) -> list[bool]:
        docs = gen.documents(ctx.seed, ctx.size(self.corpus_rows, 200))
        self.build(ctx, write_docs(ctx, docs), tr)
        self.queries = gen.queries(ctx.seed, self.n_queries, "documents")
        return []

    def sizes(self) -> dict:
        return {"corpus_rows": self.n, "query_stream": self.n_queries}

    def op(self, i: int, tr):
        from fuserank_spark.search import topk

        with tr.span("query.compile_query"):
            cq = self.compile(self.queries[i % len(self.queries)])
        with tr.span("search.topk"):
            rows = topk(self.corpus.encoded, cq.vector, k=K).collect()
        return cq.vector, [r["row_id"] for r in rows]

    def check(self, res) -> bool:
        qvec, got = res
        return topk_matches(self.vectors @ qvec, self.ids, got, K)


class ServeBatch(_Serve):
    """Batches served from a freshly ingested crawl. The set-up runs the
    write side of what serving reads, cold: curation and near-duplicate
    removal of a crawl with planted duplicates (``gen.crawl``), the
    corpus build over the survivors, and its fused-IVF index. A change
    that speeds serving but slows ingest shows in ``setup_s``."""

    name = "serve_batch"
    unique_docs = 1_000
    items_per_op = BATCH
    warmup_ops, min_ops = 2, 3

    def setup(self, ctx: Ctx, tr) -> list[bool]:
        crawl, truth = gen.crawl(ctx.seed, ctx.size(self.unique_docs, 100))
        self.crawl_docs = len(crawl)
        src = ctx.fresh_dir("crawl")
        crawl.to_parquet(os.path.join(src, "crawl.parquet"), index=False)
        docs = curate(ctx, src, tr)
        self.build(ctx, docs, tr)
        d = build_index(ctx, self.corpus, self.n, tr)
        with tr.span("perfbench.check"):
            checks = [set(self.ids.tolist()) == truth and self.n == len(truth),
                      check_index(ctx, d, self.ids)]
        self.queries = gen.queries(ctx.seed, self.n_queries, "crawl")
        return checks

    def sizes(self) -> dict:
        return {"crawl_docs": self.crawl_docs, "corpus_rows": self.n,
                "query_stream": self.n_queries, "batch": BATCH}

    def op(self, i: int, tr):
        from fuserank_spark.search import topk_batch
        from fuserank_spark.session import local_frame

        start = (i * BATCH) % len(self.queries)
        specs = [self.queries[(start + j) % len(self.queries)] for j in range(BATCH)]
        with tr.span("query.compile_query", calls=BATCH):
            qvecs = [self.compile(s).vector for s in specs]
        with tr.span("session.local_frame"):
            qdf = local_frame(
                self.ctx.spark,
                [(j, [float(x) for x in v]) for j, v in enumerate(qvecs)],
                "query_id long, qvec array<double>",
            )
        with tr.span("search.topk_batch"):
            rows = topk_batch(self.corpus.encoded, qdf, k=K).select("query_id", "row_id").collect()
        return qvecs, rows

    def check(self, res) -> bool:
        qvecs, rows = res
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r["row_id"])
        if sorted(got) != list(range(len(qvecs))):
            return False
        scores = self.vectors @ np.asarray(qvecs).T
        return all(topk_matches(scores[:, j], self.ids, got[j], K) for j in range(len(qvecs)))


# ---------------------------------------------------------- index build
def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def build_index(ctx: Ctx, corpus, n: int, tr) -> str:
    """The rest of ``flagship.build_fused_ivf_index`` after the corpus
    build, on the persisted ``corpus.encoded``: k-means cells,
    inner-product assignment and partitioned write, frozen encoder
    meta. Returns the directory holding ``index/`` and ``meta.json``."""
    from fuserank_spark import flagship
    from fuserank_spark.encode import save_encoder_meta
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign, ivf_build, ivf_persist

    d = ctx.fresh_dir("ivf")
    enc = corpus.encoded
    with tr.span("simsearch.ivf_build"):
        _, cents = ivf_build(
            enc, dim=corpus.layout.dim, n_centroids=flagship.FUSED_IVF_CELLS,
            vec_col="vector", sample_fraction=min(1.0, 50_000 / max(n, 1)),
            max_iter=10,
        )
    with tr.span("simsearch.ivf_persist"):
        assigned = ivf_assign(enc, cents, vec_col="vector", metric="ip", score_round=6)
        ivf_persist(assigned, os.path.join(d, "index"))
    with tr.span("encode.save_encoder_meta"):
        save_encoder_meta(
            os.path.join(d, "meta.json"), corpus.stats, corpus.layout,
            num_harmonics=flagship.NUM_HARMONICS,
            extra={
                "emb_dim": flagship.EMB_DIM,
                "centroids": [[float(x) for x in c] for c in np.asarray(cents)],
                "quantizer": "kmeans",
                "index_rows": int(n),
            },
        )
    return d


def check_index(ctx: Ctx, d: str, ids: np.ndarray) -> bool:
    """The index holds every corpus row (``ids``), the meta loads, and
    on a seeded sample each row's cell is the argmax of the rounded
    inner product against the saved centroids (lowest cell on ties)."""
    from pyspark.sql import functions as F

    from fuserank_spark.encode import load_encoder_meta

    _stats, _layout, meta = load_encoder_meta(os.path.join(d, "meta.json"))
    cents = np.asarray(meta["centroids"], dtype="float64")
    index = ctx.spark.read.parquet(os.path.join(d, "index"))
    n = len(ids)
    if index.count() != n or meta["index_rows"] != n:
        return False
    rng = np.random.default_rng([ctx.seed, 4])
    sample = [int(x) for x in rng.choice(ids, min(INDEX_CHECK_ROWS, n), replace=False)]
    rows = (
        index.filter(F.col("row_id").isin(sample))
        .select("row_id", "vector", "centroid_id").collect()
    )
    if sorted(r["row_id"] for r in rows) != sorted(sample):
        return False
    for r in rows:
        ips = [_round6(float(v)) for v in cents @ np.asarray(r["vector"], dtype="float64")]
        if r["centroid_id"] != max(range(len(ips)), key=lambda c: (ips[c], -c)):
            return False
    return True


# --------------------------------------------------------------- ingest
def curate(ctx: Ctx, src: str, tr) -> str:
    """Curate ``src/crawl.parquet`` and remove its near-duplicates; the
    survivors are written as the documents of a fresh directory, which
    is returned. Planted copies must not survive (``gen.crawl``)."""
    from pyspark.sql import functions as F

    from fuserank_spark.pipeline_ext.curation import curate_corpus
    from fuserank_spark.pipeline_ext.dedup import (
        deduplicate, lsh_candidate_pairs, minhash_signature,
    )

    out = ctx.fresh_dir("docs")
    with tr.span("curation.curate_corpus"):
        crawl = ctx.spark.read.parquet(os.path.join(src, "crawl.parquet"))
        cur = curate_corpus(crawl, line_dedup=True).persist()
        cur.count()
    try:
        with tr.span("dedup.deduplicate"):
            pairs = lsh_candidate_pairs(minhash_signature(cur))
            (
                deduplicate(cur, pairs)
                .select("doc_id", "text", "lang", "source", F.length("text").alias("n_chars"))
                .write.parquet(os.path.join(out, "documents.parquet"))
            )
    finally:
        cur.unpersist()
    return out


WORKLOADS = {w.name: w for w in (ServePoint, ServeBatch)}
