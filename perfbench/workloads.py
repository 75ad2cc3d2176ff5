"""The workloads. Each is a closed loop with one caller: every
operation starts after the previous one returned.

A workload has a `setup` (inputs, index, ground truth and references,
untimed), a `warmup` (one small untimed pass, so the timed passes run on
a warm JVM), and a `run_pass` (one complete unit of input -> result,
timed). Every call into the program goes through `tracer.span(<layer>)`.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import checks, gen

# Sizes are fixed per workload; the seed changes only the values.
# nlist * dim = 4 096 terms: under the 16 384-term cap, so the index
# assigns and probes with the literal centroid matrix
ANN = dict(n=4000, n_append=500, appends=1, dim=64, nlist=64, nprobe=4, k=10,
           n_queries=192, batch=64, cell_sample=200, exact_queries=32)
CURATE = dict(n_base=80, shards=2, threshold=0.75, k=10, nlist=4)
# curate_corpus's own defaults, passed explicitly so the reference
# replays exactly the configuration the program runs
CURATE_CFG = dict(quality_min=0.55, neardup_n=3, neardup_hashes=16, neardup_bands=4,
                  neardup_threshold=0.9, contam_n=3, contam_threshold=0.5)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def assign_strategy(postings) -> str:
    """Which cell-assignment path the index took, read off the plan."""
    p = plan_text(postings)
    if "MapInPandas" in p:
        return "arrow"
    return "broadcast" if "Join Cross" in p else "literal"


def probe_strategy(search) -> str:
    return "broadcast" if "Join Cross" in plan_text(search) else "literal"


class Context:
    """What a workload needs from the harness: the session, the tracer,
    fresh directories, and the place to report problems and run facts."""

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.problems: list[str] = []
        self.info: dict = {}
        self._dirs = 0

    def fresh_dir(self, stem: str) -> str:
        self._dirs += 1
        path = os.path.join(self.workdir, f"{stem}-{self._dirs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def frame(self, pdf, schema: str):
        return self.spark.createDataFrame(pdf, schema).localCheckpoint()


class Pass:
    """Outcome of one timed pass: its operations' latencies, failures, and
    the quality figures it measured."""

    def __init__(self):
        self.wall = 0.0  # the timed part of the pass, checks excluded
        self.ops: list[float] = []
        self.failed = 0
        self.recall: list[float] = []
        self.neardup: list[float] = []
        self.storage: list[float] = []


# --- ann_search ------------------------------------------------------------

class AnnSearch:
    """Read-heavy search over a fixed index: batches of `ivf_search_all`
    at nprobe < nlist, each collected to the driver.

    Set-up runs the index's write side once: build (training is eager),
    materialize the assignment by checkpointing the postings, save, append
    batches, load, count, and point-search appended vectors; then the
    numpy ground truth, and `knn_exact` on a sample of the queries."""

    name = "ann_search"

    def setup(self, ctx: Context) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from vector_search_test_spark.operators import (
            ivf_append, ivf_build, ivf_load, ivf_save, ivf_search, knn_exact)

        c, tr, spark = ANN, ctx.tracer, ctx.spark
        X, Q, self.sources = gen.vectors(ctx.seed, c["n"] + c["n_append"],
                                         c["n_queries"], c["dim"])
        self.Q = Q
        self.vecs = {i: X[i] for i in range(len(X))}
        schema = "vec_id long, embedding array<float>"

        def rows(lo, hi):
            return ctx.frame(pd.DataFrame({"vec_id": np.arange(lo, hi, dtype=np.int64),
                                           "embedding": list(X[lo:hi])}), schema)

        corpus = rows(0, c["n"])
        step = c["n_append"] // c["appends"]
        appends = [rows(lo, lo + step) for lo in range(c["n"], len(X), step)]
        b = c["batch"]
        qall = ctx.frame(pd.DataFrame({"query_id": np.arange(len(Q), dtype=np.int64),
                                       "query_vec": list(Q)}),
                         "query_id long, query_vec array<float>")
        self.batches = [(list(range(s, s + b)),
                         qall.filter(F.col("query_id").between(s, s + b - 1)))
                        for s in range(0, len(Q), b)]

        with tr.span("ivf.train"):
            idx = ivf_build(corpus, nlist=c["nlist"])
        ctx.info["assign_strategy"] = assign_strategy(idx.postings)
        with tr.span("ivf.assign"):
            idx.postings = idx.postings.localCheckpoint()
        path = ctx.fresh_dir("ann-index")
        with tr.span("ivf.save"):
            ivf_save(idx, path)
        tr.extra("ivf.save.bytes_per_vector", dir_bytes(path) / c["n"])
        for frame in appends:
            with tr.span("ivf.append"):
                ivf_append(idx, path, frame)
        with tr.span("ivf.load"):
            self.index = ivf_load(spark, path)
            ntotal = self.index.ntotal()
        if ntotal != len(X):
            ctx.problems.append(f"loaded ntotal {ntotal}, built + appended {len(X)}")
        self.storage_ratio = dir_bytes(path) / (X.size * 4)
        cents = np.array(self.index.centroids, dtype=np.float32)
        sample = np.random.default_rng([ctx.seed, 9]).choice(len(X), c["cell_sample"],
                                                            replace=False)
        found = self.index.postings.filter(F.col("vec_id").isin([int(v) for v in sample])
                                           ).select("vec_id", "list_id", "embedding").collect()
        if len(found) != len(sample):
            ctx.problems.append(f"{len(found)} of {len(sample)} sampled vectors found")
        ctx.problems += checks.check_cells(found, cents)
        for vid in range(c["n"], len(X), step):
            with tr.span("ivf.search"):
                hits = ivf_search(self.index, [float(x) for x in X[vid]], k=c["k"],
                                  nprobe=c["nprobe"]).collect()
            if not hits or (int(hits[0].vec_id), float(hits[0].dist)) != (vid, 0.0):
                ctx.problems.append(f"appended vector {vid} does not match itself")

        # ground truth for every query comes from numpy; knn_exact runs on
        # a sample of the queries and is checked against the same reference
        ref_ids, ref_d = checks.exact_topk(Q, X, np.arange(len(X)), c["k"])
        self.truth = {q: [int(v) for v in ref_ids[q]] for q in range(len(Q))}
        sample = np.arange(0, len(Q), len(Q) // c["exact_queries"])
        everything = corpus
        for frame in appends:
            everything = everything.unionByName(frame)
        with tr.span("knn.exact"):
            exact = knn_exact(qall.filter(F.col("query_id").isin([int(q) for q in sample])),
                              everything, k=c["k"], dim=c["dim"]).collect()
        ctx.problems += checks.check_exact(exact, ref_ids[sample], ref_d[sample],
                                           {int(q): Q[q] for q in sample}, self.vecs)
        # probed rows per query: the postings of its nprobe nearest cells,
        # replaying the assignment over the stored (float32) centroids
        sizes = np.bincount(checks.l2_sq_rows(X, cents).argmin(axis=1),
                            minlength=len(cents))
        order = np.argsort(checks.l2_sq_rows(Q, cents), axis=1, kind="stable")
        self.scored = sizes[order[:, :c["nprobe"]]].sum(axis=1)
        ctx.info["probe_strategy"] = probe_strategy(self._search(self.batches[0][1]))

    def _search(self, qdf):
        from vector_search_test_spark.operators import ivf_search_all

        return ivf_search_all(self.index, qdf, k=ANN["k"], nprobe=ANN["nprobe"])

    def warmup(self, ctx: Context) -> None:
        for _, qdf in self.batches:
            self._search(qdf).collect()

    def run_pass(self, ctx: Context) -> Pass:
        out, k = Pass(), ANN["k"]
        results = []
        start = time.perf_counter()
        for qids, qdf in self.batches:
            t0 = time.perf_counter()
            with ctx.tracer.span("ivf.search_all"):
                results.append((qids, self._search(qdf).collect()))
            out.ops.append(time.perf_counter() - t0)
        out.wall = time.perf_counter() - start
        for qids, rows in results:
            ctx.tracer.extra("ivf.search_all.candidates_per_result",
                             self.scored[qids].sum() / max(len(rows), 1))
            bad = checks.check_topk(rows, {q: self.Q[q] for q in qids}, self.vecs, k)
            if bad:
                out.failed += 1
                ctx.problems += bad[:3]
            got = {q: [v for v, _ in r] for q, r in checks.group_rows(rows).items()}
            out.recall.append(checks.recall(got, {q: self.truth[q] for q in qids}))
            dup = [q for q in qids if self.sources[q] >= 0]
            out.neardup += [float(self.sources[q] in got.get(q, [])) for q in dup]
        out.storage.append(self.storage_ratio)
        return out


# --- curate_dedup ----------------------------------------------------------

class Shard:
    """One independent corpus of the curation workload, with its
    references."""

    def __init__(self, ctx: Context, shard: int):
        from vector_search_test_spark.functions.embed import HashingEmbedder
        from vector_search_test_spark.functions.hashing import MINHASH_P, minhash_ab
        from vector_search_test_spark.functions.textstats import STOPWORDS

        c = CURATE
        docs, bench, plants = gen.curation_docs(ctx.seed, c["n_base"], shard=shard)
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        by_text: dict[str, set[int]] = {}
        for i, t in self.texts.items():
            by_text.setdefault(t.strip(" ").lower(), set()).add(i)
        self.families = [{near} | by_text[self.texts[src].strip(" ").lower()]
                         for near, src in plants["near"]]
        self.docs = ctx.frame(docs, "doc_id long, text string")
        self.bench = ctx.frame(bench, "text string")
        self.want = checks.curation_reference(self.texts, bench["text"].tolist(),
                                              CURATE_CFG, STOPWORDS["en"], minhash_ab,
                                              MINHASH_P)
        ids = sorted(self.want)
        texts = [self.texts[i] for i in ids]
        emb = HashingEmbedder().encode(texts)
        self.clusters, self.edges = checks.cluster_reference(
            ids, texts, emb, c["threshold"], c["k"])


class CurateDedup:
    """Many small jobs: curate a corpus with planted duplicates and
    contamination, embed the survivors, cluster them by similarity. An
    operation does that for one shard, a pass for every shard."""

    name = "curate_dedup"

    def setup(self, ctx: Context) -> None:
        self.shards = [Shard(ctx, i) for i in range(CURATE["shards"])]

    def _op(self, ctx: Context, sh: Shard):
        from vector_search_test_spark.functions.embed import embed_text
        from vector_search_test_spark.operators import similarity_clusters
        from vector_search_test_spark.operators.curate import curate_corpus

        c, tr = CURATE, ctx.tracer
        with tr.span("curate"):
            kept = curate_corpus(sh.docs, sh.bench, **CURATE_CFG).select("id").distinct(
                ).localCheckpoint()
            ids = {int(r.id) for r in kept.collect()}
        with tr.span("embed"):
            surv = embed_text(sh.docs.join(kept.withColumnRenamed("id", "doc_id"), "doc_id")
                              ).localCheckpoint()
        with tr.span("cluster"):
            rows = similarity_clusters(surv.withColumnRenamed("doc_id", "id"),
                                       threshold=c["threshold"], k=c["k"],
                                       nlist=c["nlist"]).collect()
        return ids, {r.text: int(r.cluster_id) for r in rows}

    def warmup(self, ctx: Context) -> None:
        self._op(ctx, self.shards[0])

    def run_pass(self, ctx: Context) -> Pass:
        out = Pass()
        results = []
        start = time.perf_counter()
        for sh in self.shards:
            t0 = time.perf_counter()
            results.append(self._op(ctx, sh))
            out.ops.append(time.perf_counter() - t0)
        out.wall = time.perf_counter() - start
        for sh, (ids, got) in zip(self.shards, results):
            bad = checks.check_curation(ids, sh.want, sh.texts)
            bad += checks.check_clusters(got, sh.clusters)
            if bad:
                out.failed += 1
                ctx.problems += bad[:3]
            # a planted near-duplicate is caught when at most one document
            # of its family (itself, its source and the source's exact
            # copies) survives
            out.neardup += [float(len(fam & ids) <= 1) for fam in sh.families]
            want_pairs = checks.co_member_pairs(sh.clusters)
            got_pairs = checks.co_member_pairs(got)
            out.recall.append(len(want_pairs & got_pairs) / len(want_pairs)
                              if want_pairs else 1.0)
            ctx.tracer.extra("curate.kept_ratio", len(ids) / len(sh.texts))
            ctx.tracer.extra("cluster.edges", sh.edges)
        return out


WORKLOADS = {w.name: w for w in (AnnSearch, CurateDedup)}
