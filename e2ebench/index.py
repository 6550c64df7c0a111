"""``index`` workload: closed loop, one driver thread. Each cycle runs
save → append → delete → compact → load → search/match on each of the
three stored-index families, every cycle under a fresh path, and ends
with an open-loop leg of requests through ``streaming.serving`` (see
``serve.py``):

- ``bm25``: ``llm.retrieval.BM25Retriever``, a flat store;
- ``ivf``: ``llm.similarity.IVFKNN``, a cell-partitioned store;
- ``minhash``: ``llm.dedup.MinHashLSHDeduplicator``, signatures plus
  buckets.

The seed picks the append splits, the tombstoned residue of BM25 and
IVF, the family order and the BM25 query ids. The IVF replay fixes its
queries (vec_id < 5) and centroids (vec_id < 16). MinHash keeps a fixed
stored/incoming split and tombstoned residue, so its reference (a fresh
index over the survivors, which takes a Spark run of its own) is built
once per corpus instead of once per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import mmlspark_spark
from mmlspark_spark.core.cache import release_intermediates
from mmlspark_spark.functions.text_quality import pinned_tokens
from mmlspark_spark.llm import MinHashLSHDeduplicator
from mmlspark_spark.llm.retrieval import BM25Retriever
from mmlspark_spark.llm.similarity import IVFKNN
from mmlspark_spark.plans.lanes_retrieval import (_bm25_cte,
                                                  _knn_ivf_pretrained_oracle)

from e2ebench import checks, corpus
from e2ebench.serve import Serve

PHASES = ("save", "append", "delete", "compact", "load", "search")
FAMILIES = ("bm25", "ivf", "minhash")
# corpus prefix the lifecycles run over: the phases are job-bound, not
# data-bound, at this size
MAX_DOCS = 400
MAX_VECS = 400
MH_SPLIT = 0.7  # MinHash stores doc_id < MH_SPLIT * n, matches the rest
MH_DEAD = (7, 3)  # MinHash tombstones stored doc_id % 7 == 3


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _source_digest(pkg: str) -> str:
    """sha256 over the paths and contents of every ``.py`` file under
    ``pkg``."""
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Index:
    min_steps = 1

    def __init__(self, spark, tracer, data, rng, inject, work):
        self.spark, self.tr, self.data = spark, tracer, data
        self.root = os.path.join(work, "idx", str(os.getpid()))
        self.inject = inject
        docs = spark.read.parquet(f"{data}/documents.parquet")
        emb = spark.read.parquet(f"{data}/embeddings.parquet")
        self.n_docs = min(MAX_DOCS, _rows(f"{data}/documents.parquet"))
        self.n_vecs = min(MAX_VECS, _rows(f"{data}/embeddings.parquet"))
        docs = docs.filter(F.col("doc_id") < self.n_docs)
        emb = emb.filter(F.col("vec_id") < self.n_vecs)

        n, v = self.n_docs, self.n_vecs
        self.m = int(rng.integers(5, 8))
        self.r = int(rng.integers(0, self.m))
        dead = (F.col("doc_id") % self.m) == self.r
        bm_split = int(rng.integers(4 * n // 10, 7 * n // 10))
        ivf_split = int(rng.integers(4 * v // 10, 7 * v // 10))
        mh_save = int(rng.integers(3 * n // 10, 5 * n // 10))
        self.mh_split = int(MH_SPLIT * n)
        live = [i for i in range(n) if i % self.m != self.r]
        self.qids = sorted(int(q) for q in rng.choice(live, 3, replace=False))
        self.families = [FAMILIES[i] for i in rng.permutation(3)]
        self.serve = Serve(spark, tracer,
                           [str(w) for w in rng.choice(corpus.VOCAB, 16)],
                           inject, os.path.join(self.root, "serve-ckpt"))

        bm = BM25Retriever(k=10)
        queries = docs.filter(F.col("doc_id").isin(self.qids)).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(pinned_tokens("text"), 1, 6),
                         " ").alias("query"))
        ivf = IVFKNN(idCol="vec_id", vecCol="embedding", k=10,
                     nlist=16, nProbe=4)
        cent = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
        dd = MinHashLSHDeduplicator(
            idCol="doc_id", textCol="text", shingleSize=5,
            numHashes=32, bands=16, threshold=0.2)
        stored = docs.filter(F.col("doc_id") < self.mh_split)
        mh_dead = (F.col("doc_id") % MH_DEAD[0]) == MH_DEAD[1]
        self._mh_fresh = lambda p: (
            dd.save_index(stored.filter(~mh_dead), p),
            dd.match_against_index(dd.load_index(spark, p), docs.filter(
                F.col("doc_id") >= self.mh_split)))[1]
        self.ops = {
            "bm25": {
                "save": lambda p: bm.save_index(
                    docs.filter(F.col("doc_id") < bm_split), p),
                "append": lambda p: bm.append_to_index(
                    docs.filter(F.col("doc_id") >= bm_split), p),
                "delete": lambda p: bm.delete_from_index(
                    docs.filter(dead).select("doc_id"), p),
                "compact": lambda p: bm.compact_index(spark, p),
                "load": lambda p: bm.load_index(spark, p),
                "search": lambda idx: bm.search_with_index(
                    idx, queries).select("query_id", "doc_id", "score",
                                         F.col("rank").alias("rk")),
            },
            "ivf": {
                "save": lambda p: ivf.save_index(
                    emb.filter(F.col("vec_id") < ivf_split), cent, p),
                "append": lambda p: ivf.append_to_index(
                    emb.filter(F.col("vec_id") >= ivf_split), p),
                "delete": lambda p: ivf.delete_from_index(
                    emb.filter((F.col("vec_id") % self.m) == self.r)
                    .select("vec_id"), p),
                "compact": lambda p: ivf.compact_index(spark, p),
                "load": lambda p: ivf.load_index(spark, p),
                "search": lambda idx: ivf.search_with_index(
                    idx, emb.filter(F.col("vec_id") < 5)).select(
                    "query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"),
                    F.col("rank").alias("rk")),
            },
            "minhash": {
                "save": lambda p: dd.save_index(
                    docs.filter(F.col("doc_id") < mh_save), p),
                "append": lambda p: dd.append_to_index(
                    stored.filter(F.col("doc_id") >= mh_save), p),
                "delete": lambda p: dd.delete_from_index(
                    stored.filter(mh_dead).select("doc_id"), p),
                "compact": lambda p: dd.compact_index(spark, p),
                "load": lambda p: dd.load_index(spark, p),
                "search": lambda idx: dd.match_against_index(
                    idx, docs.filter(F.col("doc_id") >= self.mh_split)),
            },
        }
        # (cycle tag, family) -> normalized search rows, None on failure
        self.results: dict[tuple[str, str], list | None] = {}
        self.store: dict[str, dict] = {f: {"written": [], "files": [],
                                           "live": [], "amp": []}
                                       for f in FAMILIES}

    def _family(self, fam: str, tag: str, path: str) -> None:
        tr, ops = self.tr, self.ops[fam]
        idx, rows = None, None
        before = {}
        written = {}
        walk = tr.active  # store sizes are tracing work: traced steps only
        try:
            with tr.span("family", op=f"{tag}.{fam}", family=fam):
                for phase in PHASES:
                    with tr.span("phase", op=f"{tag}.{fam}.{phase}",
                                 family=fam, phase=phase):
                        if (self.inject == "failed_phase" and tag == "c0"
                                and fam == self.families[0]
                                and phase == "append"):
                            raise RuntimeError("injected phase failure")
                        if phase == "load":
                            with tr.span("plans.build"):
                                idx = ops["load"](path)
                        elif phase == "search":
                            with tr.span("plans.build"):
                                df = ops["search"](idx)
                            try:
                                with tr.span("plans.action"):
                                    got = df.collect()
                            finally:
                                with tr.span("core.release"):
                                    release_intermediates(df)
                            rows = checks.normalize(df.columns, got)
                        else:
                            ops[phase](path)
                    if walk:
                        with tr.untraced():
                            after = _files(path)
                            written[phase] = sum(
                                sz for p, (sz, mt) in after.items()
                                if before.get(p) != (sz, mt))
                            before = after
        except Exception:
            traceback.print_exc(file=sys.stderr)
        self.results[(tag, fam)] = rows
        if walk and rows is not None and tag != "warm":
            st = self.store[fam]
            live = sum(sz for sz, _ in before.values())
            st["written"].append(sum(written.values()) / 2**20)
            st["files"].append(float(len(before)))
            st["live"].append(live / 2**20)
            st["amp"].append(written["compact"] / max(live, 1))

    def _cycle(self, tag: str) -> None:
        base = os.path.join(self.root, tag)
        try:
            with self.tr.span("cycle", op=tag):
                for fam in self.families:
                    self._family(fam, tag, os.path.join(base, fam))
        finally:
            with self.tr.untraced():
                shutil.rmtree(base, ignore_errors=True)

    def warm_tasks(self) -> list:
        """One cycle of each family, the three on parallel threads."""
        base = os.path.join(self.root, "warm")
        return [lambda f=f: self._family(f, "warm", os.path.join(base, f))
                for f in self.families] + [self.serve.start]

    def step(self, i: int) -> int:
        self._cycle(f"c{i}")
        return len(FAMILIES) * len(PHASES) + self.serve.leg(f"c{i}")

    def finish(self) -> int:
        """Untimed: every post-compaction search must equal a fresh index
        over the survivors — the repository's DuckDB replays for BM25 and
        IVF, a fresh ``save_index`` for MinHash (its DuckDB replay takes
        minutes even at 300 documents). Then every reply of the serving
        legs. Returns the number of correct timed phases and replies."""
        self.serve.stop()
        dead = f"doc_id % {self.m} = {self.r}"
        con = checks.duck_con(self.data, {
            "documents": f"doc_id < {self.n_docs}",
            "embeddings": f"vec_id < {self.n_vecs}"})
        qids = ", ".join(map(str, self.qids))
        want = {
            "bm25": checks.oracle_rows(con, f"""
                WITH {_bm25_cte(qids=qids, corpus_where=f"NOT ({dead})")}
                SELECT query_id, doc_id, score, CAST(rnk AS INTEGER) AS rk
                FROM bm WHERE rnk <= 10"""),
            "ivf": checks.oracle_rows(con, _knn_ivf_pretrained_oracle(
                corpus_where=f"NOT (d_id % {self.m} = {self.r})")),
            "minhash": self._mh_reference(),
        }
        shutil.rmtree(self.root, ignore_errors=True)
        good = 0
        for (tag, fam), rows in self.results.items():
            ok = rows is not None and rows == want[fam]
            if not ok:
                print(f"# check FAILED: {tag}.{fam}", file=sys.stderr)
            if ok and tag != "warm":
                good += len(PHASES)
        return good + self.serve.good()

    def _mh_reference(self) -> list | None:
        """The MinHash reference rows, built on first use per corpus and
        package source (the digest covers every module the fresh index
        may call into)."""
        code = _source_digest(os.path.dirname(mmlspark_spark.__file__))
        path = os.path.join(self.data, f"minhash-reference-{self.n_docs}-"
                            f"{MH_SPLIT}-{MH_DEAD[0]}-{MH_DEAD[1]}-{code}.json")
        if os.path.exists(path):
            with open(path) as f:
                return [tuple(r) for r in json.load(f)]
        try:
            rows = checks.spark_rows(self._mh_fresh(
                os.path.join(self.root, "fresh-minhash")))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, path)
        return rows

    def layers(self, spans, timed: set[int]) -> dict[str, list[float]]:
        """Per-family phase times and store sizes, and the serving legs'
        breakdown (trace file only)."""
        out: dict[str, list[float]] = {}
        for s in spans:
            if s["name"] == "phase" and s["id"] in timed:
                out.setdefault(f"index.{s['family']}.{s['phase']}_s",
                               []).append(s["s"])
        out.update(self.serve.layers({s["op"] for s in spans
                                      if s["name"] == "cycle"
                                      and s["id"] in timed}))
        for fam, st in self.store.items():
            out[f"index.{fam}.written_mb"] = st["written"]
            out[f"index.{fam}.files"] = st["files"]
            out[f"index.{fam}.live_mb"] = st["live"]
            out[f"index.{fam}.compact.write_amp"] = st["amp"]
        return out
