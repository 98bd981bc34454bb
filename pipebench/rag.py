"""RAG serving over the paper corpus, one closed-loop client.

Set-up embeds the corpus with ``embed_with(deterministic_hash_embedder(384))``,
keeps the vectors persisted and the texts in a driver-side map (as the
reference's VectorStore does), then answers a few warm-up questions. Each timed question then runs: embed the question →
``cosine_topk`` (k=5) → fetch the top-k titles/abstracts from the
in-memory document map → fake-LLM answer. Recall@5 is checked afterwards against an exact numpy top-5
over the same vectors.
"""

from __future__ import annotations

import json
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llm_enhanced_data_pipeline_spark.enrich.embedding import deterministic_hash_embedder, embed_with
from llm_enhanced_data_pipeline_spark.operators.vector import cosine_topk
from llm_enhanced_data_pipeline_spark.sources.jsonl import read_jsonl

from .fakellm import FakeLLMService

DIM = 384
K = 5
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("abstract", T.StringType()),
    ]
)


def exact_topk(matrix: np.ndarray, ids: np.ndarray, query: list[float], k: int = K) -> list[int]:
    """numpy twin of ``cosine_topk``: cosine rounded to 6 places, ties by id."""
    q = np.asarray(query, dtype=np.float64)
    denom = np.linalg.norm(matrix, axis=1) * np.linalg.norm(q)
    sims = np.where(denom > 0, matrix @ q / np.where(denom > 0, denom, 1.0), 0.0)
    order = np.lexsort((ids, -np.round(sims, 6)))
    return [int(i) for i in ids[order[:k]]]


def recall_at_k(served: list[list[int]], exact: list[list[int]], k: int = K) -> float:
    """Mean share of each question's exact top-k found in the served set."""
    if not exact:
        return 0.0
    return sum(len(set(s) & set(e)) / k for s, e in zip(served, exact)) / len(exact)


class Server:
    def __init__(self, spark, spec: dict, tr, counters):
        self.tr = tr
        self.embed = deterministic_hash_embedder(DIM)
        corpus = read_jsonl(spark, spec["corpus"], CORPUS_SCHEMA, keep_corrupt=False)
        with tr.span("embed"):
            text = F.concat_ws(" ", "title", "abstract").alias("text")
            self.vecs = embed_with(corpus.select("doc_id", text), "doc_id", "text",
                                   self.embed).persist()
            tr.add("embed.rows", self.vecs.count())
        # the reference's VectorStore keeps the documents in memory
        self.docs = {r.doc_id: (r.title, r.abstract) for r in corpus.collect()}
        self.llm = FakeLLMService("answer", spec["seed"], counters)
        for q in spec["warmup"]:
            self.ask(q)

    def ask(self, question: str) -> list[int]:
        tr = self.tr
        with tr.span("embed.query"):
            qv = self.embed([question])[0]
        with tr.span("search"):
            t0 = time.perf_counter()
            # one JSON literal, constant-folded to array<double>: a
            # per-element F.lit would spend ~100 ms of py4j calls per query
            query = F.from_json(F.lit(json.dumps(qv)), "array<double>")
            plan = cosine_topk(self.vecs, "doc_id", "embedding", query, K)
            t1 = time.perf_counter()
            ids = [r.doc_id for r in plan.collect()]
            t2 = time.perf_counter()
        tr.add("search.queries", 1)
        tr.add("search.build_ms", (t1 - t0) * 1000.0)
        tr.add("search.exec_ms", (t2 - t1) * 1000.0)
        with tr.span("answer"):
            t3 = time.perf_counter()
            context = "\n".join(f"{t}: {a}" for t, a in map(self.docs.__getitem__, ids))
            self.llm.generate(f"Question: {question}\nContext:\n{context}")
            tr.add("answer.ms", (time.perf_counter() - t3) * 1000.0)
        return ids

    def serve(self, questions: list[str], min_questions: int, seconds: float) -> dict:
        """Closed loop: ask the next question once the last is answered,
        until at least ``min_questions`` were asked and ``seconds`` passed."""
        latencies, served = [], []
        t0 = time.perf_counter()
        with self.tr.span("rag"):
            for q in questions:
                if len(served) >= min_questions and time.perf_counter() - t0 >= seconds:
                    break
                t = time.perf_counter()
                served.append(self.ask(q))
                latencies.append((time.perf_counter() - t) * 1000.0)
        return {"latencies_ms": latencies, "served": served,
                "questions": questions[: len(served)], "wall_s": time.perf_counter() - t0}

    def recall(self, questions: list[str], served: list[list[int]]) -> float:
        rows = self.vecs.collect()
        ids = np.array([r.doc_id for r in rows], dtype=np.int64)
        matrix = np.array([r.embedding for r in rows], dtype=np.float64)
        exact = [exact_topk(matrix, ids, self.embed([q])[0]) for q in questions]
        return recall_at_k(served, exact)
