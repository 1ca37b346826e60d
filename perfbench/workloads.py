"""The benchmark's three workloads over the engine's public functions.

- ``ingest``: markdown directory -> chunks -> 384-d embeddings -> the
  year-partitioned index, on a fresh batch of issues per op.
- ``search_batch``: 128 queries per op through one ``similarity_join`` scan,
  rerank, the min-score and date filters, and a per-query top 10.
- ``search_interactive``: single ``api.search_newsletter`` calls over a
  fixed cycle of filters.  BENCHMARK.json does not gate it; the traced
  run of ``search_batch`` traces one such call per op for the plan and
  API layers.

Each workload offers ``setup_inputs`` (its set-up inputs, untimed),
``setup`` (one set-up build, timed and repeated by the caller),
``prepare`` (benchmark-only work after set-up), ``make`` (an op's input,
untimed), ``op`` (the timed call), ``check`` (the output check) and
``traced_op`` (the same op, split into layers).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import corpus
from reference import Filters, SearchReference, check_batch, check_ingest, check_interactive, load_index, parquet_files, dir_bytes
from tracing import Tracer, catalyst_ms, exchanges
from vector_search_spark import api
from vector_search_spark.encoders import HashEncoder, hash_rerank_score
from vector_search_spark.functions.scalar import round4
from vector_search_spark.operators.filters import date_range_filter, min_score_filter
from vector_search_spark.operators.knn import knn_topk, similarity_join
from vector_search_spark.plans.ingest import build_chunks, build_index, write_index
from vector_search_spark.plans.search import search
from vector_search_spark.sources.files import read_markdown_dir

DIM = 384  # the paper's embedding dimension
BATCH_ISSUES = 100  # issues per ingest op (600 chunks)
WARMUP_ISSUES = 100  # issues in the ingest set-up corpus
INDEX_ISSUES = 200  # issues in the search index (1,200 chunks)
QUERIES_PER_BATCH = 128  # ~154k dot products per op, so scoring dominates
QUERY_BATCHES = 2  # distinct query batches, cycled
INTERACTIVE_QUERIES = 32
WARM_CALLS = 8  # untimed API calls before a traced search_batch run
K, LIMIT = 50, 10
PAYLOAD = ("title", "date", "category", "url")


def ingest(spark: SparkSession, in_dir: str, out_dir: str, encoder: HashEncoder) -> None:
    """The chain ``plans.ingest.ingest_markdown_dir`` runs, at 384-d."""
    write_index(build_index(read_markdown_dir(spark, in_dir), encoder), out_dir)


def trace_ingest(
    tracer: Tracer, in_dir: str, out_dir: str, encoder: HashEncoder, op: str, issues: int
) -> tuple[float, dict]:
    """One traced ingest: the driver-side construction of the chain, the
    layer prefixes in layer order, then the instrumented op, whose write is
    the last layer.  Returns the op's time in ms and the layer metrics."""
    spark = tracer.spark
    with tracer.span("plans.ingest.build", op) as build:
        docs = read_markdown_dir(spark, in_dir)
        index = build_index(docs, encoder)
    layers = tracer.prefixes(
        op,
        [
            ("sources.files", docs),
            ("operators.chunker", build_chunks(docs)),
            ("encoders.embed", index),
        ],
    )
    _, write_total, wc = tracer.action("plans.ingest.write_index", op, lambda: write_index(index, out_dir))
    build_ms = (build["end"] - build["start"]) * 1000.0
    rows = pads.dataset(out_dir, format="parquet", partitioning="hive").count_rows()
    return build_ms + write_total, {
        "plans.ingest.build_ms": build_ms,
        "sources.files.scan_ms": layers["sources.files"]["self_ms"],
        "sources.files.input_bytes": layers["sources.files"]["input_bytes"],
        "sources.files.tasks": layers["sources.files"]["tasks"],
        "operators.chunker.chunk_ms": layers["operators.chunker"]["self_ms"],
        "operators.chunker.chunks_per_issue": rows / issues,
        "encoders.embed_ms": layers["encoders.embed"]["self_ms"],
        "encoders.embed_cpu_ms": layers["encoders.embed"]["cpu_self_ms"],
        "plans.ingest.write_ms": write_total - layers["encoders.embed"]["cum_ms"],
        "plans.ingest.shuffle_write_bytes": wc["shuffle_write_bytes"],
        "plans.ingest.output_bytes": wc["output_bytes"],
        "plans.ingest.files_written": parquet_files(out_dir),
    }


class Workload:
    name = ""
    ops_per_round = 1  # ops the closed loop runs between deadline checks
    warmup_ops = 1

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.encoder = HashEncoder(dim=DIM)
        self.setup_layers: dict = {}
        self.setup_outputs: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self, tracer: Tracer | None) -> None:
        """Drop all set-up builds but the last; a traced run traces one
        more build of the set-up corpus, warm, into a copy that is dropped."""
        for d in self.setup_outputs[:-1]:
            shutil.rmtree(d)
        if tracer is not None:
            copy = self.path("setup_traced")
            _, self.setup_layers = trace_ingest(
                tracer, self.setup_corpus, copy, self.encoder, "setup", self.setup_issues
            )
            shutil.rmtree(copy)

    def setup(self, rep: int) -> None:
        """One set-up build: the ingest chain over the set-up corpus."""
        out = self.path(f"setup_out{rep}")
        ingest(self.spark, self.setup_corpus, out, self.encoder)
        self.setup_outputs.append(out)

    def cleanup(self, inp) -> None:
        pass

    def index_bytes_per_chunk(self) -> float:
        raise NotImplementedError


class Ingest(Workload):
    name = "ingest"

    setup_issues = WARMUP_ISSUES

    def setup_inputs(self) -> None:
        self.setup_corpus = self.path("warmup")
        corpus.write_issues(self.setup_corpus, corpus.generate_issues(self.seed, 0, WARMUP_ISSUES))

    def prepare(self, tracer: Tracer | None) -> None:
        super().prepare(tracer)
        shutil.rmtree(self.setup_outputs[-1])
        self.bytes_per_chunk: list[float] = []

    def make(self, i: int):
        issues = corpus.generate_issues(self.seed, WARMUP_ISSUES + i * BATCH_ISSUES, BATCH_ISSUES)
        in_dir, out_dir = self.path(f"in{i}"), self.path(f"out{i}")
        corpus.write_issues(in_dir, issues)
        return (i, issues, in_dir, out_dir)

    def op(self, inp) -> None:
        _, _, in_dir, out_dir = inp
        ingest(self.spark, in_dir, out_dir, self.encoder)

    def items(self, inp) -> int:
        return corpus.CHUNKS_PER_ISSUE * BATCH_ISSUES

    def check(self, inp, result) -> list[str]:
        i, issues, _, out_dir = inp
        rng = random.Random(f"{self.seed}:sample:{i}")
        sample = [rng.randrange(1 << 30) for _ in range(4)]
        problems = check_ingest(out_dir, issues, self.encoder, sample)
        self.bytes_per_chunk.append(dir_bytes(out_dir) / (corpus.CHUNKS_PER_ISSUE * BATCH_ISSUES))
        return problems

    def cleanup(self, inp) -> None:
        for d in inp[2:]:
            shutil.rmtree(d, ignore_errors=True)

    def traced_op(self, tracer: Tracer, inp, op: str):
        _, _, in_dir, out_dir = inp
        op_ms, layers = trace_ingest(tracer, in_dir, out_dir, self.encoder, op, BATCH_ISSUES)
        return None, op_ms, layers

    def index_bytes_per_chunk(self) -> float:
        return statistics.median(self.bytes_per_chunk) if self.bytes_per_chunk else 0.0


class _Search(Workload):
    """Shared set-up of the search workloads: a written, opened index."""

    setup_issues = INDEX_ISSUES

    def setup_inputs(self) -> None:
        self.issues = corpus.generate_issues(self.seed, 0, INDEX_ISSUES)
        self.setup_corpus = self.path("corpus")
        corpus.write_issues(self.setup_corpus, self.issues)

    def setup(self, rep: int) -> None:
        """One set-up build: the index, written and opened."""
        super().setup(rep)
        self.index_path = self.setup_outputs[-1]
        self.index = self.spark.read.parquet(self.index_path)

    def prepare(self, tracer: Tracer | None) -> None:
        super().prepare(tracer)
        problems = check_ingest(self.index_path, self.issues, self.encoder, list(range(0, 10_000, 997)))
        if problems:
            raise RuntimeError(f"search index is wrong: {problems}")
        self.ref = SearchReference(load_index(self.index_path), K, LIMIT)
        dates = sorted(self.issues)
        self.first_quarter = dates[len(dates) // 4][:-3]
        self.first_third = dates[len(dates) // 3][:-3]
        self.second_third = dates[2 * len(dates) // 3][:-3]

    def index_bytes_per_chunk(self) -> float:
        return dir_bytes(self.index_path) / len(self.ref.index)

    def call(self, text: str, f: Filters, vec=None) -> dict:
        vec = self.encoder.encode_one(text) if vec is None else vec
        return api.search_newsletter(
            self.index, vec, text, from_date=f.from_date, to_date=f.to_date,
            min_score=f.min_score, limit=LIMIT, k=K,
        )

    def trace_call(self, tracer: Tracer, text: str, f: Filters, op: str):
        """One traced ``api.search_newsletter`` call, split into its
        layers.  Returns the call's result, its time in ms and the layer
        metrics."""
        with tracer.span("encoders.query_encode", op) as enc:
            vec = self.encoder.encode_one(text)
        result, api_ms, _ = tracer.action("api.search_newsletter", op, lambda: self.call(text, f, vec))
        with tracer.span("plans.search.build", op) as build:
            plan = search(
                self.index, vec, text, k=K, min_score=f.min_score, from_date=f.from_date,
                to_date=f.to_date, limit=LIMIT, id_col="chunk_id", payload_cols=PAYLOAD,
            )
        with tracer.span("plans.search.catalyst", op):
            cat_ms = catalyst_ms(plan)
        _, exec_ms, ec = tracer.action("plans.search.exec", op, plan.collect)
        build_ms = (build["end"] - build["start"]) * 1000.0
        knn = knn_topk(self.index, vec, k=K, id_col="chunk_id", payload_cols=[*PAYLOAD, "text"])
        reranked = knn.withColumnRenamed("score", "knn_score").withColumn(
            "rerank_score", hash_rerank_score(F.lit(text), F.col("text"))
        )
        filtered = date_range_filter(
            min_score_filter(reranked, "rerank_score", f.min_score), "date", f.from_date, f.to_date
        )
        pre = tracer.prefixes(
            op,
            [("operators.knn", knn), ("encoders.rerank", reranked), ("operators.filters", filtered), ("plans.search", plan)],
        )
        rows_scored = pre["operators.knn"]["input_records"]
        enc_ms = (enc["end"] - enc["start"]) * 1000.0
        return result, enc_ms + api_ms, {
            "encoders.query_encode_ms": enc_ms,
            "operators.knn.topk_ms": pre["operators.knn"]["self_ms"],
            "operators.knn.cpu_ms": pre["operators.knn"]["cpu_ns"] / 1e6,
            "operators.knn.rows_scored": rows_scored,
            "operators.knn.rows_scored_per_result": rows_scored / K,
            "operators.knn.shuffle_write_bytes": pre["operators.knn"]["shuffle_write_bytes"],
            "operators.knn.stages": pre["operators.knn"]["stages"],
            "encoders.rerank_ms": pre["encoders.rerank"]["self_ms"],
            "operators.filters.rows_in": reranked.count(),
            "operators.filters.rows_out": filtered.count(),
            "operators.filters.filter_ms": pre["operators.filters"]["self_ms"],
            "plans.search.build_ms": build_ms,
            "plans.search.catalyst_ms": cat_ms,
            "plans.search.exec_ms": exec_ms,
            "plans.search.jobs": ec["jobs"],
            "plans.search.tasks": ec["tasks"],
            "plans.search.exchanges": exchanges(plan),
            "api.shape_ms": api_ms - (build_ms + cat_ms + exec_ms),
        }


class SearchBatch(_Search):
    name = "search_batch"
    warmup_ops = 2

    def prepare(self, tracer: Tracer | None) -> None:
        super().prepare(tracer)
        texts = corpus.generate_queries(self.seed, QUERIES_PER_BATCH * QUERY_BATCHES)
        self.batches = [texts[b * QUERIES_PER_BATCH : (b + 1) * QUERIES_PER_BATCH] for b in range(QUERY_BATCHES)]
        self.ref.add_queries(texts, [self.encoder.encode_one(t) for t in texts])
        self.filters = Filters(min_score=0.0, from_date=self.first_quarter)
        if tracer is not None:
            # warm the API path, so the one traced call per op is not its
            # first, cold, call
            for _ in range(WARM_CALLS):
                self.call(texts[0], self.filters)

    def make(self, i: int):
        return self.batches[i % QUERY_BATCHES]

    def items(self, inp) -> int:
        return len(inp)

    def encode(self, texts: list[str]) -> list[tuple]:
        return [(n, t, self.encoder.encode_one(t)) for n, t in enumerate(texts)]

    def frame(self, rows: list[tuple]) -> DataFrame:
        return self.spark.createDataFrame(rows, "query_id int, query_text string, query_vec array<double>")

    def layers(self, q: DataFrame) -> list[tuple[str, DataFrame]]:
        """Prefix DataFrames of one batch, in layer order; the last is the op."""
        knn = similarity_join(self.index, q, k=K, id_col="chunk_id", payload_cols=["text", "date"])
        reranked = knn.join(F.broadcast(q.select("query_id", "query_text")), "query_id").withColumn(
            "rerank_score", hash_rerank_score(F.col("query_text"), F.col("text"))
        )
        f = self.filters
        filtered = date_range_filter(
            min_score_filter(reranked, "rerank_score", f.min_score), "date", f.from_date, f.to_date
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("rerank_score"), F.asc("chunk_id"))
        top = (
            filtered.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= LIMIT)
            .select("query_id", "chunk_id", round4("score").alias("knn_score"), round4("rerank_score").alias("score"), "rank")
        )
        return [
            ("operators.knn.payload", knn),
            ("encoders.rerank", reranked),
            ("operators.filters", filtered),
            ("search.top", top),
        ]

    def op(self, texts: list[str]):
        return [tuple(r) for r in self.layers(self.frame(self.encode(texts)))[-1][1].collect()]

    def check(self, texts, rows) -> list[str]:
        return check_batch(self.ref, texts, self.filters, rows)

    def traced_op(self, tracer: Tracer, texts, op: str):
        with tracer.span("encoders.query_encode", op) as enc:
            rows = self.encode(texts)
        with tracer.span("operators.knn.build", op) as build:
            q = self.frame(rows)
            layers = self.layers(q)
        result, exec_ms, _ = tracer.action("search.collect", op, layers[-1][1].collect)
        result = [tuple(r) for r in result]
        # the scoring scan alone: the same call without the payload join
        scored = similarity_join(self.index, q, k=K, id_col="chunk_id")
        pre = tracer.prefixes(op, [("operators.knn.score", scored), *layers])
        build_ms = (build["end"] - build["start"]) * 1000.0
        enc_ms = (enc["end"] - enc["start"]) * 1000.0
        filters_in = layers[1][1].count()
        filters_out = layers[2][1].count()
        score = pre["operators.knn.score"]
        rows_scored = score["input_records"] * len(texts)
        # One traced api.search_newsletter call with the batch's first query
        # and filters adds the plan and API layers, which only the ungated
        # search_interactive workload runs otherwise.
        call, _, call_layers = self.trace_call(tracer, texts[0], self.filters, op)
        problems = check_interactive(self.ref, texts[0], self.filters, call)
        if problems:
            raise RuntimeError(f"traced call: {problems[:3]}")
        plan_layers = {k: v for k, v in call_layers.items() if k.startswith(("plans.search.", "api."))}
        return result, enc_ms + build_ms + exec_ms, plan_layers | {
            "encoders.query_encode_ms": enc_ms,
            "operators.knn.build_ms": build_ms,
            "operators.knn.topk_ms": score["self_ms"] + pre["operators.knn.payload"]["self_ms"],
            "operators.knn.cpu_ms": score["cpu_ns"] / 1e6,
            "operators.knn.rows_scored": rows_scored,
            "operators.knn.rows_scored_per_result": rows_scored / (len(texts) * K),
            "operators.knn.shuffle_write_bytes": score["shuffle_write_bytes"],
            "operators.knn.stages": score["stages"],
            "encoders.rerank_ms": pre["encoders.rerank"]["self_ms"],
            "operators.filters.rows_in": filters_in,
            "operators.filters.rows_out": filters_out,
            "operators.filters.filter_ms": pre["operators.filters"]["self_ms"],
        }


class SearchInteractive(_Search):
    name = "search_interactive"
    ops_per_round = 4  # the filter cycle, run whole
    warmup_ops = 16

    def prepare(self, tracer: Tracer | None) -> None:
        super().prepare(tracer)
        self.texts = corpus.generate_queries(self.seed + 1, INTERACTIVE_QUERIES)
        self.ref.add_queries(self.texts, [self.encoder.encode_one(t) for t in self.texts])
        self.cycle = [
            Filters(),
            Filters(from_date=self.first_third),
            Filters(from_date=self.first_third, to_date=self.second_third),
            Filters(min_score=1.0),
        ]

    def make(self, i: int):
        return self.texts[(i // len(self.cycle)) % len(self.texts)], self.cycle[i % len(self.cycle)]

    def items(self, inp) -> int:
        return 1

    def op(self, inp) -> dict:
        return self.call(*inp)

    def check(self, inp, result) -> list[str]:
        return check_interactive(self.ref, inp[0], inp[1], result)

    def traced_op(self, tracer: Tracer, inp, op: str):
        return self.trace_call(tracer, *inp, op)


WORKLOADS = {w.name: w for w in (Ingest, SearchBatch, SearchInteractive)}
