"""The paper's batch chain, driven from outside through its public calls.

raw JSONL (3 sources) → merge_sources (D1) → dedup_stage (D2-D4) →
clean_stage → align_stage → 4 × [checkpoint.remaining → enrich_with_llm
→ checkpoint.append → parse] → final_build → stage_stats → write_jsonl.

The canonical table out of ``align_stage`` is persisted once, the way a
batch user keeps it (the reference wrote it to its own JSONL): without
that, each of the four enrichment passes and the final join would
re-run the whole dedup lineage. Everything else stays lazy unless the
run is traced, where each layer's output is materialized inside its own
span so lazy work lands in the layer that defines it.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llm_enhanced_data_pipeline_spark.enrich.enhance import RESULT_FIELD, enrich_with_llm
from llm_enhanced_data_pipeline_spark.functions.parsing import parsed_json_col
from llm_enhanced_data_pipeline_spark.operators import dedup
from llm_enhanced_data_pipeline_spark.plans import pipeline as P
from llm_enhanced_data_pipeline_spark.sources.checkpoint import ParquetCheckpoint
from llm_enhanced_data_pipeline_spark.sources.jsonl import corrupt_lines, read_jsonl, valid_lines, write_jsonl

from .fakellm import RATE_PER_SEC, FakeLLMService
from .gen import SOURCES

SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("paper_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("abstract", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("publish_year", T.LongType()),
        T.StructField("venue", T.StringType()),
        T.StructField("citation_count", T.LongType()),
        T.StructField("fields_of_study", T.ArrayType(T.StringType())),
        T.StructField("url", T.StringType()),
    ]
)
TASKS = ("scoring", "keywords", "fields", "contributions")
SIDE_SCHEMAS = {
    "scoring": "novelty STRING, technical_depth STRING, clarity STRING, "
    "impact_potential STRING, confidence STRING",
    "keywords": "ARRAY<STRING>",
    "fields": "ARRAY<STRING>",
    "contributions": "problem STRING, method STRING",
}
# The final table's columns, in order: the join key, the canonical
# fields, then the enrichment payloads final_build adds.
FINAL_COLUMNS = [
    "paper_id", "source", "title", "abstract", "abstract_source", "venue", "url",
    "publish_year", "citation_count", "authors", "fields_of_study",
    "novelty", "technical_depth", "clarity", "impact_potential", "confidence",
    "keywords", "problem", "method", "overall_score",
]
GATE_REASONS = ("title_too_short", "abstract_too_short", "low_overall", "low_depth",
                "low_confidence")


def doc_id(pid):
    """``YYMM.NNNNN`` → long (enrich_with_llm needs a long key)."""
    return F.regexp_replace(pid, r"\.", "").try_cast("long")


def paper_id(did):
    return F.format_string("%d.%05d", F.floor(did / 100_000), did % 100_000)


def _prompts(task: str):
    def build(pdf: pd.DataFrame) -> pd.Series:
        return f"[{task}] Title: " + pdf["title"] + "\nAbstract: " + pdf["abstract"]

    return build


def _side(task: str, done):
    parsed = done.select(
        paper_id(F.col("doc_id")).alias("paper_id"),
        parsed_json_col(F.col(RESULT_FIELD), SIDE_SCHEMAS[task]).alias("j"),
    )
    if task == "scoring":
        return parsed.select("paper_id", "j.*")
    if task == "contributions":
        return parsed.select("paper_id", "j.problem", "j.method")
    name = "keywords" if task == "keywords" else "fields_enriched"
    return parsed.select("paper_id", F.col("j").alias(name))


def _mat(tr, df, key: str | None = None):
    """Traced runs materialize a layer's output inside its span."""
    if not tr.enabled:
        return df
    df = df.persist()
    n = df.count()
    if key:
        tr.add(key, n)
    return df


def run_chain(spark, tr, paths: dict[str, str], work: str, engine: str, cpus: int,
              seed: int, counters) -> dict:
    """One chain from raw JSONL to the final JSONL; returns its handles."""
    out_path = os.path.join(work, "final")
    with tr.span("jsonl.read"):
        srcs = [_mat(tr, valid_lines(read_jsonl(spark, paths[s], SCHEMA)), "jsonl.rows_in")
                for s in SOURCES]
    with tr.span("merge"):
        merged = _mat(tr, P.merge_sources(srcs), "merge.rows_out")
    with tr.span("dedup"):
        deduped = _mat(tr, P.dedup_stage(merged, engine), "dedup.d4_rows")
    with tr.span("clean"):
        cleaned = _mat(tr, P.clean_stage(deduped))
    with tr.span("align"):
        aligned = P.align_stage(cleaned).persist()
        tr.add("align.rows_out", aligned.count())
    keyed = aligned.filter(F.col("paper_id") != "").select(
        doc_id(F.col("paper_id")).alias("doc_id"), "title", "abstract"
    )
    sides = {}
    for task in TASKS:
        ck = ParquetCheckpoint(spark, os.path.join(work, "ckpt", task), "doc_id")
        with tr.span("checkpoint.remaining"):
            todo = _mat(tr, ck.remaining(keyed), "checkpoint.todo_rows")
        with tr.span("enrich"):
            enriched = enrich_with_llm(
                todo, "doc_id", _prompts(task),
                lambda task=task: FakeLLMService(task, seed, counters),
                rate_per_sec=RATE_PER_SEC, num_partitions=cpus,
            )
            if tr.enabled:
                enriched = _mat(tr, enriched, "enrich.rows")
                tr.add("enrich.parse_ok", enriched.filter(F.col(RESULT_FIELD).isNotNull()).count())
                tr.add("enrich.partitions", enriched.rdd.getNumPartitions())
        with tr.span("checkpoint.append"):
            ck.append(enriched)
        with tr.span("enrich.parse"):
            sides[task] = _mat(tr, _side(task, ck.load()))
    with tr.span("final"):
        passed, reasons = P.final_build(
            aligned, sides["scoring"], sides["keywords"], sides["fields"], sides["contributions"]
        )
        passed = passed.persist()
        drops = {r.reason: r.n for r in reasons.collect()}
    with tr.span("stats"):
        stats = P.stage_stats(passed).collect()[0].asDict()
    with tr.span("jsonl.write"):
        write_jsonl(passed, out_path)
    return {"passed": passed, "aligned": aligned, "drops": drops, "stats": stats,
            "out_path": out_path, "enrich_inputs": keyed}


def output_digest(out_path: str) -> tuple[str, int, int]:
    """(md5 of the sorted output lines, line count, bytes) — layout-free."""
    lines: list[bytes] = []
    size = 0
    for part in sorted(glob.glob(os.path.join(out_path, "part-*"))):
        with open(part, "rb") as fh:
            data = fh.read()
        size += len(data)
        lines.extend(data.splitlines())
    lines.sort()
    return hashlib.md5(b"\n".join(lines)).hexdigest(), len(lines), size


def stage_counts(spark, paths: dict[str, str]) -> dict[str, int]:
    """Corrupt lines and the D1/D2/D3 row counts, measured through the
    program's own operators (D2/D3 composed as ``dedup_stage`` does)."""
    raws = [read_jsonl(spark, paths[s], SCHEMA) for s in SOURCES]
    corrupt = sum(corrupt_lines(r).count() for r in raws)
    merged = P.merge_sources([valid_lines(r) for r in raws])
    with_ord = merged.withColumn("_ord", F.monotonically_increasing_id()).persist()
    step1 = dedup.dedup_exact_null_preserving(with_ord, "paper_id", [F.col("_ord")])
    step2 = dedup.dedup_content_hash(step1, "title", [F.col("_ord")])
    counts = {"corrupt": corrupt, "d1": with_ord.count(), "d2": step1.count(),
              "d3": step2.count()}
    with_ord.unpersist()
    for r in raws:
        r.unpersist()
    return counts
