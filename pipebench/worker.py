"""One measured process: start a session, set up, do the timed work.

``python3 -m pipebench.worker <spec.json> <result.json>``

Each worker is a fresh Python process with a fresh driver JVM, so every
ETL chain it runs is cold (a batch user pays JIT on every run) and its
set-up includes the session start. With ``spec["check"]`` an ETL worker
also runs the untimed stage-count check after the chain. The parent
starts workers one at a time, never in parallel.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(spec: dict):
    from llm_enhanced_data_pipeline_spark.session import get_spark

    tmp = os.path.join(spec["dir"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "pipebench",
        cpus=spec["cpus"],
        extra_conf={
            "spark.driver.memory": spec["driver_memory"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(spec["dir"], "local"),
            "spark.sql.warehouse.dir": os.path.join(spec["dir"], "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def etl_setup(spark, spec: dict) -> None:
    """Resume only: yesterday's enrichment results go into the checkpoints."""
    from pyspark.sql import types as T

    from llm_enhanced_data_pipeline_spark.sources.checkpoint import ParquetCheckpoint

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("prompt", T.StringType()),
        T.StructField("llm_json", T.StringType()),
    ])
    for task, path in spec.get("preseed", {}).items():
        ck = ParquetCheckpoint(spark, os.path.join(spec["dir"], "ckpt", task), "doc_id")
        ck.append(spark.read.schema(schema).json(path))


def etl_work(spark, spec: dict, tr, counters) -> dict:
    from llm_enhanced_data_pipeline_spark.operators import dedup

    from . import etl

    t0 = time.perf_counter()
    with tr.span("etl"):
        h = etl.run_chain(spark, tr, spec["paths"], spec["dir"], spec["engine"],
                          spec["cpus"], spec["seed"], counters)
    res: dict = {"wall_s": time.perf_counter() - t0, "llm": counters.read()}
    digest, lines, size = etl.output_digest(h["out_path"])
    res.update(digest=digest, out_rows=lines, out_bytes=size, drops=h["drops"],
               stats_rows=h["stats"]["n_papers"], columns=h["passed"].columns)
    res["survivors"] = [list(r) for r in h["aligned"].select("source", "url").collect()]
    if tr.enabled:
        res["keyed_rows"] = h["enrich_inputs"].count()
    h["passed"].unpersist()
    h["aligned"].unpersist()
    dedup.release_caches()
    return res


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    from .fakellm import Counters
    from .trace import Tracer

    t0 = time.perf_counter()
    spark = start_session(spec)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tr = Tracer(sc, spec["run_id"], enabled=spec["trace"])
    counters = Counters.create(sc)
    res: dict = {"session_s": session_s}
    try:
        if spec["kind"] == "etl":
            etl_setup(spark, spec)
            res["setup_s"] = time.perf_counter() - t0
            res.update(etl_work(spark, spec, tr, counters))
            if spec["check"]:
                from .etl import stage_counts

                res["stage_counts"] = stage_counts(spark, spec["paths"])
        else:
            from .rag import Server

            server = Server(spark, spec, tr, counters)
            res["setup_s"] = time.perf_counter() - t0
            res.update(server.serve(spec["questions"], spec["min_questions"], spec["seconds"]))
            res["llm"] = counters.read()
            res["recall"] = server.recall(res["questions"], res["served"])
        if tr.enabled:
            top = "etl" if spec["kind"] == "etl" else "rag"
            res["layers"] = tr.spark_layers()
            res["trace_counts"] = dict(tr.counts)
            res["coverage"] = tr.coverage(top)
            tr.dump(spec["spans_out"])
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        res["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    finally:
        spark.stop()
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
