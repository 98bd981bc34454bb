"""Yesterday's enrichment results for the resume workload.

A daily run finds most papers already enriched: each task's checkpoint
is pre-seeded with the fake service's answers (parsed the way
``enrich_with_llm`` parses them) for exactly ``share`` of the ledger's
surviving keyed papers, picked by the seed. Pure Python; the worker
appends the rows to the checkpoints as part of its timed set-up.
"""

from __future__ import annotations

import json
import os
import random

from llm_enhanced_data_pipeline_spark.enrich.client import DeterministicFakeLLM
from llm_enhanced_data_pipeline_spark.functions.parsing import parse_llm_json

from .etl import TASKS
from .fakellm import respond
from .gen import SOURCES, Inputs, Ledger, doc_id_of


def write_preseed(inputs: Inputs, led: Ledger, seed: int, share: float, directory: str) -> dict[str, str]:
    rng = random.Random(seed * 7919 + 1)
    papers = [r for s in SOURCES for r in inputs.records[s]
              if r is not None and r["paper_id"] and (s, r["url"]) in led.survivors]
    papers.sort(key=lambda r: r["paper_id"])
    chosen = rng.sample(papers, round(share * len(papers)))
    os.makedirs(directory, exist_ok=True)
    paths = {}
    for task in TASKS:
        llm = DeterministicFakeLLM(task=task)
        paths[task] = os.path.join(directory, f"{task}.jsonl")
        with open(paths[task], "w", encoding="utf-8") as fh:
            for r in chosen:
                prompt = f"[{task}] Title: {r['title']}\nAbstract: {r['abstract']}"
                parsed = parse_llm_json(respond(llm, prompt))
                fh.write(json.dumps({
                    "doc_id": doc_id_of(r["paper_id"]),
                    "prompt": prompt,
                    "llm_json": None if parsed is None else json.dumps(parsed, sort_keys=True),
                }) + "\n")
    return paths
