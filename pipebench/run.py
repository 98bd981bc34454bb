"""Paper-pipeline benchmark: seeded ETL (fresh + resume) and RAG serving.

    python3 pipebench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; the
program is driven from outside through its public calls, one fresh
worker process (and driver JVM) at a time. With ``--trace 0`` the last
stdout line carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced pass. See pipebench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.getcwd()

WORK_DIR = ".pipebench_work"
DRIVER_MEMORY = "1g"
RUN_BUDGET_S = 170.0
# rag_serve: questions answered in set-up, and the fewest timed ones
WARMUP_QUESTIONS = 2
MIN_QUESTIONS = 100


@dataclass(frozen=True)
class Workload:
    kind: str
    n_base: int
    engine: str = "exact"
    preseed_share: float = 0.0


WORKLOADS = {
    "etl_reference": Workload("etl", 1200),
    "etl_resume": Workload("etl", 2000, engine="lsh", preseed_share=0.9),
    "rag_serve": Workload("rag", 200),
}


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the worker left (JVM, Python daemons) and wait."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


class WorkerTimeout(RuntimeError):
    """A worker did not end before the run's deadline."""


def run_worker(spec: dict, deadline: float) -> dict | None:
    """One worker process; None when it failed, WorkerTimeout when it
    ran out of the run's time."""
    n = sum(name.startswith("spec") for name in os.listdir(spec["root"]))
    spec_path = os.path.join(spec["root"], f"spec{n}.json")
    out_path = os.path.join(spec["root"], f"result{n}.json")
    spec["dir"] = os.path.join(spec["root"], f"w{n}")
    os.makedirs(spec["dir"])
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(spec["dir"], "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(spec["dir"], "local"),
        # the spark-submit launcher JVM: no hsperfdata file outside the checkout
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    os.makedirs(env["TMPDIR"])
    with open(os.path.join(spec["root"], f"log{n}.txt"), "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "pipebench.worker", spec_path, out_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if rc is None:
        raise WorkerTimeout(f"worker {n} was stopped at the run's deadline")
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(spec["root"], f"log{n}.txt"), encoding="utf-8") as fh:
            sys.stderr.write(fh.read()[-3000:])
        return None
    with open(out_path, encoding="utf-8") as fh:
        return json.load(fh)


def pct(values: list[float], q: int) -> float:
    """q-th percentile (q in 10..90 by tens) as statistics.quantiles gives it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10)[q // 10 - 1]


class Checks:
    """Every checked operation of a run: ``attempted`` and ``failed``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


def code_version() -> str:
    """md5 over the package's and the benchmark's Python sources."""
    h = hashlib.md5()
    for pkg in ("llm_enhanced_data_pipeline_spark", "pipebench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode("utf-8"))
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _digest_store(key: str, digest: str, checks: Checks) -> None:
    """Repeated runs of one input on the same code must write the same
    final output. ``key`` names the code version, workload and seed, so
    only a second run of one seed in one checkout compares anything."""
    path = os.path.join(ROOT, WORK_DIR, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            known = json.load(fh)
    checks.check(known.setdefault(key, digest) == digest,
                 f"final-output hash differs from an earlier run of {key}")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(known, fh)


def run_traced(traced_spec: dict, plain_spec: dict, deadline: float, checks: Checks):
    """The traced worker, then an untraced one on the same inputs for the
    tracing overhead. The untraced worker needs about the traced one's
    set-up and work time (its work is shorter by the tracing overhead);
    it is skipped, or given up at the deadline, when the run's time
    budget does not hold that."""
    traced = run_worker(traced_spec, deadline)
    if not checks.check(traced is not None, "traced worker failed"):
        return None, None
    if deadline - time.monotonic() < traced["setup_s"] + traced["wall_s"]:
        print("pipebench: no time left for the untraced worker; overhead not measured")
        return traced, None
    try:
        plain = run_worker(plain_spec, deadline)
    except WorkerTimeout:
        print("pipebench: the untraced worker ran out of time; overhead not measured")
        return traced, None
    checks.check(plain is not None, "untraced worker failed")
    return traced, plain


# ---------------------------------------------------------------------------
# ETL


def prepare_etl(wl: Workload, seed: int, root: str) -> dict:
    from pipebench import gen, preseed

    inputs = gen.generate(seed, wl.n_base)
    led = gen.ledger(inputs)
    prep = {"ledger": led, "paths": inputs.write(os.path.join(root, "in"))}
    prep["preseed"] = (
        preseed.write_preseed(inputs, led, seed, wl.preseed_share, os.path.join(root, "pre"))
        if wl.preseed_share else {}
    )
    return prep


def etl_spec(wl, prep, base, trace: bool, check: bool) -> dict:
    return dict(base, kind="etl", paths=prep["paths"], preseed=prep["preseed"],
                engine=wl.engine, trace=trace, check=check)


def check_etl(name, seed, wl, prep, res: dict, checks: Checks, record_digest: bool) -> dict:
    from pipebench.etl import FINAL_COLUMNS

    led = prep["ledger"]
    if "stage_counts" in res:
        for k, v in led.counts().items():
            checks.check(res["stage_counts"][k] == v,
                         f"{k}: program {res['stage_counts'][k]} != ledger {v}")
    if "digest" not in res:
        return {}
    checks.check(res["columns"] == FINAL_COLUMNS, f"final columns {res['columns']}")
    checks.check(res["out_rows"] > 0, "empty final output")
    checks.check(res["stats_rows"] == res["out_rows"],
                 f"stage_stats counts {res['stats_rows']} papers, the output has {res['out_rows']}")
    # align_stage's citation filter (min 0) keeps every row, so the
    # aligned rows are the D4 survivors
    checks.check(len(res["survivors"]) == led.d4,
                 f"d4: program {len(res['survivors'])} != ledger {led.d4}")
    if record_digest:
        _digest_store(f"{code_version()}:{name}:{seed}:{wl!r}", res["digest"], checks)
    got = {tuple(x) for x in res["survivors"]}
    return {
        "agreement": len(got & led.survivors) / len(got | led.survivors),
        "off_reference": len(got - led.survivors),
        "calls_per_paper": res["llm"]["calls"] / led.raw_papers,
    }


def run_etl(name: str, wl: Workload, args, base: dict, deadline: float, checks: Checks) -> dict:
    prep = prepare_etl(wl, args.seed, base["root"])
    out: dict = {"n_raw": prep["ledger"].raw_papers, "n_post_d3": prep["ledger"].d3}
    if args.trace:
        traced, plain = run_traced(etl_spec(wl, prep, base, True, True),
                                   etl_spec(wl, prep, base, False, False), deadline, checks)
        if traced is not None:
            q = check_etl(name, args.seed, wl, prep, traced, checks, False)
            if plain is not None:
                q = check_etl(name, args.seed, wl, prep, plain, checks, True)
            out.update(plain=plain, traced=traced, off_reference=q["off_reference"])
        return out
    chains = []
    while not chains or sum(r["wall_s"] for r in chains) < args.seconds:
        res = run_worker(etl_spec(wl, prep, base, False, not chains), deadline)
        if not checks.check(res is not None, "chain worker failed"):
            return out
        chains.append(res)
    quality = [check_etl(name, args.seed, wl, prep, r, checks, True) for r in chains]
    walls = [r["wall_s"] * 1000.0 for r in chains]
    out["metrics"] = {
        "setup_s": statistics.median(r["setup_s"] for r in chains),
        "latency_p50_ms": pct(walls, 50),
        "latency_p90_ms": pct(walls, 90),
        "llm_calls_per_item": statistics.median(q["calls_per_paper"] for q in quality),
        "ref_agreement": statistics.median(q["agreement"] for q in quality),
        "peak_rss_mb": max(r["peak_rss_mb"] for r in chains),
    }
    return out


# ---------------------------------------------------------------------------
# RAG


def prepare_rag(wl: Workload, seed: int, root: str, n_questions: int) -> dict:
    from pipebench import gen

    inputs = gen.generate(seed, wl.n_base)
    docs = [r for s in gen.SOURCES for r in inputs.records[s] if r is not None]
    corpus = os.path.join(root, "corpus.jsonl")
    with open(corpus, "w", encoding="utf-8") as fh:
        for i, r in enumerate(docs):
            fh.write(json.dumps({"doc_id": i, "title": r["title"], "abstract": r["abstract"]}) + "\n")
    rng = random.Random(seed)

    def question() -> str:
        doc = rng.choice(docs)
        title, abstract = doc["title"].split(), doc["abstract"].split()
        words = rng.sample(title, min(4, len(title))) + rng.sample(abstract, min(3, len(abstract)))
        return "what is known about " + " ".join(words)

    return {"corpus": corpus, "n_docs": len(docs),
            "warmup": [question() for _ in range(WARMUP_QUESTIONS)],
            "questions": [question() for _ in range(n_questions)]}


def rag_spec(wl, prep, base, trace: bool, seconds: float) -> dict:
    return dict(base, kind="rag", corpus=prep["corpus"], warmup=prep["warmup"],
                questions=prep["questions"], min_questions=MIN_QUESTIONS,
                seconds=seconds, trace=trace, check=False)


def check_rag(res: dict, checks: Checks) -> None:
    for ids in res.get("served", []):
        checks.check(len(ids) == 5 and len(set(ids)) == 5, "a question got fewer than 5 hits")


def run_rag(name: str, wl: Workload, args, base: dict, deadline: float, checks: Checks) -> dict:
    prep = prepare_rag(wl, args.seed, base["root"], 4 * MIN_QUESTIONS)
    out: dict = {"n_docs": prep["n_docs"]}
    if args.trace:
        traced, plain = run_traced(rag_spec(wl, prep, base, True, 0.0),
                                   rag_spec(wl, prep, base, False, 0.0), deadline, checks)
        for res in (traced, plain):
            if res is not None:
                check_rag(res, checks)
        out.update(plain=plain, traced=traced)
        return out
    serve = run_worker(rag_spec(wl, prep, base, False, args.seconds), deadline)
    if not checks.check(serve is not None, "serving worker failed"):
        return out
    check_rag(serve, checks)
    asked = len(serve["served"]) + len(prep["warmup"])
    lat = serve["latencies_ms"]
    out["n_questions"] = len(lat)
    out["metrics"] = {
        "setup_s": serve["setup_s"],
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "llm_calls_per_item": serve["llm"]["calls"] / asked,
        "ref_agreement": serve["recall"],
        "peak_rss_mb": serve["peak_rss_mb"],
    }
    return out


# ---------------------------------------------------------------------------
# per-layer readout of the traced pass

SPARK_LAYERS = ("jsonl", "merge", "dedup", "clean", "align", "checkpoint", "enrich",
                "final", "stats", "embed", "search")


def layer_metrics(kind: str, out: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run; spans ``<layer>.<call>``
    add up into ``<layer>``. Layers the workload does not run stay 0."""
    from pipebench.etl import GATE_REASONS
    from pipebench.trace import LAYER_FIELDS

    plain, traced = out["plain"], out["traced"]
    zero = dict.fromkeys(LAYER_FIELDS, 0.0)
    agg: dict[str, dict[str, float]] = {}
    for span, vals in traced["layers"].items():
        layer = agg.setdefault(span.split(".")[0], dict(zero))
        for k in LAYER_FIELDS:
            layer[k] += vals[k]
    m: dict[str, float] = {}
    for name in SPARK_LAYERS:
        a = agg.get(name, zero)
        m.update({f"{name}.{k}": a[k] for k in LAYER_FIELDS if k != "self_s"})
        m[f"{name}.parallelism"] = a["busy_s"] / a["self_s"] if a["self_s"] > 0 else 0.0
    c = traced["trace_counts"]
    spans = traced["layers"]
    cov = traced["coverage"]
    m["session.start_s"] = traced["session_s"]
    m["trace.wall_s"] = cov["wall_s"]
    m["trace.coverage"] = cov["covered_s"] / cov["wall_s"] if cov["wall_s"] else 0.0
    m["trace.uncovered_s"] = cov["uncovered_s"]
    if kind == "etl":
        sc = traced["stage_counts"]
        llm = traced["llm"]
        rows = c.get("enrich.rows", 0)
        m.update({
            "jsonl.rows_in": c["jsonl.rows_in"],
            "jsonl.corrupt_rows": sc["corrupt"],
            "jsonl.bytes_out": traced["out_bytes"],
            "merge.rows_out": c["merge.rows_out"],
            "dedup.d2_rows": sc["d2"],
            "dedup.d3_rows": sc["d3"],
            "dedup.d4_rows": c["dedup.d4_rows"],
            "dedup.off_reference_survivors": out["off_reference"],
            "align.rows_out": c["align.rows_out"],
            "enrich.calls": llm["calls"],
            "enrich.call_wait_s": llm["wait_s"],
            "enrich.retries": llm["retries"],
            "enrich.parse_ok_ratio": c.get("enrich.parse_ok", 0) / rows if rows else 0.0,
            "enrich.partitions": c.get("enrich.partitions", 0) / 4,
            "checkpoint.remaining_s": spans["checkpoint.remaining"]["self_s"],
            "checkpoint.append_s": spans["checkpoint.append"]["self_s"],
            "checkpoint.skip_ratio": 1.0 - c["checkpoint.todo_rows"] / (4 * traced["keyed_rows"]),
            "final.rows_passed": traced["out_rows"],
        })
        for reason in GATE_REASONS:
            m[f"final.drop_{reason}"] = traced["drops"].get(reason, 0)
        if plain is not None:
            m["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
            m["trace.overhead_ratio"] = traced["wall_s"] / plain["wall_s"] - 1.0
    else:
        q = c["search.queries"]
        m.update({
            "embed.rows": c["embed.rows"],
            "search.build_ms": c["search.build_ms"] / q,
            "search.exec_ms": c["search.exec_ms"] / q,
            "search.jobs_per_query": agg.get("search", {}).get("jobs", 0.0) / q,
            "answer.ms": c["answer.ms"] / q,
        })
        if plain is not None:
            per_plain = plain["wall_s"] / len(plain["served"])
            per_traced = traced["wall_s"] / len(traced["served"])
            m["trace.overhead_s"] = per_traced - per_plain
            m["trace.overhead_ratio"] = per_traced / per_plain - 1.0
    return m


def _units(kind: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its worker's process group (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if importlib.util.find_spec("llm_enhanced_data_pipeline_spark") is None:
        print("pipebench: the llm_enhanced_data_pipeline_spark package is not in the "
              "working directory; run from the repository root", file=sys.stderr)
        return 2
    start = time.monotonic()
    deadline = start + RUN_BUDGET_S
    wl = WORKLOADS[args.workload]
    root = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    base = {"root": root, "cpus": len(os.sched_getaffinity(0)), "driver_memory": DRIVER_MEMORY,
            "seed": args.seed, "run_id": f"{args.workload}-{args.seed}",
            "spans_out": os.path.join(ROOT, WORK_DIR, f"spans-{args.workload}-{args.seed}.jsonl")}
    checks = Checks()
    try:
        run = run_etl if wl.kind == "etl" else run_rag
        out = run(args.workload, wl, args, base, deadline, checks)
    except WorkerTimeout as e:
        print(f"pipebench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if args.trace:
        if out.get("traced") is None:
            print("pipebench: " + "; ".join(checks.notes), file=sys.stderr)
            return 1
        values = layer_metrics(wl.kind, out)
        units = _units("per_layer")
        for name in units:
            values.setdefault(name, 0.0)
        print(f"coverage: layer self times {values['trace.wall_s'] * values['trace.coverage']:.3f} s"
              f" of traced wall {values['trace.wall_s']:.3f} s ({values['trace.coverage']:.1%});"
              f" uncovered {values['trace.uncovered_s']:.3f} s = benchmark glue between calls;"
              f" tracing overhead {values['trace.overhead_s']:.3f} s"
              f" ({values['trace.overhead_ratio']:+.1%})")
    else:
        if "metrics" not in out:
            print("pipebench: " + "; ".join(checks.notes), file=sys.stderr)
            return 1
        values = out["metrics"]
        values["ok_frac"] = 1.0 - checks.failed / checks.attempted
        units = _units("end_to_end")
    size = {k: v for k, v in out.items() if k.startswith("n_")}
    print(f"input: {args.workload} seed {args.seed} {json.dumps(size)}")
    for note in checks.notes:
        print(f"check failed: {note}")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)  # the package and pipebench live in the checkout root
    sys.exit(main())
