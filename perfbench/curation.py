"""Workload ``curation``: the LLM-pipeline batch job.

Set-up generates a ``documents`` + ``embeddings`` corpus with planted
exact- and near-duplicate clusters, boilerplate and PII. The measured
part runs a fixed campaign of fourteen registry operators, each built
and collected in turn, from cold engine caches: every round reads its
own copy of the corpus, and caches are released between rounds. Every
result is checked against numpy/Python recomputations over the corpus.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import gen
from common import GEN_REPS, JobStats, RunResult, median, tree_cpu_s

CAMPAIGN = list(checks.CHECKS)  # the fourteen ops, in run order


def release_caches(spark) -> None:
    """Drop every persisted relation the operators keep between calls."""
    from mqtt_influx_storage_service_spark import operators

    for mod in (operators.dedup, operators.textops, operators.pipeline,
                operators.similarity, operators.mlops):
        for name in dir(mod):
            if name.startswith("release_"):
                getattr(mod, name)(spark)
    spark.catalog.clearCache()


def persisted_bytes(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


def warm_engine(spark, corpus_dir: str) -> None:
    """Start the JVM's and the Python workers' first-use costs without
    touching the engine: one Parquet scan with an aggregation, and one
    pandas function over every core."""
    spark.read.parquet(os.path.join(corpus_dir, "documents.parquet")).groupBy("lang").count().collect()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(
        lambda batches: (b + 1 for b in batches), "id long"
    ).collect()


def run(ctx) -> RunResult:
    from mqtt_influx_storage_service_spark.operators import all_queries

    res = RunResult()
    spark, trace = ctx.spark, ctx.trace
    times = []
    for i in range(GEN_REPS):
        with trace.span("setup.generate", rep=i):
            t = time.perf_counter()
            docs, emb, plant = gen.make_corpus(ctx.seed)
            base = os.path.join(ctx.work, "corpus")
            shutil.rmtree(base, ignore_errors=True)
            gen.write_corpus(docs, emb, base)
            times.append(time.perf_counter() - t)
    with trace.span("setup.warmup"):
        t = time.perf_counter()
        warm_engine(spark, base)
        warm_s = time.perf_counter() - t
    res.setup_s = ctx.session_s + median(times) + warm_s
    ctx.log(f"setup: session {ctx.session_s:.2f}s, generate {median(times):.2f}s, warm-up {warm_s:.2f}s")
    corpus = checks.Corpus(docs, emb, plant)
    queries = all_queries()

    rounds, cpu, first = [], [], None
    start = time.perf_counter()
    r = 0
    while r < 1 or time.perf_counter() - start < ctx.seconds:
        if r:
            release_caches(spark)
        sf_dir = os.path.join(ctx.work, f"corpus-r{r}")
        shutil.copytree(base, sf_dir)
        results, lay = {}, {}
        t_round, cpu_round = time.perf_counter(), tree_cpu_s()
        with trace.span("curation.round", round=r):
            for op in CAMPAIGN:
                res.attempted += 1
                t = time.perf_counter()
                try:
                    with trace.span(f"curation.{op}.construct"), trace.group(f"{r}:{op}:construct"):
                        df = queries[op](spark, sf_dir)
                    t1 = time.perf_counter()
                    if trace.enabled:
                        with trace.span("plan", op=op):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with trace.span(f"curation.{op}.exec"), trace.group(f"{r}:{op}:exec"):
                        rows = [x.asDict() for x in df.collect()]
                except Exception as exc:
                    res.failed += 1
                    ctx.log(f"{op} failed: {type(exc).__name__}: {exc}")
                    continue
                t3 = time.perf_counter()
                results[op] = rows
                lay[op] = (t1 - t, t2 - t1, t3 - t2)
        rounds.append(time.perf_counter() - t_round)
        cpu.append(tree_cpu_s() - cpu_round)
        ctx.log(f"round {r}: {rounds[-1]:.2f} s, cpu {cpu[-1]:.2f} s; ops "
                + " ".join(f"{op}={sum(v):.2f}" for op, v in lay.items()))
        if first is None:
            first = (r, lay, persisted_bytes(spark))
        for op, errs in checks.check_campaign(results, corpus).items():
            res.errors += [f"round {r}: {e}" for e in errs]
        r += 1

    res.end_to_end = {"job_s": median(rounds), "cpu_s": median(cpu)}
    if trace.enabled:
        res.per_layer = curation_layers(ctx, *first)
    return res


def curation_layers(ctx, r: int, lay: dict, cached: float) -> dict[str, float]:
    """Per-op construction and execution of the first round, Spark jobs
    launched while building each op, and what the campaign left cached."""
    js = JobStats(ctx.spark)
    out = {}
    exec_jobs = []
    for op in CAMPAIGN:
        construct_s, plan_s, exec_s = lay.get(op, (0.0, 0.0, 0.0))
        out[f"curation.{op}.construct_s"] = construct_s
        out[f"curation.{op}.construct_jobs"] = float(len(js.jobs(f"{r}:{op}:construct")))
        out[f"curation.{op}.exec_s"] = exec_s
        exec_jobs += js.jobs(f"{r}:{op}:exec")
    out["plan_s"] = sum(v[1] for v in lay.values())
    out["exec_s"] = sum(v[2] for v in lay.values())
    out["exec.jobs"] = float(len(exec_jobs))
    for k, v in js.stage_totals(exec_jobs).items():
        out[f"exec.{k}"] = v
    out["cache.persisted_bytes"] = cached
    return out
