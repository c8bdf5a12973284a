"""The traced run: per-layer self times, counts and kernel timings.

Spans are recorded here, around the calls into each layer, not inside
the program.  A link job is traced by handing ``run_linkage`` a
catalog whose ``stage`` runs each stage under its own Spark job group
and materializes it before the next one starts, so each span is that
layer's self time.  Task metrics come from Spark's event log, which
only this run enables.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

from workloads import NON_BMP, scorer_k, stable_hash

ROUNDS = 2           # alternating (untraced, traced) job pairs
SAMPLE_PAIRS = 1500  # hash sample for the driver-side kernel timings
TRACEBACK_PAIRS = 48
FALLBACK_PAIRS = 200
LAYER_OF_STAGE = {"canonical": "canonicalize", "blocks": "blocking",
                  "candidate_pairs": "pairs", "scored_pairs": "scoring",
                  "edges": "scoring", "clusters": "clustering"}
LINK_LAYERS = ("canonicalize", "blocking", "pairs", "scoring",
               "clustering")


class StageTracer:
    """``RunCatalog`` stand-in for ``run_linkage``: one span per stage."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = defaultdict(float)
        self.frames = {}

    def stage(self, name, build):
        layer = LAYER_OF_STAGE[name]
        self.sc.setJobGroup(f"trace:{layer}", name)
        t0 = time.perf_counter()
        df = build().localCheckpoint(eager=True)
        self.spans[layer] += time.perf_counter() - t0
        self.frames[name] = df
        return df


def _median_time(fn, repeat: int = 3) -> float:
    out = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def traced_run(spark, job, tally, deadline: float) -> dict:
    from worker import WARMUP_JOBS, checked, timed
    link = job.spec["kind"] == "link"
    spark.sparkContext.setJobGroup("warmup", "untraced warm-up jobs")
    for _ in range(WARMUP_JOBS[job.spec["kind"]]):  # as the untraced run
        result, _, _ = timed(job)
        checked(job, result, tally)
    untraced, traced, spans = [], [], defaultdict(list)
    tracer = None
    star_calls = [0]
    if link:
        import edlib_spark.operators.clustering as clustering
        large_star = clustering._large_star

        def counting_large_star(edges):  # one call per star pass
            star_calls[0] += 1
            return large_star(edges)
        clustering._large_star = counting_large_star
    try:
        for _ in range(ROUNDS):
            if traced and time.monotonic() > deadline:
                break
            spark.sparkContext.setJobGroup("untraced", "untraced job")
            result, wall, _ = timed(job)
            untraced.append(wall)
            checked(job, result, tally)
            if link:
                tracer = StageTracer(spark)
                result, wall, _ = timed(job, tracer)
                for layer in LINK_LAYERS:
                    spans[layer].append(tracer.spans[layer])
            else:
                spark.sparkContext.setJobGroup("trace:alignment", "align")
                result, wall, _ = timed(job)
                spans["alignment"].append(wall)
            traced.append(wall)
            spark.sparkContext.setJobGroup("check", "output checks")
            checked(job, result, tally)
    finally:
        if link:
            clustering._large_star = large_star
    m = {"trace.job_s": statistics.median(traced),
         "trace.untraced_job_s": statistics.median(untraced),
         "trace.overhead_s": statistics.median(traced)
         - statistics.median(untraced),
         "traced_jobs": len(traced)}
    for layer in LINK_LAYERS + ("alignment",):
        m[f"{layer}.self_s"] = (statistics.median(spans[layer])
                                if spans[layer] else 0.0)
    m["trace.unaccounted_s"] = m["trace.job_s"] - sum(
        m[f"{layer}.self_s"] for layer in LINK_LAYERS + ("alignment",))
    spark.sparkContext.setJobGroup("count", "layer counts")
    if link:
        m.update(_link_counts(job, tracer))
        m["clustering.star_passes"] = star_calls[0] / (len(traced)
                                                       + len(untraced))
        m.update(_scoring_split(spark, tracer))
        qs, ts, ks, fq, ft, fk = _link_sample(job, tracer)
        program_k = ks           # the scorer's per-pair bound
    else:
        m.update(_zero_link_counts())
        qs, ts, ks, fq, ft, fk = _align_sample(job)
        m["batch.fallback_pair_share"] = 0.0
        program_k = -1           # align_expr(..., k=-1)
    m["batch.dynamic_k_rounds_per_pair"] = dynamic_k_rounds(
        qs, ts, program_k)[0]
    spark.sparkContext.setJobGroup("microbench", "driver kernel timings")
    m.update(_kernel_timings(qs, ts, ks, fq, ft, fk))
    return m


def dynamic_k_rounds(qs, ts, k) -> tuple[float, float]:
    """(rounds per pair, share of pairs in a second round) of
    ``batch.batch_edit_distance``'s dynamic-k doubling on these NW
    pairs at bound ``k``.  Counted, not modelled: each round is one
    re-entrant call, which this wraps, over the pairs still unresolved.
    A bounded ``k`` runs no doubling and reads (0, 0)."""
    import edlib_spark.batch as batch
    real = batch.batch_edit_distance
    sizes = []

    def counting(queries, *args, **kwargs):
        sizes.append(len(queries))
        return real(queries, *args, **kwargs)
    batch.batch_edit_distance = counting
    try:
        real(qs, ts, "NW", k)
    finally:
        batch.batch_edit_distance = real
    n = max(1, len(qs))   # only re-entrant calls are counted: one a round
    return sum(sizes) / n, (sizes[1] / n if len(sizes) > 1 else 0.0)


def _link_counts(job, tracer) -> dict:
    from pyspark.sql import functions as F

    from edlib_spark.plans.linkage import LinkageConfig
    fr = tracer.frames
    sizes = [r[0] for r in fr["blocks"].groupBy("block_key").count()
             .select("count").collect()]
    candidates = fr["candidate_pairs"].count()
    scored = fr["scored_pairs"].count()
    edges = fr["edges"].count()
    emoji, hot = job.spec["emoji_ids"], job.spec["hot_ids"]
    fallback = fr["scored_pairs"].where(
        F.col("id_a").isin(emoji) | F.col("id_b").isin(emoji)).count()
    return {
        "canonicalize.rows": fr["canonical"].count(),
        "blocking.memberships": fr["blocks"].count(),
        "blocking.max_block": max(sizes),
        "blocking.hot_blocks": sum(
            s > LinkageConfig().hot_block_threshold for s in sizes),
        "pairs.candidates": candidates,
        "pairs.hot_share": fr["candidate_pairs"].where(
            F.col("id_a").isin(hot) & F.col("id_b").isin(hot)).count()
        / candidates,
        "scoring.length_pruned": candidates - scored,
        "scoring.scored": scored,
        "scoring.k_exited": fr["scored_pairs"]
        .where(F.col("edit_distance") < 0).count(),
        "scoring.matches": edges,
        "clustering.edges_in": edges,
        "batch.fallback_pair_share": fallback / scored if scored else 0.0,
    }


def _zero_link_counts() -> dict:
    names = ("canonicalize.rows", "blocking.memberships",
             "blocking.max_block", "blocking.hot_blocks",
             "pairs.candidates", "pairs.hot_share", "scoring.length_pruned", "scoring.scored",
             "scoring.k_exited", "scoring.matches", "clustering.edges_in",
             "clustering.star_passes", "scoring.attach_prune_s",
             "scoring.udf_boundary_s", "scoring.kernel_s")
    return {n: 0.0 for n in names}


def _scoring_split(spark, tracer) -> dict:
    """Re-run ``score_pairs`` on the traced stage inputs three ways:
    with no UDF (text attach, length prune and sort only), with a
    pass-through Arrow UDF, and with the real scorer.  The no-UDF
    stand-in still reads both texts, so column pruning cannot drop the
    text attach from its plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    import edlib_spark.operators.scoring as scoring
    from edlib_spark.plans.linkage import LinkageConfig

    def no_udf(q, t, mode="NW", k=-1):
        return ((F.length(q) + F.length(t)) * 0).cast("int")

    def pass_through(q, t, mode="NW", k=-1):
        @pandas_udf(IntegerType())
        def zero(a: pd.Series, b: pd.Series, kk: pd.Series) -> pd.Series:
            return pd.Series(np.zeros(len(a), dtype=np.int32))
        return zero(q, t, k)

    cfg = LinkageConfig()
    real = scoring.edit_distance
    spark.sparkContext.setJobGroup("split", "scoring split")
    walls = {}
    try:
        for name, fn in (("attach", no_udf), ("boundary", pass_through),
                         ("real", real)):
            scoring.edit_distance = fn
            df = scoring.score_pairs(tracer.frames["candidate_pairs"],
                                     tracer.frames["canonical"], cfg.tau,
                                     cfg.mode)
            walls[name] = _median_time(
                lambda: df.write.format("noop").mode("overwrite").save(), 2)
    finally:
        scoring.edit_distance = real
    return {"scoring.attach_prune_s": walls["attach"],
            "scoring.udf_boundary_s": walls["boundary"] - walls["attach"],
            "scoring.kernel_s": walls["real"] - walls["boundary"]}


def _link_sample(job, tracer):
    """Texts of a fixed hash sample of the scored pairs, and of pairs
    that hold non-BMP text."""
    from pyspark.sql import functions as F
    fr = tracer.frames
    canon = fr["canonical"]
    texts = lambda side: canon.select(  # noqa: E731
        F.col("conv_id").alias(f"id_{side}"),
        F.col("full_text").alias(f"text_{side}"))
    scored = fr["scored_pairs"]
    mod = max(1, scored.count() // SAMPLE_PAIRS)
    emoji = job.spec["emoji_ids"]
    is_emoji = F.col("id_a").isin(emoji) | F.col("id_b").isin(emoji)

    def fetch(df):
        rows = (df.join(texts("a"), "id_a").join(texts("b"), "id_b")
                .select("id_a", "id_b", "text_a", "text_b").collect())
        rows.sort(key=lambda r: (r[0], r[1]))
        return ([r[2] for r in rows], [r[3] for r in rows],
                np.array([scorer_k(len(r[2]), len(r[3])) for r in rows],
                         dtype=np.int64))
    plain = fetch(scored.where(
        (F.pmod(F.xxhash64("id_a", "id_b"), F.lit(mod)) == 0) & ~is_emoji))
    fancy = fetch(scored.where(is_emoji)
                  .orderBy(F.xxhash64("id_a", "id_b")).limit(FALLBACK_PAIRS))
    return plain + fancy


def _align_sample(job):
    mod = max(1, job.pairs // SAMPLE_PAIRS)
    ids = [i for i in sorted(job.texts) if stable_hash("kern", i) % mod == 0]
    qs = [job.texts[i][0] for i in ids]
    ts = [job.texts[i][1] for i in ids]
    ks = np.array([scorer_k(len(q), len(t)) for q, t in zip(qs, ts)],
                  dtype=np.int64)
    return qs, ts, ks, [], [], np.zeros(0, dtype=np.int64)


def _kernel_timings(qs, ts, ks, fq, ft, fk) -> dict:
    """Driver-side µs/pair of the scorer's layers on the sample."""
    from edlib_spark import _native
    from edlib_spark.batch import batch_edit_distance, encode_flat
    if any(NON_BMP in s for s in qs + ts):
        raise RuntimeError("the C-scan sample holds non-BMP text")
    m = {}
    n = len(qs)
    m["batch.encode_us_per_pair"] = 1e6 / n * _median_time(
        lambda: (encode_flat(qs), encode_flat(ts)))
    order = np.argsort([max(len(q), len(t)) for q, t in zip(qs, ts)],
                       kind="stable")
    for name, part in zip(("short", "mid", "long"),
                          np.array_split(order, 3)):
        bq = [qs[i] for i in part]
        bt = [ts[i] for i in part]
        qb, qst, ql = encode_flat(bq)
        tb, tst, tl = encode_flat(bt)
        bk = np.ascontiguousarray(ks[part])
        m[f"native.scan_us_per_pair.{name}"] = 1e6 / len(part) * \
            _median_time(lambda: _native.native_batch_distance(
                qb, qst, ql, tb, tst, tl, bk, "NW"))
    m["batch.fallback_us_per_pair"] = (1e6 / len(fq) * _median_time(
        lambda: batch_edit_distance(fq, ft, "NW", fk), 1) if fq else 0.0)
    dists = batch_edit_distance(qs, ts, "NW", ks)
    pick = [i for i in sorted(range(n), key=lambda i: stable_hash(qs[i]))
            if dists[i] >= 0][:TRACEBACK_PAIRS]
    m["kernel.traceback_us_per_pair"] = 1e6 / max(1, len(pick)) * \
        _median_time(lambda: [_traceback(qs[i], ts[i], int(dists[i]))
                              for i in pick], 1)
    return m


def _traceback(q: str, t: str, d: int) -> str:
    """The NW path step of ``align_expr`` for a pair of known distance:
    encode, banded traceback, CIGAR."""
    from edlib_spark import kernel
    q_codes, t_codes, sigma, eq = kernel.encode_pair(q, t, None, None)
    return kernel.path_to_cigar(
        kernel._obtain_alignment(q_codes, t_codes, eq, sigma, d))


def event_log_metrics(events_dir: str, traced_jobs: int) -> dict:
    """Task metrics of the traced jobs, per traced job, from the event
    log (``trace:<layer>`` job groups)."""
    group_of_stage = {}
    tasks = defaultdict(list)
    for path in glob.glob(f"{events_dir}/**/*", recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev["Stage IDs"]:
                        group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
    agg = defaultdict(lambda: defaultdict(float))
    pair_stages = []
    for sid, evs in tasks.items():
        group = group_of_stage.get(sid, "")
        if not group.startswith("trace:"):
            continue
        a = agg["all"]
        durations = []
        for ev in evs:
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            a["tasks"] += 1
            a["failed"] += bool(info.get("Failed"))
            a["cpu_ns"] += tm.get("Executor CPU Time", 0)
            shuffle = (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill = tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            a["shuffle"] += shuffle
            a["spill"] += spill
            agg[group]["shuffle"] += shuffle
            durations.append(info["Finish Time"] - info["Launch Time"])
        if group == "trace:pairs":
            pair_stages.append(durations)
    skew = 0.0
    if pair_stages:
        busiest = max(pair_stages, key=sum)
        skew = max(busiest) / max(1.0, statistics.median(busiest))
    n = max(1, traced_jobs)
    a = agg["all"]
    return {"spark.tasks": a["tasks"] / n,
            "spark.failed_tasks": a["failed"] / n,
            "spark.executor_cpu_s": a["cpu_ns"] / 1e9 / n,
            "spark.shuffle_write_mb": a["shuffle"] / 2**20 / n,
            "spark.spill_mb": a["spill"] / 2**20 / n,
            "pairs.shuffle_write_mb": agg["trace:pairs"]["shuffle"]
            / 2**20 / n,
            "pairs.task_skew": skew}
