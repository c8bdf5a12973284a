"""The measured process: a Spark driver that runs one workload's jobs.

    python3 linkbench/worker.py <spec.json> <seconds> <trace 0|1>

``run.py`` starts it, after writing the inputs, and reads the
``@@LB {json}`` lines it prints.  One client, closed loop: each job is
submitted after the previous one finished and was checked.  Checks run
outside the timed window; a job that raises or fails a check counts as
a failed operation.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import statistics
import sys
import time

from checks import check_alignments, check_clusters, check_distances
from procs import tree_cpu_s
from workloads import (ALIGN_MIN_MULTI_ROUND_SHARE, LINK_MAX_HOT_SHARE,
                       LINK_MIN_K_EXIT_SHARE, NON_BMP)

WARMUP_JOBS = {"link": 5, "align": 6}  # checked, untimed, after the cold job
MIN_JOBS = 4       # timed jobs, however short --seconds is
DEADLINE_S = 150   # stop submitting jobs this long after start
# Seconds of --seconds per timed job.  For link jobs it is their warm
# wall time on a 4-vCPU host; align jobs take about 1 s, and count at
# 2 s so that a full measurement (48 runs over both workloads) stays
# under an hour.  It only turns --seconds into a job count, so every
# commit times the same job indices however fast its jobs are.
SECONDS_PER_JOB = {"link": 4.0, "align": 2.0}


def timed_jobs(kind: str, seconds: float) -> int:
    return max(MIN_JOBS, round(seconds / SECONDS_PER_JOB[kind]))


def emit(kind: str, **fields) -> None:
    print("@@LB " + json.dumps({"event": kind, **fields}), flush=True)


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()


class LinkJob:
    """One ``plans.linkage.run_linkage`` job over the transcripts."""

    def __init__(self, spark, spec):
        from pyspark.sql import functions as F
        self.F, self.spark, self.spec = F, spark, spec
        self.first = None
        self.pairs = None
        sample = spec["sample"]
        self.expected = {(a, b): d for a, b, d, _ in sample}
        self.matches = [(a, b) for a, b, _, m in sample if m]
        self.sample_df = spark.createDataFrame(
            [(a, b) for a, b, _, _ in sample], "id_a string, id_b string")

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.spec["input"]).cache()
        self.df.count()

    def run(self, catalog=None):
        from edlib_spark.plans.linkage import LinkageConfig, run_linkage
        stages = run_linkage(self.df, LinkageConfig(), catalog)
        return stages, stages["clusters"].collect()

    def check(self, result):
        stages, rows = result
        F = self.F
        errors, f1 = check_clusters(rows, self.spec["conv_ids"],
                                    self.matches)
        got = (stages["scored"]
               .join(F.broadcast(self.sample_df), ["id_a", "id_b"])
               .select("id_a", "id_b", "edit_distance").collect())
        errors += check_distances({(r[0], r[1]): r[2] for r in got},
                                  self.expected)
        d = digest(rows)
        if self.first is None:
            self.first = d
            self.pairs = stages["scored"].count()
        elif d != self.first:
            errors.append("cluster assignment differs from the first job")
        return errors, f1

    def shape(self, result) -> tuple[list, dict]:
        """link_mixed exists for its hot block, its non-BMP clusters and
        the pairs they send to the fallback scan, with traffic that is
        mostly k-exited non-matches outside the hot block."""
        from edlib_spark.plans.linkage import LinkageConfig
        F = self.F
        stages, _ = result
        hot = LinkageConfig().hot_block_threshold
        sizes = [r[0] for r in stages["blocks"].groupBy("block_key")
                 .count().select("count").collect()]
        scored = stages["scored"]
        emoji, hot_ids = self.spec["emoji_ids"], self.spec["hot_ids"]
        fallback = scored.where(
            F.col("id_a").isin(emoji) | F.col("id_b").isin(emoji)).count()
        in_hot = scored.where(F.col("id_a").isin(hot_ids)
                              & F.col("id_b").isin(hot_ids)).count()
        k_exited = scored.where(F.col("edit_distance") < 0).count()
        n_emoji_convs = (self.df.where(F.col("text").contains(NON_BMP))
                         .select("conv_id").distinct().count())
        info = {"max_block": max(sizes),
                "hot_blocks": sum(s > hot for s in sizes),
                "fallback_pairs": fallback, "pairs": self.pairs,
                "hot_block_pairs": in_hot,
                "hot_share": in_hot / self.pairs,
                "k_exited": k_exited,
                "k_exit_share": k_exited / self.pairs,
                "matches": stages["edges"].count(),
                "non_bmp_convs": n_emoji_convs,
                "non_bmp_clusters": self.spec["n_emoji_clusters"]}
        errors = []
        if info["hot_blocks"] < 1:
            errors.append(f"no block above {hot} members "
                          f"(max {info['max_block']})")
        if info["hot_share"] > LINK_MAX_HOT_SHARE:
            errors.append(f"{info['hot_share']:.3f} of candidate pairs in "
                          f"the hot block, > {LINK_MAX_HOT_SHARE}")
        if info["k_exit_share"] < LINK_MIN_K_EXIT_SHARE:
            errors.append(f"{info['k_exit_share']:.3f} of scored pairs "
                          f"k-exited, < {LINK_MIN_K_EXIT_SHARE}")
        if n_emoji_convs != len(emoji) or not emoji:
            errors.append(f"{n_emoji_convs} non-BMP conversations in the "
                          f"input, {len(emoji)} planted")
        if fallback < 1:
            errors.append("no scored pair reaches the fallback scan")
        return errors, info


class AlignJob:
    """One ``functions.alignment.align_expr`` job (NW, path, k = -1)
    over every within-cluster pair."""

    def __init__(self, spark, spec):
        import pyarrow.parquet as pq
        self.spark, self.spec = spark, spec
        self.first = None
        self.pairs = spec["n_pairs"]
        t = pq.read_table(spec["input"],
                          columns=["pair_id", "text_a", "text_b"])
        self.texts = dict(zip(t["pair_id"].to_pylist(),
                              zip(t["text_a"].to_pylist(),
                                  t["text_b"].to_pylist())))

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.spec["input"]).cache()
        self.df.count()

    def run(self, catalog=None):
        from pyspark.sql import functions as F

        from edlib_spark.functions.alignment import align_expr
        r = align_expr(F.col("text_a"), F.col("text_b"), mode="NW",
                       task="path", k=-1)
        return (self.df.select("pair_id", r.alias("r"))
                .select("pair_id", "r.editDistance", "r.cigar").collect())

    def check(self, rows):
        errors, f1 = check_alignments(rows, self.spec, self.texts)
        d = digest(rows)
        if self.first is None:
            self.first = d
        elif d != self.first:
            errors.append("alignments differ from the first job")
        return errors, f1

    def shape(self, rows) -> tuple[list, dict]:
        """align_paths exists for pairs that need more than one
        dynamic-k round, and must keep to the C scan (BMP text)."""
        from layers import dynamic_k_rounds
        qs, ts = zip(*(self.texts[i] for i in sorted(self.texts)))
        _, multi = dynamic_k_rounds(list(qs), list(ts), -1)
        non_bmp = sum(NON_BMP in a or NON_BMP in b
                      for a, b in self.texts.values())
        errors = []
        if multi < ALIGN_MIN_MULTI_ROUND_SHARE:
            errors.append(f"{multi:.3f} of pairs need more than one "
                          f"dynamic-k round, < "
                          f"{ALIGN_MIN_MULTI_ROUND_SHARE}")
        if non_bmp:
            errors.append(f"{non_bmp} pairs hold non-BMP text")
        return errors, {"multi_round_share": multi, "pairs": self.pairs}


def timed(job, catalog=None):
    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    result = job.run(catalog)
    wall = time.perf_counter() - t0
    return result, wall, tree_cpu_s(os.getpid()) - c0


def checked(job, result, tally) -> float:
    errors, f1 = job.check(result)
    tally["attempted"] += 1
    if errors:
        tally["failed"] += 1
        tally["errors"].append(errors[0])
    return f1


def main() -> int:
    spec_path, seconds, trace = sys.argv[1], float(sys.argv[2]), \
        sys.argv[3] == "1"
    start = time.monotonic()
    with open(spec_path) as fh:
        spec = json.load(fh)
    work = os.path.dirname(os.path.abspath(spec_path))
    from edlib_spark.session import get_spark
    extra = {}
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": "file://"
                 + os.path.join(work, "events")}
    spark = get_spark("linkbench", master=f"local[{os.cpu_count()}]",
                      **extra)
    t_session = time.monotonic()
    job = (LinkJob if spec["kind"] == "link" else AlignJob)(spark, spec)
    job.load()
    t_load = time.monotonic()
    tally = {"attempted": 0, "failed": 0, "errors": []}
    cold, _, _ = timed(job)
    f1 = checked(job, cold, tally)
    emit("setup", first_checked=time.monotonic(),
         session_s=t_session - start, load_s=t_load - t_session)
    shape_errors, shape = job.shape(cold)
    emit("shape", errors=shape_errors, **shape)
    del cold

    if trace:
        import layers
        result = layers.traced_run(spark, job, tally, start + DEADLINE_S)
        spark.stop()
        result.update(layers.event_log_metrics(os.path.join(work, "events"),
                                               result.pop("traced_jobs")))
        emit("layers", metrics=result)
    else:
        times, cpus, warm, f1s = [], [], [], [f1]
        warmup = WARMUP_JOBS[spec["kind"]]
        for i in range(warmup + timed_jobs(spec["kind"], seconds)):
            if time.monotonic() > start + DEADLINE_S:
                break
            gc.collect()  # release the last job's checkpoints first
            try:
                result, wall, cpu = timed(job)
            except Exception as exc:  # noqa: BLE001 - a failed operation
                tally["attempted"] += 1
                tally["failed"] += 1
                tally["errors"].append(f"job raised {exc!r}"[:500])
                continue
            f1s.append(checked(job, result, tally))
            if i >= warmup:
                times.append(wall)
                cpus.append(cpu)
            else:
                warm.append(wall)
        spark.stop()
        emit("jobs", times=times, cpus=cpus, warmup=warm, pairs=job.pairs,
             f1=statistics.median(f1s))
    emit("tally", shape_errors=shape_errors, **tally)
    return 0


if __name__ == "__main__":
    sys.exit(main())
