"""Self-test of the benchmark's own checks and generator.

    python3 linkbench/selftest.py

Run it from the repository root.  It plants wrong answers (a wrong
cluster id, a wrong distance, CIGARs that do not rebuild the target) and
requires the output checks to reject each one.  Then it runs
``run_linkage`` on the seed-42 medium fixture, written by this
benchmark's generator, and requires the stage rows the ROADMAP records:
4971/9942/313447/313447/4888/4971.  Exits non-zero on any failure.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MEDIUM_ROWS = {"canonical": 4971, "blocks": 9942, "pairs": 313447,
               "scored": 313447, "edges": 4888, "clusters": 4971}


def planted_answers() -> list:
    """Failures of the checks to reject planted wrong answers."""
    from checks import check_clusters, check_distances, cigar_errors
    from edlib_spark import kernel
    from edlib_spark.sources.transcripts import _gen_cluster
    from workloads import _canonical, truth_label

    rows = [r for cid in range(6) for r in _gen_cluster(cid, 42, 4)]
    texts = _canonical(rows)
    ids = sorted(texts)
    members = {}
    for c in ids:
        members.setdefault(truth_label(c), []).append(c)
    good = [(c, min(members[truth_label(c)])) for c in ids]
    big = max(members.values(), key=len)
    matches = [(big[0], big[1])]
    problems = []

    def expect(name, errors, want_error):
        if bool(errors) != want_error:
            problems.append(f"{name}: errors={errors}")

    expect("correct clusters", check_clusters(good, ids, matches)[0], False)
    other = next(c for c in ids if truth_label(c) != truth_label(big[1]))
    wrong_id = [(c, min(members[truth_label(other)]) if c == big[1] else k)
                for c, k in good]
    expect("wrong cluster id", check_clusters(wrong_id, ids, matches)[0],
           True)
    expect("missing conversation",
           check_clusters(good[1:], ids, matches)[0], True)
    expect("duplicated conversation",
           check_clusters(good + good[:1], ids, matches)[0], True)

    q, t = texts[big[0]], texts[big[1]]
    d = kernel.align(q, t, "NW", "distance", -1,
                     max_alphabet=None)["editDistance"]
    expect("correct distance", check_distances({(0, 1): d}, {(0, 1): d}),
           False)
    expect("wrong distance", check_distances({(0, 1): d + 1}, {(0, 1): d}),
           True)

    cigar = kernel.align(q, t, "NW", "path", -1,
                         max_alphabet=None)["cigar"]
    expect("correct CIGAR", cigar_errors(q, t, cigar, d), False)
    expect("CIGAR at the wrong distance", cigar_errors(q, t, cigar, d + 1),
           True)
    first_eq = cigar.index("=")
    flipped = cigar[:first_eq] + "X" + cigar[first_eq + 1:]
    expect("'=' run turned into 'X'", cigar_errors(q, t, flipped, d), True)
    expect("CIGAR of another target",
           cigar_errors(q, texts[other], cigar, d), True)
    expect("truncated CIGAR", cigar_errors(q, t, cigar[:-2], d), True)
    return problems


def medium_stage_rows(work: str) -> dict:
    """Stage rows of run_linkage on the seed-42 medium fixture."""
    from edlib_spark.plans.linkage import LinkageConfig, run_linkage
    from edlib_spark.session import get_spark
    from edlib_spark.sources.transcripts import SCALES, _gen_cluster
    from workloads import _write_transcripts

    n_clusters, max_variants = SCALES["medium"]
    rows = [r for cid in range(n_clusters)
            for r in _gen_cluster(cid, 42, max_variants)]
    path = os.path.join(work, "medium.parquet")
    _write_transcripts(rows, path)
    spark = get_spark("linkbench-selftest",
                      master=f"local[{os.cpu_count()}]")
    try:
        stages = run_linkage(spark.read.parquet(path), LinkageConfig())
        return {name: stages[name].count() for name in MEDIUM_ROWS}
    finally:
        spark.stop()


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "edlib_spark", "__init__.py")):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from run import build, worker_env
    work = os.path.join(root, ".bench_build", "linkbench",
                        f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        env = worker_env(root, work)
        build(env)
        os.environ.update(env)
        problems = planted_answers()
        print(f"planted wrong answers: "
              f"{'all rejected' if not problems else problems}")
        got = medium_stage_rows(work)
        print(f"seed-42 medium stage rows: {got}")
        if got != MEDIUM_ROWS:
            problems.append(f"stage rows {got} != {MEDIUM_ROWS}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("FAILED: " + "; ".join(problems) if problems
                         else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
