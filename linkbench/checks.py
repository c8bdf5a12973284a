"""Output checks, run on every job outside the timed window.

Each check returns a list of error strings; an empty list means the
job's output is correct.  They are plain Python over collected rows, so
``selftest.py`` can feed them planted wrong answers.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from workloads import CIGAR_SAMPLE_MOD, TAU, stable_hash, truth_label

MIN_F1 = 0.99
_CIGAR_OP = re.compile(r"(\d+)([=XID])")


def pairwise_f1(assign: dict) -> float:
    """Pairwise F1 of ``conv_id -> cluster`` against the planted truth."""
    def pairs(counter):
        return sum(n * (n - 1) // 2 for n in counter.values())
    pred = pairs(Counter(assign.values()))
    true = pairs(Counter(truth_label(c) for c in assign))
    both = pairs(Counter((v, truth_label(c)) for c, v in assign.items()))
    precision = both / pred if pred else 1.0
    recall = both / true if true else 1.0
    return (2 * precision * recall / (precision + recall)
            if precision + recall else 0.0)


def check_clusters(rows, conv_ids, matches) -> tuple[list, float]:
    """``rows``: collected (conv_id, cluster_id).  Every conversation
    appears exactly once, each cluster id is the minimum member of its
    cluster (the engine's contract), every sampled match pair shares a
    cluster, and pairwise F1 against the planted truth is >= MIN_F1."""
    errors = []
    seen = Counter(r[0] for r in rows)
    dup = [c for c, n in seen.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} conversations assigned twice, "
                      f"e.g. {dup[0]}")
    missing = set(conv_ids) - set(seen)
    extra = set(seen) - set(conv_ids)
    if missing or extra:
        errors.append(f"{len(missing)} conversations missing, "
                      f"{len(extra)} unknown")
    assign = {r[0]: r[1] for r in rows}
    members = defaultdict(list)
    for c, k in assign.items():
        members[k].append(c)
    bad = [k for k, m in members.items() if min(m) != k]
    if bad:
        errors.append(f"{len(bad)} cluster ids are not their minimum "
                      f"member, e.g. {bad[0]}")
    split = [(a, b) for a, b in matches if assign.get(a) != assign.get(b)]
    if split:
        errors.append(f"{len(split)} sampled match pairs split, "
                      f"e.g. {split[0]}")
    f1 = pairwise_f1(assign)
    if f1 < MIN_F1:
        errors.append(f"pairwise F1 {f1:.4f} < {MIN_F1}")
    return errors, f1


def check_distances(got: dict, expected: dict, min_present: float = 0.5):
    """``got``/``expected``: pair key -> distance.  Every sampled pair
    the job produced must carry the kernel.align distance, and at least
    ``min_present`` of the sample must be there."""
    errors = []
    present = [p for p in expected if p in got]
    if len(present) < min_present * len(expected):
        errors.append(f"only {len(present)}/{len(expected)} sampled pairs "
                      "in the output")
    wrong = [(p, got[p], expected[p]) for p in present
             if got[p] != expected[p]]
    if wrong:
        p, g, e = wrong[0]
        errors.append(f"{len(wrong)} sampled distances differ from "
                      f"kernel.align, e.g. {p}: {g} != {e}")
    return errors


def cigar_errors(query: str, target: str, cigar, distance: int) -> list:
    """Walk an extended CIGAR (I consumes the query, D the target):
    '=' runs must match, 'X' must differ, both strings must be consumed
    exactly, and the edit count must equal ``distance``."""
    if not cigar or "".join(m.group(0) for m in
                            _CIGAR_OP.finditer(cigar)) != cigar:
        return [f"malformed CIGAR {cigar!r}"]
    qi = ti = cost = 0
    for m in _CIGAR_OP.finditer(cigar):
        n, op = int(m.group(1)), m.group(2)
        if op in "=X":
            q, t = query[qi:qi + n], target[ti:ti + n]
            if len(q) < n or len(t) < n:
                return ["CIGAR runs past the end of a sequence"]
            if op == "=" and q != t:
                return [f"'=' run at query {qi} does not match the target"]
            if op == "X" and any(a == b for a, b in zip(q, t)):
                return [f"'X' run at query {qi} holds a match"]
            qi, ti = qi + n, ti + n
        elif op == "I":
            qi += n
        else:
            ti += n
        if op != "=":
            cost += n
    if qi != len(query) or ti != len(target):
        return [f"CIGAR consumes {qi}/{len(query)} query and "
                f"{ti}/{len(target)} target characters"]
    if cost != distance:
        return [f"CIGAR costs {cost}, reported distance {distance}"]
    return []


def cigar_sampled(pair_id: int) -> bool:
    return stable_hash("cigar", pair_id) % CIGAR_SAMPLE_MOD == 0


def check_alignments(rows, spec, texts) -> tuple[list, float]:
    """``rows``: collected (pair_id, editDistance, cigar).  Every pair
    appears once, the sampled distances equal kernel.align, the sampled
    CIGARs rebuild their targets, and the clusters implied by the match
    threshold reach F1 >= MIN_F1 against the planted truth."""
    errors = []
    by_id = {}
    for pid, d, cigar in rows:
        by_id[pid] = (d, cigar)
    if len(by_id) != len(rows) or set(by_id) != set(range(spec["n_pairs"])):
        errors.append(f"{len(rows)} rows for {spec['n_pairs']} pairs")
    errors += check_distances({p: v[0] for p, v in by_id.items()},
                              {p: d for p, d in spec["sample"]},
                              min_present=1.0)
    for pid, (d, cigar) in by_id.items():
        if cigar_sampled(pid):
            errs = cigar_errors(texts[pid][0], texts[pid][1], cigar, d)
            if errs:
                errors.append(f"pair {pid}: {errs[0]}")
                break
    errors_f1, f1 = _threshold_clusters(by_id, spec)
    return errors + errors_f1, f1


def _threshold_clusters(by_id, spec) -> tuple[list, float]:
    parent = {c: c for c in spec["conv_ids"]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for pid, (d, _) in by_id.items():
        a, b = spec["pairs"][pid]
        if 0 <= d <= TAU * spec["max_lens"][pid]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    f1 = pairwise_f1({c: find(c) for c in parent})
    return ([f"pairwise F1 {f1:.4f} < {MIN_F1}"] if f1 < MIN_F1 else []), f1
