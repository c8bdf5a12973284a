"""Workload inputs, made from ``--seed`` with the program's own generator.

Everything here is Spark-free: the orchestrator builds the inputs before
the measured process starts, so input generation never counts toward
``setup_s``.  Each builder writes parquet into the run's work directory
and returns a JSON-able spec holding what the checks need: the truth
labels, the expected answers of a fixed hash sample (computed with
``kernel.align``, the executable spec), and the stated shape of the
workload.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from edlib_spark import kernel
from edlib_spark.operators.canonicalize import TURN_SEP
from edlib_spark.plans.linkage import LinkageConfig
from edlib_spark.sources.transcripts import _gen_cluster

TAU = LinkageConfig().tau   # the scorer's match threshold
NON_BMP = "\U0001F600"

# link_mixed: a medium-shaped background (the ROADMAP fixture's cluster
# shape), one hot block of unrelated conversations that share a
# structural blocking key (more members than
# LinkageConfig.hot_block_threshold, so salting runs), and a few
# background clusters whose every variant carries one non-BMP character
# (their pairs fall from the C scan to the numpy Myers).  Background and
# hot block alike give mostly non-matches, which the C scan k-exits.
LINK_CANDIDATES = 96_000     # structural candidate pairs, hot block included
LINK_BG_MAX_VARIANTS = 4
LINK_HOT_MEMBERS = 270       # single conversations, one per cluster id
LINK_HOT_TURNS = 4           # from LINK_HOT_ID0 on, with this many turns
LINK_HOT_CHARS = 400         # and a length in this one's band or the one
LINK_HOT_ID0 = 900_000       # below: one blocking key
LINK_FALLBACK_PAIRS = 200    # candidate pairs with a non-BMP side, at least
LINK_SAMPLE_TRUE = 24        # distance sample: BMP within-cluster pairs,
LINK_SAMPLE_EMOJI = 8        # non-BMP within-cluster pairs,
LINK_SAMPLE_HOT = 8          # hot-block pairs,
LINK_SAMPLE_CROSS = 16       # and cross-cluster near-length pairs
LINK_MIN_K_EXIT_SHARE = 0.9  # scored pairs whose distance exceeds k
LINK_MAX_HOT_SHARE = 0.5     # candidate pairs inside the hot block

# align_paths: every within-cluster pair, aligned with task='path' and
# k = -1, so the dynamic-k doubling and the traceback both run.
ALIGN_PAIRS = 3000            # clusters in id order, the last one cut
ALIGN_MAX_VARIANTS = 8
ALIGN_TURNS = 8              # only clusters with this many turns: a pair's
                             # cost grows with its length squared, and one
                             # turn count keeps the load steady over seeds
ALIGN_MIN_MULTI_ROUND_SHARE = 0.25  # pairs that need a second k round
ALIGN_SAMPLE = 24
ALIGN_FILES = 8
CIGAR_SAMPLE_MOD = 16        # CIGARs of pairs with hash % 16 == 0 are rebuilt


def stable_hash(*parts) -> int:
    """Deterministic 64-bit hash (the built-in one is salted per process)
    that picks every fixed sample."""
    h = hashlib.md5("\x1f".join(map(str, parts)).encode()).digest()
    return int.from_bytes(h[:8], "little")


def truth_label(conv_id: str) -> str:
    """Planted cluster of a conversation (the generator's id encoding)."""
    return conv_id.split("_")[0]


def _canonical(rows) -> dict:
    """conv_id -> canonical text, as ``canonicalize`` builds it."""
    turns = defaultdict(dict)
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        turns[conv_id][turn_idx] = text or ""
    return {c: TURN_SEP.join(t[i] for i in sorted(t))
            for c, t in turns.items()}


def _write_transcripts(rows, path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us")),
    })
    pq.write_table(table, path)


def _with_non_bmp(rows):
    """Append one non-BMP character to turn 0 of every variant."""
    return [(c, t, r, (txt + NON_BMP) if t == 0 else txt, tool, ts)
            for c, t, r, txt, tool, ts in rows]


def scorer_k(len_a: int, len_b: int) -> int:
    """The scorer's per-pair bound, k = ceil(tau * max_len)."""
    return int(math.ceil(TAU * max(len_a, len_b)))


def _first_draws(cid: int, seed: int, max_variants: int) -> tuple:
    """(turns, variants) of ``_gen_cluster(cid, seed, max_variants)``
    from its first two draws, without generating the cluster."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, cid]))
    return int(rng.integers(4, 14)), int(rng.integers(1, max_variants + 1))


def _band(text_len: int) -> int:
    """``blocking.length_band`` of a text length at the structural
    ``band_tau``."""
    ratio = 1.0 / (1.0 - LinkageConfig().band_tau)
    return math.floor(math.log(max(text_len, 1)) / math.log(ratio))


def _hot_block(seed: int) -> list:
    """Rows of LINK_HOT_MEMBERS unrelated conversations (one variant of
    consecutive cluster ids, LINK_HOT_TURNS turns each) whose length
    bands are b - 1 or b, b being the band of LINK_HOT_CHARS, so they
    all carry one blocking key and their lengths do not vary by seed."""
    band = _band(LINK_HOT_CHARS)
    members = []
    cid = LINK_HOT_ID0
    while len(members) < LINK_HOT_MEMBERS:
        if _first_draws(cid, seed, 1)[0] == LINK_HOT_TURNS:
            rows = _gen_cluster(cid, seed, 1)
            [text] = _canonical(rows).values()
            if _band(len(text)) in (band - 1, band):
                members.append(rows)
        cid += 1
    return [r for m in members for r in m]


def _key(text: str) -> tuple:
    """(turns, length band) of a canonical text.  Structural blocking
    makes two conversations a candidate pair when their turns agree and
    their bands differ by at most one."""
    return text.count(TURN_SEP) + 1, _band(len(text))


def _neighbours(counts: Counter, key: tuple) -> int:
    """Conversations counted in ``counts`` that pair with ``key``."""
    turns, band = key
    return sum(counts[turns, b] for b in (band - 1, band, band + 1))


def build_link_mixed(seed: int, work: str) -> dict:
    hot = _hot_block(seed)
    # background clusters in id order until the structural candidate
    # pairs reach LINK_CANDIDATES: seeds change content, not the load
    counts, n_pairs = Counter(), 0
    for text in _canonical(hot).values():
        n_pairs += _neighbours(counts, _key(text))
        counts[_key(text)] += 1
    parts = []
    while n_pairs < LINK_CANDIDATES:
        part = _gen_cluster(len(parts), seed, LINK_BG_MAX_VARIANTS)
        for text in _canonical(part).values():
            n_pairs += _neighbours(counts, _key(text))
            counts[_key(text)] += 1
        parts.append(part)
    # non-BMP clusters, in hash order, until their candidate pairs reach
    # LINK_FALLBACK_PAIRS; a cluster that would overshoot by more than a
    # quarter is skipped, as each fallback pair costs about 1 ms.  They
    # have >= 2 variants, so they hold a true pair, and another turn
    # count than the hot block: in it each of their variants would send
    # ~LINK_HOT_MEMBERS pairs to the fallback
    emoji_clusters, n_fallback = [], 0
    for c in sorted(range(len(parts)),
                    key=lambda c: stable_hash("emoji", seed, c)):
        if n_fallback >= LINK_FALLBACK_PAIRS:
            break
        texts = _canonical(parts[c]).values()
        pairs = sum(_neighbours(counts, _key(t)) - 1 for t in texts)
        if len(texts) >= 2 and \
                next(iter(texts)).count(TURN_SEP) + 1 != LINK_HOT_TURNS \
                and n_fallback + pairs <= 1.25 * LINK_FALLBACK_PAIRS:
            emoji_clusters.append(c)
            n_fallback += pairs
    rows = []
    for c, part in enumerate(parts):
        rows.extend(_with_non_bmp(part) if c in emoji_clusters else part)
    rows.extend(hot)
    path = os.path.join(work, "transcripts.parquet")
    _write_transcripts(rows, path)

    texts = _canonical(rows)
    ids = sorted(texts)
    emoji_ids = sorted(c for c in ids if NON_BMP in texts[c])
    hot_ids = sorted({r[0] for r in hot})
    by_label = defaultdict(list)
    for c in ids:
        by_label[truth_label(c)].append(c)
    true_pairs = [(a, b) for members in by_label.values()
                  for i, a in enumerate(members) for b in members[i + 1:]]
    emoji_set = set(emoji_ids)
    plain = [p for p in true_pairs
             if p[0] not in emoji_set and p[1] not in emoji_set]
    fancy = [p for p in true_pairs if p[0] in emoji_set]
    pick = lambda pairs, n: sorted(  # noqa: E731
        pairs, key=lambda p: stable_hash("pair", *p))[:n]
    hot_pairs = [(a, b) for i, a in enumerate(hot_ids)
                 for b in hot_ids[i + 1:]]
    sample = (pick(plain, LINK_SAMPLE_TRUE) + pick(fancy, LINK_SAMPLE_EMOJI)
              + pick(hot_pairs, LINK_SAMPLE_HOT))
    # cross-cluster pairs of equal turn count and near length: the
    # blocking keys put them in one block, and the scorer k-exits them
    n_turns = {c: texts[c].count(TURN_SEP) + 1 for c in ids}
    cross = []
    for a in sorted(ids, key=lambda c: stable_hash("cross", c)):
        for b in ids:
            if (truth_label(a) != truth_label(b) and a < b
                    and n_turns[a] == n_turns[b]
                    and abs(len(texts[a]) - len(texts[b]))
                    <= 0.02 * len(texts[a])):
                cross.append((a, b))
                break
        if len(cross) == LINK_SAMPLE_CROSS:
            break
    sample += cross
    expected = []
    for a, b in sample:
        k = scorer_k(len(texts[a]), len(texts[b]))
        d = kernel.align(texts[a], texts[b], "NW", "distance", k,
                         max_alphabet=None)["editDistance"]
        expected.append([a, b, d, int(d >= 0 and
                                      d <= TAU * max(len(texts[a]),
                                                     len(texts[b])))])
    return {
        "kind": "link", "input": path, "conv_ids": ids,
        "emoji_ids": emoji_ids, "n_emoji_clusters": len(emoji_clusters),
        "hot_ids": hot_ids, "sample": expected,
    }


def build_align_paths(seed: int, work: str) -> dict:
    rows, pairs, cid = [], [], -1
    while len(pairs) < ALIGN_PAIRS:
        cid += 1
        if _first_draws(cid, seed, ALIGN_MAX_VARIANTS)[0] != ALIGN_TURNS:
            continue
        part = _gen_cluster(cid, seed, ALIGN_MAX_VARIANTS)
        members = sorted({r[0] for r in part})
        pairs += [(a, b) for i, a in enumerate(members)
                  for b in members[i + 1:]]
        rows += part
    pairs = pairs[:ALIGN_PAIRS]
    texts = _canonical(rows)
    path = os.path.join(work, "pairs.parquet")
    os.makedirs(path)
    table = pa.table({
        "pair_id": pa.array(range(len(pairs)), pa.int64()),
        "id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
        "text_a": [texts[a] for a, _ in pairs],
        "text_b": [texts[b] for _, b in pairs],
    })
    # several files, as a data-lake table has: one small file would be
    # one Spark partition, and the job would run on a single core
    step = -(-len(pairs) // ALIGN_FILES)
    for i in range(ALIGN_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"))
    sample = sorted(range(len(pairs)),
                    key=lambda i: stable_hash("pair", *pairs[i]))
    expected = [[i, kernel.align(texts[pairs[i][0]], texts[pairs[i][1]],
                                 "NW", "distance", -1,
                                 max_alphabet=None)["editDistance"]]
                for i in sample[:ALIGN_SAMPLE]]
    return {
        "kind": "align", "input": path, "n_pairs": len(pairs),
        "pairs": pairs,
        "max_lens": [max(len(texts[a]), len(texts[b])) for a, b in pairs],
        "conv_ids": sorted({c for p in pairs for c in p}),
        "sample": expected,
    }


BUILDERS = {"link_mixed": build_link_mixed,
            "align_paths": build_align_paths}
