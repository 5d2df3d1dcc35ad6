"""Seeded benchmark inputs from the program's own page generator.

``courlan_spark.sources.pages.generate_batch`` is a pure function of
``(pages.SEED, doc_id)``.  The benchmark varies its input with
``--seed`` by offsetting the doc ids: seed ``s`` owns the id range
``[base(s), base(s) + n)`` with ``base(s) = (s mod SEED_SPACE) *
SEED_STRIDE``, so two seeds (mod ``SEED_SPACE``) give disjoint corpora
with disjoint planted clusters, and one seed always gives the same one.
Ids stay below 10**11, which keeps ``warc_ts = 2025-01-01 + doc_id s``
inside the range Python and Spark timestamps can hold.
"""

from __future__ import annotations

import difflib
import itertools
import os
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd

SEED_STRIDE = 1_000_000
SEED_SPACE = 100_000

# one generator process: ids [start, stop) -> parquet file
_WORKER = (
    "import sys, numpy as np\n"
    "from courlan_spark.sources.pages import generate_batch\n"
    "start, stop, n_hosts, out = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]\n"
    "generate_batch(np.arange(start, stop, dtype=np.int64), n_hosts).to_parquet(out)\n"
)


def doc_id_base(seed: int) -> int:
    return (seed % SEED_SPACE) * SEED_STRIDE


def n_hosts_for(n_pages: int) -> int:
    "Host count of ``sources.pages.generate_pages`` at this size."
    return max(n_pages // 40, 10)


def generate(
    seed: int, n_pages: int, workers: int = 1, first: int = 0, n_hosts: int | None = None
) -> pd.DataFrame:
    """Pages plus truth columns (``pages.PAGES_SCHEMA``) for ``seed``.

    ``first`` skips that many ids of the seed's range (a delta batch
    that follows a base corpus of ``first`` pages); ``n_hosts`` defaults
    to the host count at ``n_pages``.  ``workers > 1`` splits the ids
    over that many child processes (waited for before returning); the
    rows are the same either way."""
    base = doc_id_base(seed) + first
    n_hosts = n_hosts or n_hosts_for(n_pages)
    if workers <= 1:
        from courlan_spark.sources.pages import generate_batch

        return generate_batch(np.arange(base, base + n_pages, dtype=np.int64), n_hosts)
    bounds = np.linspace(base, base + n_pages, workers + 1, dtype=np.int64)
    with tempfile.TemporaryDirectory() as tmp:
        outs, procs = [], []
        try:
            for i, (start, stop) in enumerate(zip(bounds[:-1], bounds[1:])):
                outs.append(os.path.join(tmp, f"part{i}.parquet"))
                procs.append(subprocess.Popen(
                    [sys.executable, "-c", _WORKER, str(start), str(stop),
                     str(n_hosts), outs[-1]]
                ))
        finally:
            codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"corpus generator exited with {codes}")
        return pd.concat([pd.read_parquet(o) for o in outs], ignore_index=True)


def planted_pairs(corpus: pd.DataFrame, limit: int) -> list[tuple[str, str]]:
    """Up to ``limit`` (text_a, text_b) pairs planted in one cluster,
    taken in doc-id order."""
    dups = corpus[corpus["dup_kind"] != "none"].sort_values("doc_id")
    pairs: list[tuple[str, str]] = []
    for _, group in dups.groupby("cluster_id", sort=True):
        texts = group["text"].tolist()
        pairs.extend(zip(texts, texts[1:]))
        if len(pairs) >= limit:
            break
    return pairs[:limit]


def _shingles(text: str, k: int) -> set[str]:
    "Character k-shingles; a text shorter than k is one shingle."
    if len(text) < k:
        return {text}
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def _longest_shared(a: str, b: str) -> int:
    matcher = difflib.SequenceMatcher(None, a, b, autojunk=False)
    return matcher.find_longest_match(0, len(a), 0, len(b)).size


def _share_block(a: str, b: str, length: int) -> bool:
    "Whether ``a`` and ``b`` share a substring of at least ``length`` chars."
    if min(len(a), len(b)) < length:
        return False
    return not _shingles(a, length).isdisjoint(_shingles(b, length))


def threshold_truth(pages: pd.DataFrame, cfg) -> tuple[pd.DataFrame, list[str]]:
    """The planted truth as the dedup configuration ``cfg`` defines it.

    ``generate_batch`` makes a ``near_minhash`` cluster by editing
    ``len // 20 * member`` tokens of one base text, so for a short base
    text the most edited member can fall below every threshold of
    ``cfg``: shingle Jaccard, SimHash distance and shared substring
    length.  No pipeline run may group such a doc with the rest, so each
    planted cluster is split into the parts that those thresholds connect.
    The part holding the cluster's first doc keeps the planted id; every
    other part takes its smallest doc id.  Jaccard (over character
    shingles) and the longest shared substring are computed here, not by
    the program's kernels; SimHash is the program's own ``simhash64``.

    Returns the corrected pages and one note per split cluster."""
    from courlan_spark.functions.hashing import hamming64, simhash64

    pages = pages.copy()
    notes = []
    planted = pages[pages["dup_kind"] != "none"].sort_values("doc_id")
    for cluster_id, group in planted.groupby("cluster_id", sort=True):
        texts, ids = group["text"].tolist(), group["doc_id"].tolist()
        shingles = [_shingles(t, cfg.shingle_k) for t in texts]
        sims = [simhash64(t, cfg.shingle_k) for t in texts]
        part = list(range(len(texts)))

        def find(i: int) -> int:
            while part[i] != i:
                i = part[i]
            return i

        # pairs below the Jaccard and SimHash thresholds: (jaccard, distance)
        weak: dict[tuple[int, int], tuple[float, int]] = {}
        for i, j in itertools.combinations(range(len(texts)), 2):
            jac = len(shingles[i] & shingles[j]) / len(shingles[i] | shingles[j])
            dist = hamming64(sims[i], sims[j])
            if jac >= cfg.jaccard_threshold or dist <= cfg.simhash_max_hamming:
                part[find(i)] = find(j)
            else:
                weak[(i, j)] = (jac, dist)
        for i, j in weak:
            if find(i) != find(j) and _share_block(
                texts[i], texts[j], cfg.substring_min_len
            ):
                part[find(i)] = find(j)
        roots = [find(i) for i in range(len(texts))]
        if len(set(roots)) == 1:
            continue
        new_ids = {}
        for i, root in enumerate(roots):
            new_ids.setdefault(root, cluster_id if root == roots[0] else ids[i])
        pages.loc[group.index, "cluster_id"] = [new_ids[r] for r in roots]
        parts = sorted(
            [ids[i] for i, r in enumerate(roots) if r == root] for root in set(roots)
        )
        cut = [
            (*v, _longest_shared(texts[i], texts[j]))
            for (i, j), v in weak.items()
            if roots[i] != roots[j]
        ]
        notes.append(
            f"cluster {cluster_id} ({group['dup_kind'].iloc[0]}, "
            f"{len(texts[0].split())} tokens) split into {parts}: between the "
            f"parts jaccard <= {max(c[0] for c in cut):.3f} "
            f"(< {cfg.jaccard_threshold}), simhash distance >= "
            f"{min(c[1] for c in cut)} (> {cfg.simhash_max_hamming}), shared "
            f"substring <= {max(c[2] for c in cut)} (< {cfg.substring_min_len})"
        )
    return pages, notes
