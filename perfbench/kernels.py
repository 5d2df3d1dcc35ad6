"""Single-thread kernel timings on the workload's own inputs.

Each kernel is timed from outside through its public function, over
docs and planted pairs drawn from the seed's corpus (and the URLs the
workload feeds to ``check_url``).  A figure is the median of
``REPEATS`` passes, per doc, pair or row.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

REPEATS = 3


def _per_item_us(fn, items) -> float:
    passes = []
    for _ in range(REPEATS):
        started = time.perf_counter()
        for item in items:
            fn(item)
        passes.append(time.perf_counter() - started)
    return statistics.median(passes) / len(items) * 1e6


def _batch_us(fn, batch, n: int) -> float:
    passes = []
    for _ in range(REPEATS):
        started = time.perf_counter()
        fn(batch)
        passes.append(time.perf_counter() - started)
    return statistics.median(passes) / n * 1e6


def kernel_metrics(
    texts: list[str], pairs: list[tuple[str, str]], urls: list[str]
) -> dict[str, float]:
    from courlan_spark.functions import hashing
    from courlan_spark.functions.url_udfs import check_url_batch
    from courlan_spark.operators import suffix
    from courlan_spark.operators.fingerprints import make_fused_fingerprint_udf

    shingles = [hashing.shingle_hashes(t) for t in texts]
    pair_shingles = [
        (hashing.shingle_hashes(a), hashing.shingle_hashes(b)) for a, b in pairs
    ]
    fused = make_fused_fingerprint_udf().func
    text_series = pd.Series(texts)
    url_series = pd.Series(urls)
    return {
        "url_udfs.check_url_us_per_row": _batch_us(
            check_url_batch, url_series, len(urls)
        ),
        "hashing.shingle_us_per_doc": _per_item_us(hashing.shingle_hashes, texts),
        "hashing.minhash_us_per_doc": _per_item_us(hashing.minhash_signature, shingles),
        "hashing.simhash_us_per_doc": _per_item_us(
            hashing.simhash64_from_features, shingles
        ),
        "suffix.winnow_us_per_doc": _per_item_us(suffix.winnow_fingerprints, texts),
        "fingerprints.fused_us_per_doc": _batch_us(fused, text_series, len(texts)),
        "hashing.jaccard_us_per_pair": _per_item_us(
            lambda p: hashing.jaccard(*p), pair_shingles
        ),
        "suffix.lcs_us_per_pair": _per_item_us(
            lambda p: suffix.longest_common_substring(*p), pairs
        ),
    }
