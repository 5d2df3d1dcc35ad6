"""Fused fingerprint pass: MinHash + SimHash + winnowing in ONE scan.

The dedup pipeline needs three text fingerprints per document
(MinHash signature for LSH, SimHash for fuzzy bit-distance pairs,
winnowing fingerprints for the substring stage).  Computing them in
separate operators costs three Arrow transfers of the full text
column, three text decodes, and three repartition exchanges — at
100 TB that is three full scans of the corpus where one suffices.
This operator ships the text across the JVM->Python boundary ONCE and
runs all three numpy kernels on the same decoded buffer (MinHash and
SimHash additionally share the same rolling shingle-hash features).

Each kernel is byte-identical to its standalone operator (the fused
column equals minhash_signatures / simhash_fingerprints /
make_winnow_udf output — pinned by tests/test_fused_fingerprints.py),
so the standalone oracle queries keep covering the fused path's math.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .suffix import DEFAULT_KGRAM, DEFAULT_WINDOW, winnow_fingerprints

FUSED_SCHEMA = (
    "signature array<long>, simhash long, winnow array<long>, "
    "bands array<long>"
)


def make_fused_fingerprint_udf(
    num_perm: int = hashing.DEFAULT_NUM_PERM,
    shingle_k: int = hashing.DEFAULT_SHINGLE_K,
    seed: int = hashing.DEFAULT_SEED,
    kgram: int = DEFAULT_KGRAM,
    window: int = DEFAULT_WINDOW,
    bands: int = hashing.DEFAULT_BANDS,
):
    "text -> struct(signature, simhash, winnow, bands) in one kernel pass."
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(FUSED_SCHEMA)
    def fused_udf(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        # null semantics per standalone kernel: SimHash maps
        # non-strings to 0 (make_simhash_udf), MinHash and winnow
        # hash the empty string (make_minhash_udf/make_winnow_udf)
        sigs, simhashes, winnows = [], [], []
        for raw in texts:
            text = raw if isinstance(raw, str) else ""
            features = hashing.shingle_hashes(text, shingle_k)
            sigs.append(
                hashing.minhash_signature(features, num_perm=num_perm, seed=seed)
            )
            simhashes.append(
                hashing.simhash64_from_features(features)
                if isinstance(raw, str)
                else 0
            )
            winnows.append(winnow_fingerprints(text, kgram, window).tolist())
        # LSH band bucket keys are a pure function of the signature:
        # computing them HERE means no pipeline run, batch or delta,
        # pays a Python pass over stored signatures — buckets explode
        # from a stored column.
        # Band folding runs as a BATCH kernel (4-13x: tiny fixed-size
        # rows pay mostly numpy call overhead per doc); MinHash /
        # SimHash / winnow stay per-doc — batch forms were measured
        # SLOWER at web-document sizes (PLANS.md round 3)
        if sigs:
            band_rows = hashing.band_hashes_batch(np.vstack(sigs), bands=bands)
            band_keys = [r.tolist() for r in band_rows]
        else:
            band_keys = []
        return pd.DataFrame(
            {
                "signature": [s.tolist() for s in sigs],
                "simhash": simhashes,
                "winnow": winnows,
                "bands": band_keys,
            }
        )

    return fused_udf


def fused_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = hashing.DEFAULT_NUM_PERM,
    shingle_k: int = hashing.DEFAULT_SHINGLE_K,
    seed: int = hashing.DEFAULT_SEED,
    kgram: int = DEFAULT_KGRAM,
    window: int = DEFAULT_WINDOW,
    bands: int = hashing.DEFAULT_BANDS,
) -> DataFrame:
    """(doc_id, signature, simhash, winnow, bands, text_hash) — one
    Arrow pass over the text column.  Column-for-column equal to the
    standalone minhash_signatures / simhash_fingerprints / winnowing /
    band_hashes operators."""
    udf = make_fused_fingerprint_udf(
        num_perm=num_perm, shingle_k=shingle_k, seed=seed,
        kgram=kgram, window=window, bands=bands,
    )
    # hash-spread on the unique id, not round-robin: keyless
    # repartition pays sortBeforeRepartition — a per-input-partition
    # local sort of the full text rows (see dedup.minhash_signatures)
    source = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return source.select(
        F.col(id_col).alias("doc_id"),
        udf(F.col(text_col)).alias("_fp"),
        # exact-text key, JVM-side on the same scan: makes the persisted
        # fingerprint frame a self-sufficient STORE for incremental runs
        # (operators/incremental.py) — a later delta batch never has to
        # re-read the old corpus's text column for exact-text dedup
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_hash"),
    ).select(
        "doc_id",
        F.col("_fp.signature").alias("signature"),
        F.col("_fp.simhash").alias("simhash"),
        F.col("_fp.winnow").alias("winnow"),
        F.col("_fp.bands").alias("bands"),
        "text_hash",
    )
