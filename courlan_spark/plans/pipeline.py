"""End-to-end near-duplicate pipeline with snapshot checkpoints.

One stage graph serves both entry points: ``run(pages)`` is the delta
run against ``FingerprintStore.empty`` and ``run_incremental(delta,
store)`` the same graph against a stored base, so a batch run and
base + delta runs agree by construction.  ⊕ store marks where the
store joins in; against the empty store the optimizer removes it.

    pages ─01 check_url UDF──────────────────> canonical urls
          ─02 exact URL dedup (⊕ store urls)─> url-unique docs
          ─04 ONE fused fingerprint scan─────> MinHash, SimHash,
                                               winnow, band keys, md5
    overlapped, new x (new ⊕ store) pairs only:
          ─05 LSH candidates ─ Jaccard verify─> pair evidence
          ─06 SimHash (hamming ≤ 3)──────────> pair evidence
          ─07 winnow candidates ─ LCS verify─> pair evidence
          ─03 exact text (md5 groups)────────> pair evidence
          ─08 evidence union
          ─09 components (⊕ store clusters)──> cluster table

Every stage materializes to a parquet snapshot under ``workdir`` and
is skipped on resume when its `_SUCCESS` marker exists — the sandbox
realization of Iceberg snapshot checkpoints (north rule; the writer
is isolated in ``_write_snapshot`` so an Iceberg ``writeTo`` drops in
unchanged).  Per-stage metrics (rows, seconds, partitions) are
returned and appended to ``workdir/metrics.json``.
"""

from __future__ import annotations

import json
import operator
import os
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url_udfs import make_check_url_udf
from ..operators import dedup, suffix


@dataclass
class DedupConfig:
    strict: bool = False
    language: str | None = None
    num_perm: int = 128
    shingle_k: int = 9
    bands: int = 32
    jaccard_threshold: float = 0.6
    simhash_max_hamming: int = 3
    substring_min_len: int = 63
    max_bucket_size: int = 2000
    salt_partitions: int | None = None
    with_substring_stage: bool = True
    with_simhash_stage: bool = True
    # optional pre-fingerprint corpus gate (training-data curation):
    # docs outside [min_tokens, max_tokens] or below min_alpha_ratio
    # leave the corpus before any fingerprint work; None disables each
    # bound.  Kept rows are observed (no silent drops); the gate is
    # per-row deterministic, so incremental runs stay equal to full
    # re-runs with the same bounds.
    min_tokens: int | None = None
    max_tokens: int | None = None
    min_alpha_ratio: float | None = None
    seed: int = 42
    # "all": every stage is a resumable parquet snapshot (durable runs,
    # the Iceberg-checkpoint analog).  "minimal": only multiply-consumed
    # intermediates persist in memory and only the final assignments
    # snapshot to parquet — fewer driver barriers, better scaling when
    # stage outputs are small relative to job overhead.
    snapshot_mode: str = "all"
    extra: dict = field(default_factory=dict)


from ..sources.tables import has_snapshot as _has_snapshot
from ..sources.tables import read_snapshot as _read_snapshot
from ..sources.tables import write_snapshot as _write_snapshot


@dataclass
class FingerprintStore:
    """The persisted state an incremental (delta-batch) run joins
    against: the base run's url-unique corpus, its fused fingerprint
    frame, and its cluster table.  ``from_workdir`` loads the three
    from a completed snapshot_mode="all" pipeline run — the store must
    come from the same DedupConfig (num_perm/shingle_k/seed/bands) the
    incremental run uses, or bucket keys will not line up.  ``empty``
    is the store a batch run joins against."""

    docs: DataFrame          # doc_id, norm_url, domain, warc_ts, text, lang
    fingerprints: DataFrame  # doc_id, signature, simhash, winnow, text_hash
    assignments: DataFrame   # doc_id, cluster_id
    # the DedupConfig (as a dict) the store was built with, loaded from
    # the workdir's config.json; None only for stores assembled by hand
    config: dict | None = None

    # fields that determine bucket/block keys and which docs enter the
    # store — a delta run with different values would silently miss
    # duplicates (keys disagree), so check_config raises instead
    KEY_FIELDS = (
        "num_perm", "shingle_k", "seed", "bands",
        "min_tokens", "max_tokens", "min_alpha_ratio",
    )

    def check_config(self, cfg: "DedupConfig") -> None:
        """Raise when ``cfg`` disagrees with the store's recorded
        config on any key-affecting field.  A store without a recorded
        config (built before config.json existed, or assembled by
        hand) passes with no check — the caller owns the invariant."""
        if self.config is None:
            return
        mismatches = self._key_diff(self.config, vars(cfg))
        if mismatches:
            raise ValueError(
                "incremental config disagrees with the fingerprint "
                f"store's on key-affecting fields {mismatches} "
                "(store value, run value) — band/block keys would not "
                "line up and duplicates would be silently missed; "
                "re-build the store or match its config"
            )

    @classmethod
    def _key_diff(cls, a: dict, b: dict) -> dict:
        "{field: (a's value, b's value)} over the key fields that differ."
        return {
            k: (a.get(k), b.get(k)) for k in cls.KEY_FIELDS if a.get(k) != b.get(k)
        }

    @classmethod
    def _load_config(cls, workdir: str) -> dict | None:
        path = os.path.join(workdir, "config.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    @classmethod
    def empty(cls, spark: SparkSession) -> "FingerprintStore":
        """The store with no rows, in the store schemas.  Its frames
        plan as empty LOCAL relations (``LIMIT 0``), which the
        optimizer's empty-relation propagation removes from every
        union, join and exchange they feed; a ``createDataFrame([])``
        frame is an RDD scan the optimizer cannot see into, so every
        store side would stay in the plans."""
        from ..operators.fingerprints import FUSED_SCHEMA

        def empty(schema: str) -> DataFrame:
            cols = (col.split(" ", 1) for col in schema.split(", "))
            nulls = ", ".join(f"CAST(NULL AS {typ}) AS {name}" for name, typ in cols)
            return spark.sql(f"SELECT {nulls} LIMIT 0")

        return cls(
            docs=empty(
                "doc_id long, norm_url string, domain string, "
                "warc_ts timestamp, text string, lang string, n_copies long"
            ),
            fingerprints=empty(f"doc_id long, {FUSED_SCHEMA}, text_hash string"),
            assignments=empty("doc_id long, cluster_id long"),
        )

    @property
    def is_empty(self) -> bool:
        "True for ``empty()`` — decided from the plans, with no job."
        from ..operators.incremental import known_empty

        return all(
            known_empty(df)
            for df in (self.docs, self.fingerprints, self.assignments)
        )

    @classmethod
    def from_workdir(cls, spark: SparkSession, workdir: str) -> "FingerprintStore":
        def need(stage: str) -> DataFrame:
            path = _snapshot_path(workdir, stage)
            if not _has_snapshot(path):
                raise FileNotFoundError(
                    f"store stage {stage!r} missing under {workdir} — the "
                    "base run must use snapshot_mode='all'"
                )
            return _read_snapshot(spark, path)

        fps = need("04_fingerprints")
        if "text_hash" not in fps.columns or "winnow" not in fps.columns:
            raise ValueError(
                "04_fingerprints lacks fused columns (text_hash/winnow) — "
                "the base run predates the fused store format; re-run it"
            )
        return cls(
            docs=need("02_url_dedup"),
            fingerprints=fps,
            assignments=need("09_assignments").select("doc_id", "cluster_id"),
            config=cls._load_config(workdir),
        )

    @classmethod
    def from_workdirs(
        cls, spark: SparkSession, *workdirs: str
    ) -> "FingerprintStore":
        """Chain stores across batches: the base run's workdir followed
        by each incremental run's, oldest first.  Docs and fingerprints
        are the union of every batch's (immutable, delta-scoped)
        snapshots; assignments come from the LAST workdir — each
        incremental run writes the fully merged cluster table."""
        if not workdirs:
            raise ValueError("at least one workdir required")
        stores = [cls.from_workdir(spark, w) for w in workdirs]
        # chained batches must agree on key fields among themselves too
        configs = [s.config for s in stores if s.config is not None]
        for other in configs[1:]:
            diff = cls._key_diff(configs[0], other)
            if diff:
                raise ValueError(
                    f"chained store workdirs disagree on key fields {diff}"
                )
        docs, fps = stores[0].docs, stores[0].fingerprints
        for s in stores[1:]:
            docs = docs.unionByName(s.docs)
            fps = fps.unionByName(s.fingerprints)
        return cls(
            docs=docs,
            fingerprints=fps,
            assignments=stores[-1].assignments,
            config=configs[0] if configs else None,
        )


def _snapshot_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage)


def _safe_observation(obs) -> dict:
    """Read an Observation defensively and NON-BLOCKING.

    Two failure modes: (a) when AQE propagates an empty shuffle stage
    upward (e.g. every LSH bucket over the cap on a degenerate corpus),
    the CollectMetrics row can come back without a schema and the row
    decode raises from toPyRow — Spark-side issue; (b) an observed node
    that never EXECUTED (its consumer stage resumed from a snapshot, so
    the build ran but the dataset did not) leaves Observation.get
    blocked forever on the JVM promise — the r6 ephemeral-stage hang.
    getRowOrEmpty() returns an empty Option instead of waiting."""
    try:
        jopt = obs._jo.getRowOrEmpty()
        if not jopt.isDefined():
            return {"unavailable": "observed node did not execute (resumed?)"}
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        row = CPickleSerializer().loads(utils.toPyRow(jopt.get()))
        return dict(row.asDict(recursive=False))
    except Exception as exc:  # noqa: BLE001
        return {"unavailable": str(exc).splitlines()[0][:120]}


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        config: DedupConfig | None = None,
        count_rows: bool = True,
    ):
        self.spark = spark
        self.workdir = workdir
        self.config = config or DedupConfig()
        self.count_rows = count_rows
        self.metrics: list[dict] = []
        # snapshot writes deferred to a background thread (guide §2.6):
        # (stage name, Future) pairs joined by _join_writes() before a
        # run returns — the workdir is complete at return, same as the
        # synchronous path
        self._pending_writes: list[tuple[str, object]] = []
        self._write_pool = None
        os.makedirs(workdir, exist_ok=True)

    def _persist_config(self) -> None:
        """Record the run's DedupConfig in the workdir so a later
        incremental run can verify its own config against the store's
        (a store built with different key-affecting fields would emit
        silently wrong merged clusters — the band/block keys simply
        would not line up)."""
        with open(os.path.join(self.workdir, "config.json"), "w") as fh:
            json.dump(
                {k: v for k, v in vars(self.config).items()
                 if not isinstance(v, dict)},
                fh,
            )

    # the key column a later delta run scans the store stages by: the
    # snapshot is range-sorted by it (file skipping via footer min/max
    # for the candidate-id predicates; Iceberg sorted-write-order
    # analog, see tables.write_snapshot) AND carries a parquet bloom
    # filter on it (row-group point skipping inside surviving files)
    _STAGE_KEY_COLS = {"02_url_dedup": ["doc_id"], "04_fingerprints": ["doc_id"]}

    def _stage(
        self,
        name: str,
        build,
        resume: bool,
        kind: str = "snapshot",
        overlap_write: bool = False,
    ) -> DataFrame:
        # "ephemeral": lazy in EVERY snapshot mode — for cheap derived
        # frames whose durability buys nothing (the canonical frame is
        # a deterministic function of the input the next stage re-reads
        # anyway; the substring verify folds into the evidence job).
        # Each skipped stage was one serialized write-job barrier in
        # snapshot_mode="all" — part of the measured core-count-
        # independent serial term of the spark-submit scaling record.
        # Resume stays correct: a killed run recomputes the ephemeral
        # frame deterministically inside its durable consumer's build.
        started = time.time()
        metric = {"stage": name}

        def done(df: DataFrame, **fields) -> DataFrame:
            metric.update(fields, secs=round(time.time() - started, 3))
            self.metrics.append(metric)
            return df

        if kind == "ephemeral" or (
            self.config.snapshot_mode == "minimal" and kind != "snapshot"
        ):
            df = build()
            if kind in ("persist", "persist_lazy"):
                df = df.persist()
                # persist_lazy skips the count barrier: the cache fills
                # inside the next stage's (single-consumer) job — used
                # for 02, whose only consumer before the overlap group
                # is 04's eager materialization, so no concurrent jobs
                # can race the cache build (guide §2.6 serial-term cut)
                if kind == "persist":
                    df.count()  # materialize the cache once
            return done(df, kind=kind)
        path = _snapshot_path(self.workdir, name)
        if resume and _has_snapshot(path):
            return done(_read_snapshot(self.spark, path), resumed=True)
        df = build()
        write = dict(
            order_by=self._STAGE_KEY_COLS.get(name),
            bloom_cols=self._STAGE_KEY_COLS.get(name),
        )
        if overlap_write:
            # The stage's CONSUMERS only need the frame; only the NEXT
            # RUN (resume / store chaining) needs the files.  Persist +
            # count materializes the data once, then the parquet write
            # — a pure read-of-cache + commit job that was a ~1 s
            # serial barrier per snapshot stage in the delta profile —
            # runs on a background thread and hides under the following
            # stages.  _join_writes() blocks before run()/
            # run_incremental() return, so externally the workdir is
            # exactly as complete as the synchronous path's, and a
            # crash before the join leaves no _SUCCESS marker — resume
            # rebuilds the stage, as it would for any interrupted
            # write.
            from concurrent.futures import ThreadPoolExecutor

            df = df.persist()
            n_rows = df.count()
            if self._write_pool is None:
                self._write_pool = ThreadPoolExecutor(max_workers=2)
            self._pending_writes.append(
                (name, self._write_pool.submit(_write_snapshot, df, path, **write))
            )
            counts = {"rows": n_rows} if self.count_rows else {}
            return done(df, resumed=False, kind="snapshot_overlap", **counts)
        _write_snapshot(df, path, **write)
        out = _read_snapshot(self.spark, path)
        counts = {}
        if self.count_rows:
            counts = {"rows": out.count(), "partitions": out.rdd.getNumPartitions()}
        return done(out, resumed=False, **counts)

    def _join_writes(self) -> None:
        """Block on every deferred snapshot write (re-raising failures)
        and record how long the join actually waited — ~0 when the
        writes hid under later stages, which is the point."""
        for name, fut in self._pending_writes:
            started = time.time()
            fut.result()
            self.metrics.append(
                {"stage": f"{name}_write_join",
                 "secs": round(time.time() - started, 3)}
            )
        self._pending_writes.clear()
        if self._write_pool is not None:
            self._write_pool.shutdown(wait=True)
            self._write_pool = None

    def _drop_writes(self) -> None:
        """Failure path: cancel the deferred writes not yet started,
        wait for the running ones, and forget them all, so a retry on
        this object starts clean and the run's own error is the one
        raised (a dropped write leaves no _SUCCESS marker, so resume
        rebuilds its stage).  A no-op after ``_join_writes``."""
        if self._write_pool is not None:
            self._write_pool.shutdown(wait=True, cancel_futures=True)
            self._write_pool = None
        self._pending_writes.clear()

    def _materialize_stages(self, specs) -> dict:
        """Materialize several INDEPENDENT stages concurrently (guide
        §2.6: Spark happily runs several jobs at once inside one
        application; actions are only sequential because driver code
        calls them sequentially).  ``specs`` is a list of
        (name, callable) pairs where the callable runs the stage(s) and
        returns the stage result; the first spec is submitted first, so
        under FIFO scheduling it keeps resource priority and the later
        stages back-fill its stage tails.  Exceptions propagate."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(specs)) as pool:
            futures = [(name, pool.submit(fn)) for name, fn in specs]
            return {name: f.result() for name, f in futures}

    def _quality_condition(self):
        "AND of the configured quality bounds, or None when unset."
        from ..functions import text as T

        cfg = self.config
        conds = []
        if cfg.min_tokens is not None or cfg.max_tokens is not None:
            toks = T.token_count_col(F.col("text"))
            if cfg.min_tokens is not None:
                conds.append(toks >= cfg.min_tokens)
            if cfg.max_tokens is not None:
                conds.append(toks <= cfg.max_tokens)
        if cfg.min_alpha_ratio is not None:
            n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", ""))
            safe = F.greatest(F.length(F.col("text")), F.lit(1)).cast("double")
            conds.append((n_alpha / safe) >= F.lit(cfg.min_alpha_ratio))
        return reduce(operator.and_, conds) if conds else None

    def _canonical_frame(self, pages: DataFrame) -> DataFrame:
        cfg = self.config
        check_udf = make_check_url_udf(strict=cfg.strict, language=cfg.language)
        return (
            pages.withColumn("_chk", check_udf(F.col("url")))
            .where(F.col("_chk.norm_url").isNotNull())
            .select(
                F.xxhash64("url", "warc_ts").alias("doc_id"),
                F.col("url").alias("raw_url"),
                F.col("_chk.norm_url").alias("norm_url"),
                F.col("_chk.domain").alias("domain"),
                "warc_ts",
                "text",
                "lang",
            )
        )

    def run(self, pages: DataFrame, resume: bool = False) -> dict:
        """Batch run: the delta run against ``FingerprintStore.empty``.
        It keeps the session's shuffle width — sizing the width to the
        input is a delta concern (``run_incremental``)."""
        return self._run(pages, FingerprintStore.empty(self.spark), resume)

    def run_incremental(
        self,
        new_pages: DataFrame,
        store: FingerprintStore,
        resume: bool = False,
        shuffle_partitions: int | str | None = "auto",
    ) -> dict:
        """Dedup a DELTA batch against a FingerprintStore and emit the
        MERGED cluster table — the daily-ingest path: the only pass
        over a text column touches the delta (one fused fingerprint
        scan); the store contributes (doc_id, key) bucket rows and, for
        verification, only the partner texts of surviving candidates
        (the pair set broadcasts into the payload join, so only
        matched store rows shuffle).  Old x old pairs are never generated — the
        base run's assignments already encode them and re-enter the
        clustering as membership edges.

        Equivalence to one full run over base ∪ delta holds by
        construction: ``run`` is this same stage graph against the
        empty store, so the two share every stage and operator.  It
        needs (a) the store built with the same DedupConfig (checked),
        (b) bucket caps that do not bind differently across the split,
        and (c) delta captures not earlier than the store's for shared
        norm_urls (this path keeps the store's representative —
        first-seen-wins, the streaming path's semantics).
        tests/test_incremental.py pins base + delta == full run, and
        tests/test_pipeline_vs_single_node_model.py checks the graph
        against an independent single-node model.

        The run's workdir gains delta-scoped 02_url_dedup /
        04_fingerprints snapshots plus the merged 09_assignments, so
        ``FingerprintStore.from_workdirs(spark, base, this_workdir)``
        is the store for the NEXT delta — store files are immutable,
        each batch adds its own (the Iceberg-snapshot shape).

        ``shuffle_partitions`` right-sizes the session's shuffle width
        to the DELTA's row count for the duration of the run (restored
        after).  Default "auto" = clamp(ceil(rows/1000), 8, session
        default).  Why this exists: a delta job inherits the session's
        cluster-wide shuffle width, and AQE's partition coalescing
        will not shrink below defaultParallelism
        (coalescePartitions.parallelismFirst=true), so a 12k-row delta
        on a 32-core session runs every stage as 32 ~375-row tasks and
        pays the per-task floor 32x per stage — measured 42s at
        local[32] default vs 24.5s with 16 shuffle partitions (same
        session width; tools/exp_delta_sizing.py).  At production
        scale the same rule holds: size a delta job's shuffle width to
        the delta, not the cluster.  Pass None to leave the session
        untouched, or an int to pin it."""
        store.check_config(self.config)

        session_width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        delta_rows = None
        if shuffle_partitions == "auto":
            # delta-scale count: reads only parquet footers / the
            # filter column, never text
            delta_rows = new_pages.count()
            shuffle_partitions = min(
                session_width, max(8, -(-delta_rows // 1000))
            )
        if shuffle_partitions is not None and shuffle_partitions != session_width:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        self._delta_shuffle_partitions = (
            shuffle_partitions if shuffle_partitions is not None else session_width
        )
        try:
            return self._run(new_pages, store, resume, delta_rows)
        finally:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(session_width)
            )

    def _run(
        self,
        pages: DataFrame,
        store: FingerprintStore,
        resume: bool,
        delta_rows: int | None = None,
    ) -> dict:
        """The one stage graph.  Against the empty store (``run``) the
        optimizer drops every store side from the plans, and the two
        materializations that only pay off against stored rows — the
        05_candidates persist with its id collect for the store prune,
        and the 08_evidence persist the merge walks several times —
        stay lazy frames.  ``delta_rows`` (counted by
        ``run_incremental``) gates the broadcast store pre-filter."""
        cfg = self.config
        batch = store.is_empty
        # every run reports only its own stages and counters
        self.metrics = []
        self._observations = {}
        self._persist_config()

        # free row-count metrics via observe(): recorded on the single
        # physical pass, no extra jobs (the north rule's per-stage
        # metrics without count() barriers)
        from pyspark.sql import Observation

        from ..operators import incremental as inc
        from ..operators.fingerprints import fused_fingerprints

        def observed(name: str, df: DataFrame) -> DataFrame:
            obs = Observation(name)
            self._observations[name] = obs
            return df.observe(obs, F.count(F.lit(1)).alias("rows"))

        # guide §3.2 pre-filter gate: the delta's distinct bucket keys
        # (<= rows x bands) must comfortably fit a broadcast before the
        # store side may be semi-join-pruned ahead of its exchange;
        # unknown delta size (a batch run, or a pinned shuffle width)
        # keeps the always-safe union shape.  8M keys ~ 64 MB broadcast.
        prune_old = (
            delta_rows is not None
            and delta_rows * max(cfg.bands, 20) <= 8_000_000
        )

        def with_store(new: DataFrame, old: DataFrame, ids) -> DataFrame:
            return new.unionByName(inc.prune_store_by_ids(old, ids))

        try:
            # ---- stage 1: URL canonicalization (vectorized check_url) ----
            canonical = self._stage(
                "01_canonical",
                lambda: observed("canonical_rows", self._canonical_frame(pages)),
                resume,
                kind="ephemeral",
            )

            # ---- stage 2: exact URL dedup ----
            # earliest capture wins within the batch; a norm_url the
            # store already holds keeps its old representative (first-
            # seen-wins — against the empty store, earliest capture)
            def build_url_dedup():
                among_new = dedup.exact_dedup(
                    canonical.select("doc_id", "norm_url", "domain", "warc_ts", "text", "lang"),
                    key_cols=["norm_url"],
                    order_cols=["warc_ts", "doc_id"],
                    salt_partitions=cfg.salt_partitions,
                )
                return among_new.join(
                    store.docs.select("norm_url"), "norm_url", "left_anti"
                ).select("doc_id", "norm_url", "domain", "warc_ts", "text", "lang", "n_copies")

            url_unique = self._stage("02_url_dedup", build_url_dedup, resume,
                                     kind="persist_lazy", overlap_write=True)

            # optional training-data quality gate (config bounds) —
            # per-row deterministic, so batch and delta runs agree
            quality = self._quality_condition()
            if quality is not None:
                url_unique = self._stage(
                    "02b_quality_gate",
                    lambda: observed("quality_kept", url_unique.where(quality)),
                    resume,
                    kind="lazy",
                )

            # ---- stage 4: ALL text fingerprints in ONE scan ----
            # MinHash + SimHash + winnowing + LSH band keys + md5 share
            # a single Arrow transfer and text decode
            # (operators/fingerprints.py): the run's only text scan
            fingerprints = self._stage(
                "04_fingerprints",
                lambda: fused_fingerprints(
                    url_unique,
                    num_perm=cfg.num_perm,
                    shingle_k=cfg.shingle_k,
                    seed=cfg.seed,
                    bands=cfg.bands,
                ),
                resume,
                kind="persist",
                overlap_write=True,
            )
            store_fps = store.fingerprints

            def build_candidates():
                # dropped-bucket accounting rides observe() on the pass
                # that computes the buckets anyway — zero extra jobs
                lsh_obs = Observation("05_lsh_buckets")
                self._observations["lsh_buckets"] = lsh_obs

                # both sides explode STORED band keys: no band-hash
                # Python pass, however large the store has grown
                def bucket_rows(df):
                    return df.select("doc_id", F.explode("bands").alias("band_key"))

                return inc.incremental_minhash_pairs(
                    fingerprints.select("doc_id", "signature"),
                    store_fps.select("doc_id", "signature"),
                    prune_old_by_new_keys=prune_old,
                    bands=cfg.bands,
                    max_bucket_size=cfg.max_bucket_size,
                    observation=lsh_obs,
                    new_buckets=bucket_rows(fingerprints),
                    old_buckets=bucket_rows(store_fps),
                )

            def run_minhash_chain():
                # with stored rows the candidates persist: the store
                # prune collects their ids before the verify walks them,
                # and the observation must record on exactly one
                # execution of the pass.  The batch verify walks them
                # once, so they stay lazy inside its job.
                candidates = self._stage(
                    "05_candidates", build_candidates, resume,
                    kind="ephemeral" if batch else "persist",
                )

                def build_minhash_pairs():
                    # one bounded id collect from the persisted pairs,
                    # pushed into both store scans as an In predicate
                    # that the doc_id-sorted store snapshots turn into
                    # parquet file skipping; the pair-payload attach
                    # inside verify then broadcast-joins the (small)
                    # pair set against the pruned union, so only matched
                    # store rows shuffle.  The empty store has no scan
                    # to prune, so nothing is collected.
                    ids = None if batch else inc.collect_pair_ids([candidates])
                    return dedup.verify_pairs_jaccard(
                        candidates,
                        with_store(url_unique.select("doc_id", "text"),
                                   store.docs.select("doc_id", "text"), ids),
                        signatures=with_store(
                            fingerprints.select("doc_id", "signature"),
                            store_fps.select("doc_id", "signature"), ids),
                        threshold=cfg.jaccard_threshold,
                        shingle_k=cfg.shingle_k,
                    ).select("doc_a", "doc_b")

                # persisted (tiny — two longs per verified pair): the
                # substring verify anti-joins against it, and a lazy
                # plan would re-run the whole verify DAG for that
                # second consumer
                return self._stage(
                    "05_minhash_pairs", build_minhash_pairs, resume, kind="persist"
                )

            # ---- stages 3, 5-7: evidence stages, OVERLAPPED (guide §2.6) ----
            # Once the fingerprint frame exists, the exact-text, SimHash
            # and substring-candidate stages share no dependency with
            # the MinHash verify chain (the long pole), so their jobs
            # run concurrently and back-fill its stage tails.  The chain
            # is submitted first and keeps FIFO priority; 03, the
            # cheapest member, goes last to fill the tail the chain
            # leaves (OPTIMIZATION_r06.md, row 11).  The
            # substring candidates skip the anti-join against the
            # MinHash verdicts (that dependency would serialize them
            # behind the chain): it applies at verify time below, which
            # is equivalent — evidence is a union, so pruning pairs
            # already verified from the LCS pass changes nothing.
            def overlapped(name: str, build):
                return name, lambda: self._stage(name, build, resume, kind="persist")

            specs = [("05_minhash_pairs", run_minhash_chain)]
            if cfg.with_simhash_stage:
                specs.append(overlapped(
                    "06_simhash_pairs",
                    lambda: inc.incremental_simhash_pairs(
                        fingerprints.select("doc_id", "simhash"),
                        store_fps.select("doc_id", "simhash"),
                        max_hamming=cfg.simhash_max_hamming,
                        max_bucket_size=cfg.max_bucket_size,
                        prune_old_by_new_keys=prune_old,
                    ).select("doc_a", "doc_b"),
                ))
            if cfg.with_substring_stage:
                specs.append(overlapped(
                    "07_substring_cands",
                    lambda: inc.incremental_substring_candidates(
                        fingerprints.select("doc_id", "winnow"),
                        store_fps.select("doc_id", "winnow"),
                        max_bucket_size=cfg.max_bucket_size,
                        prune_old_by_new_keys=prune_old,
                    ),
                ))
            # exact-text edges from the stored md5 hashes — no old text read
            specs.append(overlapped(
                "03_exact_text_pairs",
                lambda: inc.incremental_text_pairs(
                    fingerprints.select("doc_id", "text_hash"),
                    store_fps.select("doc_id", "text_hash"),
                ),
            ))
            staged = self._materialize_stages(specs)
            minhash_pairs = staged["05_minhash_pairs"]
            simhash_pairs = staged.get("06_simhash_pairs")
            substr_cands = staged.get("07_substring_cands")
            text_pairs = staged["03_exact_text_pairs"]

            substr_pairs = None
            if substr_cands is not None:
                fresh_cands = substr_cands.join(
                    minhash_pairs, ["doc_a", "doc_b"], "left_anti"
                )
                substr_pairs = self._stage(
                    "07_substring_pairs",
                    lambda: suffix.verify_substring_pairs(
                        fresh_cands,
                        url_unique.select("doc_id", "text").unionByName(
                            inc.prune_store_by_pair_ids(
                                store.docs.select("doc_id", "text"), [fresh_cands]
                            )
                        ),
                        min_length=cfg.substring_min_len,
                    ).select("doc_a", "doc_b"),
                    resume,
                    kind="ephemeral",
                )

            # ---- stage 8: evidence ----
            # no explicit distinct: connected components dedup their
            # edge input anyway (the observed row count is therefore
            # pre-dedup evidence rows).  With stored rows the evidence
            # persists (tiny: two longs per pair): merge_assignments
            # walks it several times — endpoint extraction, the
            # affected-cluster semi-joins, every CC iteration — and a
            # lazy union would re-run the verify DAG for each walk.
            # Against the empty store only the CC edge checkpoint walks
            # it, so it stays lazy inside that job.
            def build_evidence():
                evidence = text_pairs.unionByName(minhash_pairs)
                for pairs in (simhash_pairs, substr_pairs):
                    if pairs is not None:
                        evidence = evidence.unionByName(pairs)
                return observed("evidence_pairs", evidence)

            evidence = self._stage(
                "08_evidence", build_evidence, resume,
                kind="ephemeral" if batch else "persist", overlap_write=True,
            )

            # ---- stage 9: url -> cluster, merged over store ∪ batch ----
            def build_assignments():
                merged = inc.merge_assignments(
                    store.assignments, url_unique.select("doc_id"), evidence
                )
                meta = url_unique.select("doc_id", "norm_url", "domain").unionByName(
                    store.docs.select("doc_id", "norm_url", "domain")
                )
                return merged.join(meta, "doc_id").select(
                    "doc_id", "norm_url", "domain", "cluster_id"
                )

            output = self._stage("09_assignments", build_assignments, resume)
            self._join_writes()
        finally:
            # no-op after the join above; on an error, the deferred
            # writes must not outlive the run (a retry starts clean)
            self._drop_writes()

        summary = {
            "config": {k: v for k, v in vars(cfg).items() if not isinstance(v, dict)},
            "stages": self.metrics,
            "n_output": output.count() if self.count_rows else None,
            # observe()-based counters, recorded on the physical pass
            # itself (no extra jobs); absent for resumed stages
            "observed": {
                name: _safe_observation(obs)
                for name, obs in self._observations.items()
            },
        }
        if not batch:
            summary["mode"] = "incremental"
        elif self.count_rows:
            # per-partition lineage/metrics (north rule): row counts of
            # the final assignments per physical partition — one cheap
            # aggregation on spark_partition_id
            partition_rows = (
                output.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .orderBy("pid")
                .collect()
            )
            summary["output_partitions"] = [
                {"partition": r["pid"], "rows": r["count"]} for r in partition_rows
            ]
        with open(os.path.join(self.workdir, "metrics.json"), "a") as fh:
            fh.write(json.dumps(summary, default=str) + "\n")
        return summary

    def assignments(self) -> DataFrame:
        return _read_snapshot(self.spark, _snapshot_path(self.workdir, "09_assignments"))

    def deduped_docs(self, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """The pipeline's consumable: ``docs`` reduced to one
        representative row per cluster (min member), annotated with
        cluster_size (dedup.keep_representatives over the final
        assignments snapshot)."""
        return dedup.keep_representatives(
            docs, self.assignments().select("doc_id", "cluster_id"), id_col=id_col
        )
