"""The benchmark workloads and the checks on their outputs.

Every workload is a closed loop run by one driver thread: it starts the
next operation only when the previous one has returned.  A workload
provides

* ``inputs(seed, cores)``: the seeded corpus, made before Spark starts;
* ``setup(ctx)``: untimed preparation in the session (input tables and
  the driver-side expectations), ending with an untimed warm-up;
* ``cycle(ctx)``: one timed cycle of operations; cheap checks of its
  outputs run inside it, and a failed check raises ``CheckFailed``;
* ``verify(ctx)``: the checks of the last cycle's outputs that cost too
  much to time with it, run after the cycle's time and CPU are taken;
* ``rows(ctx)``: the input rows one cycle processes;
* ``layers(ctx)``: traced runs only, after the timed cycles: extra
  checked operations on layers the cycles do not reach, one record
  each (its span, rows, program counters and check outcome);
* ``min_cycles``: the fewest timed cycles a run makes.

Spans: ``op`` is one timed operation whose duration is the workload's
latency sample; ``throughput`` spans are the wall time that
``rows_per_s`` divides by.  For ``batch_dedup`` both are the pipeline
run; for ``url_frontier`` the throughput span is canonical dedup +
ingest + sample and the latency sample is one crawl round.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pandas as pd

from . import corpus as corpus_mod


class CheckFailed(Exception):
    "An operation returned, but its output is wrong."


@dataclass
class Ctx:
    spark: object
    tracer: object
    workdir: str
    seed: int
    corpus: pd.DataFrame
    state: dict = field(default_factory=dict)
    # per-operation program counters (pipeline summaries, ...)
    records: list = field(default_factory=list)
    _dirs: int = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        path = os.path.join(self.workdir, f"{prefix}{self._dirs}")
        shutil.rmtree(path, ignore_errors=True)
        return path


def _write_pages(ctx: Ctx, frame: pd.DataFrame, name: str):
    "Write corpus rows as a parquet table (the pipeline CLI's input)."
    from courlan_spark.sources.pages import PAGES_SCHEMA

    path = os.path.join(ctx.workdir, name)
    ctx.spark.createDataFrame(frame, schema=PAGES_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return ctx.spark.read.parquet(path), path


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _truth_frame(frame: pd.DataFrame) -> pd.DataFrame:
    """Corpus rows whose truth columns follow the pipeline's default
    thresholds (``corpus.threshold_truth``); each correction is printed."""
    from courlan_spark.plans.pipeline import DedupConfig

    frame, notes = corpus_mod.threshold_truth(frame, DedupConfig())
    for note in notes:
        print(f"# planted truth corrected: {note}")
    return frame


def _check_recall(truth, assignments) -> None:
    """ROADMAP contract: recall = precision = 1.0 against the planted
    truth, as corrected by ``_truth_frame``."""
    from courlan_spark.plans.evaluate import dup_pair_recall

    got = dup_pair_recall(truth, assignments)
    if got["recall"] != 1.0 or got["precision"] != 1.0:
        raise CheckFailed(
            f"recall={got['recall']} precision={got['precision']} "
            f"over {got['n_pairs']} planted pairs"
        )


def _page_cols(df):
    return df.select("url", "warc_ts", "html", "text", "lang")


def _truth_cols(df):
    return df.select("doc_id", "url", "cluster_id", "dup_kind")


class BatchDedup:
    """``DedupPipeline.run`` over the whole corpus, configured as
    ``pipeline_cli`` does: default ``DedupConfig``, snapshot_mode="all"."""

    name = "batch_dedup"
    n_pages = 3000
    # traced runs add one delta ingest of the seed's next ids
    n_delta = 300
    # one ~10 s pipeline run is the timed cycle
    min_cycles = 1
    # the warm-up runs on the first pages only: its job is to start the
    # Python workers and compile the plans, and on the whole corpus it
    # added ~8 s to every run
    n_warmup = 600

    def inputs(self, seed: int, cores: int) -> pd.DataFrame:
        return corpus_mod.generate(seed, self.n_pages, workers=cores)

    def setup(self, ctx: Ctx) -> None:
        frame = _truth_frame(ctx.corpus)
        pages, path = _write_pages(ctx, frame, "pages")
        warmup, _ = _write_pages(ctx, frame.iloc[: self.n_warmup], "warmup_pages")
        ctx.state.update(pages=pages, input_bytes=_dir_bytes(path))
        with ctx.tracer.span("warmup"):
            self._run(ctx, warmup)

    def _run(self, ctx: Ctx, pages):
        from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline

        workdir = ctx.fresh_dir("dedup")
        pipe = DedupPipeline(ctx.spark, workdir, DedupConfig(snapshot_mode="all"))
        with ctx.tracer.span("plans.pipeline.run"):
            summary = pipe.run(_page_cols(pages))
        ctx.records.append(
            {
                "summary": summary,
                "snapshot_bytes": _dir_bytes(workdir),
                "input_bytes": ctx.state["input_bytes"],
            }
        )
        return pipe

    def rows(self, ctx: Ctx) -> int:
        return self.n_pages

    def cycle(self, ctx: Ctx) -> None:
        with ctx.tracer.span("op"), ctx.tracer.span("throughput"):
            pipe = self._run(ctx, ctx.state["pages"])
        ctx.state["last_pipe"] = pipe

    def verify(self, ctx: Ctx) -> None:
        assignments = ctx.state["last_pipe"].assignments()
        _check_recall(_truth_cols(ctx.state["pages"]), assignments)

    def layers(self, ctx: Ctx) -> list[dict]:
        """The delta-ingest path (``operators.incremental``): the last
        timed run's workdir is the fingerprint store, and the next
        ``n_delta`` ids of the seed's range go through
        ``run_incremental``.  The merged clusters are checked against
        the planted truth of base plus delta."""
        from courlan_spark.plans.pipeline import (
            DedupConfig,
            DedupPipeline,
            FingerprintStore,
        )

        frame = corpus_mod.generate(
            ctx.seed, self.n_delta, first=self.n_pages,
            n_hosts=corpus_mod.n_hosts_for(self.n_pages),
        )
        delta, path = _write_pages(ctx, _truth_frame(frame), "delta")
        pipe = DedupPipeline(
            ctx.spark, ctx.fresh_dir("incremental"), DedupConfig(snapshot_mode="all")
        )
        with ctx.tracer.span("incremental") as whole:
            with ctx.tracer.span("incremental.store_load"):
                store = FingerprintStore.from_workdir(ctx.spark, ctx.state["last_pipe"].workdir)
            with ctx.tracer.span("incremental.run_incremental"):
                summary = pipe.run_incremental(_page_cols(delta), store)
        error = None
        try:
            truth = _truth_cols(ctx.state["pages"]).unionByName(_truth_cols(delta))
            _check_recall(truth, pipe.assignments())
        except CheckFailed as exc:
            error = f"incremental: {exc}"
        return [{
            "prefix": "incremental",
            "span": whole,
            "rows": self.n_delta,
            "summary": summary,
            "snapshot_bytes": _dir_bytes(pipe.workdir),
            "input_bytes": _dir_bytes(path),
            "error": error,
        }]


class UrlFrontier:
    """Raw URLs (``skew_overlay``: one mega host holds ~10% of rows)
    through check_url canonical dedup, ``frontier.ingest_urls`` and
    ``sampling.sample_per_domain``, then a closed-loop crawl: each round
    picks with ``get_download_urls``, collects, and writes the marks
    back with ``mark_visited`` into the frontier table."""

    name = "url_frontier"
    n_pages = 6000
    # each cycle ingests a fresh frontier: three cycles give three
    # throughput samples and 3 x rounds crawl-round samples
    min_cycles = 3
    rounds = 2
    warmup_rounds = 1
    max_urls = 100
    time_limit = 10.0
    sample_size = 5

    def inputs(self, seed: int, cores: int) -> pd.DataFrame:
        return corpus_mod.generate(seed, self.n_pages, workers=cores)

    def setup(self, ctx: Ctx) -> None:
        from courlan_spark.functions.url_udfs import check_url_batch
        from courlan_spark.sources.pages import skew_overlay

        path = os.path.join(ctx.workdir, "raw_urls")
        skew_overlay(
            ctx.spark.createDataFrame(
                ctx.corpus[["doc_id", "url", "text"]],
                schema="doc_id long, url string, text string",
            )
        ).select("doc_id", "url").write.mode("overwrite").parquet(path)
        raw = ctx.spark.read.parquet(path)
        urls = [r["url"] for r in raw.orderBy("doc_id").collect()]
        # driver-side reference: the same check_url_batch, one process
        expected = check_url_batch(pd.Series(urls))["norm_url"].dropna()
        ctx.state.update(
            raw=raw.select("url"),
            urls=urls,
            expected=expected.value_counts().to_dict(),
            frontier_dirs=[os.path.join(ctx.workdir, f"frontier{i}") for i in range(2)],
        )
        with ctx.tracer.span("warmup"):
            self._cycle(ctx, self.warmup_rounds)

    def rows(self, ctx: Ctx) -> int:
        return len(ctx.state["urls"])

    def cycle(self, ctx: Ctx) -> None:
        self._cycle(ctx, self.rounds)

    def verify(self, ctx: Ctx) -> None:
        "Every check runs inside the cycle."

    def layers(self, ctx: Ctx) -> list[dict]:
        return []

    def _cycle(self, ctx: Ctx, rounds: int) -> None:
        from pyspark.sql import functions as F

        from courlan_spark.functions.url_udfs import make_check_url_udf
        from courlan_spark.operators import dedup, frontier, sampling

        tracer, spark = ctx.tracer, ctx.spark
        dirs = ctx.state["frontier_dirs"]
        with tracer.span("throughput"):
            with tracer.span("frontier.canonical_dedup"):
                check = make_check_url_udf()
                canonical = dedup.exact_dedup(
                    ctx.state["raw"]
                    .withColumn("_c", check(F.col("url")))
                    .where(F.col("_c.norm_url").isNotNull())
                    .select(F.col("_c.norm_url").alias("norm_url"), "url"),
                    key_cols=["norm_url"],
                    order_cols=["url"],
                ).persist()
                counts = {
                    r["norm_url"]: r["n_copies"]
                    for r in canonical.select("norm_url", "n_copies").collect()
                }
            with tracer.span("frontier.ingest"):
                table = frontier.ingest_urls(
                    canonical.select(F.col("norm_url").alias("url"))
                )
                frontier.save_frontier(table, dirs[0])
                table = frontier.load_frontier(spark, dirs[0])
            with tracer.span("sampling.sample"):
                sample = sampling.sample_per_domain(table, self.sample_size).collect()
        if counts != ctx.state["expected"]:
            raise CheckFailed("Spark canonical URLs differ from driver check_url_batch")
        per_host: dict[str, int] = {}
        for row in sample:
            per_host[row["host"]] = per_host.get(row["host"], 0) + 1
        if per_host and max(per_host.values()) > self.sample_size:
            raise CheckFailed("sample_per_domain exceeded the per-host sample size")

        visited: set[str] = set()
        now = pd.Timestamp("2025-06-01")
        for r in range(rounds):
            now += pd.Timedelta(seconds=self.time_limit + 1)
            with tracer.span("op"):
                with tracer.span("frontier.pick"):
                    picks = frontier.get_download_urls(
                        table,
                        time_limit=self.time_limit,
                        max_urls=self.max_urls,
                        now_ts=now.to_pydatetime(),
                    ).collect()
                with tracer.span("frontier.mark"):
                    marks = spark.createDataFrame(
                        [(p["host"], p["url"][len(p["host"]):]) for p in picks],
                        "host string, path string",
                    )
                    target = dirs[(r + 1) % 2]
                    frontier.save_frontier(
                        frontier.mark_visited(table, marks, visit_ts=now.to_pydatetime()),
                        target,
                    )
                    table = frontier.load_frontier(spark, target)
            hosts = [p["host"] for p in picks]
            urls = {p["url"] for p in picks}
            if not picks:
                raise CheckFailed(f"round {r} picked nothing from an open frontier")
            if len(set(hosts)) != len(hosts):
                raise CheckFailed(f"round {r} picked two URLs of one host")
            if len(picks) > self.max_urls:
                raise CheckFailed(f"round {r} picked {len(picks)} > max_urls")
            if urls & visited:
                raise CheckFailed(f"round {r} picked an already visited URL")
            visited |= urls
        n_visited = table.where(F.col("visited")).count()
        if n_visited != len(visited):
            raise CheckFailed(
                f"frontier holds {n_visited} visited URLs after {len(visited)} picks"
            )


WORKLOADS = {w.name: w for w in (BatchDedup(), UrlFrontier())}
