"""The benchmark's workloads.

Each workload is a closed loop with one caller. ``setup`` builds the
inputs (run several times, so set-up time has a median), ``expected``
gives the oracle digest, and every iteration is ``prepare`` (untimed),
``run`` (timed; returns the triples, materialized) and ``cleanup``
(untimed). ``run_traced`` does one iteration's work with spans around the
calls into each layer and returns the triples plus the wall-clock window
(``time.time()``) of the part comparable with an untimed ``run``. After
that window it runs probes: real calls into the layers that the timed part
does not reach on this workload, so every span is measured on both.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from perfbench import inputs, oracle

_ALL = ("s", "jobs", "tasks", "shuffle_mb")
_NO_SHUFFLE = ("s", "jobs", "tasks")
# every per-layer span, in report order, with the suffixes it reports: only
# those that read non-zero on both workloads
SPANS = {
    "sources.pages": ("s",),
    "plans.extract_stage": _NO_SHUFFLE,
    "driver_queries.alias_relations": _ALL,
    "operators.edge_rules": _ALL,
    "plans.build_graph": _ALL,
    "operators.canon": _ALL,
    "plans.materialize": _NO_SHUFFLE,
    "plans.triples": _ALL,
    "plans.run_pipeline": _ALL,
    "sources.checkpoint": ("s",),
    "sources.warehouse.merge_upsert": _ALL,
    "sources.warehouse.overwrite": _ALL,
    "functions.extraction": _NO_SHUFFLE,
    "plans.resume_noop": _ALL,
}


def pipeline_patches(tr) -> list:
    """Spans and counters on the checkpoint and warehouse calls that
    ``run_pipeline`` makes; returns the undo callables."""
    from web3_knowledge_graph_spark.sources.checkpoint import CheckpointLog
    from web3_knowledge_graph_spark.sources.warehouse import Table

    real_commit, real_inputs = Table._commit, CheckpointLog.completed_inputs

    def commit(self, *args, **kwargs):
        v = real_commit(self, *args, **kwargs)
        tr.counts["sources.warehouse.commits"] += 1
        return v

    def completed_inputs(self, stage):
        tr.counts["sources.checkpoint.marks_read"] += len(self._files())
        return real_inputs(self, stage)

    return [
        tr.replace(Table, "_commit", commit),
        tr.replace(CheckpointLog, "completed_inputs", completed_inputs),
        tr.patch(Table, "merge_upsert", "sources.warehouse.merge_upsert"),
        tr.patch(Table, "overwrite", "sources.warehouse.overwrite"),
        tr.patch(CheckpointLog, "completed_inputs", "sources.checkpoint"),
        tr.patch(CheckpointLog, "mark", "sources.checkpoint"),
    ]


def undo_all(undo: list) -> None:
    for u in reversed(undo):
        u()


class FlagshipCold:
    """``flagship_triples`` with every memo cache cleared before each call,
    over the sf0.1 testdata tables (5,000 documents, pre-extracted text)."""

    name = "flagship_cold"
    pages = inputs.SF01_DOCUMENTS

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.sf_dir = inputs.SF01_DIR
        self.probe_wh = os.path.join(work, "probe_wh")

    def setup(self) -> None:
        pass  # the inputs are committed parquet files

    def expected(self) -> oracle.Digest:
        return oracle.FLAGSHIP_SF01

    def prepare(self) -> None:
        from web3_knowledge_graph_spark.driver_queries import clear_feed_cache

        clear_feed_cache()

    def run(self):
        from web3_knowledge_graph_spark.driver_queries import flagship_triples

        trip = flagship_triples(self.spark, self.sf_dir)
        trip.count()
        return trip

    def cleanup(self) -> None:
        pass

    def run_traced(self, tr):
        """The flagship's stages one at a time on the calling thread, each
        materialized inside its own span (the flagship itself overlaps them
        on helper threads). Probes: the HTML pass-through over its pages,
        and ``run_pipeline`` over its inputs plus an immediate rerun."""
        from web3_knowledge_graph_spark import driver_queries as DQ
        from web3_knowledge_graph_spark.fixtures.dictionaries import alias_dict_rows
        from web3_knowledge_graph_spark.functions.extraction import with_extracted_text
        from web3_knowledge_graph_spark.operators import canon
        from web3_knowledge_graph_spark.operators.edge_rules import feed_edge_rules
        from web3_knowledge_graph_spark.plans import pipeline as P
        from web3_knowledge_graph_spark.schemas import ALIAS_DICT
        from web3_knowledge_graph_spark.sources.feeds import all_feeds

        spark, sf = self.spark, self.sf_dir
        undo = [tr.patch(canon, "connected_components", "operators.canon")]
        try:
            t0 = time.time()
            with tr.span("sources.pages"):
                pages = DQ._pages(spark, sf).localCheckpoint()
            alias_dict = spark.createDataFrame(alias_dict_rows(), ALIAS_DICT)
            with tr.span("plans.extract_stage"):
                mentions = P.extract_stage(pages, alias_dict).localCheckpoint()
            with tr.span("driver_queries.alias_relations"):
                reg0, th0 = DQ._page_alias_relations(spark, sf, pages=pages)
                reg, th = reg0.localCheckpoint(), th0.localCheckpoint()
            # the flagship's side-table derivation (lazy expressions)
            registrations = reg.select(
                F.col("ens").alias("name"), F.col("wallet").alias("owner")
            ).withColumns(
                {
                    "resolved_address": F.col("owner"),
                    "registrant": F.col("owner"),
                    "transaction_id": F.lit(None).cast("string"),
                    "block_number": F.lit(None).cast("long"),
                }
            )
            profiles = th.groupBy("handle").agg(
                F.concat_ws(" ", F.collect_set(F.col("ens"))).alias("bio")
            ).withColumns(
                {
                    "name": F.col("handle"),
                    "verified": F.lit(None).cast("boolean"),
                    "user_id": F.lit(None).cast("string"),
                    "follower_count": F.lit(None).cast("long"),
                    "website": F.lit(None).cast("string"),
                    "language": F.lit(None).cast("string"),
                }
            )
            balances = spark.createDataFrame(
                [], "address string, contract_address string, snapshot int"
            )
            with tr.span("operators.edge_rules"):
                feeds, bases = all_feeds(spark, sf)
                rel = feed_edge_rules(feeds).persist()
                rel.count()
            with tr.span("plans.build_graph"):
                nodes, edges = P.build_graph(
                    spark, mentions, registrations, profiles, balances, alias_dict,
                    feed_edges_rel=rel,
                )
            with tr.span("plans.materialize"):
                nodes, edges = nodes.localCheckpoint(), edges.localCheckpoint()
            with tr.span("plans.triples"):
                trip = P.triples(nodes, edges)
                trip.count()
            t1 = time.time()
            undo_all(undo)

            # probe: the text is pre-extracted, so this is the pass-through
            with tr.span("functions.extraction"):
                with_extracted_text(pages).localCheckpoint()
            # probe: the same inputs through the resumable warehouse path
            side = {
                "registrations": registrations, "profiles": profiles,
                "balances": balances, "alias_dict": alias_dict, **feeds,
            }
            undo = pipeline_patches(tr)
            with tr.span("plans.run_pipeline"):
                P.run_pipeline(spark, pages, side, self.probe_wh)
            with tr.span("plans.resume_noop"):
                P.run_pipeline(spark, pages, side, self.probe_wh)
        finally:
            undo_all(undo)
            shutil.rmtree(self.probe_wh, ignore_errors=True)
        rel.unpersist()
        for b in bases:
            b.unpersist()
        return trip, t0, t1


class PipelineHtml:
    """``run_pipeline`` into a fresh warehouse over 20,000 HTML-bearing
    fixture pages (90 dates) plus the fixture side tables and feeds."""

    name = "pipeline_html"
    pages = 20_000

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_iter = 0
        self.wh = None

    def setup(self) -> None:
        parts = self.spark.sparkContext.defaultParallelism
        self.corpus = inputs.corpus_pages(self.spark, self.seed, self.pages, parts)
        self.side = inputs.side_tables(self.spark)

    def expected(self) -> oracle.Digest:
        lo = self.seed * self.pages
        return oracle.pipeline_expected(lo, lo + self.pages)

    def prepare(self) -> None:
        self.n_iter += 1
        self.wh = os.path.join(self.work, f"wh{self.n_iter}")

    def run(self):
        from web3_knowledge_graph_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.corpus, self.side, self.wh)

    def cleanup(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)

    def run_traced(self, tr):
        """``run_pipeline`` unchanged, with spans on the functions it calls,
        and an immediate rerun. Probes: the flagship's stages over this
        corpus, each materialized alone."""
        from web3_knowledge_graph_spark import driver_queries as DQ
        from web3_knowledge_graph_spark.functions.extraction import with_extracted_text
        from web3_knowledge_graph_spark.operators import canon
        from web3_knowledge_graph_spark.operators.edge_rules import feed_edge_rules
        from web3_knowledge_graph_spark.plans import pipeline as P
        from web3_knowledge_graph_spark.sources.feeds import ALL_FEEDS
        from web3_knowledge_graph_spark.sources.warehouse import Warehouse

        spark = self.spark
        undo = pipeline_patches(tr) + [
            tr.patch(P, "build_graph", "plans.build_graph"),
            tr.patch(canon, "connected_components", "operators.canon"),
        ]
        try:
            t0 = time.time()
            with tr.span("plans.run_pipeline"):
                trip = P.run_pipeline(spark, self.corpus, self.side, self.wh)
            t1 = time.time()
            # an immediate rerun finds every date done: the resume path alone
            with tr.span("plans.resume_noop"):
                P.run_pipeline(spark, self.corpus, self.side, self.wh)
        finally:
            undo_all(undo)

        # the pages are synthesized in set-up: this is a scan of them
        with tr.span("sources.pages"):
            noop(self.corpus)
        with tr.span("functions.extraction"):
            pages = with_extracted_text(self.corpus).localCheckpoint()
        with tr.span("plans.extract_stage"):
            noop(P.extract_stage(self.corpus, self.side["alias_dict"]))
        with tr.span("driver_queries.alias_relations"):
            reg, th = DQ._page_alias_relations(spark, None, pages=pages)
            reg.localCheckpoint(), th.localCheckpoint()
        with tr.span("operators.edge_rules"):
            feeds = {k: v for k, v in self.side.items() if k in ALL_FEEDS}
            rel = feed_edge_rules(feeds).persist()
            rel.count()
        rel.unpersist()
        # the graph this run wrote, read back and joined into triples
        wh = Warehouse(self.wh)
        with tr.span("plans.materialize"):
            nodes = wh.table("nodes").read(spark).localCheckpoint()
            edges = wh.table("edges").read(spark).localCheckpoint()
        with tr.span("plans.triples"):
            P.triples(nodes, edges).count()
        return trip, t0, t1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (FlagshipCold, PipelineHtml)}
