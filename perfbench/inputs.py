"""Inputs for the two workloads.

``SF01_DIR`` holds byte-identical copies of the four sf0.1 testdata tables
that ``flagship_triples`` reads (``documents``, ``events``, ``orders``,
``customer``), so the flagship runs on the real sf0.1 distributions inside
any checkout. They are fixed: the seed has no effect on ``flagship_cold``.

``corpus_pages`` materializes the HTML-bearing fixture corpus for the page
window ``[seed * n, seed * n + n)``; ``side_tables`` builds the fixture
side tables and feeds that ``run_pipeline`` joins against.
"""

from __future__ import annotations

import os

import pandas as pd

SF01_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
SF01_DOCUMENTS = 5_000


def corpus_pages(spark, seed: int, n: int, partitions: int):
    """The fixture pages ``i in [seed * n, seed * n + n)``, generated the
    way ``corpus.pages_df`` generates ``[0, n)`` and checkpointed."""
    from web3_knowledge_graph_spark.fixtures import corpus
    from web3_knowledge_graph_spark.schemas import PAGES

    def gen(batches):
        for b in batches:
            yield pd.DataFrame([corpus.page_record(int(i)) for i in b["id"]])

    lo = seed * n
    rng = spark.range(lo, lo + n, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=PAGES).localCheckpoint()


def side_tables(spark) -> dict:
    from web3_knowledge_graph_spark.fixtures import corpus

    side = {
        k: spark.createDataFrame(getattr(corpus, f"{k}_pdf")())
        for k in ("registrations", "profiles", "balances", "alias_dict")
    }
    side.update({k: spark.createDataFrame(v) for k, v in corpus.feeds_pdf().items()})
    return side
