"""``analytics`` workload: registered queries over the sf0.01 fixture and a
seeded copy of its corpus, each checked against its DuckDB oracle.

A pass runs every query in ``QUERIES_RUN`` once, in an order the seed
shuffles, and collects each result to the driver (``toPandas``). The
list mixes JVM-only relational and window plans (group ``queries.sql``),
which have no Python node, with corpus-curation operators (group
``queries.curation``), whose Python/Arrow kernels and similarity pair
joins do most of their work. The corpus is the fixture's ``documents``
with a stated share of planted exact and near (token-edited) duplicates,
which sets how much work the dedup operators share; the seed picks
which documents are copied.

The set-up ends with a warm-up pass, the same queries in the same order
on the sf0.001 fixture, also checked against its oracles: it compiles
and warms every plan of the pass at a tenth of the cost of a pass at
sf0.01, so a timed query is not the first of its kind in the JVM.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

import datagen
import oracle

SF = "0.01"
WARM_SF = "0.001"
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
# JVM-only plans (joins, windows, two-level operators): the control on
# which a Python-kernel change should show no change.
SQL_QUERIES = [
    "q1_pricing_summary",
    "q21_waiting_suppliers",
    "window_topk_per_group",
    "events_sessionize",
    "events_quantile_normalize",
    "part_abc_classification",
]
# Corpus curation: hash dedup, span and pair joins, and the Arrow
# winnowing kernel (the workload's Python work).
CURATION_QUERIES = [
    "exact_dedup",
    "doc_duplicate_spans",
    "jaccard_prefix_filter_pairs",
    "doc_winnow_fingerprint",
]
QUERIES_RUN = SQL_QUERIES + CURATION_QUERIES
# Ops whose output rows are verified pairs from a candidate join.
PAIR_QUERIES = {"jaccard_prefix_filter_pairs"}


class Workload:
    pair_queries = PAIR_QUERIES
    throughput_groups = {"queries.sql", "queries.curation"}

    def __init__(self, work: Path, seed: int):
        from dynamic_etl_pipeline_spark.queries import ORACLES

        self.work = work
        self.data = str(work / "data")
        sizes = datagen.write_tables(self.data, seed, SF,
                                     EXACT_DUP_SHARE, NEAR_DUP_SHARE)
        rng = np.random.default_rng(seed)
        self.order = [QUERIES_RUN[i] for i in rng.permutation(len(QUERIES_RUN))]
        self.warm_data = str(datagen.fixture_dir(WARM_SF))
        self.want, self.warm_want = ({}, {})
        for data, want in ((self.data, self.want), (self.warm_data, self.warm_want)):
            con = oracle.connect(data)
            want.update({q: con.execute(ORACLES[q]).fetchdf() for q in QUERIES_RUN})
            con.close()
        self.facts = {"sf": SF, "tables": sizes,
                      "exact_dup_share": EXACT_DUP_SHARE,
                      "near_dup_share": NEAR_DUP_SHARE,
                      "warm_up_sf": WARM_SF, "query_order": self.order}
        self.result_rows: dict[str, int] = {}

    def catalog(self, spark):
        from dynamic_etl_pipeline_spark.catalog import load_tables

        self.spark = spark
        load_tables(spark, self.data)

    def _query(self, h, name: str, warm: bool = False) -> None:
        from dynamic_etl_pipeline_spark.queries import QUERIES

        data, want = ((self.warm_data, self.warm_want) if warm
                      else (self.data, self.want))
        group = ("setup" if warm else "queries.sql" if name in SQL_QUERIES
                 else "queries.curation")
        got = h.call(name, group,
                     lambda: QUERIES[name](self.spark, data).toPandas(),
                     check=lambda df: oracle.mismatch(df, want[name]),
                     items=1)
        if got is not None and not warm:
            self.result_rows[name] = len(got)

    def warm_op(self, h) -> None:
        for name in self.order:
            self._query(h, name, warm=True)

    def run_pass(self, h) -> None:
        for name in self.order:
            self._query(h, name)

    def finish(self, h) -> None:
        pass

    def layer_facts(self) -> dict:
        return {"result_rows": self.result_rows}
