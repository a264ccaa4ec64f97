"""The benchmark's workloads. Each generates its inputs from the seed
(:meth:`prepare`, cached, outside set-up), loads them into a session
(:meth:`load`, part of set-up) and runs operations of a few kinds in a
closed loop (:meth:`run`, timed), each after :meth:`before` (untimed)
clears what an earlier operation left behind. :meth:`check` compares
each output with the ground truth (untimed).

Why these two:

- ``text_scan`` — the paper's own jobs on a Zipf line corpus: one large
  scan per job (text scan, Arrow histogram kernel, regex codegen, the
  Python RDD worker of ``run_mapreduce``, the single-file sink). Catalyst-
  heavy plans and checkpoints are bypassed.
- ``query_mix`` — registry queries with DuckDB twins at sf0.1, where the
  fixed cost per Spark job dominates (1 to 21 jobs per query, eager
  checkpoints and connected-components rounds inside ``Query.build``).
  ``text_scan`` bypasses all of this. Its traced run adds the MinHash-LSH
  fuzzy-dedup pipeline on planted near-duplicate chains, whose chain
  length sets the connected-components round count.
"""

from __future__ import annotations

import glob
import os
import shutil
from pathlib import Path

from perfbench import check, gen

# ``text_scan``: corpus size and the reference's split count
TEXT_MB = 4
SPLIT_NUM = 8
# the traced fuzzy-dedup pipeline: corpus size
DEDUP_DOCS = 2000
# ``query_mix``: scale factor and the mix, run in this order
QUERY_SF = 0.1
QUERY_MIX = [
    "pricing_summary", "join_region_revenue", "broadcast_join",
    "window_topk_per_group", "topk_orders", "events_session_window",
    "events_tumbling_window", "dedup_exact", "dedup_ngram_jaccard",
    "text_quality_score", "tfidf_top_terms", "cms_heavy_hitters",
    "market_share", "min_cost_supplier", "dedup_fuzzy_clusters",
    "events_drift_psi", "text_bm25_topk", "order_priority_check",
    "disjunctive_filter", "promo_revenue_share",
]


class TextScan:
    """``letter_counter``, ``word_finder`` + single-file sink and
    ``run_mapreduce`` with the reference letter map/reduce."""

    name = "text_scan"
    kinds = ["counter", "finder", "mapreduce"]
    traced_kinds = ["scan"]  # bare read_lines + noop sink, traced run only

    def prepare(self, seed: int, scratch: Path) -> None:
        self.dir = gen.text_corpus(seed, TEXT_MB)
        self.truth = gen.load_truth(self.dir)
        self.path = str(self.dir / "corpus.txt")
        self.out_dir = str(scratch / "finder_out")
        self.work_bytes = self.truth["bytes"]

    def load(self, spark) -> None:
        if not os.path.isfile(self.path):
            raise FileNotFoundError(self.path)

    def before(self, kind: str, spark) -> None:
        # the check reads what this operation wrote, not an earlier one's file
        if kind == "finder":
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def run(self, kind: str, spark, tr) -> dict:
        from map_reduce_implementation_spark.core.mapreduce import (
            MapReduceSpec, letter_counter_map, letter_counter_reduce, run_mapreduce,
        )
        from map_reduce_implementation_spark.jobs import letter_counter, word_finder
        from map_reduce_implementation_spark.jobs.letter_counter import read_lines
        from map_reduce_implementation_spark.sources.tables import write_single_text_file

        if kind == "counter":
            with tr.span("jobs.letter_counter"):
                rows = letter_counter(spark, self.path).collect()
            return {"rows": rows}
        if kind == "finder":
            with tr.span("jobs.word_finder"):
                df = word_finder(spark, self.path, self.truth["finder_word"])
            with tr.span("sources.write_single_text_file"):
                write_single_text_file(df, self.out_dir)
            return {}
        if kind == "mapreduce":
            spec = MapReduceSpec(self.path, SPLIT_NUM, letter_counter_map, letter_counter_reduce)
            with tr.span("core.run_mapreduce") as sp:
                res = run_mapreduce(spark, spec)
            if sp is not None:
                sp.counts["map_partitions_reported"] = res.map_partitions
                sp.counts["processing_time_us"] = res.processing_time_us
            return {"lines": res.lines}
        if kind == "scan":
            with tr.span("sources.read_lines"):
                read_lines(spark, self.path).write.format("noop").mode("overwrite").save()
            return {}
        raise ValueError(kind)

    def check(self, kind: str, out: dict, tr) -> str | None:
        if kind == "counter":
            return check.letter_rows(out["rows"], self.truth)
        if kind == "mapreduce":
            return check.mapreduce_lines(out["lines"], self.truth)
        if kind == "finder":
            parts = glob.glob(os.path.join(self.out_dir, "part-*"))
            n_lines = n_bytes = 0
            for p in parts:
                with open(p, "rb") as f:
                    data = f.read()
                n_bytes += len(data)
                n_lines += data.count(b"\n")
            if tr.enabled:
                sp = tr.last("sources.write_single_text_file")
                sp.counts["bytes_written"] = n_bytes
                sp.counts["finder_lines"] = n_lines
            if len(parts) != 1:
                return f"finder wrote {len(parts)} files, expected one"
            return check.finder_count(n_lines, self.truth, "written file")
        return None


class QueryMix:
    """Registry queries with DuckDB twins: ``Query.build`` then execution,
    one client in a closed loop, the cache cleared between queries.

    The traced run adds the fuzzy-dedup pipeline over a planted-chain
    corpus (documents -> w=5 shingles -> MinHash-LSH pairs -> connected
    components), checked against the planted clusters, and the bare
    Arrow MinHash kernel, so the ``dedup`` layer is measured by direct
    calls as well as inside ``Query.build``."""

    name = "query_mix"
    kinds = QUERY_MIX
    traced_kinds = ["fuzzy_dedup", "minhash_signatures"]

    def prepare(self, seed: int, scratch: Path) -> None:
        self.dir = gen.star_tables(seed, QUERY_SF, QUERY_MIX)
        self.truth = gen.load_truth(self.dir)
        self.dedup_dir = gen.dedup_corpus(seed, DEDUP_DOCS)
        self.dedup_truth = gen.load_truth(self.dedup_dir)

    def load(self, spark) -> None:
        from map_reduce_implementation_spark.sources.tables import TABLES, table
        from map_reduce_implementation_spark.suite import all_queries

        self.registry = all_queries()
        for t in TABLES:
            table(spark, str(self.dir), t)
        self.docs = spark.read.parquet(str(self.dedup_dir / "documents.parquet"))

    def before(self, kind: str, spark) -> None:
        spark.catalog.clearCache()

    def run(self, kind: str, spark, tr) -> dict:
        if kind in self.traced_kinds:
            return self._dedup(kind, tr)
        with tr.span("query.build"):
            df = self.registry[kind].build(spark, str(self.dir))
        with tr.span("query.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("query.exec"):
            pdf = df.toPandas()
        return {"columns": df.columns, "pdf": pdf}

    def _dedup(self, kind: str, tr) -> dict:
        from pyspark.sql import functions as F

        from map_reduce_implementation_spark.operators.dedup import (
            connected_components, minhash_lsh_pairs, minhash_signatures_arrow,
        )
        from map_reduce_implementation_spark.suite.dedup import _shingles_of

        with tr.span("query.shingles_of"):
            shingles = _shingles_of(self.docs, 5)
        if kind == "minhash_signatures":
            with tr.span("dedup.minhash_signatures_arrow"):
                sig = minhash_signatures_arrow(shingles, 128, bands=32)
                sig.write.format("noop").mode("overwrite").save()
            return {}
        with tr.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(shingles)
        edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        nodes = self.docs.select(F.col("doc_id").alias("node"))
        with tr.span("dedup.connected_components"):
            labels = connected_components(edges, nodes).collect()
        return {"labels": labels, "pairs": pairs}

    def check(self, kind: str, out: dict, tr) -> str | None:
        if kind == "minhash_signatures":
            return None
        if kind == "fuzzy_dedup":
            if tr.enabled:
                tr.last("dedup.minhash_lsh_pairs").counts["candidate_pairs"] = out["pairs"].count()
                tr.last("dedup.connected_components").counts["clusters"] = len(
                    {r[1] for r in out["labels"]}
                )
            return check.clusters(out["labels"], self.dedup_truth)
        return check.query_result(out["columns"], out["pdf"], self.truth["oracles"][kind])


WORKLOADS = {w.name: w for w in (TextScan, QueryMix)}
