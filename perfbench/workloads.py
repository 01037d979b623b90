"""The three workloads: seeded inputs, one timed job, correctness gates and
the layers each one is traced through.

Each workload object follows one protocol, driven by ``run.py``:

  ``setup()``        builds and caches the inputs (timed as set-up; may run
                     several times, ``drop_inputs()`` releases the previous
                     ones so every repetition does the full work)
  ``prepare(i)``     untimed per-call input hand-off
  ``call(tracer)``   the timed job; ``tracer`` is None when untraced
  ``check(out)``     the correctness gates -> (failures, recall, precision)
  ``trace_layers(t)``installs the traced wrappers on the package

Only the benchmark's own inputs are ever unpersisted.  Nothing the program
caches is released between calls, so a per-call cache leak stays visible.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import nullcontext

import numpy as np
import pandas as pd

import gen
import oracle

SIZES = {
    # rows per call; "tiny" is the self-check size
    "pages_flagship": {"full": 4000, "tiny": 400},
    "names_reference": {"full": 400, "tiny": 60},
}


def _md5(pdf: pd.DataFrame) -> str:
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


class PagesFlagship:
    """``fast_lsh_dedup`` over generated pages after ``extract_text_expr``."""

    name = "pages_flagship"

    def __init__(self, spark, seed, size, work):
        self.spark, self.seed, self.n = spark, seed, SIZES[self.name][size]
        self.rows = self.n
        self.inputs: list = []
        self.first = None

    def setup(self):
        from pyspark.sql import functions as F

        from string_grouper_spark.sources.pages import (
            extract_text_expr,
            generate_pages_distributed,
        )

        pages = generate_pages_distributed(self.spark, self.n, seed=self.seed).persist()
        pages.count()
        docs = pages.select(
            F.col("page_id").alias("doc_id"),
            extract_text_expr(F.col("html")).alias("text"),
        ).persist()
        docs.count()
        self.truth = pages.select("page_id", "true_cluster").toPandas()
        self.inputs = [pages, docs]
        self.docs = docs

    def drop_inputs(self):
        for df in self.inputs:
            df.unpersist(blocking=True)

    def prepare(self, i):
        pass

    def call(self, tracer=None):
        from string_grouper_spark.config import MatchConfig
        from string_grouper_spark.plans import fast_dedup

        cfg = MatchConfig(
            min_similarity=0.8, max_n_matches=1_000_000, tfidf_matrix_dtype="float32"
        )
        return fast_dedup.fast_lsh_dedup(
            self.docs, cfg, num_perm=128, num_bands=16, n_docs=self.n
        ).toPandas()

    def check(self, labels):
        fails = []
        labels = labels.sort_values("doc_id", ignore_index=True)
        key = (_md5(labels), int(labels["component"].nunique()))
        if len(labels) != self.n or labels["doc_id"].nunique() != self.n:
            fails.append("labels do not cover every page exactly once")
        if self.first is None:
            self.first = key
        elif key != self.first:
            fails.append(f"labels changed between calls: {key} != {self.first}")
        t = self.truth.sort_values("page_id", ignore_index=True)
        found = labels["component"].to_numpy()
        # members 0-2 carry only tokenizer-erased edits (cosine 1.0), so the
        # config must find those pairs; member 3 is a 60% prefix whose cosine
        # sits near the 0.8 threshold and counts for precision only
        must = (t["page_id"] % 4 < 3).to_numpy()
        recall, precision = oracle.pair_scores(found, t["true_cluster"].to_numpy(), must)
        if recall < 0.99:
            fails.append(f"must-find pair recall {recall:.4f} < 0.99")
        return fails, recall, precision

    def trace_layers(self, tracer):
        trace_dedup_layers(tracer)


class NamesReference:
    """``match_strings`` then ``group_similar_strings`` on company names."""

    name = "names_reference"
    threshold = 0.8

    def __init__(self, spark, seed, size, work):
        self.spark, self.seed, self.n = spark, seed, SIZES[self.name][size]
        self.rows = self.n

    def setup(self):
        self.prepare(0)

    def drop_inputs(self):
        pass

    def prepare(self, i):
        # a fresh, equally sized name list per call: repeated calls on one
        # list would be served from the postings the previous call leaked
        # into the session cache, which no caller with new data sees
        self.current = pd.Series(gen.company_names(self.seed * 1000 + i, self.n))

    def call(self, tracer=None):
        from string_grouper_spark import pandas_api

        names = self.current
        matches = pandas_api.match_strings(names)
        groups = pandas_api.group_similar_strings(names)
        return matches, groups

    def check(self, out):
        matches, groups = out
        fails = []
        names = list(self.current)
        sure, border, sims = oracle.tfidf_pairs(names, self.threshold)
        got = set(zip(matches["left_index"].astype(int), matches["right_index"].astype(int)))
        missing = sure - got
        extra = got - sure - border
        if missing or extra:
            fails.append(f"pair set differs from oracle: {len(missing)} missing, {len(extra)} extra")
        li = matches["left_index"].to_numpy(dtype=int)
        ri = matches["right_index"].to_numpy(dtype=int)
        err = float(np.abs(matches["similarity"].to_numpy() - sims[li, ri]).max()) if len(li) else 0.0
        if err > 1e-9:
            fails.append(f"similarity differs from oracle by {err:.3g}")
        want = oracle.components(len(names), sure)
        have = groups["group_rep_index"].to_numpy(dtype=int)
        if not _same_partition(want, have):
            fails.append("groups differ from the oracle's connected components")
        off = {(i, j) for i, j in sure if i < j}
        got_off = {(i, j) for i, j in got if i < j}
        recall = len(off & got_off) / len(off) if off else 1.0
        ok_off = off | {(i, j) for i, j in border if i < j}
        precision = len(got_off & ok_off) / len(got_off) if got_off else 1.0
        return fails, recall, precision

    def trace_layers(self, tracer):
        from string_grouper_spark import pandas_api
        from string_grouper_spark.functions import tfidf
        from string_grouper_spark.operators import grouping, matching, similarity

        cls = pandas_api.SparkStringGrouper
        tracer.wrap(cls, "fit", "pandas_api.fit", force=False)
        tracer.wrap(cls, "get_matches", "pandas_api.get_matches", force=False)
        tracer.wrap(cls, "get_groups", "pandas_api.get_groups", force=False)
        tracer.wrap(matching, "match_edges", "operators.matching.match_edges")
        tracer.wrap(tfidf, "tfidf_postings", "functions.tfidf.postings")
        tracer.wrap(similarity, "cosine_join", "operators.similarity.cosine_join",
                    after=_after_cosine_join)
        tracer.wrap(grouping, "group_labels", "operators.grouping.group_labels")
        tracer.wrap(grouping, "connected_components", "operators.grouping.cc",
                    after=_after_cc)


class CrawlCurateSkew:
    """WARC shards -> ``warc_to_pages`` -> ``curate_pages`` -> parquet."""

    name = "crawl_curate_skew"
    shards = 4

    def __init__(self, spark, seed, size, work):
        # one size: its cost is set by the number of Spark jobs, not rows
        self.spark, self.seed = spark, seed
        self.work = os.path.join(work, "crawl")
        self.src = os.path.join(self.work, "src")
        self.first = None

    def setup(self):
        self.corpus = gen.crawl_pages(self.seed)
        self.rows = gen.write_warc_shards(self.corpus["records"], self.src, self.shards)

    def drop_inputs(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def prepare(self, i):
        # same bytes under a new path per call: a re-read of one path would be
        # answered from the url_dedup cache the previous call left behind
        self.dir = os.path.join(self.work, f"call{i}")
        shutil.copytree(self.src, os.path.join(self.dir, "warc"))

    def call(self, tracer=None):
        from string_grouper_spark.config import MatchConfig
        from string_grouper_spark.plans import curate
        from string_grouper_spark.sources import warc

        pages = warc.warc_to_pages(self.spark, os.path.join(self.dir, "warc"))
        res = curate.curate_pages(
            self.spark, pages,
            MatchConfig(min_similarity=0.8, max_n_matches=1_000_000),
            generators=("minhash", "substring"), salt_above="auto",
            max_bucket_size=gen.MAX_BUCKET_SIZE, anchor_len=48,
        )
        curated = res["curated"]
        if tracer is not None:
            with tracer.span("plans.curate.election"):
                tracer.force(curated)
        with tracer.span("plans.curate.write") if tracer is not None else nullcontext():
            curated.write.mode("overwrite").parquet(os.path.join(self.dir, "curated"))
            res["dropped"].write.mode("overwrite").parquet(os.path.join(self.dir, "dropped"))
        return res

    def check(self, res):
        fails = []
        c = res["counters"]
        curated = pd.read_parquet(os.path.join(self.dir, "curated"))
        dropped = pd.read_parquet(os.path.join(self.dir, "dropped"))
        clusters = res["clusters"].toPandas().sort_values("url", ignore_index=True)
        if c["n_input"] != self.rows:
            fails.append(f"n_input {c['n_input']} != {self.rows} records written")
        if c["n_input"] != c["n_after_quality"] + len(dropped):
            fails.append(
                f"n_input {c['n_input']} != kept {c['n_after_quality']} + dropped {len(dropped)}"
            )
        if len(clusters) != c["n_after_quality"]:
            fails.append("cluster labels do not cover the kept rows")
        bad = dropped["stage"].isna() | dropped["reasons"].isna() | (dropped["reasons"] == "")
        bad |= ~dropped["stage"].isin(["url_dedup", "quality"])
        if bad.any():
            fails.append(f"{int(bad.sum())} dropped rows without a stage and reason")
        if len(curated) != clusters["component"].nunique() or curated["url"].duplicated().any():
            fails.append("curated output is not one page per cluster")
        key = (_md5(clusters), len(curated), len(dropped))
        if self.first is None:
            self.first = key
        elif key != self.first:
            fails.append("curation output changed between calls")
        truth = self.corpus["truth"]
        t = np.array([truth.get(u, -1 - k) for k, u in enumerate(clusters["url"])])
        recall, precision = oracle.pair_scores(clusters["component"].to_numpy(), t)
        # truth pairs whose pages never reached clustering count as missed
        expect = pd.Series(list(truth.values())).value_counts()
        n_truth = int((expect * (expect - 1) // 2).sum())
        got = pd.Series(t[t >= 0]).value_counts()
        reach = int((got * (got - 1) // 2).sum())
        recall = recall * reach / n_truth if n_truth else 1.0
        return fails, recall, precision

    def trace_layers(self, tracer):
        from string_grouper_spark.functions import gopher, urls
        from string_grouper_spark.plans import curate
        from string_grouper_spark.sources import warc

        tracer.wrap(warc, "warc_to_pages", "sources.warc.to_pages")
        tracer.wrap(warc, "read_warc", "sources.warc.read", after=_rows_as("sources.warc.n_records"))
        tracer.wrap(curate, "curate_pages", "plans.curate.curate_pages", force=False)
        tracer.wrap(urls, "url_dedup", "functions.urls.url_dedup")
        tracer.wrap(gopher, "gopher_filter", "functions.gopher.gate", after=_after_gopher)
        trace_dedup_layers(tracer)


WORKLOADS = {w.name: w for w in (PagesFlagship, NamesReference, CrawlCurateSkew)}


# ---------------------------------------------------------------------------
# shared tracing of the dedup layers
# ---------------------------------------------------------------------------

def _same_partition(a, b) -> bool:
    pairs = pd.DataFrame({"a": a, "b": b}).drop_duplicates()
    return pairs["a"].is_unique and pairs["b"].is_unique


def _rows_as(key):
    def after(tracer, out, rows, args, kwargs):
        tracer.count(key, rows[0])
    return after


def _after_skew(tracer, policy, rows, args, kwargs):
    from pyspark.sql import functions as F

    tracer.count("operators.candidates.n_buckets_dropped", policy["n_buckets_dropped"])
    tracer.count("operators.candidates.n_rows_dropped", policy["n_rows_dropped"])
    prev = tracer.counts.get("operators.candidates.max_bucket_rows", 0)
    tracer.counts["operators.candidates.max_bucket_rows"] = max(prev, policy["max_sz"])
    salted = 0
    if policy["salt_above"] is not None:
        buckets = args[0]
        keys = kwargs.get("key_cols", ("band", "key"))
        salted = tracer.counter_job(
            lambda: buckets.groupBy(*keys).count()
            .where(F.col("count") > policy["salt_above"]).count()
        )
    tracer.count("operators.candidates.n_buckets_salted", salted)


def _after_cc(tracer, labels, rows, args, kwargs):
    from pyspark.sql import functions as F

    tracer.count("operators.grouping.n_edges_in", tracer.counter_job(args[0].count))
    biggest = tracer.counter_job(
        lambda: labels.groupBy("component").count().agg(F.max("count")).first()[0]
    ) or 0
    prev = tracer.counts.get("operators.grouping.max_component_size", 0)
    tracer.counts["operators.grouping.max_component_size"] = max(prev, biggest)


def _after_cosine_join(tracer, out, rows, args, kwargs):
    from pyspark.sql import functions as F

    from string_grouper_spark.functions.tfidf import DOC, GRAM

    left, right = args[0], args[1]
    self_join = kwargs.get("self_join", args[3] if len(args) > 3 else False)
    pairs = left.select(F.col(DOC).alias("l"), GRAM).join(
        right.select(F.col(DOC).alias("r"), GRAM), GRAM
    )
    if self_join:
        pairs = pairs.where(F.col("l") < F.col("r"))
    row = tracer.counter_job(
        lambda: pairs.agg(F.count("*"), F.countDistinct("l", "r")).first()
    )
    tracer.count("operators.similarity.n_gram_pairs", row[0])
    tracer.count("operators.similarity.n_doc_pairs", row[1])
    tracer.count("operators.similarity.n_pairs_kept", rows[0] // (2 if self_join else 1))


def _after_gopher(tracer, gated, rows, args, kwargs):
    from pyspark.sql import functions as F

    tracer.count("functions.gopher.n_in", rows[0])
    tracer.count("functions.gopher.n_kept", tracer.counter_job(gated.where(F.col("kept")).count))


def trace_dedup_layers(tracer):
    from string_grouper_spark.operators import candidates, dedup, grouping
    from string_grouper_spark.plans import fast_dedup

    tracer.wrap(fast_dedup, "fast_lsh_dedup", "plans.fast_dedup.fast_lsh_dedup")
    tracer.wrap(fast_dedup, "doc_term_arrays", "plans.fast_dedup.terms")
    tracer.wrap(fast_dedup, "gram_document_frequencies", "plans.fast_dedup.idf")
    tracer.wrap(fast_dedup, "doc_vectors", "plans.fast_dedup.vectors")
    tracer.wrap(fast_dedup, "lsh_band_candidates", "plans.fast_dedup.candidates",
                after=_rows_as("plans.fast_dedup.n_candidates"))
    tracer.wrap(fast_dedup, "rescore_candidates_with_vecs", "plans.fast_dedup.rescore",
                after=_rows_as("plans.fast_dedup.n_pairs_kept"))
    tracer.wrap(candidates, "auto_skew_policy", "operators.candidates.skew_policy",
                after=_after_skew, force=False)
    tracer.wrap(candidates, "substring_containment", "operators.candidates.substring",
                after=_rows_as("operators.candidates.n_containments"))
    tracer.wrap(dedup, "near_duplicate_clusters_scale",
                "operators.dedup.near_duplicate_clusters_scale")
    tracer.wrap(grouping, "connected_components", "operators.grouping.cc", after=_after_cc)
