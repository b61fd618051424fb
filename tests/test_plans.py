"""Plan-quality regression tests: the plan itself is an assertion.

At 100 TB these properties are the difference between touching one
partition and scanning the table — so they are tested, not hoped for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unitdb_spark.core.model import Query
from unitdb_spark.engine import Engine
from unitdb_spark.plans.explain import (
    formatted_plan,
    has_python_eval,
    scan_info,
    shuffle_count,
)

T0 = 1_700_000_000.0


@pytest.fixture()
def store(spark, tmp_path):
    from unitdb_spark.core.model import Entry

    eng = Engine.open(spark, str(tmp_path / "plans-store"))
    for i in range(50):
        eng.put_entry(Entry(f"t.{i % 5}.x", b"p%d" % i), ts=T0 + i)
    eng.flush()
    return eng


class TestGetPlan:
    def test_partition_pruning_on_contract(self, store):
        info = scan_info(store.get_df(Query("t.1.x"), now=T0 + 100))
        assert any("contract" in f for f in info["partition_filters"])

    def test_static_topic_pushdown(self, store):
        info = scan_info(store.get_df(Query("t.1.x"), now=T0 + 100))
        assert any("StringStartsWith(topic,t.1.x)" in f for f in info["pushed_filters"])

    def test_wildcard_prefix_pushdown(self, store):
        info = scan_info(store.get_df(Query("t.1..."), now=T0 + 100))
        assert any("StringStartsWith(topic,t.1.)" in f for f in info["pushed_filters"])

    def test_ttl_filter_pushdown(self, store):
        info = scan_info(store.get_df(Query("t.1.x"), now=T0 + 100))
        assert any("expires_at" in f for f in info["pushed_filters"])

    def test_last_window_ts_pushdown(self, store):
        info = scan_info(store.get_df(Query("t.1.x", last="1h"), now=T0 + 100))
        assert any("GreaterThanOrEqual(ts" in f for f in info["pushed_filters"])

    def test_no_shuffle_in_get(self, store):
        # newest-first top-K = TakeOrderedAndProject, not a sort shuffle
        assert shuffle_count(store.get_df(Query("t.1.x"), now=T0 + 100)) == 0

    def test_no_python_udf_in_get(self, store):
        assert not has_python_eval(store.get_df(Query("t.*.x"), now=T0 + 100))


class TestGetManyPlan:
    def test_top_k_below_the_shuffle(self, store):
        """Each task keeps its newest max(limits) rows per query before
        the exchange on query_id: a Partial WindowGroupLimit runs below
        the Exchange, the Final one above it."""
        from unitdb_spark.operators.get import apply_get_many

        qs = [Query("t.1.x", limit=3), Query("t.*.x", limit=5)]
        df = apply_get_many(store.table.read(), qs, now=T0 + 100)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0].splitlines()
        exchange = next(i for i, l in enumerate(final) if "Exchange hashpartitioning(query_id" in l)
        partial = next(i for i, l in enumerate(final) if "WindowGroupLimit" in l and "Partial" in l)
        assert exchange < partial  # the tree prints parents above children


class TestAnalyticsPlans:
    def test_broadcast_join_for_small_dims(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        plan = formatted_plan(
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey).groupBy(
                "p_brand"
            ).count()
        )
        assert "BroadcastHashJoin" in plan

    def test_column_pruning_reaches_scan(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        info = scan_info(li.select("l_orderkey", "l_quantity"))
        assert info["read_schema"], "no scan found"
        rs = info["read_schema"][0]
        assert "l_orderkey" in rs and "l_extendedprice" not in rs

    def test_dedup_has_no_python_stage(self, spark):
        from unitdb_spark.operators.dedup import exact_dedup

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert not has_python_eval(exact_dedup(docs))

    def test_q6_all_predicates_pushed(self, spark):
        """SCALE.md §4: a selective filter+agg pushes every predicate
        into the Parquet scan and reads only the projected columns."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q6"](spark, "/root/testdata/sf0.001")
        info = scan_info(df)
        pushed = ";".join(info["pushed_filters"])
        for frag in ("l_shipdate", "l_discount", "l_quantity"):
            assert frag in pushed
        rs = info["read_schema"][0]
        assert "l_orderkey" not in rs  # pruned

    def test_decontaminate_broadcasts_benchmark(self, spark):
        """SCALE.md §4: the benchmark gram set is the broadcast side;
        the corpus gram stream is never exchanged for the join (its
        only shuffle is the per-doc hit-count aggregation)."""
        from unitdb_spark.operators.decontam import decontaminate

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bench = docs.filter("doc_id % 41 = 0")
        out = decontaminate(docs, bench)
        assert "BroadcastHashJoin" in formatted_plan(out)
        assert not has_python_eval(out)

    def test_pack_sequences_single_shuffle(self, spark):
        """SCALE.md §4: shard-local packing = exactly one exchange (the
        shard partitioning for the window), never a global sort."""
        from unitdb_spark.operators.packing import pack_sequences

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = pack_sequences(docs, ctx_tokens=256, n_shards=8)
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)

    def test_pii_scrub_no_shuffle_no_python(self, spark):
        from unitdb_spark.functions.text import pii_email_count, scrub_pii

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = docs.select(
            "doc_id", pii_email_count("text").alias("n"), scrub_pii("text").alias("t")
        )
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)

    def test_cosine_topk_broadcasts_queries_not_corpus(self, spark):
        """SCALE.md §4: ANN exact search broadcasts the query side; the
        corpus is never exchanged for the join (the only exchanges are
        the deliberate spread-small-input repartition and the per-query
        ranking window)."""
        from unitdb_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = formatted_plan(cosine_topk(emb, q, k=5))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert not has_python_eval(cosine_topk(emb, q, k=5))


class TestTpchPlans:
    """New round-2 TPC-H shapes: the physical strategy is the point."""

    def test_q4_uses_semi_join(self, spark):
        import __spark_entry__ as entry

        plan = formatted_plan(entry.queries()["tpch_q4"](spark, "/root/testdata/sf0.001"))
        assert "LeftSemi" in plan  # EXISTS never materializes lineitem columns

    def test_q10_broadcasts_nation(self, spark):
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q10"](spark, "/root/testdata/sf0.001")
        assert "BroadcastHashJoin" in formatted_plan(df)
        assert not has_python_eval(df)

    def test_q19_one_broadcast_join_no_union(self, spark):
        """Disjunctive predicates stay one codegen'd filter after the
        broadcast join — not a union of per-branch scans."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q19"](spark, "/root/testdata/sf0.001")
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "Union" not in plan
        assert not has_python_eval(df)

    def test_q18_having_aggregates_before_joins(self, spark):
        """The quantity rollup happens on lineitem alone (map-side
        partials), so the joins see only qualifying orderkeys."""
        import __spark_entry__ as entry

        df = entry.queries()["tpch_q18"](spark, "/root/testdata/sf0.001")
        assert not has_python_eval(df)

    def test_q5_broadcasts_dims_no_nested_loop(self, spark):
        """Nation/region ride as broadcasts; the facts join hash-wise —
        a nested-loop anywhere means the same-nation filter leaked into
        a join condition without an equi key."""
        import __spark_entry__ as entry

        plan = formatted_plan(entry.queries()["tpch_q5"](spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_q21_semi_and_anti_joins(self, spark):
        """EXISTS/NOT EXISTS compile to LeftSemi/LeftAnti — never a
        count-subquery or a nested loop over lineitem."""
        import __spark_entry__ as entry

        plan = formatted_plan(entry.queries()["tpch_q21"](spark, "/root/testdata/sf0.001"))
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_q22_scalar_subquery_is_broadcast(self, spark):
        """The avg-balance scalar rides as a one-row broadcast; the
        dormancy check is a LeftAnti, not a per-row subquery."""
        import __spark_entry__ as entry

        plan = formatted_plan(entry.queries()["tpch_q22"](spark, "/root/testdata/sf0.001"))
        assert "LeftAnti" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestPipelinePlans:
    """Round-2 additions: classifier / bloom decontam plan shapes."""

    def test_classifier_hash_path_zero_shuffle_zero_python(self, spark):
        """SCALE.md: the no-model scorer is ONE codegen projection."""
        from unitdb_spark.operators.classify import classify_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = classify_score(docs, n_buckets=4096)
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)

    def test_bloom_decontam_single_corpus_shuffle(self, spark):
        """SCALE.md: k Bloom probes are k broadcast joins — the only
        corpus-side exchange is the final per-doc aggregation. The
        bounded benchmark side may exchange freely (it's tiny — the
        gram-distinct subtree runs once for the bitset and once for the
        confirm join, 5 bounded exchanges total), so the pin is the
        known layout: 5 benchmark-side + 1 corpus-side."""
        from unitdb_spark.operators.decontam import bloom_decontaminate

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bench = docs.filter("doc_id % 41 = 0")
        out = bloom_decontaminate(docs, bench, m_bits=1 << 16, k=2)
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 6


class TestRound3Plans:
    def _events(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=17 * i), "t%d" % (i % 3), float(i % 7))
            for i in range(200)
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )

    def test_ohlc_single_shuffle_no_python(self, spark):
        """SCALE.md: one groupBy exchange; min_by/max_by partial-agg
        map-side so the exchange carries one row per (key, bucket)."""
        from unitdb_spark.operators.timeseries import ohlc

        out = ohlc(self._events(spark), ["event_type"], bucket="6 hours")
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)
        assert "partial_min" in formatted_plan(out) or "partial" in formatted_plan(out)

    def test_zscore_single_window_shuffle(self, spark):
        """SCALE.md: one window shuffle+sort per key; ROWS frame keeps
        evaluation streaming (a RunningWindowFunction / bounded frame,
        never a full-partition buffer)."""
        from unitdb_spark.operators.timeseries import trailing_zscore

        out = trailing_zscore(
            self._events(spark), ["event_type"], ["ts", "event_id"], "value"
        )
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)

    def test_tfidf_window_group_limit_and_no_python(self, spark):
        """SCALE.md: the per-doc top-k cut runs as WindowGroupLimit
        BEFORE the exchange, so the rank window never materializes the
        full (doc, term) score list per task."""
        from unitdb_spark.operators.tfidf import tfidf_top_terms

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = tfidf_top_terms(docs, k=3)
        plan = formatted_plan(out)
        assert "WindowGroupLimit" in plan
        assert not has_python_eval(out)

    def test_gap_fill_no_python_and_bounded_exchanges(self, spark):
        from unitdb_spark.operators.timeseries import gap_fill

        out = gap_fill(self._events(spark), ["event_type"], step_minutes=60)
        assert not has_python_eval(out)
        # bounds agg, grid co-partition for the join, bucket agg, ffill
        # window — every exchange carries grid- or bucket-sized rows,
        # never the raw event stream twice
        assert shuffle_count(out) <= 4


class TestBucketedJoin:
    def test_same_bucket_spec_join_has_no_exchange(self, spark):
        """SCALE.md: two tables bucketed on the same key with the same
        bucket count co-join with NO Exchange on either side — the
        catalog bucket spec satisfies the join's distribution
        requirement. Broadcast is disabled so the test proves
        bucketing, not small-table luck."""
        from unitdb_spark.sources.bucketed import read_table, write_bucketed

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            facts = spark.range(0, 1000).selectExpr(
                "id % 50 AS contract", "id AS seq", "id * 2 AS v"
            )
            dims = spark.range(0, 50).selectExpr(
                "id AS contract", "concat('tenant-', id) AS name"
            )
            write_bucketed(facts, "bkt_facts", ["contract"], n_buckets=8,
                           sort_cols=["contract"])
            write_bucketed(dims, "bkt_dims", ["contract"], n_buckets=8,
                           sort_cols=["contract"])
            joined = read_table(spark, "bkt_facts").join(
                read_table(spark, "bkt_dims"), "contract"
            )
            assert shuffle_count(joined) == 0
            assert joined.count() == 1000
            # control: the same join on unbucketed frames shuffles
            plain = facts.join(dims, "contract")
            assert shuffle_count(plain) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS bkt_facts")
            spark.sql("DROP TABLE IF EXISTS bkt_dims")


class TestRound4Plans:
    def test_kmv_window_group_limit_and_bounded_shuffles(self, spark):
        """SCALE.md: the bottom-k cut runs as WindowGroupLimit (map-side
        partial top-k BEFORE the exchange); two exchanges total
        (distinct + per-key window)."""
        from unitdb_spark.operators.sketch import kmv_distinct

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = kmv_distinct(ev, ["event_type"], "user_id", k=16)
        plan = formatted_plan(out)
        assert "WindowGroupLimit" in plan
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 3

    def test_winnow_fingerprints_two_exchanges_no_python(self, spark):
        """SCALE.md: everything before the distinct is per-document —
        one window shuffle on doc_id, one distinct; the selection rides
        a single integer window-min (no struct comparator, no UDF)."""
        from unitdb_spark.operators.winnow import winnow_fingerprints

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = winnow_fingerprints(docs, k=5, w=4)
        assert shuffle_count(out) <= 2
        assert not has_python_eval(out)

    def test_media_meta_one_id_shuffle_no_python_udf(self, spark):
        """SCALE.md: header parsing is mapInPandas (ArrowEval — the
        sanctioned batch path, not BatchEvalPython) and BLOBS never
        shuffle. Since round 9 the fixture builder deliberately
        repartitions the bare doc_id relation BEFORE the per-blob
        kernel (_media_ids — the testdata parquet arrives as 1-2
        splits, which serialized every media stage), so the plan
        carries exactly ONE exchange, and it moves only the 8-byte id
        column, never a blob."""
        from unitdb_spark.functions.multimodal import (
            extract_media_meta,
            synthetic_media,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = extract_media_meta(synthetic_media(docs))
        assert shuffle_count(out) == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the exchange is upstream of blob construction: RoundRobin
        # over the bare id projection
        assert "RoundRobinPartitioning" in plan
        assert not has_python_eval(out)

    def test_doc_pipeline_fused_filters_no_python(self, spark):
        """The composed prep pipeline: all three gates (C4, lang,
        quality) fold into scan-side codegen (no Python stage anywhere);
        exchanges are bounded by the dedup keeper + decontam aggs."""
        import __spark_entry__ as entry

        out = entry.queries()["doc_pipeline"](spark, "/root/testdata/sf0.001")
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 7


class TestRound4LatePlans:
    def test_gopher_rules_single_codegen_projection(self, spark):
        """SCALE.md: all seven rules + keep fold into one projection —
        zero exchanges, zero Python, all-integer arithmetic."""
        from unitdb_spark.functions.text import gopher_rules

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        rules = gopher_rules("text")
        out = docs.select("doc_id", *[v.alias(k) for k, v in rules.items()])
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)

    def test_bm25_takeordered_not_global_window(self, spark):
        """SCALE.md: the global top-k is TakeOrderedAndProject (per-
        partition heaps), never a single-task global-window exchange
        over all scored docs."""
        from unitdb_spark.operators.tfidf import bm25_search

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = bm25_search(docs, ["spark", "query"], topk=10)
        plan = formatted_plan(out)
        assert "TakeOrderedAndProject" in plan
        assert not has_python_eval(out)

    def test_postings_bounded_exchanges_no_python(self, spark):
        """SCALE.md: explode feeds the (doc, term) partial agg before
        any exchange; df + per-term rank ride the term key."""
        from unitdb_spark.operators.tfidf import impact_postings

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = impact_postings(docs, k=3, min_df=5)
        # tf agg + df distinct + df count + rank window — the df branch
        # re-tokenizes rather than persisting (tfidf module trade-off)
        assert shuffle_count(out) <= 4
        plan = formatted_plan(out)
        assert not has_python_eval(out)
        assert "HashAggregate" in plan  # partial agg, not raw explode
        # per-term top-k cuts map-side BEFORE the rank exchange
        assert "WindowGroupLimit" in plan
        assert "BroadcastHashJoin" in plan  # df (vocab-sized) broadcasts

    def test_semdedup_centroids_broadcast_pairs_blocked(self, spark):
        """SCALE.md: the k-means assignment broadcasts centroids (the
        corpus never shuffles to assign) and the pair scan joins on the
        cell key — a SortMerge/Hash join on cell, not a cartesian."""
        from unitdb_spark.operators.semdedup import semdedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = semdedup(emb, k=4, n_iters=0, threshold=0.2)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        # the per-cell self-join is a KEYED join (hash/sort-merge/
        # broadcast-hash on the cell column); the only nested-loop
        # allowed is the centroid argmin over k broadcast rows
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )
        assert not has_python_eval(out)

    def test_hist_quantiles_one_event_sized_exchange(self, spark):
        """SCALE.md: the only event-sized exchange is the (key, bucket)
        histogram agg; windows + quantile explode run over the tiny
        histogram relation."""
        from unitdb_spark.operators.sketch import histogram_quantiles

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = histogram_quantiles(ev, "value", ["event_type"], [0.5, 0.9])
        assert shuffle_count(out) <= 3
        assert not has_python_eval(out)
        assert "HashAggregate" in formatted_plan(out)


class TestAssignmentPlans:
    def test_nearest_cell_assign_is_a_pure_projection(self, spark):
        """SCALE.md: for k <= the inline cap, IVF/k-means assignment
        inlines centroid literals — zero exchanges, zero joins, no
        Python; the corpus is never shuffled to assign."""
        from unitdb_spark.operators.similarity import ivf_assign

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        assigned, _cents = ivf_assign(emb, n_cells=8)
        assert shuffle_count(assigned) == 0
        plan = formatted_plan(assigned)
        assert "Join" not in plan
        assert not has_python_eval(assigned)


class TestSubstringDupPlan:
    def test_hash_before_explode_and_no_python(self, spark):
        """SCALE.md: the k-gram hash is computed inside the transform
        lambda BEFORE posexplode, so the exploded relation (and every
        shuffle) carries 8-byte longs — gram strings never leave the
        map-side projection. All-JVM, bounded exchange count."""
        from unitdb_spark.operators.substring import substring_dup_stats

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = substring_dup_stats(docs, k=8, min_occ=2)
        plan = formatted_plan(out)
        assert not has_python_eval(out)
        # the explode's generator output is the hash array, not text
        assert "posexplode" not in plan or "gram_hash" in plan
        assert shuffle_count(out) <= 7

    def test_dup_gram_inventory_single_agg_shuffle(self, spark):
        from unitdb_spark.operators.substring import duplicated_grams

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = duplicated_grams(docs, k=8, min_occ=2)
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 2  # partial-agg + final on gram_hash


class TestWeightedSamplePlan:
    def test_global_cut_is_take_ordered(self, spark):
        """SCALE.md: the smallest-n cut compiles to
        TakeOrderedAndProject (per-partition heaps, no global sort, no
        single-task window on the data-sized relation)."""
        from unitdb_spark.operators.sampling import weighted_sample

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = weighted_sample(docs.select("doc_id", "n_chars"), n=20,
                              weight_col="n_chars", key_col="doc_id")
        plan = formatted_plan(out)
        assert "TakeOrderedAndProject" in plan
        assert not has_python_eval(out)


class TestZorderPlan:
    def test_key_is_single_codegen_projection(self, spark):
        from unitdb_spark.operators.zorder import zorder_key

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = ev.select("event_id", zorder_key("user_id", "event_id").alias("z"))
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)
        # formatted mode marks codegen'd nodes with a leading *
        assert "* Project" in formatted_plan(out)


class TestStratifiedSamplePlan:
    def test_cut_is_window_group_limit(self, spark):
        """SCALE.md: the per-stratum rank cut runs as WindowGroupLimit
        (map-side partial top-n per stratum before the exchange)."""
        from unitdb_spark.operators.sampling import weighted_sample_per_stratum

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = weighted_sample_per_stratum(
            docs.select("doc_id", "source", "n_chars"),
            n_per=5, weight_col="n_chars", key_col="doc_id",
            strata_col="source",
        )
        assert "WindowGroupLimit" in formatted_plan(out)
        assert not has_python_eval(out)


class TestSessionPlans:
    """Plan pins for the round-4 continuation operators."""

    def test_scd2_single_exchange(self, spark):
        from unitdb_spark.operators.timeseries import scd2_intervals

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = scd2_intervals(ev, ["user_id"], "ts", "event_type",
                             order_cols=["event_id"])
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)

    def test_cusum_single_exchange(self, spark):
        from unitdb_spark.operators.timeseries import cusum

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = cusum(ev, ["event_type"], ["ts", "event_id"], "value")
        assert shuffle_count(out) <= 2  # mean window + running windows
        assert not has_python_eval(out)

    def test_interval_lookup_single_exchange(self, spark):
        from unitdb_spark.operators.asof import interval_lookup
        from unitdb_spark.operators.timeseries import scd2_intervals

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        ivl = scd2_intervals(ev, ["user_id"], "ts", "event_type",
                             order_cols=["event_id"])
        probes = ev.select("event_id", "user_id",
                           F.unix_micros("ts").alias("t_us"))
        out = interval_lookup(probes, ivl, by=["user_id"], t_col="t_us",
                              attr_cols=["attr"])
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 3  # scd2's + the union window

    def test_hamming_topk_no_corpus_shuffle_no_python(self, spark):
        from unitdb_spark.operators.similarity import hamming_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = hamming_topk(emb, q, dim=64, k=5)
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert not has_python_eval(out)


class TestNewFamiliesPlans:
    """Plan pins for the setjoin / linkage / graph operators."""

    def test_prefix_jaccard_bounded_exchanges_no_python(self, spark):
        from unitdb_spark.operators.setjoin import prefix_jaccard_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = prefix_jaccard_pairs(docs, threshold=0.5)
        # token-df agg, df join-back, per-doc rank window, candidate
        # self-join, pair distinct, two verify id-joins -- bounded,
        # and every exchange key is a token / doc id, never a cross
        assert shuffle_count(out) <= 9
        assert not has_python_eval(out)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_link_records_block_join_no_cross(self, spark):
        from unitdb_spark.operators.linkage import link_records

        c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        dirty = c.select(
            F.col("c_custkey").alias("d_id"),
            F.lower("c_name").alias("d_name"),
            "c_nationkey", "c_mktsegment",
        )
        out = link_records(
            dirty, c, ["c_nationkey", "c_mktsegment"], "d_id",
            "c_custkey", "d_name", "c_name",
        )
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert not has_python_eval(out)

    def test_pagerank_no_python_no_cross(self, spark):
        from unitdb_spark.operators.graph import cooccurrence_edges, pagerank

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = pagerank(
            cooccurrence_edges(li, "l_orderkey", "l_partkey"), iterations=2
        )
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)


class TestSessionPlans4c:
    """Plan pins for the second half of the round-4c additions."""

    def test_readability_zero_shuffle_codegen(self, spark):
        from unitdb_spark.functions.text import readability_scores

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = docs.select("doc_id", *readability_scores("text"))
        assert shuffle_count(out) == 0
        assert not has_python_eval(out)

    def test_keyphrases_all_doc_keyed_no_python(self, spark):
        from unitdb_spark.operators.keyphrase import rake_keyphrases

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = rake_keyphrases(docs)
        assert not has_python_eval(out)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan

    def test_profile_distance_bounded_exchanges(self, spark):
        from unitdb_spark.operators.timeseries import hourly_profile_distance

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = hourly_profile_distance(ev)
        # (key,bucket) agg, key distinct for the grid, the grid join,
        # the 24-row corpus profile join, final key rollup
        assert shuffle_count(out) <= 7
        assert not has_python_eval(out)

    def test_related_items_blocked_join_no_cross(self, spark):
        from unitdb_spark.operators.graph import related_items

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = related_items(li, "l_orderkey", "l_partkey", k=5)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)


class TestSessionPlans4d:
    def test_abtest_unit_sized_exchange(self, spark):
        from unitdb_spark.operators.evaluation import ab_test_report

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = ab_test_report(
            ev, "user_id", F.col("event_type") == "purchase",
            (F.col("user_id") % 2).cast("int"),
        )
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 3  # unit agg + 1-row joins

    def test_rfm_single_customer_agg(self, spark):
        from unitdb_spark.operators.olap import rfm_segments

        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = rfm_segments(orders)
        assert not has_python_eval(out)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan  # ref date is a 1-row bcast

    def test_forecast_backtest_bounded(self, spark):
        from unitdb_spark.operators.timeseries import seasonal_naive_backtest

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = seasonal_naive_backtest(ev)
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 4

    def test_concentration_takeordered_pinned(self, spark):
        from unitdb_spark.operators.profile import concentration_report

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = formatted_plan(concentration_report(ev, "user_id"))
        assert "TakeOrderedAndProject" in plan
        # the audit itself must not global-sort the counts relation
        assert plan.count("Sort ") <= 1


class TestVacuumPlans:
    """Round-5 join-based tombstone purge: the planning path must stay
    distributed for a mass delete — no IN-list of seqs, no collect of
    the tombstone relation; the only driver-sized thing is the
    affected-partition list."""

    def test_affected_partitions_is_broadcast_range_join(self, spark):
        from unitdb_spark.engine import _tombstone_affected

        ranges = spark.createDataFrame(
            [(1, "2024-01-01", 1, 100)], "contract int, p_date string, lo long, hi long"
        )
        tombs = spark.range(1000).selectExpr("id AS seq")
        plan = formatted_plan(_tombstone_affected(ranges, tombs))
        # the tiny partition-range aggregate is the broadcast side of a
        # non-equi join; the tombstone relation streams
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_partition_kept_is_anti_join_not_in_list(self, spark):
        from unitdb_spark.engine import _partition_kept

        pdf = spark.range(100).selectExpr("id AS seq", "id AS payload")
        tombs = spark.range(10).selectExpr("id * 7 AS seq")
        df = _partition_kept(pdf, tombs)
        plan = formatted_plan(df)
        assert "LeftAnti" in plan
        assert " IN (" not in plan  # never a driver-built literal list
        got = sorted(r["seq"] for r in df.collect())
        assert got == sorted(set(range(100)) - {i * 7 for i in range(10)})


class TestBucketedJoinReadiness:
    """is_colocated_join_ready: the pre-flight layout check (the
    no-Exchange join plan itself is pinned in TestPlans above)."""

    def test_ready_and_mismatch_cases(self, spark):
        from unitdb_spark.sources.bucketed import (
            is_colocated_join_ready,
            write_bucketed,
        )

        a = spark.range(100).selectExpr("id AS k")
        write_bucketed(a, "bt_r8a", ["k"], n_buckets=8)
        write_bucketed(a, "bt_r8b", ["k"], n_buckets=8)
        write_bucketed(a, "bt_r4", ["k"], n_buckets=4)
        unb = spark.range(10).selectExpr("id AS k")
        unb.write.mode("overwrite").saveAsTable("bt_plain")
        try:
            assert is_colocated_join_ready(spark, "bt_r8a", "bt_r8b", "k")
            assert not is_colocated_join_ready(spark, "bt_r8a", "bt_r4", "k")
            assert not is_colocated_join_ready(spark, "bt_r8a", "bt_plain", "k")
            assert not is_colocated_join_ready(spark, "bt_r8a", "bt_r8b", "other")
        finally:
            for t in ("bt_r8a", "bt_r8b", "bt_r4", "bt_plain"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestRound5ContinuationPlans:
    def _events(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=17 * i), "t%d" % (i % 3),
             float(i % 7), '{"k": %d}' % (i % 9))
            for i in range(200)
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, event_type string, value double,"
            " props string",
        )

    def test_json_stats_single_shuffle_no_python(self, spark):
        """SCALE.md: get_json_object is a scan-side codegen projection
        feeding one partial-agg exchange — no Python worker."""
        from unitdb_spark.operators.olap import json_field_stats

        out = json_field_stats(self._events(spark), "props", "k", "event_type")
        assert not has_python_eval(out)
        # countDistinct plans an Expand + two-phase agg: 2 exchanges max
        assert shuffle_count(out) <= 2

    def test_m4_single_exchange_for_windows_and_agg(self, spark):
        """SCALE.md: M4 is ONE map-side-combined aggregation — a single
        (key, bucket) exchange, no window sort (first/last are struct
        extrema)."""
        from unitdb_spark.operators.timeseries import m4_downsample

        out = m4_downsample(
            self._events(spark), "event_type", "ts", "value",
            ["event_id"], bucket_s=3600,
        )
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)

    def test_gini_single_shuffle(self, spark):
        """SCALE.md: the rank window partitions by group and the
        aggregation reuses that exchange."""
        from unitdb_spark.operators.profile import gini_by_group

        df = spark.createDataFrame(
            [("g%d" % (i % 3), float(i)) for i in range(100)],
            "g string, v double",
        )
        out = gini_by_group(df, "g", "v")
        assert shuffle_count(out) == 1
        assert not has_python_eval(out)

    def test_chi_square_no_python_bounded_exchanges(self, spark):
        from unitdb_spark.operators.stats_tests import chi_square_independence

        ev = self._events(spark).select(
            "event_type", (F.col("event_id") % 4).alias("band")
        )
        out = chi_square_independence(ev, "event_type", "band")
        assert not has_python_eval(out)

    def test_km_fold_is_the_only_python_stage(self, spark):
        """The sequential KM fold is the sanctioned applyInPandas over
        the DAY relation; everything before it is JVM-side."""
        from unitdb_spark.operators.survival import kaplan_meier

        df = spark.createDataFrame(
            [(i % 9, i % 3 != 0) for i in range(100)], "dur int, ev boolean"
        )
        out = kaplan_meier(df, "dur", "ev")
        plan = formatted_plan(out)
        assert "FlatMapGroupsInPandas" in plan
        # no row-at-a-time Python anywhere
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_negative_sampling_anti_join(self, spark):
        from unitdb_spark.operators.graph import negative_edge_samples

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        mx = spark.createDataFrame([(50,)], "max_id long")
        out = negative_edge_samples(edges, mx, k=2, oversample=2)
        plan = formatted_plan(out)
        assert "LeftAnti" in plan
        assert not has_python_eval(out)


class TestPlanAudit:
    def test_clean_aggregate_has_no_warnings(self, spark):
        from unitdb_spark.plans.audit import plan_audit

        df = spark.createDataFrame(
            [(i % 3, float(i)) for i in range(50)], "k int, v double"
        ).groupBy("k").count()
        codes = {f.code for f in plan_audit(df)}
        assert "python-udf" not in codes and "cartesian" not in codes

    def test_flags_python_udf(self, spark):
        from pyspark.sql.functions import udf
        from pyspark.sql.types import IntegerType

        from unitdb_spark.plans.audit import plan_audit

        nasty = udf(lambda x: x + 1, IntegerType())
        df = spark.createDataFrame([(1,), (2,)], "x int").select(nasty("x"))
        codes = {f.code for f in plan_audit(df)}
        assert "python-udf" in codes
        assert all(f.severity in ("warn", "info") for f in plan_audit(df))

    def test_flags_cartesian_product(self, spark):
        from unitdb_spark.plans.audit import plan_audit

        a = spark.range(100).toDF("x")
        b = spark.range(100).toDF("y")
        df = a.join(b)  # no keys
        codes = {f.code for f in plan_audit(df)}
        assert "cartesian" in codes or "nested-loop" in codes

    def test_flags_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from unitdb_spark.plans.audit import plan_audit

        df = spark.createDataFrame(
            [(float(i),) for i in range(20)], "v double"
        ).select("v", F.row_number().over(Window.orderBy("v")).alias("r"))
        codes = {f.code for f in plan_audit(df)}
        assert "global-window" in codes


class TestPlanAuditRegression:
    def test_keyed_window_plus_global_agg_not_flagged(self, spark):
        """A partitioned window next to an unrelated one-row global
        aggregate must NOT read as a global window."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from unitdb_spark.plans.audit import plan_audit

        df = spark.createDataFrame(
            [(i % 3, float(i)) for i in range(40)], "k int, v double"
        )
        w = Window.partitionBy("k").orderBy("v")
        ranked = df.select("k", "v", F.row_number().over(w).alias("r"))
        tot = df.agg(F.sum("v").alias("s"))  # SinglePartition exchange
        out = ranked.join(tot)
        codes = {f.code for f in plan_audit(out)}
        assert "global-window" not in codes

    def test_intended_cross_join_not_flagged_as_nested_loop(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.plans.audit import plan_audit

        a = spark.range(50).toDF("x")
        b = spark.range(3).toDF("y")
        out = a.crossJoin(F.broadcast(b))
        codes = {f.code for f in plan_audit(out)}
        assert "nested-loop" not in codes and "cartesian" not in codes

    def test_shuffle_count_uses_real_nodes(self, spark):
        from unitdb_spark.plans.audit import plan_audit

        df = spark.createDataFrame(
            [(i % 5, float(i)) for i in range(50)], "k int, v double"
        )
        # 2 real shuffles (join re-key + agg) must NOT trip max_shuffles=3
        j = df.groupBy("k").count().join(
            df.select("k", "v").distinct(), "k"
        )
        codes = {f.code for f in plan_audit(j, max_shuffles=3)}
        assert "many-shuffles" not in codes


class TestRound5FinalPlans:
    def test_sparse_cosine_no_python(self, spark):
        from unitdb_spark.operators.tfidf import sparse_cosine_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = sparse_cosine_pairs(docs, min_df=2, max_df=50)
        assert not has_python_eval(out)

    def test_trend_break_single_aggregation(self, spark):
        import datetime as dt

        from unitdb_spark.operators.timeseries import trend_break

        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1 + i % 20), float(i)) for i in range(100)],
            "ts timestamp, v double",
        )
        out = trend_break(df, "ts", "v", "2024-01-10")
        assert not has_python_eval(out)
        # origin broadcast + one global aggregate — no data re-shuffle
        plan = formatted_plan(out)
        assert "BroadcastExchange" in plan or shuffle_count(out) <= 2

    def test_rrf_no_python_bounded_exchanges(self, spark):
        from unitdb_spark.operators.evaluation import reciprocal_rank_fusion

        a = spark.createDataFrame(
            [("q", "x", 1), ("q", "y", 2)], "q string, i string, rank int"
        )
        out = reciprocal_rank_fusion([a, a], "q", "i", "rank")
        assert not has_python_eval(out)
        assert shuffle_count(out) <= 2  # fuse agg + re-rank window


class TestSessionPlans6b:
    """Plan pins for the round-6 second-session additions."""

    SF = "/root/testdata/sf0.001"

    def test_markov_matrix_one_window_one_agg_no_python(self, spark):
        """The transition matrix: a key-partitioned window + a pair
        agg — no Python, no cartesian, bounded shuffle count."""
        from unitdb_spark.operators.markov import transition_matrix

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        out = transition_matrix(ev, "user_id", "event_type", "ts", "event_id")
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_typicality_matrix_side_broadcast(self, spark):
        """The states^2 matrix joins the corpus via broadcast — the
        pairing side never shuffles for the matrix."""
        from unitdb_spark.operators.markov import (
            sequence_typicality,
            transition_matrix,
        )

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        m = transition_matrix(ev, "user_id", "event_type", "ts", "event_id")
        out = sequence_typicality(ev, m, "user_id", "event_type", "ts", "event_id")
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_kcore_no_python_no_cross(self, spark):
        from unitdb_spark.operators.graph import cooccurrence_edges, kcore

        li = spark.read.parquet(f"{self.SF}/lineitem.parquet")
        try:
            out = kcore(cooccurrence_edges(li, "l_orderkey", "l_partkey"),
                        k=2, rounds=2)
            plan = formatted_plan(out)
            assert "CartesianProduct" not in plan
            assert not has_python_eval(out)
        finally:
            spark.catalog.clearCache()

    def test_skyline_stage1_window_is_partitioned(self, spark):
        """Stage 1's staircase windows are partitioned by bucket —
        the corpus never sorts globally; only the survivor pass may
        be a single partition (plan-audit allowlisted)."""
        from unitdb_spark.operators.skyline import skyline2d
        from pyspark.sql import functions as F

        p = spark.read.parquet(f"{self.SF}/part.parquet").select(
            "p_partkey",
            F.expr(
                "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("pc"),
            "p_size",
        )
        out = skyline2d(p, "pc", "p_size", bucket_width=10_000)
        plan = formatted_plan(out)
        assert "hashpartitioning(_bkt" in plan  # stage-1 window keyed by bucket
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_pca_partials_are_the_only_python_and_hits_none(self, spark):
        """PCA's mapInPandas partials are the sanctioned Arrow kernel;
        the HITS loop is pure JVM (integer div + broadcast totals)."""
        from unitdb_spark.operators.graph import hits_bipartite
        from unitdb_spark.operators.pca import power_iteration, second_moment

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet")
        md, mu, _ = second_moment(emb, dim=64)
        v = power_iteration(md, dim=64, iterations=1)
        assert "CartesianProduct" not in formatted_plan(v)

        o = spark.read.parquet(f"{self.SF}/orders.parquet")
        li = spark.read.parquet(f"{self.SF}/lineitem.parquet")
        e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
            "o_custkey", "l_partkey"
        )
        try:
            out = hits_bipartite(e, "o_custkey", "l_partkey", iterations=1)
            assert not has_python_eval(out)
            assert "CartesianProduct" not in formatted_plan(out)
        finally:
            spark.catalog.clearCache()

    def test_link_pred_keyed_joins_only(self, spark):
        from unitdb_spark.operators.graph import (
            cooccurrence_edges,
            link_prediction,
        )

        li = spark.read.parquet(f"{self.SF}/lineitem.parquet")
        out = link_prediction(cooccurrence_edges(li, "l_orderkey", "l_partkey"))
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert not has_python_eval(out)

    def test_stationary_and_weighted_pagerank_no_python_no_cross(self, spark):
        from pyspark.sql import functions as F

        from unitdb_spark.operators.graph import pagerank_weighted
        from unitdb_spark.operators.markov import (
            stationary_distribution,
            transition_matrix,
        )

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        m = transition_matrix(ev, "user_id", "event_type", "ts", "event_id")
        pi = stationary_distribution(m, iterations=1)
        assert "CartesianProduct" not in formatted_plan(pi)
        assert not has_python_eval(pi)

        e = spark.createDataFrame(
            [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1)], ["src", "dst", "w"]
        )
        try:
            pr = pagerank_weighted(e, iterations=1)
            assert "CartesianProduct" not in formatted_plan(pr)
            assert not has_python_eval(pr)
        finally:
            spark.catalog.clearCache()

    def test_dominant_period_argmax_is_group_limit(self, spark):
        """The rank-1 filter over the lag relation must compile to a
        WindowGroupLimit (or equivalent) — NOT a corpus-sized global
        window; the audit reports no global-window for this query."""
        import __spark_entry__ as e
        from unitdb_spark.plans.audit import plan_audit

        df = e.queries()["events_dominant_period"](spark, self.SF)
        codes = {f.code for f in plan_audit(df)}
        assert "global-window" not in codes
        assert not has_python_eval(df)


class TestSessionPlans6d:
    """Plan pins for the round-6 fourth-session additions."""

    SF = "/root/testdata/sf0.001"

    def test_mann_kendall_no_cartesian_no_python(self, spark):
        """The pairwise relation is a keyed equi-join on the series
        key (theta-join on t INSIDE the key match), never a cross."""
        from unitdb_spark.operators.stats_tests import mann_kendall

        ev = spark.read.parquet(f"{self.SF}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        cells = ev.groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
        ).agg(F.count(F.lit(1)).alias("y"))
        out = mann_kendall(cells, "event_type", t_col="day", y_col="y")
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_bootstrap_broadcasts_replicates_and_partials_agg(self, spark):
        """The x(B+1) fan-out is a broadcast nested loop against the
        tiny replicate relation (never a shuffle of the corpus per
        replicate) and the sums are a partial-agg shuffle keyed
        (group, replicate). No Python anywhere."""
        from unitdb_spark.operators.bootstrap import poisson_bootstrap_ci

        ev = spark.read.parquet(f"{self.SF}/events.parquet").select(
            "event_type", "event_id",
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .alias("cents"),
        )
        out = poisson_bootstrap_ci(ev, "event_type", "event_id", "cents", b=8)
        plan = formatted_plan(out)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "HashAggregate" in plan
        assert not has_python_eval(out)

    def test_bigram_nll_broadcast_total_no_python(self, spark):
        from unitdb_spark.operators.tfidf import bigram_logprob

        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        out = bigram_logprob(docs)
        plan = formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_fs_link_weight_relation_broadcasts(self, spark):
        """Pair scoring joins the |fields|-row weight relation via
        broadcast; candidates come only from the block join."""
        from unitdb_spark.operators.linkage import fellegi_sunter_link

        c = spark.read.parquet(f"{self.SF}/customer.parquet")
        out = fellegi_sunter_link(
            c.select(F.col("c_custkey").alias("d_id"),
                     F.col("c_name").alias("d_name"),
                     "c_nationkey", "c_mktsegment"),
            c, ["c_nationkey", "c_mktsegment"], "d_id", "c_custkey",
            [(F.lower(F.col("d_name")), F.lower(F.col("c_name")))],
        )
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert not has_python_eval(out)

    def test_grid_clusters_only_python_free_cell_path(self, spark):
        """Cell assignment and the dense-cell pipeline stay JVM-side
        (the CC fixpoint is driver-looped but each round is pure
        DataFrame ops)."""
        from unitdb_spark.operators.cluster import grid_density_clusters

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet")
        out = grid_density_clusters(emb, h=0.1, min_pts=2)
        assert not has_python_eval(out)

    def test_holt_winters_single_key_shuffle(self, spark):
        """One applyInPandas exchange on the key column — the
        holt_linear contract (the sanctioned Arrow fold)."""
        from unitdb_spark.operators.timeseries import holt_winters_additive

        ev = spark.read.parquet(f"{self.SF}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        cells = ev.groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
        ).agg(F.count(F.lit(1)).alias("y"))
        out = holt_winters_additive(cells, "event_type", t_col="day",
                                    y_col="y")
        plan = formatted_plan(out)
        # exactly one Arrow fold stage (node + its details section)
        assert "FlatMapGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestSessionPlans6e:
    """Plan pins for the session-5 operators."""

    SF = "/root/testdata/sf0.001"

    def test_heaps_thresholds_broadcast_no_global_window(self, spark):
        """Both cumulative curves are filtered aggregates against the
        BROADCAST 16-row threshold relation — the classic prefix
        formulation's corpus-length running window must not exist."""
        from unitdb_spark.operators.tfidf import heaps_law

        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        plan = formatted_plan(heaps_law(docs))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan

    def test_permtest_observed_side_broadcasts_partial_agg(self, spark):
        """The 1-row observed aggregate broadcasts against the
        permutation relation; the (r, arm) aggregate map-side combines
        (partial_count before the exchange)."""
        from unitdb_spark.operators.stats_tests import permutation_test

        df = spark.createDataFrame(
            [(f"u{i}", i, i % 2) for i in range(20)],
            "uid string, v long, arm int",
        )
        plan = formatted_plan(permutation_test(df, "v", "arm", "uid", n_perm=9))
        assert "BroadcastNestedLoopJoin" in plan
        assert "partial_count" in plan  # map-side combine on (r, arm)
        assert "BatchEvalPython" not in plan

    def test_revenue_bridge_no_windows_dim_broadcast(self, spark):
        """One (key, period) aggregate; the bounds relation broadcasts;
        no WindowExec anywhere."""
        from unitdb_spark.operators.olap import revenue_bridge

        li = spark.read.parquet(f"{self.SF}/lineitem.parquet")
        o = spark.read.parquet(f"{self.SF}/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
        )
        f = li.join(o, "l_orderkey")
        plan = formatted_plan(
            revenue_bridge(f, "l_partkey", "o_orderdate",
                           "l_quantity", "l_extendedprice")
        )
        assert "Window" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds
        assert "BatchEvalPython" not in plan

    def test_its_no_windows_at_all(self, spark):
        """Both segment fits are plain aggregates over the day
        relation — segmented regression needs no window."""
        from unitdb_spark.operators.timeseries import interrupted_ts

        ev = spark.read.parquet(f"{self.SF}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        plan = formatted_plan(interrupted_ts(ev, "event_type"))
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan

    def test_ewma_chart_single_key_fold(self, spark):
        """One Arrow fold stage on the key — the holt contract."""
        from unitdb_spark.operators.timeseries import ewma_control

        ev = spark.read.parquet(f"{self.SF}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        plan = formatted_plan(ewma_control(ev, "event_type"))
        assert plan.count("FlatMapGroupsInPandas") >= 1
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_ljungbox_windows_are_key_partitioned(self, spark):
        """All lead windows carry the key partition spec — never a
        single-partition WindowExec over the spine."""
        from unitdb_spark.operators.stats_tests import ljung_box

        ev = spark.read.parquet(f"{self.SF}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        plan = formatted_plan(ljung_box(ev, "event_type"))
        import re

        for spec in re.findall(r"Window \[.*?\]", plan):
            assert "partitionBy" not in spec or "_k" in spec
        assert "BatchEvalPython" not in plan


class TestSessionPlans7:
    """Plan pins for the round-7 operators."""

    SF = "/root/testdata/sf0.001"

    def test_hll_registers_two_exchanges_no_python(self, spark):
        """Distinct shuffle + (key, reg) max agg — two exchanges, the
        whole register computation inside WholeStageCodegen (bin/
        length/shift are JVM expressions, never a UDF)."""
        from unitdb_spark.operators.sketch import hll_registers

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        plan = formatted_plan(hll_registers(ev, ["event_type"], "user_id"))
        # each node prints twice in formatted output (tree + detail):
        # 2 exchanges = 4 occurrences
        assert plan.count("Exchange") <= 4
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "partial_max" in plan  # map-side combine on (key, reg)

    def test_mutual_top_cap_compiles_to_group_limit(self, spark):
        """The per-src rank cut must compile to WindowGroupLimit
        (map-side partial top-D before the exchange), and the mutual
        check to a semi join — never a second full join."""
        from unitdb_spark.operators.graph import mutual_top_neighbors

        e = spark.createDataFrame(
            [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1)],
            ["src", "dst", "w"],
        )
        plan = formatted_plan(mutual_top_neighbors(e, max_degree=2))
        assert "WindowGroupLimit" in plan
        assert "LeftSemi" in plan
        assert "BatchEvalPython" not in plan

    def test_wilcoxon_single_agg_after_user_fold(self, spark):
        """Per-user agg, midrank window over the distinct-|d| relation,
        one final aggregate — no Python stages."""
        from unitdb_spark.operators.stats_tests import wilcoxon_signed_rank

        df = spark.createDataFrame(
            [(i * ((-1) ** i),) for i in range(1, 30)], "d long"
        )
        plan = formatted_plan(wilcoxon_signed_rank(df, "d"))
        assert "BatchEvalPython" not in plan
        assert "partial_sum" in plan  # map-side combine into the agg


class TestSessionPlans7b:
    """Plan pins for the round-7 continuation-session operators."""

    SF = "/root/testdata/sf0.001"

    def test_anova_moments_map_side_no_window(self, spark):
        """The whole F test is partial-agg shaped: map-side combined
        per-group moments, no Window node anywhere, no Python."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import one_way_anova

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        cents = F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
        )
        plan = formatted_plan(
            one_way_anova(ev, cents, F.col("event_type"))
        )
        assert "Window" not in plan
        assert "BatchEvalPython" not in plan
        assert "partial_sum" in plan  # moments combine before the wire

    def test_kruskal_window_is_post_aggregate(self, spark):
        """The global midrank window must run AFTER the per-value
        aggregation (distinct-value relation), never over raw rows:
        the plan's Window sits above a HashAggregate, and the whole
        thing stays JVM-side."""
        from pyspark.sql import functions as F

        from unitdb_spark.operators.stats_tests import kruskal_wallis

        ev = spark.read.parquet(f"{self.SF}/events.parquet")
        plan = formatted_plan(
            kruskal_wallis(ev, "value", F.col("event_type"))
        )
        assert "BatchEvalPython" not in plan
        # value-cell aggregation feeds the window
        assert "partial_count" in plan or "partial_sum" in plan
        assert plan.index("HashAggregate") < plan.index("Window")

    def test_label_centroid_corpus_never_joins_itself(self, spark):
        """The pair join runs on the (label, dim) SUM relation — the
        exploded corpus feeds ONE map-side-combined aggregate and is
        gone before any join."""
        from unitdb_spark.operators.similarity import (
            label_centroid_cosine,
        )

        emb = spark.read.parquet(f"{self.SF}/embeddings.parquet")
        plan = formatted_plan(label_centroid_cosine(emb))
        assert "BatchEvalPython" not in plan
        assert "Generate" in plan  # the posexplode
        # the explode appears once: the corpus is scanned/exploded
        # for the sum relation only (joins reuse that relation)
        assert plan.count("Generate explode") <= 2 * 1  # tree+detail

    def test_auc_window_over_score_cells(self, spark):
        """AUC's midrank window runs over the per-score aggregate
        (distinct quantized scores), after a map-side combine."""
        from unitdb_spark.operators.evaluation import auc_from_scores

        df = spark.createDataFrame(
            [(i / 7.0, i % 3 == 0) for i in range(50)],
            "score double, y boolean",
        )
        plan = formatted_plan(auc_from_scores(df, "score", "y"))
        assert "BatchEvalPython" not in plan
        assert plan.index("HashAggregate") < plan.index("Window")

    def test_sax_windows_are_key_partitioned(self, spark):
        """Both SAX windows (ntile, lead) carry the key in their
        partition spec — no single-partition global window."""
        from unitdb_spark.operators.timeseries import sax_motifs

        cells = spark.createDataFrame(
            [("k", t, t * 3 % 7) for t in range(12)],
            "g string, t long, y long",
        )
        plan = formatted_plan(sax_motifs(cells, "g", "t", "y"))
        assert "BatchEvalPython" not in plan
        import re

        # every windowspec mentions a partition on _k
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs and all("_k" in sp for sp in specs)


def _plan_children(node):
    # an AQE query stage holds its plan in a field, not as a child
    if node.nodeName().endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _agg_to_cache_scan(frames, agg_fn):
    """For the first frame whose physical plan has a HashAggregate
    computing ``agg_fn`` (e.g. "sum(_c"): the operators between that
    aggregate and the cached relation it reads, broadcast sides
    skipped, and the cached scan's output partitioning."""
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        todo = [plan]
        while todo:
            node = todo.pop()
            if (
                node.nodeName() == "HashAggregate"
                and agg_fn in node.aggregateExpressions().toString()
            ):
                path = []
                while node.nodeName() != "InMemoryTableScan":
                    node = next(
                        k for k in _plan_children(node)
                        if k.nodeName()
                        not in ("BroadcastExchange", "BroadcastQueryStage")
                    )
                    path.append(node.nodeName())
                return path, node.outputPartitioning().toString()
            todo.extend(_plan_children(node))
    raise AssertionError(f"no aggregate computing {agg_fn}")


@pytest.fixture()
def checkpointed(spark, monkeypatch):
    """Every frame an operator hands to ``localCheckpoint`` — one per
    iteration of the graph loops — in call order."""
    frames = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        frames.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return frames


class TestBucketedEdgeTable:
    """The claimed 100 TB shape for the graph family, proven by plan:
    the co-purchase edge list materialized ONCE as a catalog table
    bucketed on the node key (sources/bucketed.py), so every
    downstream node-key aggregation and join reads the bucket spec
    instead of shuffling the edge relation. The persisted pair
    relation that `cooccurrence_pairs` shares through Spark's cache is
    the interactive equivalent; this is the production one."""

    def _write_edges(self, spark, bucket_col="dst"):
        from unitdb_spark.sources.bucketed import write_bucketed

        pairs = spark.range(0, 600).selectExpr(
            "id % 40 AS src", "(id * 7 + 3) % 40 AS dst"
        ).filter("src != dst").distinct()
        edges = pairs.unionAll(
            pairs.selectExpr("dst AS src", "src AS dst")
        )
        write_bucketed(edges, "bt_copurchase", [bucket_col], n_buckets=8)

    def test_bucket_key_agg_and_cojoin_have_no_exchange(self, spark):
        from unitdb_spark.sources.bucketed import read_table

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            self._write_edges(spark, bucket_col="src")
            e = read_table(spark, "bt_copurchase")
            # groupBy on the bucket key — zero Exchange
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            assert shuffle_count(deg) == 0
            # join on the bucket key against a relation derived from
            # the same bucketed scan — zero Exchange on BOTH sides
            # (broadcast disabled: this is bucketing, not luck)
            ewd = e.join(deg, "src")
            assert shuffle_count(ewd) == 0
            assert ewd.count() > 0
            # control: the same relation built from a plain frame
            # shuffles for the agg
            plain = e.unionAll(e).limit(10**6)  # breaks the bucketing
            pdeg = plain.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            assert shuffle_count(pdeg) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    def test_aligned_iteration_agg_is_exchange_free(self, spark):
        """pagerank's per-iteration shape over a DST-bucketed table:
        degree broadcast into the edge join keeps the scan's
        hash(dst) partitioning, so the contribution groupBy(dst) adds
        NO Exchange — the only one in the whole relation is the
        node-sized degree partial-agg. This is the persist="aligned"
        contract at 100 TB: per iteration, zero edge-sized shuffles."""
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            contrib = (
                e.join(F.broadcast(deg), "src")
                .select("dst", (F.lit(1000000) / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("inflow"))
            )
            # exactly ONE exchange: deg's partial agg (node-sized).
            # The edge-sized relation never shuffles.
            assert shuffle_count(contrib) == 1
            assert contrib.count() == 40
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    def test_pagerank_aligned_matches_memory_values(self, spark):
        """End-to-end: `pagerank(persist="aligned")` over the
        dst-bucketed catalog table returns the same ranks as
        persist="memory" over the plain frame (the layout is a
        physical detail, invisible to values)."""
        from unitdb_spark.operators.graph import pagerank
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            got = {
                r.node: r.pr_r
                for r in pagerank(
                    e, iterations=2, persist="aligned"
                ).collect()
            }
            want = {
                r.node: r.pr_r
                for r in pagerank(
                    e.repartition(3),  # same edges, round-robin layout
                    iterations=2,
                    persist="memory",
                ).collect()
            }
            assert got == want and len(got) == 40
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    @pytest.mark.parametrize("mode", ["memory", "aligned"])
    def test_pagerank_iteration_agg_reads_cache_without_exchange(
        self, spark, checkpointed, mode
    ):
        """The plan `pagerank` itself runs: one iteration's
        contribution aggregate on _d sits on the cached edge scan,
        which is hash-partitioned on _d, with no Exchange between
        them (memory: the repartition("_d") cache; aligned: the
        dst-bucketed table, cached as it is)."""
        from unitdb_spark.operators.graph import pagerank
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            if mode == "memory":
                e = e.repartition(3)  # same edges, round-robin layout
            pagerank(e, iterations=1, persist=mode)
            path, part = _agg_to_cache_scan(checkpointed, "sum(_c")
            assert not {"Exchange", "ShuffleQueryStage", "AQEShuffleRead"} & set(
                path
            ), path
            assert part.startswith("hashpartitioning(_d#"), part
        finally:
            spark.catalog.clearCache()
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    @pytest.mark.parametrize("mode", ["memory", "aligned"])
    def test_components_round_agg_reads_cache_without_exchange(
        self, spark, checkpointed, mode
    ):
        """The plan `connected_components` itself runs: a round's
        message aggregate (min label per destination) sits on the
        cached edge scan, hash-partitioned on d, with no Exchange
        between them."""
        from unitdb_spark.operators.cluster import connected_components
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            if mode == "memory":
                # one direction, round-robin layout
                e = e.filter("src < dst").repartition(3)
            connected_components(e, src="src", dst="dst", persist=mode)
            path, part = _agg_to_cache_scan(checkpointed, "min(label")
            assert not {"Exchange", "ShuffleQueryStage", "AQEShuffleRead"} & set(
                path
            ), path
            assert part.startswith("hashpartitioning(d#"), part
        finally:
            spark.catalog.clearCache()
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    def test_components_aligned_round_agg_is_exchange_free(self, spark):
        """connected_components' per-round shape over the SAME
        dst-bucketed table (r12): the message aggregation groups on
        the destination key, the label relation joins broadcast, so
        the round adds NO edge-sized Exchange — the table layout does
        the work the memory-mode repartition("d") simulates."""
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            labels = e.selectExpr("src AS node", "src AS label").distinct()
            msgs = (
                e.join(F.broadcast(labels), e["src"] == labels["node"])
                .select(F.col("dst").alias("node"), "label")
                .groupBy("node")
                .agg(F.min("label").alias("_m"))
            )
            # the only Exchange is the node-sized distinct for the
            # label seed; the edge relation never shuffles
            assert shuffle_count(msgs) == 1
            assert msgs.count() == 40
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")

    def test_components_aligned_matches_memory_values(self, spark):
        """End-to-end: `connected_components(persist="aligned")` over
        the dst-bucketed symmetric edge table returns the same labels
        as persist="memory" over the plain (one-direction) frame."""
        from unitdb_spark.operators.cluster import connected_components
        from unitdb_spark.sources.bucketed import read_table

        try:
            self._write_edges(spark, bucket_col="dst")
            e = read_table(spark, "bt_copurchase")
            got = {
                r.node: r.cluster_id
                for r in connected_components(
                    e, src="src", dst="dst", persist="aligned"
                ).collect()
            }
            want = {
                r.node: r.cluster_id
                for r in connected_components(
                    e.filter("src < dst"),  # one direction, no bucketing
                    src="src",
                    dst="dst",
                    persist="memory",
                ).collect()
            }
            assert got == want and len(got) == 40
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_copurchase")
