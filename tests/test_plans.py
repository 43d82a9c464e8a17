"""Physical-plan assertions (SURVEY.md §5.3): the translator must produce
the plan Catalyst SHOULD pick — pushdown reaching the scan, top-k lowering
to TakeOrderedAndProject, broadcast hints honored. These guard the 100 TB
posture, not just correctness."""

from __future__ import annotations


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(run_kql):
    df = run_kql("lineitem | where l_quantity > 30.0 | project l_orderkey, l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_scan(run_kql):
    df = run_kql("lineitem | project l_orderkey, l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column pruned


def test_top_lowered_to_take_ordered(run_kql):
    df = run_kql("orders | top 5 by o_totalprice desc")
    assert "TakeOrderedAndProject" in _plan(df)


def test_sample_avoids_global_sort(run_kql):
    # orderBy(rand).limit lowers to TakeOrderedAndProject (per-partition
    # top-k + driver merge), NOT a full Exchange+Sort
    df = run_kql("lineitem | sample 100")
    assert "TakeOrderedAndProject" in _plan(df)


def test_broadcast_hint_honored(run_kql):
    df = run_kql(
        "orders | join kind=inner hint.strategy=broadcast (customer)"
        " on $left.o_custkey == $right.c_custkey"
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_lookup_uses_broadcast(run_kql):
    df = run_kql(
        "customer | lookup (nation) on $left.c_nationkey == $right.n_nationkey"
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_no_python_udf_in_scalar_pipeline(run_kql):
    df = run_kql(
        "lineitem | extend v = l_extendedprice * (1.0 - l_discount)"
        " | where strlen(l_returnflag) == 1 | summarize s = sum(v) by l_linestatus"
    )
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_two_phase_aggregation(run_kql, monkeypatch):
    # partial (map-side) + final HashAggregate — the map-side-combine
    # shape that makes summarize scale (SURVEY §4.1). Round 17: on the
    # single-row-group fixtures the single-task fused plan removes the
    # Exchange outright (SinglePartition satisfies the clustering
    # requirement; guide §2.4) while KEEPING the two-phase aggregate;
    # the cluster-regime shape (Exchange present) is pinned with the
    # fusion disabled.
    import kql_engine_spark.translator as TR

    df = run_kql("lineitem | summarize s = sum(l_quantity) by l_returnflag")
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" not in plan  # fused: zero-shuffle single task
    monkeypatch.setattr(TR, "_SINGLE_TASK_BYTES", -1)
    df = run_kql(
        "lineitem | summarize s = sum(l_quantity) by l_returnflag // unfused"
    )
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_covers_agg(run_kql):
    # AQE hides the final plan until execution; `* Node` = inside a
    # WholeStageCodegen span in formatted explain output
    df = run_kql("lineitem | summarize s = sum(l_quantity) by l_returnflag")
    df.collect()
    plan = _plan(df)
    assert "* HashAggregate" in plan and "* Project" in plan


def test_similarity_search_lowered_to_take_ordered(run_kql):
    q = "dynamic([" + ",".join("0.1" for _ in range(64)) + "])"
    df = run_kql(f"embeddings | evaluate similarity_search(embedding, {q}, 5)")
    # per-partition top-k + driver merge, no global Exchange+Sort
    assert "TakeOrderedAndProject" in _plan(df)


def test_simhash_banding_is_equi_join(run_kql):
    # candidate generation must be a band-keyed equi-join (bucket-local),
    # never a cartesian/broadcast-nested-loop all-pairs comparison
    df = run_kql(
        "datatable(id:long, t:string)[1, 'a b c d e', 2, 'a b c d f']"
        " | evaluate dedup_simhash(t, id, 3)"
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fingerprint_no_python_udf(run_kql):
    df = run_kql("documents | evaluate fingerprint(text) | project doc_id, fp, fp_min")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_lang_detect_no_python_udf(run_kql):
    df = run_kql("documents | evaluate lang_detect(text) | project doc_id, detected_lang")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_make_series_single_scan_no_joins(run_kql):
    # round 5: densification is collapse-to-map + sequence() projection —
    # ONE source scan, no grid joins (the old plan re-scanned for distinct
    # keys and cross-joined an exploded axis)
    df = run_kql(
        "events | make-series c = count() on ts"
        " from datetime(2024-01-01) to datetime(2024-01-31) step 1d by event_type"
    )
    import re

    plan = _plan(df)
    # formatted explain lists each node in the tree AND a detail section;
    # count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_partitioned_scan_is_keyed_exchange(run_kql):
    # sharded scan = one hash shuffle on the partition key feeding
    # per-group pandas walkers — no coalesce(1) single-walker bottleneck
    df = run_kql(
        "events | partition by user_id ("
        " sort by ts asc, event_id asc"
        " | scan with (step s1: event_type == 'view';))"
    )
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(user_id" in plan
    assert "Coalesce 1" not in plan and "coalesce(1)" not in plan.lower()


def test_graph_shortest_paths_no_cartesian(run_kql):
    df = run_kql(
        "datatable(src:string, dst:string)['x','y','y','z']"
        " | make-graph src --> dst"
        " | graph-shortest-paths (a)-[e*1..3]->(b)"
        "   where a.node_id == 'x'"
        "   project t = b.node_id, hops = tolong(array_length(e))"
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_sliding_window_counts_two_hash_aggs_no_join(run_kql):
    # bounded explode + hash agg; the only join is the broadcast 1-row
    # max-bin clamp — no sliding self-join of the fact table
    df = run_kql("events | evaluate sliding_window_counts(user_id, ts, 7d, 1d)")
    plan = _plan(df)
    assert "Generate explode" in plan or "Generate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_percentile_no_self_join(run_kql):
    df = run_kql("events | evaluate rolling_percentile(value, 90, ts, 1d, 7)")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ipv4_lookup_broadcasts_lookup_side(run_kql):
    df = run_kql(
        "let lut = datatable(cidr:string, net:string)['10.0.0.0/8','ten'];"
        "events"
        " | extend ip = strcat('10.0.0.', tostring(event_id % 256))"
        " | evaluate ipv4_lookup(lut, ip, cidr)"
    )
    plan = _plan(df)
    # range-containment theta join on a broadcast dim — never sort-merge or
    # an unhinted nested-loop over a shuffled lookup side
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rows_near_single_window_pass(run_kql):
    df = run_kql(
        "events | sort by ts asc, event_id asc"
        " | evaluate rows_near(event_type == 'purchase', 2)"
    )
    plan = _plan(df)
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_funnel_completion_hash_joins_only(run_kql):
    df = run_kql(
        "events | evaluate funnel_sequence_completion("
        "user_id, ts, 7d, event_type, 'view', 'click', 'purchase', 7d)"
    )
    plan = _plan(df)
    # chained-min step joins are id-keyed equi-joins: theta parts (time
    # window) ride the same join as post-conditions — never a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_count_no_global_window(run_kql):
    df = run_kql("events | evaluate session_count(user_id, ts, 1d, 1h)")
    plan = _plan(df)
    # the lag window must be partitioned by id (no single-partition sort)
    assert "Window" in plan
    import re

    # a global window shows as 'Window [...], []' (empty partition spec)
    assert not re.search(r"partitionBy=\[\]", plan)
    assert "CartesianProduct" not in plan


def test_activity_counts_metrics_bounded_plan(run_kql):
    df = run_kql("events | evaluate activity_counts_metrics(user_id, ts, 1d)")
    plan = _plan(df)
    # per-bin aggregations + one left join on the bin; the only window runs
    # over the bin-level frame (bounded by bin count)
    assert "CartesianProduct" not in plan
    # exactly one Window operator node ("(N) Window" in the details section)
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_dcount_intersect_no_shuffle_after_agg(run_kql):
    df = run_kql(
        "events | summarize h1 = hll(user_id), "
        "h2 = hll_if(user_id, event_type == 'view') "
        "| evaluate dcount_intersect(h1, h2)"
    )
    plan = _plan(df)
    # sketch intersection is row-wise column arithmetic: exactly the
    # summarize's own exchange, nothing added by the plugin
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_dedup_jaccard_banded_not_all_pairs(run_kql):
    df = run_kql("documents | evaluate dedup_jaccard(text, doc_id, 0.8)")
    plan = _plan(df)
    # the candidate join must be a band-key equi-join, never a cross product
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_diffpatterns_text_shuffle_partitioned(run_kql):
    df = run_kql(
        'events | extend side = iff(user_id % 2 == 0, "even", "odd")'
        ' | project msg = strcat("user did ", event_type), side'
        ' | evaluate diffpatterns_text(msg, side, "even", "odd")'
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_activity_metrics_hash_partitioned(run_kql):
    df = run_kql("events | evaluate activity_metrics(user_id, ts, 1d)")
    plan = _plan(df)
    # previous-period intersection is an (id, period) equi-join — never a
    # cross product or nested loop
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_in_tabular_lowered_to_semi_join(run_kql):
    df = run_kql(
        "lineitem | where l_orderkey in"
        " (orders | where o_totalprice > 300000 | project o_orderkey) | count"
    )
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_notin_tabular_lowered_to_anti_join(run_kql):
    df = run_kql(
        "customer | where c_custkey !in (orders | project o_custkey) | count"
    )
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_unknown_input_size_keeps_aqe(spark):
    # a registered DataFrame has no file size -> conservative: the scale
    # path, with no single-task Coalesce 1 fusion
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    cat = Catalog(spark, "/root/testdata/sf0.001")
    cat.register("mem_table", spark.range(10).withColumnRenamed("id", "x"))
    df = kql(spark, "mem_table | summarize n = count() by x", catalog=cat)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan
    assert "Coalesce 1" not in plan


def test_range_source_keeps_aqe(run_kql):
    # range can generate unbounded rows from zero file bytes -> never small
    df = run_kql("range x from 1 to 1000 step 1 | summarize s = sum(x) by b = x % 7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan
    assert "Coalesce 1" not in plan


def test_geo_polygon_lookup_broadcasts_and_defers_udf(run_kql):
    # the polygon side broadcasts; the codegen bbox test lives IN the join
    # condition; the exact point-in-polygon Python UDF runs as a post-join
    # Filter over bbox survivors only
    q = """let zones = datatable(zone:string, shape:string)[
      'sw', '{"type":"Polygon","coordinates":[[[-120.0,-60.0],[0.0,-60.0],[0.0,0.0],[-120.0,0.0],[-120.0,-60.0]]]}'];
    events
    | extend lon = todouble(event_id % 240) - 119.5,
             lat = todouble(user_id % 120) - 59.5
    | evaluate geo_polygon_lookup(zones, shape, lon, lat)"""
    plan = _plan(run_kql(q))
    assert "BroadcastNestedLoopJoin" in plan
    # bbox condition is part of the join (codegen), not the UDF filter
    join_section = plan.split("BroadcastNestedLoopJoin")[-1]
    assert "__kql_lomin" in join_section
    assert "pythonUDF" in plan  # exact test deferred to a post-join Filter


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # two tables bucketed on the join key with the same bucket count join
    # with ZERO Exchange on either side — the 100 TB co-location story
    import uuid

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.sinks import read_table, write_bucketed
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    cat = Catalog(spark, SF_DIR)
    suffix = uuid.uuid4().hex[:8]
    t1, t2 = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    try:
        write_bucketed(
            kql(spark, "orders | project o_orderkey, o_totalprice", catalog=cat),
            t1, 8, "o_orderkey", sort_by="o_orderkey",
        )
        write_bucketed(
            kql(spark, "lineitem | project l_orderkey, l_quantity", catalog=cat),
            t2, 8, "l_orderkey", sort_by="l_orderkey",
        )
        jcat = Catalog(spark, SF_DIR)
        jcat.register(t1, read_table(spark, t1))
        jcat.register(t2, read_table(spark, t2))
        # disable broadcast so the join must pick SMJ/shuffle strategy —
        # bucketing is what removes the Exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = kql(
                spark,
                f"{t1} | join kind=inner {t2} on $left.o_orderkey == $right.l_orderkey"
                " | summarize s = sum(l_quantity) by o_orderkey",
                catalog=jcat,
            )
            plan = _plan(df)
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 0
            assert "Bucketed: true" in plan
            rows = df.count()
            assert rows > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_bucketed_agg_skips_shuffle(spark):
    # aggregation keyed on the bucket column reuses the bucketed
    # distribution: no Exchange before the final HashAggregate
    import uuid

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.sinks import read_table, write_bucketed
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    cat = Catalog(spark, SF_DIR)
    t = f"b_events_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(
            kql(spark, "events | project event_type, value", catalog=cat),
            t, 4, "event_type",
        )
        jcat = Catalog(spark, SF_DIR)
        jcat.register(t, read_table(spark, t))
        plan = _plan(
            kql(spark, f"{t} | summarize c = count(), v = sum(value) by event_type",
                catalog=jcat)
        )
        assert "Exchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.sinks import write_parquet
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    cat = Catalog(spark, SF_DIR)
    p = str(tmp_path / "events_by_type")
    write_parquet(
        kql(spark, "events | project event_type, value", catalog=cat),
        p, partition_by="event_type",
    )
    rcat = Catalog(spark, SF_DIR)
    rcat.register("pevents", spark.read.parquet(p))
    df = kql(spark, "pevents | where event_type == 'click' | summarize s = sum(value)",
             catalog=rcat)
    plan = _plan(df)
    # partition filter reaches the scan: non-matching directories are pruned
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]


def test_decontaminate_broadcasts_benchmark_ngrams(run_kql):
    # the eval-set n-gram side is dimension-sized: it must broadcast so the
    # 100 TB fact side never shuffles for the contamination join
    plan = _plan(run_kql(
        "documents | evaluate decontaminate(text, doc_id, documents, text, 13)"
    ))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ipv6_lookup_broadcasts_lookup_side(run_kql):
    df = run_kql(
        "let lut = datatable(cidr:string, net:string)['2001:db8::/32','docs'];"
        "events"
        " | extend ip = strcat('2001:db8::', tostring(event_id % 10))"
        " | evaluate ipv6_lookup(lut, ip, cidr)"
    )
    plan = _plan(df)
    # hex-string range theta join against the broadcast lookup side
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_arrow_kernel_no_shuffle(run_kql):
    df = run_kql("documents | evaluate repetition_filter(text)")
    plan = _plan(df)
    # round 14: the 13 metrics come from ONE Arrow-batched kernel — the
    # round-5 pure-column tree exceeded whole-stage-codegen limits and
    # ran INTERPRETED at ~33 ms/doc (measured at sf10). Pin exactly one
    # ArrowEval stage, no row-at-a-time BatchEvalPython, and the ONLY
    # Exchange is the narrow-scan spread (one round-robin redistribution
    # of every exchange-free input over the cores) — the metric
    # computation itself never shuffles
    import re

    exchanges = re.findall(r"\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)", plan)
    assert exchanges == ["RoundRobinPartitioning"], plan
    # one kernel node in the TREE (formatted explain repeats the name in
    # the details section, so count tree edges, not substrings)
    assert len(re.findall(r"[+:]- ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_near_band_join_shape(run_kql):
    # round 6: dedup_near dropped Spark ML MinHashLSH/approxSimilarityJoin.
    # The banded self-join + exact verify execute EAGERLY behind a
    # localCheckpoint (lineage truncation for the component fixpoint), so
    # the final plan shows only the keep-semi-join — pin that it is a
    # plain join with no all-pairs nested-loop anywhere, and that the
    # feature stage is the Arrow-batched pandas UDF (not row-at-a-time).
    from pyspark.sql.functions import PandasUDFType  # noqa: F401
    from pyspark.rdd import PythonEvalType

    from kql_engine_spark.extensions.llm import _jaccard_feature_udf

    udf = _jaccard_feature_udf(5, 20, 5)
    assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF

    df = run_kql("documents | take 500 | evaluate dedup_near(text, doc_id, 0.8)")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan  # never all-pairs
    assert df.count() > 0


def test_dedup_jaccard_band_join_shape(run_kql):
    df = run_kql(
        "documents | take 500 | evaluate dedup_jaccard(text, doc_id, 0.8)"
    )
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan  # never all-pairs
    assert df.count() > 0


def test_json_multi_key_single_parse(run_kql):
    # single-parse JSON projection (round 8, VERDICT r7 item 1): N distinct
    # top-level key extractions from one string carrier in one project
    # stage exactly ONE from_json struct; no per-access get_json_object
    # remains anywhere in the plan. At 100 TB the repeated parse is the
    # dominant scan-stage cost on wide JSON.
    df = run_kql(
        "events | project a = props.k, b = extractjson('$.missing', props)"
    )
    plan = _plan(df)
    assert plan.count("from_json") == 1, plan
    assert "get_json_object" not in plan, plan


def test_json_single_key_stays_unshared(run_kql):
    # one key = nothing to share: the conservative gate must NOT stage a
    # from_json prework column for a lone access (it would be pure overhead)
    df = run_kql("events | project a = props.k")
    plan = _plan(df)
    assert "from_json" not in plan, plan


def test_tpch_q10_dims_broadcast_filters_pushed(run_kql):
    # round 8 TPC-H ports: the canonical join shapes must come out with
    # the 100 TB-safe physical plan — small dims broadcast (customer,
    # nation at these sizes), selective filters pushed to the scans
    from kql_engine_spark.corpus import CORPUS

    df = run_kql(CORPUS["tpch_q10"][0])
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # take 20 after sort: top-k
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_returnflag" in p for p in pushed)  # reaches lineitem scan
    assert any("o_orderdate" in p for p in pushed)  # reaches orders scan


def test_tpch_q18_single_fact_pass(run_kql):
    # q18's big-order CTE aggregates lineitem once; the fact table must
    # appear in exactly one scan subtree feeding a partial/final hash agg
    from kql_engine_spark.corpus import CORPUS

    df = run_kql(CORPUS["tpch_q18"][0])
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert "HashAggregate" in plan


def test_auto_broadcast_streams_fact_side(run_kql):
    # round 10: without CBO stats Catalyst's join-output estimate is a
    # product, so the small filtered-dim side of Q5 looked huge and Spark
    # broadcast the pruned FACT scan. The translator's source-bytes hint
    # must keep lineitem on the streamed side: no BroadcastExchange whose
    # subtree scans lineitem.
    df = run_kql(
        "customer"
        " | join kind=inner (orders) on $left.c_custkey == $right.o_custkey"
        " | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey"
        " | summarize revenue = sum(l_extendedprice) by c_nationkey"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # walk: any 'Scan parquet ... lineitem' must not sit under a
    # BroadcastExchange subtree — approximate by indentation blocks
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "BroadcastExchange" in l:
            indent = len(l) - len(l.lstrip(" :+-*("))
            for j in range(i + 1, len(lines)):
                l2 = lines[j]
                ind2 = len(l2) - len(l2.lstrip(" :+-*("))
                if ind2 <= indent and l2.strip():
                    break
                assert "lineitem" not in l2, "fact table under a broadcast build"


def test_auto_broadcast_semi_anti_build_side(run_kql):
    # semi/anti joins: the small filter-set side is the broadcast build
    df = run_kql(
        "orders | join kind=leftsemi (customer | where c_mktsegment == 'BUILDING')"
        " on $left.o_custkey == $right.c_custkey"
    )
    p = _plan(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    df = run_kql(
        "customer | join kind=rightsemi (orders)"
        " on $left.c_custkey == $right.o_custkey"
    )
    p = _plan(df)
    # swapped orientation: customer (small) is the build side
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_split_distinct_narrow_shuffles(run_kql, monkeypatch):
    # round 10: mixed distinct+plain summarize lowers to separate
    # aggregations joined on the group keys, so no exchange carries
    # plain-agg buffers at (keys, distinct-expr) grain. The signature of
    # the single-pass plan is a HashAggregate keyed on BOTH the group key
    # and the distinct column feeding an Exchange on that pair - assert
    # it is gone and the count(distinct) pipeline shuffles only
    # (key, distinct-col) pairs.
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)  # split is scale-path only
    df = run_kql(
        "lineitem | summarize c = count(), s = sum(l_quantity),"
        " dc = dcount(l_orderkey), mn = min(l_extendedprice)"
        " by l_returnflag"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, (
        "expected the split pieces joined back on keys"
    )
    # distinct piece aggregates only count(distinct); plain buffers
    # (sum, min) never appear in an aggregate keyed by the distinct col
    import re

    for m in re.finditer(r"HashAggregate\(keys=\[([^\]]*l_orderkey[^\]]*)\], functions=\[([^\]]*)\]", plan):
        fns = m.group(2)
        assert "sum(" not in fns and "min(" not in fns, (
            "plain-agg buffers carried through the distinct-grain aggregate"
        )


def test_split_distinct_off_keeps_fused_plan(run_kql, monkeypatch):
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    monkeypatch.setattr(TR, "_SPLIT_DISTINCT", False)
    df = run_kql(
        "lineitem | summarize c = count(), dc = dcount(l_orderkey)"
        " by l_returnflag // split-off"
    )
    plan = _plan(df)
    assert "Join" not in plan


def test_runtime_bloom_filter_fires_on_smj_fact_scan(run_kql, spark, monkeypatch):
    # round 11: session re-gates Spark's runtime bloom-filter rule to this
    # engine's scale (100MB thresholds vs the 10GB/10MB defaults) so a
    # filtered dim side past the broadcast threshold blooms the fact scan
    # before the shuffle (sf10 A/B: q5 -42%, BASELINE.md round 11). The
    # conf must be live in the session AND the rule must inject when its
    # size gates pass — pin both, with gates shrunk to fixture scale.
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        == "100MB"
    )
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        )
        == "100MB"
    )
    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        # force the SMJ regime the rule targets: no broadcast anywhere,
        # and no single-task fusion (round 17) — a coalesced
        # single-partition join has no shuffle for the bloom to prune
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import kql_engine_spark.translator as TR

        monkeypatch.setattr(TR, "_AUTO_BROADCAST", False)
        monkeypatch.setattr(TR, "_SINGLE_TASK_BYTES", -1)
        df = run_kql(
            "lineitem | join kind=inner (orders | where o_totalprice < 1000.0)"
            " on $left.l_orderkey == $right.o_orderkey"
            " | summarize n = count() // bloom-pin"
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")


def test_aqe_probe_rebalances_filtered_agg_join_side(run_kql, spark, monkeypatch):
    import kql_engine_spark.translator as TR

    # small-plan mode skips the probe, so lift the gate for fixture-sized
    # sources
    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    # round 12: a join side shaped `summarize ... by k | where pred` has a
    # runtime size no static estimate can see. When neither side earns a
    # broadcast hint, the translator plants a rebalance-by-join-key
    # exchange on that side — an AQE query-stage boundary whose MEASURED
    # size lets AQE convert the sort-merge join to broadcast when the
    # filter turns out selective (TPC-H Q18 at sf10: both joins convert,
    # orders never shuffles; BASELINE.md round 12). Shrink the broadcast
    # threshold so the fixture-sized sides count as "big" here.
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        df = run_kql(
            "let big = lineitem"
            " | summarize sumq = sum(l_quantity) by l_orderkey"
            " | where sumq > 100.0;"
            "big | join kind=inner (orders) on"
            " $left.l_orderkey == $right.o_orderkey"
            " | summarize n = count() // aqe-probe-pin"
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "RebalancePartitions" in plan, plan
        # control: no filter after the summarize -> no probe (the agg
        # output size IS statically bounded by its input; the side keeps
        # its agg partitioning and needs no extra exchange)
        df2 = run_kql(
            "let big = lineitem"
            " | summarize sumq = sum(l_quantity) by l_orderkey;"
            "big | join kind=inner (orders) on"
            " $left.l_orderkey == $right.o_orderkey"
            " | summarize n = count() // aqe-probe-control"
        )
        plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
        assert "RebalancePartitions" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_register_bucketed_zero_exchange_and_matches_plain(spark):
    # round 13: Catalog.register_bucketed surfaces the bucketing lever as
    # an engine feature — a summarize keyed on the bucket column over the
    # registered name plans with NO Exchange, and the results equal the
    # plain-parquet path exactly (the layout changes the plan, never the
    # data)
    import uuid

    import pytest

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.errors import KqlSemanticError
    from kql_engine_spark.sinks import write_bucketed
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    cat = Catalog(spark, SF_DIR)
    t = f"b_li_reg_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(
            kql(spark, "lineitem | project l_orderkey, l_quantity", catalog=cat),
            t, 8, "l_orderkey",
        )
        rcat = Catalog(spark, SF_DIR)
        rcat.register_bucketed("bli", t)
        q = "| summarize s = round(sum(l_quantity), 2) by l_orderkey"
        bucketed = kql(spark, f"bli {q}", catalog=rcat)
        plan = _plan(bucketed)
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        plain = kql(
            spark, f"lineitem | project l_orderkey, l_quantity {q}", catalog=cat
        )
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # typed errors: unknown table; table without a bucket spec
        with pytest.raises(KqlSemanticError, match="write_bucketed"):
            Catalog(spark, SF_DIR).register_bucketed("x", t + "_nope")
        flat = f"flat_{uuid.uuid4().hex[:8]}"
        try:
            kql(spark, "region", catalog=cat).write.saveAsTable(flat)
            with pytest.raises(KqlSemanticError, match="bucket spec"):
                Catalog(spark, SF_DIR).register_bucketed("x", flat)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {flat}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sink_bucketed_plugin_zero_exchange_downstream(spark):
    # round 13: the sink_bucketed evaluate plugin materializes the layout
    # mid-pipe; the continuation keyed on the bucket column must carry the
    # bucketed scan (no Exchange before the aggregate)
    import uuid

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    t = f"b_li_plug_{uuid.uuid4().hex[:8]}"
    try:
        df = kql(
            spark,
            "lineitem | project l_orderkey, l_quantity"
            f" | evaluate sink_bucketed('{t}', l_orderkey, 8)"
            " | summarize s = round(sum(l_quantity), 2) by l_orderkey",
            catalog=Catalog(spark, SF_DIR),
        )
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert df.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_kql_and_actions_leave_session_conf_unchanged(spark, tmp_path):
    # session conf is shared by every query on the session, so no kql()
    # call and no action may leave it changed: sized and unsized sources,
    # a plan-cache hit, actions on an earlier frame, and a call that raises
    import uuid

    import pytest

    from kql_engine_spark.errors import KqlSemanticError
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    tag = uuid.uuid4().hex[:8]
    # the catalog's one-time nanosAsLong write happens on the first bind
    # of a timestamp[ns] table, so it must come before the snapshot
    kql(spark, "events | take 1", sf_dir=SF_DIR).collect()
    before = dict(spark.conf.getAll)

    def unchanged(after: str) -> None:
        assert dict(spark.conf.getAll) == before, f"conf changed after {after}"

    sized_text = f"documents | summarize n = count()\n// sized_{tag}"
    sized = kql(spark, sized_text, sf_dir=SF_DIR)
    unchanged("kql() on a sized source")
    unsized = kql(spark, f"range x from 1 to 5 step 1\n// unsized_{tag}", sf_dir=SF_DIR)
    unchanged("kql() on an unsized source")
    assert kql(spark, sized_text, sf_dir=SF_DIR) is sized
    unchanged("a plan-cache hit")
    assert sized.collect()[0][0] > 0
    unchanged("collect")
    assert len(unsized.toPandas()) == 5
    unchanged("toPandas")
    assert sized.rdd.count() == 1
    unchanged(".rdd")
    unsized.write.mode("overwrite").parquet(str(tmp_path / "out"))
    unchanged(".write")
    with pytest.raises(KqlSemanticError):
        kql(spark, f"documents | project no_such_col_{tag}", sf_dir=SF_DIR)
    unchanged("a kql() that raises")


def test_kql_never_writes_session_conf(spark, tmp_path, monkeypatch):
    # no query path sets or unsets a session conf key, not even
    # temporarily: a fused small query, a sized small query that is not
    # fused (several row groups), an unsized source and a JSON parse, each
    # through kql() and an action
    import pandas as pd
    from pyspark.sql.conf import RuntimeConfig

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.corpus import CORPUS
    from kql_engine_spark.translator import kql
    from tests.conftest import SF_DIR

    # the catalog's one-time nanosAsLong write on the first bind of a
    # timestamp[ns] table is a separate matter: bind events before recording
    kql(spark, "events | take 1", sf_dir=SF_DIR).collect()
    calls = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def rec_set(self, key, value):
        calls.append(("set", key, value))
        return real_set(self, key, value)

    def rec_unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", rec_set)
    monkeypatch.setattr(RuntimeConfig, "unset", rec_unset)

    pd.DataFrame({"a": range(1000)}).to_parquet(
        tmp_path / "rg10.parquet", row_group_size=100
    )
    cat = Catalog(spark, str(tmp_path))
    assert cat.single_split("rg10") is False
    fused = kql(spark, "events | summarize n = count() by event_type\n// conf-fused",
                sf_dir=SF_DIR)
    assert "Coalesce 1" in fused._jdf.queryExecution().executedPlan().toString()
    fused.collect()
    not_fused = kql(spark, "rg10 | summarize s = sum(a) by b = a % 7", catalog=cat)
    assert "Coalesce 1" not in not_fused._jdf.queryExecution().executedPlan().toString()
    assert len(not_fused.toPandas()) == 7
    unsized = kql(spark, "range x from 1 to 50 step 1 | summarize s = sum(x)\n"
                  "// conf-unsized", sf_dir=SF_DIR)
    assert unsized.collect()[0][0] == 1275
    parse = kql(spark, CORPUS["extractjson_props"][0] + "\n// conf-parse", sf_dir=SF_DIR)
    parse.toPandas()
    assert calls == []


def test_multi_row_group_small_file_scans_on_every_core(spark, tmp_path):
    # a small file with several row groups must scan on every core without
    # any per-query conf change: the session's split rule (8MB splits,
    # 1MB open cost, see get_spark) gives one split per core here, and a
    # parquet row group lands in the split holding its midpoint
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    per_group = 150_000  # 1.2MB of incompressible int64 per row group
    x = np.random.default_rng(7).integers(0, 2**62, 5 * per_group, dtype=np.int64)
    path = str(tmp_path / "rg5.parquet")
    pq.write_table(
        pa.table({"x": x}), path, row_group_size=per_group,
        compression="none", use_dictionary=False,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 5
    df = kql(spark, "rg5 | project x", catalog=Catalog(spark, str(tmp_path)))
    tasks = df.select(F.spark_partition_id()).distinct().count()
    assert tasks == min(5, spark.sparkContext.defaultParallelism)


def test_write_bucketed_never_deletes_index_stores(spark, tmp_path):
    # round 14 (ADVICE): the orphan-directory cleanup used to delete ANY
    # warehouse directory sharing the table's name — including an index
    # store kept under the warehouse. Now only directories that look
    # like abandoned saveAsTable parquet output are cleared.
    import os
    import uuid

    from kql_engine_spark import sinks

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    name = f"idxstore_{uuid.uuid4().hex[:8]}"
    store = os.path.join(wh, name)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    df.write.parquet(store + "/sigs")
    df.write.parquet(store + "/meta")
    try:
        try:
            sinks.write_bucketed(df, name, 2, "k")
            raised = False
        except Exception:
            raised = True
        # whether or not saveAsTable refused the occupied location, the
        # store's contents must survive
        assert os.path.exists(store + "/sigs") and os.path.exists(store + "/meta")
        assert raised  # the location was occupied by a non-table
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil

        shutil.rmtree(store, ignore_errors=True)
    # a genuine orphan (part files, no catalog entry) is still cleared
    orphan = f"orphan_{uuid.uuid4().hex[:8]}"
    df.write.parquet(os.path.join(wh, orphan))  # parquet output shape
    sinks.write_bucketed(df, orphan, 2, "k")
    try:
        assert spark.table(orphan).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {orphan}")


def test_mixture_pair_bounded_plans(run_kql):
    # round 16: sample_to_mixture's constant max-quota bound must keep
    # Spark's WindowGroupLimit map-side pruning live (each map partition
    # ships at most max-quota rows per group into the exchange — the
    # bounded-shuffle shape at 100 TB). upsample_to_mixture's even-mix
    # no-shuffle pin lives in its law test (fixture-count dependent).
    df = run_kql(
        "documents | evaluate sample_to_mixture(source, doc_id, 11,"
        " 'src1', 3, 'src2', 2, 'src3', 1)"
    )
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[1].splitlines()[0] or (
        plan.count("WindowGroupLimit") >= 2  # partial (map-side) + final
    )


def test_single_task_fused_small_plan(run_kql, spark, monkeypatch):
    # Round 17 (guide §2.4, "remove shuffles outright"): when every file
    # source is a single parquet row group (scan unsplittable — the
    # fixtures here) AND the total input fits one default scan split,
    # each scan coalesces to 1 partition, so the whole query plans with
    # ZERO Exchange — aggregation, window and sort all run in one stage.
    # Scale safety is pinned from both ends: the same query with the
    # fusion disabled keeps the Exchange (the cluster shape), and both
    # arms return identical rows (the one real scan task already drove
    # every partial aggregate, so accumulation order is unchanged).
    import kql_engine_spark.translator as TR

    q = (
        "events | where value > 0.0 "
        "| summarize n = count(), s = sum(value) by event_type "
        "| sort by event_type asc"
    )
    fused = run_kql(q)
    plan = _plan(fused)
    assert "Exchange" not in plan
    assert "Coalesce" in plan
    assert plan.count("HashAggregate") >= 2  # two-phase agg preserved
    monkeypatch.setattr(TR, "_SINGLE_TASK_BYTES", -1)
    unfused = run_kql(q + " // single-task-off")
    assert "Exchange" in _plan(unfused)
    assert [tuple(r) for r in fused.collect()] == [
        tuple(r) for r in unfused.collect()
    ]


def test_single_task_skips_oversized_and_multi_row_group(run_kql, spark, tmp_path):
    # the byte gate: a query whose sources exceed one scan split keeps
    # its shuffles (codegen fusion of scan+partial-agg
    # beats the removed stage once real row volume crosses the Coalesce
    # boundary — measured q1 1.40x, BASELINE.md round 17) — and a
    # multi-row-group source must never fuse (its scan CAN parallelize).
    import kql_engine_spark.translator as TR

    big = TR._SINGLE_TASK_BYTES + 1
    orig = TR.Catalog.file_size
    try:
        TR.Catalog.file_size = lambda self, name: big
        df = run_kql("lineitem | summarize s = sum(l_quantity) by l_returnflag"
                     " // oversized-probe")
        assert "Exchange" in _plan(df)
    finally:
        TR.Catalog.file_size = orig
    # multi-row-group source: single_split() must say False
    import pandas as pd

    p = tmp_path / "multi_rg.parquet"
    pd.DataFrame({"a": range(1000)}).to_parquet(p, row_group_size=100)
    from kql_engine_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    assert cat.single_split("multi_rg") is False
    assert cat.single_split("events") is False  # not in this base_dir


def test_json_parse_results_and_order_contracts(run_kql, spark, duck, tmp_path):
    # a per-row JSON parse gives the same rows whether it is written as
    # extractjson or as property access on a string column, and a parse
    # keeps the row order a sort below it (also one hidden in a pipe
    # source or a let-bound view) or a final sort above it establishes
    import pandas as pd

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    want = duck.sql(
        "SELECT CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT), COUNT(*)"
        " FROM events"
    ).fetchall()
    for q in (
        "events | project event_id, k = tolong(extractjson('$.k', props)) "
        "| summarize s = sum(k), n = count()",
        "events | project event_id, k = tolong(props.k) "
        "| summarize s = sum(k), n = count()",
    ):
        assert [tuple(r) for r in run_kql(q).collect()] == want, q

    # struct field access and the JSON parse of its string twin agree
    n = 500
    pd.DataFrame(
        {
            "props": [{"k": i} for i in range(n)],
            "js": ['{"k": %d}' % i for i in range(n)],
        }
    ).to_parquet(tmp_path / "structtab.parquet")
    cat = Catalog(spark, str(tmp_path))
    sums = [
        kql(spark, f"structtab | project x = tolong({c}.k) | summarize s = sum(x)",
            catalog=cat).collect()[0][0]
        for c in ("props", "js")
    ]
    assert sums == [n * (n - 1) // 2] * 2

    def column(q, c):
        return [r[c] for r in run_kql(q).collect()]

    for src in ("events | sort by ts asc", "(events | sort by ts asc)",
                "let V = events | sort by ts asc; V"):
        ts = column(
            f"{src} | extend k = extractjson('$.k', props) "
            "| project ts, event_id, k",
            "ts",
        )
        assert ts == sorted(ts) and len(ts) > 1, src
    ids = column(
        "events | sort by ts asc | extend k = extractjson('$.k', props) "
        "| project event_id, k | sort by event_id asc",
        "event_id",
    )
    assert ids == sorted(ids)
