"""Regression tests for the round-1/2 ADVICE bugs — each was a silent
wrong-answer; these pin the fixed behavior."""

from __future__ import annotations

import datetime as dt

import pytest


def test_gamma_constant(run_kql):
    # ADVICE #2: Stirling constant was 0.5*2.8378... (e^0.5 off)
    row = run_kql("print g5 = gamma(5.0), g4 = gamma(4.0), lg1 = loggamma(1.0)").collect()[0]
    assert abs(row.g5 - 24.0) < 1e-6
    assert abs(row.g4 - 6.0) < 1e-6
    assert abs(row.lg1 - 0.0) < 1e-6


def test_summarize_computed_by_key_does_not_shadow(run_kql, duck):
    # ADVICE #1: `by bin(ts, 1d)` auto-named `ts` corrupted max(ts)/min(ts)
    rows = run_kql(
        "events | summarize mx = max(ts), mn = min(ts) by d = bin(ts, 1d) | sort by d asc"
    ).collect()
    oracle = duck.sql(
        """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) d,
                  CAST(MAX(ts) AS TIMESTAMP) mx, CAST(MIN(ts) AS TIMESTAMP) mn
           FROM events GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert [(r.d, r.mx, r.mn) for r in rows] == oracle
    # the killer symptom: max(ts) must NOT equal the bin value
    assert any(r.mx != r.d for r in rows)


def test_summarize_bin_autoname_shadow(run_kql):
    # same bug, implicit-name form: `by bin(ts, 1d)` names the key `ts`
    rows = run_kql(
        "events | summarize mx = max(ts) by bin(ts, 1d) | sort by ts asc | take 2"
    ).collect()
    assert all(r.mx > r.ts for r in rows)


def test_make_series_fractional_step(run_kql):
    # ADVICE #3: numeric axis with fractional step crashed F.sequence
    row = run_kql(
        "events | make-series c = count() on value from 0.0 to 1.0 step 0.25"
    ).collect()[0]
    assert row["value"] == [0.0, 0.25, 0.5, 0.75]
    assert len(row["c"]) == 4


def test_datatable_timespan_and_dynamic_cells(run_kql):
    # ADVICE #4: timespan/dynamic/bool cells silently became null
    row = run_kql(
        "datatable(t:timespan, b:bool, d:dynamic)[90m, true, dynamic([1, 2])]"
    ).collect()[0]
    assert row.t == dt.timedelta(minutes=90)
    assert row.b is True
    assert row.d == "[1, 2]"


def test_datatable_nonconstant_cell_raises(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError):
        run_kql("datatable(x:long)[strcat('a', 'b')]").collect()


def test_row_cumsum_restart(run_kql):
    # ADVICE #5: restart argument was silently ignored
    rows = run_kql(
        "datatable(x:long)[1, 2, 3, 4, 5, 6] | serialize"
        " | extend cs = row_cumsum(x, x % 3 == 0) | project x, cs"
    ).collect()
    assert [(r.x, r.cs) for r in rows] == [(1, 1), (2, 3), (3, 3), (4, 7), (5, 12), (6, 6)]


def test_prev_default_not_substituted_for_stored_nulls(run_kql):
    # ADVICE #5: prev's default must fill only out-of-bounds rows
    rows = run_kql(
        "datatable(x:long, y:long)[1, 10, 2, long(null), 3, 30] | serialize"
        " | extend p = prev(y, 1, -99) | project x, p"
    ).collect()
    got = {r.x: r.p for r in rows}
    assert got[1] == -99  # out of bounds -> default
    assert got[2] == 10
    assert got[3] is None  # stored null stays null, NOT -99


def test_ns_timestamp_truncation_matches_duckdb(run_kql, duck):
    # catalog ns->us truncation must floor exactly like DuckDB's CAST
    srow = run_kql("events | summarize mx = max(ts)").collect()[0]
    drow = duck.sql("SELECT CAST(MAX(ts) AS TIMESTAMP) FROM events").fetchone()
    assert srow.mx == drow[0]


def test_internal_columns_do_not_leak(run_kql):
    df = run_kql("datatable(x:long)[1, 2] | serialize | extend r = row_number()")
    assert all(not c.startswith("__") for c in df.columns)


def test_scan_funnel_golden(run_kql):
    rows = run_kql(
        "datatable(ts:long, ev:string)[1, 'view', 2, 'click', 3, 'purchase',"
        " 4, 'click', 5, 'view', 6, 'purchase', 7, 'view', 8, 'click', 9, 'purchase']"
        " | sort by ts asc"
        " | scan with_match_id = m declare (seen:long = 0) with ("
        "     step s1: ev == 'view' => seen = 1;"
        "     step s2: ev == 'click' => seen = 2;"
        "     step s3: ev == 'purchase' => seen = 3;)"
    ).collect()
    got = [(r.ts, r.ev, r.seen, r.m) for r in rows]
    assert got == [
        (1, "view", 1, 0), (2, "click", 2, 0), (3, "purchase", 3, 0),
        (5, "view", 1, 1), (7, "view", 1, 1), (8, "click", 2, 1),
        (9, "purchase", 3, 1),
    ]


def test_scan_step_reference(run_kql):
    rows = run_kql(
        "datatable(t:long, ev:string)[1, 'a', 5, 'b', 10, 'a', 11, 'b']"
        " | sort by t asc"
        " | scan declare (gap:long = 0) with ("
        "     step s1: ev == 'a';"
        "     step s2: ev == 'b' => gap = t - s1.t;)"
    ).collect()
    gaps = [r.gap for r in rows if r.ev == "b"]
    assert gaps == [4, 1]


def test_partitioned_scan_matches_global_per_key(run_kql):
    # Round 5: `partition by key ( sort | scan )` shards the state machine
    # per key (applyInPandas). For a single key it must equal the global
    # single-walker scan over that key's rows.
    scan = (
        " | scan with_match_id = m declare (hits:long = 0) with ("
        "     step s1: event_type == 'view' => hits = 1;"
        "     step s2: event_type == 'purchase' => hits = 2;)"
    )
    want = run_kql(
        "events | where user_id == 3 | sort by ts asc, event_id asc" + scan
        + " | summarize rows = count(), matches = count_distinct(m), hs = sum(hits)"
    ).collect()[0]
    got = run_kql(
        "events | where user_id == 3 | partition by user_id ("
        " sort by ts asc, event_id asc" + scan + ")"
        " | summarize rows = count(), matches = count_distinct(m), hs = sum(hits)"
    ).collect()[0]
    assert (got.rows, got.matches, got.hs) == (want.rows, want.matches, want.hs)
    assert got.rows > 0


def test_partitioned_scan_requires_sort(run_kql):
    import pytest as _pytest

    from kql_engine_spark.errors import KqlSemanticError

    with _pytest.raises(KqlSemanticError):
        run_kql(
            "events | partition by user_id ("
            " scan with (step s1: event_type == 'view';))"
        )


def test_graph_shortest_paths_output_all(run_kql):
    # diamond x->{y1,y2}->z: output=all returns BOTH minimal 2-hop paths,
    # and the 3-hop detour via q,r is pruned
    rows = run_kql(
        "datatable(src:string, dst:string)"
        "['x','y1','x','y2','y1','z','y2','z','x','q','q','r','r','z']"
        " | make-graph src --> dst"
        " | graph-shortest-paths output=all (a)-[e*1..5]->(b)"
        "   where a.node_id == 'x' and b.node_id == 'z'"
        "   project mid = tostring(e[0].dst), hops = tolong(array_length(e))"
        " | sort by mid asc"
    ).collect()
    assert [(r.mid, r.hops) for r in rows] == [("y1", 2), ("y2", 2)]


def test_graph_to_table_edges_passthrough(run_kql):
    rows = run_kql(
        "datatable(src:string, dst:string)['a','b','b','c']"
        " | make-graph src --> dst"
        " | graph-to-table edges"
        " | sort by src asc"
    ).collect()
    assert [(r.src, r.dst) for r in rows] == [("a", "b"), ("b", "c")]


def test_consume_executes_full_query(run_kql, spark):
    # `consume` must run the complete plan (it exists for timing pipelines);
    # the old limit(0) lowering short-circuited the scan. The noop-write
    # execution shows up as a Spark job in our job group.
    sc = spark.sparkContext
    sc.setJobGroup("consume-proof", "consume must execute")
    try:
        df = run_kql("lineitem | where l_quantity > 30.0 | consume")
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == []
    assert sc.statusTracker().getJobIdsForGroup("consume-proof"), (
        "consume ran no Spark job — the scan was short-circuited"
    )


def test_plan_cache_skips_toscalar_and_materialize(run_kql, spark):
    # toscalar()/materialize() evaluate at translate time; caching their
    # plans would freeze results across data changes (round-5 ADVICE fix).
    from kql_engine_spark.translator import _PLAN_CACHE

    run_kql("let n = toscalar(region | count); region | extend k = n")
    run_kql("let m = materialize(region | take 2); m | count")
    run_kql("region | where r_regionkey >= 0 | count")
    plans = _PLAN_CACHE.get(spark, {})
    texts = [k[1] for k in plans]
    assert not any("toscalar" in t or "materialize" in t for t in texts)
    assert any("r_regionkey >= 0" in t for t in texts)


def test_plan_cache_not_defeated_by_sample_column_name(run_kql, spark):
    # substring sniffing used to treat a `sample_rate` COLUMN as the sample
    # OPERATOR and never cache; AST-level detection must cache this text
    from kql_engine_spark.translator import _PLAN_CACHE

    text = "region | extend sample_rate = 1 | project r_name, sample_rate"
    run_kql(text)
    plans = _PLAN_CACHE.get(spark, {})
    assert any(text == k[1] for k in plans)


def test_union_wildcard_mid_star(run_kql):
    # `union c*mer` — star in the middle of the pattern must parse and
    # expand (customer matches c*mer)
    n = run_kql("union c*omer | count").collect()[0][0]
    expected = run_kql("customer | count").collect()[0][0]
    assert n == expected


def test_search_and_binds_tighter_than_or(run_kql):
    # `'ASIA' or 'AMERICA' and 'nomatch'` == `'ASIA' or ('AMERICA' and ...)`
    rows = run_kql(
        "region | search 'ASIA' or 'AMERICA' and 'nomatchtoken'"
    ).collect()
    assert [r.r_name for r in rows] == ["ASIA"]


def test_search_exact_equality_is_case_sensitive(run_kql):
    assert run_kql("region | search r_name == 'asia'").count() == 0
    assert run_kql("region | search r_name == 'ASIA'").count() == 1


def test_search_source_all_tables(run_kql):
    # query-initial `search` without `in (...)` scans every catalog table;
    # 'ASIA' appears only in region.r_name on these fixtures
    rows = run_kql(
        "search 'ASIA' | summarize n = count() by tbl = $table"
    ).collect()
    assert [(r.tbl, r.n) for r in rows] == [("region", 1)]


def test_search_scoped_typo_raises_on_single_table(run_kql):
    # review r5: a misspelled scoped column in the piped single-table form
    # must raise, not silently return zero rows (leniency is only for the
    # cross-table form, where tables lacking the column simply don't match)
    import pytest as _pytest

    from kql_engine_spark.errors import KqlSemanticError

    with _pytest.raises(KqlSemanticError):
        run_kql("events | search evnt_type: 'purchase'")


def test_search_in_mid_pipe_raises(run_kql):
    # `T | search in (...)` would silently discard T; Kusto only allows the
    # in-form query-initial
    import pytest as _pytest

    from kql_engine_spark.errors import KqlSemanticError

    with _pytest.raises(KqlSemanticError):
        run_kql("events | where user_id == 3 | search in (region) 'ASIA'")


def test_ipv6_null_prefix_yields_null(run_kql):
    # review r5: a null prefix column reaches the pandas UDF as NaN and
    # must yield null, not crash the job
    rows = run_kql(
        "datatable(ip:string, p:long)['2001:db8::1', 64, '2001:db8::2', long(null)]"
        " | extend m = parse_ipv6_mask(ip, p), c = ipv6_compare(ip, '2001:db8::1', p)"
        " | sort by ip asc"
    ).collect()
    assert rows[0].m is not None and rows[1].m is None and rows[1].c is None


def test_eager_plugins_not_plan_cached(run_kql, spark):
    # review r5: evaluate plugins that materialize at translate time
    # (localCheckpoint / fits / collect) must never be plan-cached, or the
    # cached plan would freeze pre-checkpoint data
    from kql_engine_spark.translator import _PLAN_CACHE

    run_kql(
        "datatable(id:long, t:string)[1, 'a b c', 2, 'a b c']"
        " | evaluate dedup_simhash(t, id, 0) | count"
    )
    texts = [k[1] for k in _PLAN_CACHE.get(spark, {})]
    assert not any("dedup_simhash" in t for t in texts)


def test_search_in_missing_scoped_column_is_false(run_kql):
    # nation has no r_name; the scoped leaf must be False there, not an error
    rows = run_kql(
        "search in (region, nation) r_name: 'ASIA'"
    ).collect()
    assert len(rows) == 1 and rows[0]["$table"] == "region"


def test_scan_cumulative_sum_doc_example(run_kql):
    # The public scan-operator docs' first example: a single always-true
    # step accumulates across ALL rows (the sequence never resets).
    rows = run_kql(
        "range x from 1 to 5 step 1"
        " | sort by x asc"
        " | scan declare (cumulative_x:long = 0) with ("
        "     step s1: true => cumulative_x = x + s1.cumulative_x;)"
    ).collect()
    assert [r.cumulative_x for r in rows] == [1, 3, 6, 10, 15]


def test_scan_overlapping_sequences(run_kql):
    # Round-5 concurrent model: a new sequence starting at step 1 must NOT
    # kill a sequence already promoted to a later step. Input A B A C:
    # seq 0 (A@1,B@2) survives the restart A@3 and completes on C@4.
    # The old single-active-match model dropped C entirely.
    rows = run_kql(
        "datatable(t:long, ev:string)[1, 'A', 2, 'B', 3, 'A', 4, 'C']"
        " | sort by t asc"
        " | scan with_match_id = m with ("
        "     step s1: ev == 'A';"
        "     step s2: ev == 'B';"
        "     step s3: ev == 'C';)"
    ).collect()
    got = [(r.t, r.ev, r.m) for r in rows]
    assert got == [(1, "A", 0), (2, "B", 0), (3, "A", 1), (4, "C", 0)]


def test_scan_completed_match_is_discarded(run_kql):
    # After Start..Stop completes, a second Stop must not re-attach to the
    # completed sequence; a fresh Start..Stop pair gets a new match id.
    rows = run_kql(
        "datatable(t:long, ev:string)"
        "[1, 'Start', 2, 'Stop', 3, 'Stop', 4, 'Start', 5, 'Stop']"
        " | sort by t asc"
        " | scan with_match_id = m with ("
        "     step s1: ev == 'Start';"
        "     step s2: ev == 'Stop';)"
    ).collect()
    got = [(r.t, r.ev, r.m) for r in rows]
    assert got == [
        (1, "Start", 0), (2, "Stop", 0), (4, "Start", 1), (5, "Stop", 1),
    ]


def test_sequence_detect_windows_and_restart(run_kql):
    rows = run_kql(
        "datatable(ts:long, ev:string, uid:long)["
        " 1, 'A', 1,  3, 'B', 1,  10, 'A', 1,  20, 'B', 1,"
        " 2, 'A', 2,  4, 'X', 2,  6, 'B', 2,"
        " 1, 'B', 3,  2, 'A', 3,  9, 'B', 3]"
        " | evaluate sequence_detect(ts, 5, 10, ev == 'A', ev == 'B', uid)"
        " | sort by uid asc, t1 asc"
    ).collect()
    # uid1: A@1->B@3 completes; A@10->B@20 violates the 5-step window and
    # B can't restart. uid2: the non-matching X row is skipped, not a
    # reset. uid3: B before any A never starts a sequence.
    assert [(r.uid, r.t1, r.t2) for r in rows] == [(1, 1, 3), (2, 2, 6)]


def test_sequence_detect_on_event_timestamps(run_kql):
    n = run_kql(
        "events | evaluate sequence_detect(ts, 12h, 2d,"
        " event_type == 'view', event_type == 'purchase', user_id)"
        " | summarize n = count()"
    ).collect()[0].n
    assert n > 0


def test_basket_finds_planted_combination(run_kql):
    # 6 of 8 rows share (a=x, b=y) — basket at 0.5 must surface the pair
    # segment with exact count 6
    rows = run_kql(
        "datatable(a:string, b:string)"
        "['x','y','x','y','x','y','x','y','x','y','x','y','p','q','p','r']"
        " | evaluate basket(0.5)"
    ).collect()
    seg = [(r.Count, r.a, r.b) for r in rows]
    assert (6, "x", "y") in seg and (6, "x", None) in seg and (6, None, "y") in seg
    assert all(c >= 4 for c, _, _ in seg)


def test_autocluster_prefers_specific_segments_at_low_weight(run_kql):
    # w=0: specificity dominates -> the fully-fixed (x, y) segment must be
    # picked and subsume its single-column generalizations
    rows = run_kql(
        "datatable(a:string, b:string)"
        "['x','y','x','y','x','y','x','y','x','y','x','y','p','q','p','r']"
        " | evaluate autocluster(0.0)"
    ).collect()
    segs = [(r.a, r.b) for r in rows]
    assert ("x", "y") in segs
    assert ("x", None) not in segs and (None, "y") not in segs


def test_scan_step_output_modes(run_kql):
    # output=last on s1: only the final view before the click appears;
    # output=none on s2: the click row is suppressed entirely
    rows = run_kql(
        "datatable(t:long, ev:string)"
        "[1, 'view', 2, 'view', 3, 'view', 4, 'click', 5, 'buy']"
        " | sort by t asc"
        " | scan with_match_id = m with ("
        "     step s1 output=last: ev == 'view';"
        "     step s2 output=none: ev == 'click';"
        "     step s3: ev == 'buy';)"
    ).collect()
    got = [(r.t, r.ev, r.m) for r in rows]
    assert got == [(3, "view", 0), (5, "buy", 0)]


def test_scan_output_last_flushes_at_end_of_input(run_kql):
    # a sequence still parked at an output=last step when input ends must
    # flush its buffered record (batch semantics)
    rows = run_kql(
        "datatable(t:long, ev:string)[1, 'view', 2, 'view']"
        " | sort by t asc"
        " | scan with ("
        "     step s1 output=last: ev == 'view';"
        "     step s2: ev == 'click';)"
    ).collect()
    assert [(r.t, r.ev) for r in rows] == [(2, "view")]


def test_scan_requires_serialization(run_kql):
    import pytest as _pytest

    from kql_engine_spark.errors import KqlSemanticError

    with _pytest.raises(KqlSemanticError):
        run_kql(
            "events | scan with (step s1: event_type == 'view';)"
        ).collect()


def test_make_series_auto_bounds(run_kql):
    row = run_kql("events | make-series c = count() on ts step 1d").collect()[0]
    assert sum(row["c"]) > 0
    assert len(row["ts"]) == len(row["c"])


def test_series_decompose_anomaly_flags(run_kql):
    row = run_kql(
        "print y = dynamic([1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 50.0])"
        " | extend a = series_decompose_anomalies(y, 2, 1.5)"
    ).collect()[0]
    assert row.a[-1] == 1.0 and all(v == 0.0 for v in row.a[:-1])


def test_hll_if_close_to_exact(run_kql, duck):
    row = run_kql(
        "events | summarize s = hll_if(user_id, event_type == 'view')"
        " | project d = dcount_hll(s)"
    ).collect()[0]
    exact = duck.sql(
        "SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'view'"
    ).fetchone()[0]
    assert abs(row.d - exact) <= max(2, 0.05 * exact)


def test_tdigest_merge_rollup_close(run_kql, duck):
    # round 5: tdigest is a real mergeable KLL sketch — the two-level
    # rollup (per-flag sketches -> merge_tdigest) must stay close to exact
    row = run_kql(
        "lineitem | summarize td = tdigest(l_extendedprice) by l_returnflag"
        " | summarize merged = merge_tdigest(td)"
        " | project p50 = percentile_tdigest(merged, 50),"
        "           ps = percentile_array_tdigest(merged, dynamic([25, 75]))"
    ).collect()[0]
    exact = duck.sql(
        "SELECT quantile_cont(l_extendedprice, 0.25),"
        " quantile_cont(l_extendedprice, 0.5),"
        " quantile_cont(l_extendedprice, 0.75) FROM lineitem"
    ).fetchone()
    assert abs(row.p50 - exact[1]) / exact[1] < 0.05
    assert abs(row.ps[0] - exact[0]) / exact[0] < 0.05
    assert abs(row.ps[1] - exact[2]) / exact[2] < 0.05


def test_series_decompose_forecast_linear(run_kql):
    # a perfectly linear series (no seasonality) must extrapolate exactly
    row = run_kql(
        "print y = dynamic([1.0, 2.0, 3.0, 4.0, 5.0])"
        " | extend f = series_decompose_forecast(y, 3)"
        " | project n = tolong(array_length(f)), a = todouble(f[5]),"
        "           b = todouble(f[6]), c = todouble(f[7])"
    ).collect()[0]
    assert row.n == 8
    assert abs(row.a - 6.0) < 1e-9 and abs(row.b - 7.0) < 1e-9
    assert abs(row.c - 8.0) < 1e-9


def test_tdigest_percentile_close(run_kql, duck):
    row = run_kql(
        "lineitem | summarize td = tdigest(l_extendedprice)"
        " | project p50 = percentile_tdigest(td, 50)"
    ).collect()[0]
    exact = duck.sql(
        "SELECT quantile_cont(l_extendedprice, 0.5) FROM lineitem"
    ).fetchone()[0]
    assert abs(row.p50 - exact) / exact < 0.05


# ------------------------------------------------------------ round-3 ADVICE


def test_mvapply_reattach_after_shuffle(run_kql, duck):
    # ADVICE r3: mv-apply's re-attach join referenced the mIid-stamped frame
    # on both sides without pinning it; after an upstream shuffle the two
    # evaluations could number rows differently (silent wrong re-attach).
    # Exercise the aggregate path with a shuffle (summarize) upstream.
    rows = run_kql(
        "lineitem"
        " | summarize qs = make_list(l_quantity) by l_orderkey"
        " | mv-apply v = qs to typeof(real) on (summarize mx = max(v))"
        " | summarize total = round(sum(mx), 2), n = count()"
    ).collect()
    oracle = duck.sql(
        "SELECT ROUND(SUM(mx), 2) total, COUNT(*) n FROM ("
        "  SELECT l_orderkey, MAX(l_quantity) mx FROM lineitem GROUP BY 1)"
    ).fetchall()[0]
    assert (float(rows[0].total), rows[0].n) == (float(oracle[0]), oracle[1])


def test_scan_sees_nan_as_null(run_kql):
    # ADVICE r3: nullable long columns arrive as float64 NaN in the pandas
    # batches; the interpreter's `is None` null model must still see null.
    # Round 5: a single-step scan extends one sequence (Kusto cumsum
    # semantics), so the null count accumulates: [0, 1, 1] not [0, 1, 0].
    rows = run_kql(
        "datatable(t:long, v:long)[1, 10, 2, long(null), 3, 30]"
        " | sort by t asc"
        " | scan declare (nn:long = 0) with ("
        "     step s1: true => nn = nn + tolong(isnull(v));)"
    ).collect()
    assert [r.nn for r in rows] == [0, 1, 1]


def test_scan_min_of_all_null(run_kql):
    # min_of/max_of over all-null arguments must yield null, not raise
    rows = run_kql(
        "datatable(t:long, v:long)[1, long(null)]"
        " | sort by t asc"
        " | scan declare (m:long = 0) with (step s1: true => m = min_of(v, v);)"
    ).collect()
    assert rows[0].m is None


def test_python_plugin_gated_by_default(run_kql, monkeypatch):
    # ADVICE r3: evaluate python() exec()s query-supplied code — default-off
    from kql_engine_spark.errors import KqlUnsupportedError

    monkeypatch.delenv("KQL_ENGINE_ENABLE_PYTHON_PLUGIN", raising=False)
    with pytest.raises(KqlUnsupportedError):
        run_kql("print x = 1 | evaluate python(typeof(*), 'result = df')")


def test_shufflekey_hint_on_computed_key(run_kql, duck):
    # ADVICE r3: hint.shufflekey naming a computed by-key alias raised
    # AnalysisException (the alias only exists as __kqlkey{i} at that point)
    rows = run_kql(
        "orders"
        " | summarize hint.shufflekey = h n = count() by h = o_custkey % 10"
        " | sort by h asc"
    ).collect()
    oracle = duck.sql(
        "SELECT o_custkey % 10 h, COUNT(*) n FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [(r.h, r.n) for r in rows] == oracle


def test_format_timespan_negative(run_kql):
    # ADVICE r3: pmod folded negative timespans into [0, n) — -1h rendered
    # as 23h of a wrapped day. Negative spans format as -<abs components>.
    row = run_kql(
        "print neg = format_timespan(0h - 1h - 30m - 5s, 'hh:mm:ss'),"
        "      pos = format_timespan(1h + 30m + 5s, 'hh:mm:ss')"
    ).collect()[0]
    assert row.neg == "-01:30:05"
    assert row.pos == "01:30:05"


def test_series_periods_detect_golden(run_kql):
    # period-8 sawtooth x4 + a no-signal series: fundamental at lag 8
    row = run_kql(
        "print y = dynamic([0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0,"
        " 0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0,"
        " 0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0,"
        " 0.0, 1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0])"
        " | extend pd = series_periods_detect(y, 0.0, 12.0, 2)"
        " | project p0 = todouble(pd.periods[0]), s0 = todouble(pd.scores[0]),"
        "           np = tolong(array_length(pd.periods))"
    ).collect()[0]
    assert row.p0 == 8.0
    assert row.s0 > 0.5
    assert row.np <= 2
    flat = run_kql(
        "print y = dynamic([1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0])"
        " | extend pd = series_periods_detect(y, 0.0, 4.0, 1)"
        " | project np = tolong(array_length(pd.periods))"
    ).collect()[0]
    assert flat.np == 0


def test_top_nested_with_others_two_levels(run_kql):
    # level-1 others folds c+d into 'rest'; level-2 descends into every
    # bucket (incl. 'rest') and folds non-top children into 'more'
    rows = run_kql(
        "datatable(g:string, c:string, v:long)["
        "'a', 'x', 10, 'a', 'y', 5, 'a', 'z', 1,"
        "'b', 'x', 8, 'c', 'x', 2, 'd', 'x', 1]"
        " | top-nested 2 of g with others = 'rest' by s1 = sum(v),"
        "   top-nested 1 of c with others = 'more' by s2 = sum(v)"
    ).collect()
    got = {(r.g, r.s1, r.c, r.s2) for r in rows}
    assert got == {
        ("a", 16, "x", 10),
        ("a", 16, "more", 6),
        ("b", 8, "x", 8),
        ("rest", 3, "x", 3),
    }


def test_hll_sketch_mergeable_roundtrip(run_kql):
    # sketches built per-group must merge to the global estimate (the
    # pre-aggregated rollup pattern); accuracy 4 is exact at fixture scale
    est = run_kql(
        "lineitem"
        " | summarize h = hll(l_orderkey, 4) by l_returnflag"
        " | summarize est = dcount_hll(hll_merge(h))"
    ).collect()[0].est
    exact = run_kql(
        "lineitem | summarize d = count_distinct(l_orderkey)"
    ).collect()[0].d
    assert abs(est - exact) / exact < 0.01
    # scalar 2-sketch merge (extend context) also reads out sanely
    row = run_kql(
        "lineitem"
        " | summarize h = hll(l_orderkey) by flag = l_returnflag == 'R'"
        " | summarize hs = make_list(h)"
        " | project est = dcount_hll(hll_merge(hs[0], hs[1]))"
    ).collect()[0]
    assert abs(row.est - exact) / exact < 0.05


def test_plan_cache_reuses_and_reexecutes(spark):
    # identical text -> same DataFrame object (plan reuse), but results are
    # never cached: collect re-runs the job each time
    from kql_engine_spark.translator import kql

    a = kql(spark, "lineitem | summarize n = count()", sf_dir="/root/testdata/sf0.001")
    b = kql(spark, "lineitem | summarize n = count()", sf_dir="/root/testdata/sf0.001")
    assert a is b
    assert a.collect() == b.collect()
    # different sf_dir -> different plan
    c = kql(spark, "lineitem | summarize n = count()", sf_dir="/root/testdata/sf0.01")
    assert c is not a
    assert c.collect()[0].n > a.collect()[0].n


def test_plan_cache_skips_volatile_queries(spark):
    # rand()/now()/new_guid() queries must not be frozen by the plan cache
    from kql_engine_spark.translator import kql

    a = kql(spark, "print x = rand()")
    b = kql(spark, "print x = rand()")
    assert a is not b
    g1 = kql(spark, "print g = new_guid()").collect()[0].g
    g2 = kql(spark, "print g = new_guid()").collect()[0].g
    assert g1 != g2


def test_graph_match_requires_make_graph(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError):
        run_kql("orders | graph-match (a)-[e]->(b) project x = a.node_id")


def test_graph_match_reverse_edge(run_kql):
    rows = run_kql(
        "datatable(src:string, dst:string)['x', 'y', 'z', 'y']"
        " | make-graph src --> dst"
        " | graph-match (a)<-[e]-(b) project to_ = a.node_id, frm = b.node_id"
        " | sort by frm asc"
    ).collect()
    assert [(r.frm, r.to_) for r in rows] == [("x", "y"), ("z", "y")]


def test_graph_match_varlen_binds_edge_array(run_kql):
    rows = run_kql(
        "datatable(src:string, dst:string, w:long)["
        "'x', 'y', 1, 'y', 'z', 2]"
        " | make-graph src --> dst"
        " | graph-match (a)-[e*1..2]->(b)"
        "   where a.node_id == 'x'"
        "   project target = b.node_id, hops = tolong(array_length(e))"
    ).collect()
    assert {(r.target, r.hops) for r in rows} == {("y", 1), ("z", 2)}


def test_graph_match_varlen_cap(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError):
        run_kql(
            "datatable(src:string, dst:string)['x', 'y']"
            " | make-graph src --> dst"
            " | graph-match (a)-[e*1..50]->(b) project t = b.node_id"
        )


def test_s2_cell_roundtrip_and_hierarchy():
    # pure-codec invariants (no Spark): encode->decode->encode identity,
    # child-center encodes to the parent at the parent level
    import json
    import random

    from kql_engine_spark.functions.scalar import _s2_decode, _s2_encode

    rng = random.Random(42)
    for _ in range(100):
        lon, lat = rng.uniform(-180, 180), rng.uniform(-89.9, 89.9)
        for level in (3, 11, 24, 30):
            tok = _s2_encode(lon, lat, level)
            pt = json.loads(_s2_decode(tok))["coordinates"]
            assert _s2_encode(pt[0], pt[1], level) == tok
        child = _s2_encode(lon, lat, 18)
        cpt = json.loads(_s2_decode(child))["coordinates"]
        assert _s2_encode(cpt[0], cpt[1], 10) == _s2_encode(lon, lat, 10)


def test_s2_cell_invalid_tokens():
    from kql_engine_spark.functions.scalar import _s2_decode

    assert _s2_decode("zzz") is None        # not hex
    assert _s2_decode("0") is None          # zero id
    assert _s2_decode("f000000000000001") is None  # face > 5


def test_diffpatterns_weight_column_typed_error(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlUnsupportedError

    with pytest.raises(KqlUnsupportedError, match="WeightColumn"):
        run_kql(
            "orders | project o_orderstatus, o_orderpriority, w = o_orderkey"
            ' | evaluate diffpatterns(o_orderstatus, "F", "O", w)'
        ).collect()


def test_tuple_assign_multi_output(run_kql):
    # (a, b) = f(...) binds positionally to the function's declared outputs
    row = run_kql(
        "print y = dynamic([2.0, 4.0, 6.0])"
        " | extend (rsquare, slope) = series_fit_line(y)"
        " | project rsquare = round(rsquare, 6), slope = round(slope, 6)"
    ).collect()[0]
    assert row.rsquare == 1.0 and row.slope == 2.0


def test_tuple_assign_parenthesized_expr_still_parses(run_kql):
    # a parenthesized scalar on the RHS of project must not be mistaken for
    # a tuple target
    row = run_kql("print z = (1 + 2) | project w = (z) * 2").collect()[0]
    assert row.w == 6


def test_tuple_assign_rejects_scalar_function(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="multi-output"):
        run_kql("print y = 1 | extend (a, b) = strcat('x', 'y')").collect()


def test_tuple_assign_rejects_too_many_targets(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="targets"):
        run_kql(
            "print y = dynamic([1.0, 2.0])"
            " | extend (a, b, c) = series_fft(y)"
        ).collect()


def test_fft_parseval_energy(run_kql):
    # Parseval: sum |y|^2 == sum |Y|^2 / n — a property check over a
    # non-trivial series
    row = run_kql(
        "print y = dynamic([3.0, 1.0, -2.0, 5.0, 0.5, -1.5])"
        " | extend (re, im) = series_fft(y)"
        " | project lhs = round(series_dot_product(y, y), 6),"
        "           rhs = round((series_dot_product(re, re)"
        "                 + series_dot_product(im, im)) / 6.0, 6)"
    ).collect()[0]
    assert row.lhs == row.rhs


def test_activity_metrics_vs_new_activity_metrics(run_kql):
    # same distinct-actives per period; the two flavors differ only in the
    # direction their rates look (previous vs next period)
    am = {
        r.Timeline: r.dcount_values
        for r in run_kql(
            "events | evaluate activity_metrics(user_id, ts, 1d)"
        ).collect()
    }
    nam = {
        r.Timeline: r.dcount_values
        for r in run_kql(
            "events | evaluate new_activity_metrics(user_id, ts, 1d)"
        ).collect()
    }
    assert am == nam
    # first period has no predecessor -> null rates
    first = min(am)
    row = [
        r
        for r in run_kql(
            "events | evaluate activity_metrics(user_id, ts, 1d)"
        ).collect()
        if r.Timeline == first
    ][0]
    assert row.retention_rate is None and row.churn_rate is None


def test_union_isfuzzy_all_unresolved_raises(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="no operand resolved"):
        run_kql("union isfuzzy=true no_such1, no_such2 | count").collect()


def test_union_not_fuzzy_unknown_table_raises(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="unknown table"):
        run_kql("union nation, no_such_table | count").collect()


def test_array_sort_nulls_last_flag(run_kql):
    row = run_kql(
        "print a = dynamic([3, null, 1])"
        " | project s = tostring(array_sort_asc(a)),"
        "           sf = tostring(array_sort_asc(a, false)),"
        "           d = tostring(array_sort_desc(a))"
    ).collect()[0]
    assert row.s == "[1,3,null]"       # Kusto default: nulls last
    assert row.sf == "[null,1,3]"      # nulls_last=false -> nulls first
    assert row.d == "[3,1,null]"


def test_take_negative_typed_error(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="non-negative"):
        run_kql("nation | take -1").collect()


def test_current_principal_constants(run_kql):
    row = run_kql(
        "print p = current_principal(),"
        " m = current_principal_is_member_of('g'),"
        " t = tostring(current_principal_details().Type)"
    ).collect()[0]
    assert row.p == "aaduser=kql-engine-spark"
    assert row.m is False and row.t == "aaduser"


# ------------------------------------------------- ingestion metadata family


def test_ingestion_time_is_file_mtime(run_kql, spark):
    import os

    from tests.conftest import SF_DIR

    row = run_kql(
        "region | summarize t = take_any(ingestion_time()), n = count()"
    ).collect()[0]
    mtime = os.path.getmtime(os.path.join(SF_DIR, "region.parquet"))
    assert row.n == 5
    assert abs(row.t.timestamp() - mtime) < 2.0


def test_extent_id_guid_shape_constant_per_file(run_kql):
    import re

    rows = run_kql("region | extend e = extent_id() | distinct e").collect()
    assert len(rows) == 1
    assert re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        rows[0].e,
    )


def test_cursor_algebra(run_kql):
    # empty cursor admits everything; current cursor bounds everything;
    # a future cursor admits nothing after it
    row = run_kql(
        "region"
        " | where cursor_after('') and cursor_before_or_at(cursor_current())"
        " | count"
    ).collect()[0]
    assert row.Count == 5
    row = run_kql(
        "region | where cursor_after('99999999999999999') | count"
    ).collect()[0]
    assert row.Count == 0


def test_ingestion_meta_requires_file_source(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="file-backed"):
        run_kql("datatable(x: long)[1] | extend t = ingestion_time()").collect()


def test_ingestion_meta_hidden_from_schema_and_distinct(run_kql):
    # the hidden _metadata carrier columns never leak into getschema or
    # change distinct * row identity
    rows = run_kql(
        "region | where cursor_after('') | getschema"
    ).collect()
    assert [r.ColumnName for r in rows] == ["r_regionkey", "r_name"]
    df = run_kql("region | where cursor_after('') | distinct *")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 5


def test_ingest_meta_query_never_plan_cached(spark):
    from kql_engine_spark.parser import parse
    from kql_engine_spark.translator import _plan_is_volatile

    assert _plan_is_volatile(parse("region | where cursor_after('')"))
    assert _plan_is_volatile(parse("region | extend t = ingestion_time()"))
    assert not _plan_is_volatile(parse("region | count"))


# ------------------------------------- external_table / materialized_view


def test_external_table_source(spark, tmp_path):
    import os

    from tests.conftest import SF_DIR
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    cat = Catalog(spark, SF_DIR)
    cat.register_external("ext_n", os.path.join(SF_DIR, "nation.parquet"))
    rows = kql(
        spark,
        "external_table('ext_n') | summarize c = count() by n_regionkey"
        " | sort by n_regionkey asc",
        catalog=cat,
    ).collect()
    assert [r.c for r in rows] == [5, 5, 5, 5, 5]


def test_external_table_csv_roundtrip(spark, tmp_path):
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    p = tmp_path / "ext.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    cat = Catalog(spark, None)
    cat.register_external("csvt", str(p), fmt="csv",
                          options={"inferSchema": "true"})
    rows = kql(
        spark, "external_table('csvt') | where a > 1 | project b", catalog=cat
    ).collect()
    assert [r.b for r in rows] == ["y"]


def test_external_table_unregistered_typed_error(spark):
    import pytest

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.errors import KqlSemanticError
    from kql_engine_spark.translator import kql

    with pytest.raises(KqlSemanticError, match="not registered"):
        kql(spark, "external_table('nope') | count",
            catalog=Catalog(spark, None)).collect()


def test_materialized_view_readback(spark, tmp_path):
    from tests.conftest import SF_DIR
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    cat = Catalog(spark, SF_DIR)
    kql(spark, "region | project r_regionkey, r_name", catalog=cat).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "mv"))
    cat.register_matview("mv_r", str(tmp_path / "mv"))
    row = kql(
        spark, "materialized_view('mv_r') | count", catalog=cat
    ).collect()[0]
    assert row.Count == 5


def test_external_sources_never_plan_cached(spark):
    from kql_engine_spark.parser import parse
    from kql_engine_spark.translator import _plan_is_volatile

    assert _plan_is_volatile(parse("external_table('x') | count"))
    assert _plan_is_volatile(parse("materialized_view('x') | count"))


# ------------------------------------------------- geo densify / simplify


def test_geo_line_densify_stays_on_geodesic(run_kql):
    import json

    from kql_engine_spark.functions.scalar import _geo_hav_m, _geo_slerp

    row = run_kql(
        'print g = tostring(geo_line_densify(dynamic({"type":"LineString",'
        '"coordinates":[[0,0],[40,40]]}), 500))'
    ).collect()[0]
    pts = json.loads(row.g)["coordinates"]
    assert pts[0] == [0.0, 0.0] and pts[-1] == [40.0, 40.0]
    assert len(pts) > 2
    # every interior point sits on the original great circle (slerp at the
    # matching fraction reproduces it within metres)
    for p in pts[1:-1]:
        best = min(
            _geo_hav_m(*p, *_geo_slerp([0, 0], [40, 40], t / 256.0))
            for t in range(257)
        )
        assert best < 20000  # slerp sample spacing, not deviation


def test_geo_simplify_subset_and_closure(run_kql):
    import json

    row = run_kql(
        'print l = tostring(geo_line_simplify(dynamic({"type":"LineString",'
        '"coordinates":[[0,0],[1,0.0001],[2,0],[3,3]]}), 500)),'
        ' p = tostring(geo_polygon_simplify(dynamic({"type":"Polygon",'
        '"coordinates":[[[0,0],[1,0.000001],[2,0],[2,2],[0,2],[0,0]]]}), 50))'
    ).collect()[0]
    line = json.loads(row.l)["coordinates"]
    orig = [[0, 0], [1, 0.0001], [2, 0], [3, 3]]
    assert all(pt in [[float(a), float(b)] for a, b in orig] for pt in line)
    assert line[0] == [0.0, 0.0] and line[-1] == [3.0, 3.0]
    ring = json.loads(row.p)["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) >= 4
    assert [1.0, 0.000001] not in ring  # collinear vertex dropped


def test_geo_polygon_simplify_degenerate_null(run_kql):
    # simplifying a sliver below tolerance collapses the ring -> null
    row = run_kql(
        'print p = isnull(geo_polygon_simplify(dynamic({"type":"Polygon",'
        '"coordinates":[[[0,0],[0.00001,0],[0.00001,0.00001],[0,0]]]}), 10000))'
    ).collect()[0]
    assert row.p is True


def test_geo_s2_covering_contains_interior_points(run_kql):
    import random

    from kql_engine_spark.functions.scalar import _s2_encode

    row = run_kql(
        'print c = geo_polygon_to_s2cells(dynamic({"type":"Polygon",'
        '"coordinates":[[[10,10],[10.4,10],[10.4,10.4],[10,10.4],[10,10]]]}), 12)'
    ).collect()[0]
    cover = set(row.c)
    rng = random.Random(7)
    for _ in range(200):
        lon = 10 + 0.4 * rng.random()
        lat = 10 + 0.4 * rng.random()
        assert _s2_encode(lon, lat, 12) in cover


def test_geo_line_s2_covering_contains_path_points(run_kql):
    from kql_engine_spark.functions.scalar import _geo_slerp, _s2_encode

    row = run_kql(
        'print c = geo_line_to_s2cells(dynamic({"type":"LineString",'
        '"coordinates":[[5,5],[5.6,5.3]]}), 12)'
    ).collect()[0]
    cover = set(row.c)
    for t in range(101):
        lon, lat = _geo_slerp([5, 5], [5.6, 5.3], t / 100.0)
        assert _s2_encode(lon, lat, 12) in cover


def test_ipv4_range_to_cidr_list_exact_partition(run_kql):
    import random

    from kql_engine_spark.functions.scalar import _cidr_list

    def ip(n):
        return f"{(n >> 24) & 255}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"

    rng = random.Random(11)
    for _ in range(50):
        a = rng.randrange(0, 1 << 32)
        b = min((1 << 32) - 1, a + rng.randrange(0, 1 << 20))
        blocks = _cidr_list(ip(a), ip(b))
        covered = []
        for c in blocks:
            base, pfx = c.split("/")
            parts = [int(x) for x in base.split(".")]
            lo = (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]
            size = 1 << (32 - int(pfx))
            assert lo % size == 0, "unaligned block"
            covered.append((lo, lo + size - 1))
        covered.sort()
        # exact, disjoint, gapless partition of [a, b]
        assert covered[0][0] == a and covered[-1][1] == b
        for (_, hi), (lo2, _) in zip(covered[:-1], covered[1:]):
            assert lo2 == hi + 1
    row = run_kql(
        "print c = tostring(ipv4_range_to_cidr_list('10.0.0.3', '10.0.0.10')),"
        " bad = tostring(ipv4_range_to_cidr_list('10.0.0.9', '10.0.0.1'))"
    ).collect()[0]
    assert row.c == '["10.0.0.3/32","10.0.0.4/30","10.0.0.8/31","10.0.0.10/32"]'
    # KQL tostring(null) == "" on every carrier, including null arrays
    assert row.bad == ""


def test_h3_family_served_by_native_core_without_library(run_kql):
    """Round 8: the H3 family no longer gates on the pip package — the
    native core (extensions/h3_native.py) serves real cells. The typed
    error remains only for the case where the native core's import-time
    selftest refuses to load (exercised via a poisoned known-vector)."""
    import pytest

    from kql_engine_spark.errors import KqlUnsupportedError
    from kql_engine_spark.extensions import h3_native

    row = run_kql(
        "print h = geo_point_to_h3cell(-122.0553238, 37.3615593, 5),"
        " n = array_length(geo_h3cell_neighbors('8928308280fffff'))"
    ).collect()[0]
    assert row.h == "85283473fffffff" and row.n == 6

    # poison the selftest: the gate must fall back to the typed error
    # instead of serving cells from an unvalidated grid
    from kql_engine_spark.functions import scalar as _scalar

    try:
        import h3  # noqa: F401

        pytest.skip("h3 installed — native gate not reachable")
    except ImportError:
        pass
    saved_geom = h3_native._geom
    saved_vec = h3_native._KNOWN_VECTORS
    _scalar._PANDAS_UDF_CACHE.pop("h3:pt2cell:9", None)
    try:
        h3_native._geom = None
        h3_native._KNOWN_VECTORS = ((0.0, 0.0, 1, "ffffffffffffffff"),)
        with pytest.raises(KqlUnsupportedError, match="H3"):
            run_kql("print h = geo_point_to_h3cell(0.0, 0.0, 9)").collect()
    finally:
        h3_native._geom = saved_geom
        h3_native._KNOWN_VECTORS = saved_vec


# ------------------------------------- geo intersects / buffer / has_ipv6


def test_geo_intersects_symmetry_and_containment(run_kql):
    li = '{"type":"LineString","coordinates":[[0,0],[2,2]]}'
    lj = '{"type":"LineString","coordinates":[[0,2],[2,0]]}'
    pa = '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'
    pb = '{"type":"Polygon","coordinates":[[[0.5,0.5],[1.5,0.5],[1.5,1.5],[0.5,1.5],[0.5,0.5]]]}'
    row = run_kql(
        f"print a = geo_intersects_2lines(dynamic({li}), dynamic({lj})),"
        f" b = geo_intersects_2lines(dynamic({lj}), dynamic({li})),"
        # pb strictly inside pa: no boundary crossing, still intersects
        f" c = geo_intersects_2polygons(dynamic({pa}), dynamic({pb})),"
        f" d = geo_intersects_2polygons(dynamic({pb}), dynamic({pa}))"
    ).collect()[0]
    assert row.a is True and row.b is True
    assert row.c is True and row.d is True


def test_geo_intersection_2lines_point_and_empty(run_kql):
    import json

    row = run_kql(
        'print p = tostring(geo_intersection_2lines('
        'dynamic({"type":"LineString","coordinates":[[0,0],[2,2]]}),'
        'dynamic({"type":"LineString","coordinates":[[0,2],[2,0]]}))),'
        ' e = tostring(geo_intersection_2lines('
        'dynamic({"type":"LineString","coordinates":[[0,0],[1,1]]}),'
        'dynamic({"type":"LineString","coordinates":[[5,5],[6,6]]})))'
    ).collect()[0]
    p = json.loads(row.p)
    assert p["type"] == "Point"
    # geodesic crossing of the two diagonals: lon 1, lat slightly above 1
    assert abs(p["coordinates"][0] - 1.0) < 1e-6
    assert 1.0 < p["coordinates"][1] < 1.001
    assert json.loads(row.e) == {"type": "GeometryCollection", "geometries": []}


def test_geo_point_buffer_radius_fidelity(run_kql):
    import json

    from kql_engine_spark.functions.scalar import _geo_hav_m, _point_in_rings

    row = run_kql(
        "print b = tostring(geo_point_buffer(10.0, 20.0, 5000.0))"
    ).collect()[0]
    ring = json.loads(row.b)["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) >= 9
    for lon, lat in ring[:-1]:
        assert abs(_geo_hav_m(10.0, 20.0, lon, lat) - 5000.0) < 5.0
    rings = json.loads(row.b)["coordinates"]
    assert _point_in_rings(10.0, 20.0, rings)            # center inside
    assert _point_in_rings(10.0, 20.0 + 0.02, rings)     # ~2.2 km north in
    assert not _point_in_rings(10.0, 20.0 + 0.1, rings)  # ~11 km north out


def test_has_ipv6_canonicalization_and_boundaries(run_kql):
    row = run_kql(
        "print a = has_ipv6('x 2001:0DB8::0001 y', '2001:db8::1'),"
        # a longer address must not match as a shorter term inside it
        " b = has_ipv6('x 2001:db8::1:5 y', '2001:db8::1'),"
        " c = has_ipv6_prefix('x fe80::1 y', 'fe80:'),"
        " d = has_ipv6_prefix('x 2001:db9::1 y', '2001:db8:'),"
        " e = has_any_ipv6('ok ::1 here', '2001:db8::7', '0:0:0:0:0:0:0:1'),"
        " f = has_ipv6('no address here', '2001:db8::1')"
    ).collect()[0]
    assert row.a is True and row.b is False
    assert row.c is True and row.d is False
    assert row.e is True and row.f is False


def test_tostring_null_is_empty_on_every_carrier(run_kql):
    # KQL: tostring(null) == "" regardless of the input type
    row = run_kql(
        "print a = tostring(long(null)), b = tostring(datetime(null)),"
        " c = tostring(dynamic(null)), d = tostring(real(null)),"
        " e = tostring(split('', 'x')[5])"
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d, row.e) == ("", "", "", "", "")


# ---------------------------------------- round-6 review findings, pinned


def test_search_ignores_hidden_carrier_columns(run_kql):
    # the __kql_extent_path carrier contains the file path: an unscoped
    # search term matching the path must not match every row
    rows = run_kql(
        "region | where cursor_after('') | search 'parquet'"
    ).collect()
    assert rows == []
    rows = run_kql(
        "region | where cursor_after('') | search 'ASIA'"
    ).collect()
    assert len(rows) == 1


def test_pack_all_excludes_hidden_columns(run_kql):
    import json

    row = run_kql(
        "region | where cursor_after('') | project p = pack_all() | take 1"
    ).collect()[0]
    keys = set(json.loads(row.p))
    assert keys == {"r_regionkey", "r_name"}


def test_distinct_star_drops_renamed_meta_after_join(spark, tmp_path):
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    # right side stored as TWO files with a duplicated row: per-file
    # metadata (renamed __kql_ingest_ts1 by join collision suffixing) must
    # not resurrect the duplicate under distinct *
    spark.createDataFrame([(1, "x")], "k long, v string").write.parquet(
        str(tmp_path / "tb.parquet")
    )
    spark.createDataFrame([(1, "x")], "k long, v string").write.mode(
        "append"
    ).parquet(str(tmp_path / "tb.parquet"))
    spark.createDataFrame([(1, "a")], "k long, w string").write.parquet(
        str(tmp_path / "ta.parquet")
    )
    cat = Catalog(spark, str(tmp_path))
    rows = kql(
        spark,
        "ta | where cursor_after('') | join kind=inner tb on k | distinct *",
        catalog=cat,
    ).collect()
    assert len(rows) == 1


def test_polygon_s2_covering_sound_for_tall_polygons(run_kql):
    import random

    from kql_engine_spark.functions.scalar import _s2_encode

    row = run_kql(
        'print c = geo_polygon_to_s2cells(dynamic({"type":"Polygon",'
        '"coordinates":[[[0,0],[40,0],[40,89],[0,89],[0,0]]]}), 8)'
    ).collect()[0]
    cover = set(row.c)
    rng = random.Random(3)
    for _ in range(300):
        lon = 40.0 * rng.random()
        lat = 89.0 * rng.random()
        assert _s2_encode(lon, lat, 8) in cover, (lon, lat)


def test_geo_point_buffer_zero_tolerance_typed_error(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="tolerance"):
        run_kql("print b = geo_point_buffer(10.0, 20.0, 5000.0, 0.0)").collect()
    with pytest.raises(KqlSemanticError, match="tolerance"):
        run_kql("print b = geo_point_buffer(10.0, 20.0, 5000.0, -1.0)").collect()


def test_cursor_before_or_at_empty_admits_nothing(run_kql):
    # empty cursor = before any ingestion: <= matches no records (while
    # cursor_after('') matches all)
    row = run_kql(
        "region | where cursor_before_or_at('') | count"
    ).collect()[0]
    assert row.Count == 0


def test_has_any_ip_dynamic_array_args(run_kql):
    row = run_kql(
        "print x = has_any_ipv4('at 10.0.0.1 now', dynamic(['1.2.3.4', '10.0.0.1'])),"
        " y = has_any_ipv6('at ::1 now', dynamic(['2001:db8::7', '0:0:0:0:0:0:0:1'])),"
        " z = has_any_ipv4('at 10.0.0.2 now', dynamic(['1.2.3.4']))"
    ).collect()[0]
    assert row.x is True and row.y is True and row.z is False


def test_schema_merge_requires_getschema_shape(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="getschema-shaped"):
        run_kql("region | evaluate schema_merge()").collect()


def test_truncationmaxrecords_set_property(run_kql):
    assert run_kql(
        "set truncationmaxrecords = 3; lineitem | project l_orderkey"
    ).count() == 3
    assert run_kql(
        "set truncationmaxrecords = 3; set notruncation;"
        " region | project r_name"
    ).count() == 5
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="truncationmaxrecords"):
        run_kql("set truncationmaxrecords = -2; region").collect()


def test_series_stats_nonfinite_modes(run_kql):
    # Kusto contract: default ignore_nonfinite=false -> a null element voids
    # the whole result; true -> non-finite elements are dropped first, while
    # min_idx/max_idx still index the ORIGINAL series
    row = run_kql(
        "print s = dynamic([2.0, null, 6.0])"
        " | extend d = series_stats_dynamic(s),"
        "   i = series_stats_dynamic(s, true)"
        " | project d_null = isnull(d), avg = todouble(i.avg),"
        "   mn = todouble(i.min), mx_idx = tolong(i.max_idx)"
    ).collect()[0]
    assert row.d_null is True
    assert row.avg == 4.0 and row.mn == 2.0 and row.mx_idx == 2
    # destructuring form takes the flag too
    row2 = run_kql(
        "print s = dynamic([1.0, null, 3.0])"
        " | extend (mn, mni, mx, mxi, av, sd, va) = series_stats(s, true)"
        " | project av, mx"
    ).collect()[0]
    assert row2.av == 2.0 and row2.mx == 3.0


def test_ipv6_lookup_mapped_and_unmatched(run_kql):
    # bare IPv4 addresses map into ::ffff:a.b.c.d and match v4-mapped
    # CIDRs; return_unmatched=true keeps misses with null lookup columns
    rows = run_kql(
        "let lut = datatable(cidr:string, net:string)["
        " '::ffff:10.0.0.0/104','ten-mapped', '2001:db8::/32','docs'];"
        "datatable(ip:string)['10.1.2.3', '2001:db8::5', 'fe80::1']"
        " | evaluate ipv6_lookup(lut, ip, cidr, true)"
        " | project ip, net"
        " | sort by ip asc"
    ).collect()
    got = {r.ip: r.net for r in rows}
    assert got == {"10.1.2.3": "ten-mapped", "2001:db8::5": "docs", "fe80::1": None}


def test_repetition_filter_line_and_para_metrics(run_kql):
    # Gopher repetition rules: dup-line fraction counts occurrences beyond
    # the first; char fraction is strlen-weighted; paragraphs split on
    # blank lines; a clean doc passes
    rows = run_kql(
        "datatable(id:long, t:string)["
        " 1, 'x\\ny\\nx\\ny\\nx',"
        " 2, 'para one here\\n\\npara one here\\n\\nunique tail']"
        " | evaluate repetition_filter(t)"
        " | project id, lf = rf_dup_line_frac, pf = rf_dup_para_frac,"
        "   pcf = rf_dup_para_char_frac, p = rf_pass"
        " | sort by id asc"
    ).collect()
    r1, r2 = rows
    assert r1.lf == 0.6 and r1.p is False  # 3 of 5 lines are repeats
    # doc 2: 3 paragraphs, 'para one here' twice -> 1 extra of 3; chars
    # 13 extra of 13+13+11=37
    assert r2.pf == round(1 / 3, 4) and r2.pcf == round(13 / 37, 4)
    clean = run_kql(
        "datatable(t:string)['the quick brown fox jumps over a lazy dog while"
        " seven other animals watch from the tall green hill nearby today']"
        " | evaluate repetition_filter(t) | project rf_pass"
    ).collect()[0]
    assert clean.rf_pass is True


def test_geo_intersection_polygon_and_line(run_kql):
    # Greiner-Hormann over geodesic edges: two 2x2-degree squares offset by
    # 1 degree overlap in a ~1x1-degree cell; containment returns the inner
    # polygon verbatim; disjoint yields the empty collection; a meridian
    # clips to the polygon's latitude span
    r = run_kql(
        'print sq1 = dynamic({"type":"Polygon","coordinates":'
        "[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}),"
        ' sq2 = dynamic({"type":"Polygon","coordinates":'
        "[[[1,1],[3,1],[3,3],[1,3],[1,1]]]}),"
        ' inner_sq = dynamic({"type":"Polygon","coordinates":'
        "[[[0.5,0.5],[1.5,0.5],[1.5,1.5],[0.5,1.5],[0.5,0.5]]]}),"
        ' far = dynamic({"type":"Polygon","coordinates":'
        "[[[10,10],[12,10],[12,12],[10,12],[10,10]]]}),"
        ' mer = dynamic({"type":"LineString","coordinates":[[1,-1],[1,5]]})'
        " | extend ovl = geo_intersection_2polygons(sq1, sq2),"
        "   cont_area = geo_polygon_area(geo_intersection_2polygons(sq1, inner_sq)),"
        "   inner_area = geo_polygon_area(inner_sq),"
        "   disj = geo_intersection_2polygons(sq1, far),"
        "   clip_len = geo_line_length(geo_intersection_line_with_polygon(mer, sq1))"
        " | project ovl_area = geo_polygon_area(ovl), cont_area, inner_area,"
        "   disj, clip_len"
    ).collect()[0]
    import json

    # ~111.19 km per degree => 1x1 deg cell near the equator ~ 1.236e10 m^2
    assert abs(r.ovl_area - 1.236e10) / 1.236e10 < 0.01
    assert r.cont_area == r.inner_area  # containment returns inner ring
    assert json.loads(r.disj) == {"type": "GeometryCollection", "geometries": []}
    # equator (geodesic bottom edge) to the slightly-bulged lat-2 top edge
    assert abs(r.clip_len - 2.0 * 111_195) / (2.0 * 111_195) < 0.01


def test_unknown_column_after_union_inner_is_typed(run_kql):
    # inner union drops non-common columns; referencing one downstream must
    # raise a typed semantic error, not leak Spark's AnalysisException
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    with pytest.raises(KqlSemanticError, match="semantic error"):
        run_kql(
            "union kind=inner (customer | project k = c_custkey, src = 'c'),"
            " (supplier | project k = s_suppkey)"
            " | summarize n = count() by src"
        ).collect()


def test_externaldata_tsv_and_ignore_first_record(run_kql, tmp_path):
    # Kusto's delimiter formats (tsv/psv/scsv) lower to Spark csv with a
    # sep; ignoreFirstRecord=true skips the header line while keeping the
    # declared schema
    p = tmp_path / "d.tsv"
    p.write_text("id\tname\n1\talpha\n2\tbeta\n")
    rows = run_kql(
        f"externaldata(id:long, name:string) ['{p}']"
        " with (format='tsv', ignoreFirstRecord=true)"
        " | sort by id asc"
    ).collect()
    assert [(r.id, r.name) for r in rows] == [(1, "alpha"), (2, "beta")]
    q = tmp_path / "d.psv"
    q.write_text("3|gamma\n")
    rows = run_kql(
        f"externaldata(id:long, name:string) ['{q}'] with (format='psv')"
    ).collect()
    assert [(r.id, r.name) for r in rows] == [(3, "gamma")]


def test_integer_conversions_accept_hex_strings(run_kql):
    row = run_kql(
        "print a = tolong('0x1f'), b = toint('0xFF'), c = tolong('-0x10'),"
        " d = tolong('0xZZ'), e = tolong('10'), f = todouble('0x10')"
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d, row.e) == (31, 255, -16, None, 10)
    assert row.f is None  # only integer conversions take hex [KQL]


def test_geo_union_polygons_calculate(run_kql):
    # two overlapping 2x2-deg squares union to one shell of ~7 sq-deg;
    # disjoint operands produce a MultiPolygon; nesting keeps the outer
    r = run_kql(
        'print sq1 = dynamic({"type":"Polygon","coordinates":'
        "[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}),"
        ' sq2 = dynamic({"type":"Polygon","coordinates":'
        "[[[1,1],[3,1],[3,3],[1,3],[1,1]]]}),"
        ' far = dynamic({"type":"Polygon","coordinates":'
        "[[[10,10],[12,10],[12,12],[10,12],[10,10]]]}),"
        ' inner_sq = dynamic({"type":"Polygon","coordinates":'
        "[[[0.5,0.5],[1.5,0.5],[1.5,1.5],[0.5,1.5],[0.5,0.5]]]})"
        " | project u_area = geo_polygon_area(geo_union_polygons_calculate(sq1, sq2)),"
        "   disj = geo_union_polygons_calculate(sq1, far),"
        "   nest_area = geo_polygon_area(geo_union_polygons_calculate(sq1, inner_sq)),"
        "   sq1_area = geo_polygon_area(sq1),"
        "   tri = geo_union_polygons_calculate(sq1, sq2, far)"
    ).collect()[0]
    import json

    cell = 1.236e10  # ~1x1-deg near the equator, m^2
    assert abs(r.u_area - 7 * cell) / (7 * cell) < 0.01
    assert json.loads(r.disj)["type"] == "MultiPolygon"
    assert len(json.loads(r.disj)["coordinates"]) == 2
    assert r.nest_area == r.sq1_area
    t = json.loads(r.tri)
    assert t["type"] == "MultiPolygon" and len(t["coordinates"]) == 2


def test_external_plugins_raise_typed_guidance(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlUnsupportedError

    with pytest.raises(KqlUnsupportedError, match="externaldata"):
        run_kql("region | evaluate sql_request('c', 'q')").collect()
    with pytest.raises(KqlUnsupportedError, match="python"):
        run_kql("region | evaluate r(typeof(x:long), 'x')").collect()


def test_varlen_one_hop_still_binds_array(run_kql):
    # `-[e*1..1]->` must bind e as an ARRAY of one edge (fuzz-found):
    # plain `-[e]->` binds the edge struct instead
    row = run_kql(
        "datatable(src:string, dst:string)['x','y']"
        " | make-graph src --> dst"
        " | graph-match (a)-[e*1..1]->(b)"
        "   project n = tolong(array_length(e)), t = b.node_id"
    ).collect()[0]
    assert (row.n, row.t) == (1, "y")


def test_pivot_with_explicit_output_columns(run_kql):
    # pinned pivot values: no distinct scan, schema bounded; values absent
    # from the pin are dropped, pinned-but-absent values come back null
    rows = run_kql(
        "datatable(k:string, t:string, v:long)["
        " 'a','x',1, 'a','y',2, 'b','x',3, 'b','z',9]"
        " | evaluate pivot(t, sum(v), x, y)"
        " | sort by k asc"
    ).collect()
    assert [r.asDict() for r in rows] == [
        {"k": "a", "x": 1, "y": 2},
        {"k": "b", "x": 3, "y": None},
    ]


def test_pivot_numeric_pinned_values(run_kql):
    # numeric pins on a numeric pivot column (pivot(code, count(), 200,
    # 404)) — Spark matches pins by the column's type
    rows = run_kql(
        "datatable(k:string, code:long)["
        " 'a',200, 'a',200, 'a',404, 'b',500, 'b',200]"
        " | evaluate pivot(code, count(), 200, 404)"
        " | sort by k asc"
    ).collect()
    assert [r.asDict() for r in rows] == [
        {"k": "a", "200": 2, "404": 1},
        {"k": "b", "200": 1, "404": None},
    ]


def test_mv_apply_empty_expansion_keeps_record(run_kql):
    # fuzz-found: a record whose expanded rows all fail the inner where
    # must still re-attach the global aggregate-on-empty row (count()=0)
    rows = run_kql(
        "datatable(id:long, a:dynamic)[1, dynamic([1,2]), 2, dynamic([9])]"
        " | mv-apply a to typeof(long) on ("
        "    where a < 5 | summarize small = count(), s = sum(a))"
        " | project id, small, s | sort by id asc"
    ).collect()
    assert [(r.id, r.small, r.s) for r in rows] == [(1, 2, 3), (2, 0, None)]


def test_bag_unpack_columns_conflict_modes(run_kql):
    import pytest

    from kql_engine_spark.errors import KqlSemanticError

    base = "datatable(a:string, d:dynamic)['orig', dynamic({'a': 'bagv', 'b': 7})]"
    # Kusto default: clash is an error
    with pytest.raises(KqlSemanticError, match="replace_source"):
        run_kql(base + " | evaluate bag_unpack(d)").collect()
    r = run_kql(
        base + " | evaluate bag_unpack(d, '', 'replace_source')"
    ).collect()[0]
    assert r.a == "bagv" and r.b == 7  # typed inference: long
    k = run_kql(
        base + " | evaluate bag_unpack(d, '', 'keep_source')"
    ).collect()[0]
    assert k.a == "orig" and k.b == 7
    # a prefix removes the clash entirely
    p = run_kql(base + " | evaluate bag_unpack(d, 'u_')").collect()[0]
    assert p.a == "orig" and p.u_a == "bagv"


def test_wkt_geojson_roundtrip_all_types():
    # round 6: WKT <-> GeoJSON converters, all seven OGC types + EMPTY +
    # Z/M dims + MULTIPOINT both paren conventions
    import json

    from kql_engine_spark.functions.scalar import (
        _geojson_obj_to_wkt,
        _wkt_to_geojson_obj,
    )

    cases = {
        "POINT (30 10)": {"type": "Point", "coordinates": [30.0, 10.0]},
        "POINT Z (30 10 5)": {"type": "Point", "coordinates": [30.0, 10.0, 5.0]},
        "POINT M (30 10 99)": {"type": "Point", "coordinates": [30.0, 10.0]},
        "POINT ZM (1 2 3 4)": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
        "LINESTRING (30 10, 10 30, 40 40)": {
            "type": "LineString",
            "coordinates": [[30.0, 10.0], [10.0, 30.0], [40.0, 40.0]],
        },
        "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))": {
            "type": "Polygon",
            "coordinates": [
                [[35.0, 10.0], [45.0, 45.0], [15.0, 40.0], [10.0, 20.0], [35.0, 10.0]],
                [[20.0, 30.0], [35.0, 35.0], [30.0, 20.0], [20.0, 30.0]],
            ],
        },
        "MULTIPOINT ((10 40), (40 30))": {
            "type": "MultiPoint",
            "coordinates": [[10.0, 40.0], [40.0, 30.0]],
        },
        "MULTIPOINT (10 40, 40 30)": {
            "type": "MultiPoint",
            "coordinates": [[10.0, 40.0], [40.0, 30.0]],
        },
        "MULTILINESTRING ((10 10, 20 20), (40 40, 30 30))": {
            "type": "MultiLineString",
            "coordinates": [[[10.0, 10.0], [20.0, 20.0]], [[40.0, 40.0], [30.0, 30.0]]],
        },
        "MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)), ((15 5, 40 10, 10 20, 15 5)))": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[30.0, 20.0], [45.0, 40.0], [10.0, 40.0], [30.0, 20.0]]],
                [[[15.0, 5.0], [40.0, 10.0], [10.0, 20.0], [15.0, 5.0]]],
            ],
        },
        "GEOMETRYCOLLECTION (POINT (4 6), LINESTRING (4 6, 7 10))": {
            "type": "GeometryCollection",
            "geometries": [
                {"type": "Point", "coordinates": [4.0, 6.0]},
                {"type": "LineString", "coordinates": [[4.0, 6.0], [7.0, 10.0]]},
            ],
        },
        "POINT EMPTY": {"type": "Point", "coordinates": []},
        "GEOMETRYCOLLECTION EMPTY": {"type": "GeometryCollection", "geometries": []},
    }
    for wkt, want in cases.items():
        got = _wkt_to_geojson_obj(wkt)
        assert got == want, (wkt, got)
        # serialize -> reparse fixpoint (M is dropped so text can differ)
        back = _geojson_obj_to_wkt(got)
        assert back is not None, wkt
        assert _wkt_to_geojson_obj(back) == want, (wkt, back)
    # malformed inputs fail to None, never raise
    for bad in ("POINT", "POINT (1)", "POLYGON (1 2, 3 4)", "CIRCLE (0 0, 5)",
                "POINT (1 2", "", "POINT (1 2) junk"):
        assert _wkt_to_geojson_obj(bad) is None, bad


def test_wkt_accepted_directly_by_scalar_geo_family(run_kql):
    # _geo_coords sniffs non-JSON strings as WKT
    r = run_kql(
        "print d = round(geo_line_length('LINESTRING (0 0, 2 0)'), 0),"
        " a = round(geo_polygon_area(geo_wkt_to_geojson("
        "'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')), 0)"
    ).collect()[0]
    assert r.d == 222390.0
    assert r.a == 12363718921.0


def test_render_to_vega_lite_specs(run_kql):
    # round 6: the client half of `| render` — Vega-Lite spec synthesis
    # from the attached metadata (Kusto renders client-side by contract)
    from kql_engine_spark.render import to_vega_lite

    df = run_kql(
        "datatable(day:datetime, clicks:long, views:long)["
        " datetime(2024-01-01), 5, 50, datetime(2024-01-02), 7, 70]"
        " | render timechart with (title='traffic', ycolumns=clicks, views,"
        "    xtitle='day')"
    )
    spec = to_vega_lite(df)
    assert spec["mark"] == "line"
    assert spec["title"] == "traffic"
    # two y columns fold into long form
    assert spec["transform"][0]["fold"] == ["clicks", "views"]
    assert spec["encoding"]["x"]["field"] == "day"
    assert spec["encoding"]["x"]["type"] == "temporal"
    assert spec["encoding"]["x"]["axis"]["title"] == "day"
    assert len(spec["data"]["values"]) == 2
    assert spec["data"]["values"][0]["day"].startswith("2024-01-01")

    # barchart is horizontal: category on y, value on x
    df = run_kql(
        "datatable(k:string, n:long)['a', 3, 'b', 5]"
        " | render barchart"
    )
    spec = to_vega_lite(df)
    assert spec["mark"] == "bar"
    assert spec["encoding"]["y"]["field"] == "k"
    assert spec["encoding"]["x"]["field"] == "n"

    # piechart: theta/color
    spec = to_vega_lite(
        run_kql("datatable(k:string, n:long)['a', 3, 'b', 5] | render piechart")
    )
    assert spec["mark"] == "arc"
    assert spec["encoding"]["theta"]["field"] == "n"
    assert spec["encoding"]["color"]["field"] == "k"

    # stacked area: stack=zero; series split from the leftover column
    spec = to_vega_lite(
        run_kql(
            "datatable(d:long, grp:string, v:long)[1,'x',2, 1,'y',3, 2,'x',4]"
            " | render stackedareachart with (kind=stacked)"
        )
    )
    assert spec["mark"] == "area"
    assert spec["encoding"]["y"]["stack"] == "zero"
    assert spec["encoding"]["color"]["field"] == "grp"

    # render table / no render -> nothing to draw
    assert to_vega_lite(run_kql("datatable(x:long)[1] | render table")) is None
    assert to_vega_lite(run_kql("datatable(x:long)[1]")) is None


def test_geo_simplify_polygons_union_preserves_shared_edge(run_kql):
    # two adjacent squares share the x=1 edge (same vertex sequence incl. a
    # redundant midpoint); simplification removes collinear OUTER points
    # but every shared vertex survives on BOTH polygons
    import json

    r = run_kql(
        "print m = geo_simplify_polygons_union(dynamic(["
        '{"type":"Polygon","coordinates":[[[0,0],[0.5,0],[1,0],[1,0.5],[1,1],[0.5,1],[0,1],[0,0]]]},'
        '{"type":"Polygon","coordinates":[[[1,0],[2,0],[2,1],[1,1],[1,0.5],[1,0]]]}'
        "]), 100000)"
    ).collect()[0]
    g = json.loads(r.m)
    assert g["type"] == "MultiPolygon"
    a, b = g["coordinates"]
    # shared edge vertices (1,0), (1,0.5), (1,1) survive on both sides
    for v in ([1, 0], [1, 0.5], [1, 1]):
        assert v in a[0], (v, a[0])
        assert v in b[0], (v, b[0])
    # the collinear outer midpoints (0.5,0) and (0.5,1) were simplified away
    assert [0.5, 0] not in a[0] and [0.5, 1] not in a[0]
    # single MultiPolygon input and degenerate tolerance-0 passthrough
    r = run_kql(
        "print m = geo_simplify_polygons_union(dynamic("
        '{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}), 0)'
    ).collect()[0]
    g = json.loads(r.m)
    assert g["coordinates"][0][0][0] == [0, 0]
    # malformed input -> null
    r = run_kql("print m = geo_simplify_polygons_union(dynamic([1,2]))").collect()[0]
    assert r.m is None


def test_bag_unpack_types_columns_by_values(run_kql):
    # round 6: unpacked columns are typed by the sampled VALUES (Kusto's
    # data-driven schema): ints -> long, int/float mix -> real, bools ->
    # bool, quoted digits stay string, objects stay dynamic JSON text
    df = run_kql(
        "datatable(d:dynamic)["
        " dynamic({'i': 1, 'f': 1.5, 'b': true,  'qs': '123', 'o': {'x': 1}, 'm': 2}),"
        " dynamic({'i': 2, 'f': 2,   'b': false, 'qs': '456', 'o': {'x': 2}, 'm': 2.5})]"
        " | evaluate bag_unpack(d)"
    )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["i"] == "bigint"
    assert types["f"] == "double"
    assert types["m"] == "double"  # int/float mix widens to real
    assert types["b"] == "boolean"
    assert types["qs"] == "string"
    assert types["o"] == "string"  # dynamic carrier
    rows = sorted(df.collect(), key=lambda r: r.i)
    assert rows[0].i == 1 and rows[0].f == 1.5 and rows[0].b is True
    assert rows[0].qs == "123"
    import json

    assert json.loads(rows[0].o) == {"x": 1}


def test_bag_unpack_fat_bags_discovery_byte_bounded(spark):
    # round 7: key/type discovery parses the bags executor-side and ships
    # only DISTINCT (key, type) pairs to the driver — with 1 MB bags the
    # driver-side allocation stays flat (the old implementation collected
    # the raw JSON sample: ~16 MB here)
    import json
    import tracemalloc

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    big = "x" * (1 << 20)
    rows = [(json.dumps({"i": n, "blob": big}),) for n in range(16)]
    df = spark.createDataFrame(rows, "d string")
    cat = Catalog(spark)
    cat.register("fat", df)
    tracemalloc.start()
    out = kql(spark, "fat | evaluate bag_unpack(d)", catalog=cat)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 8 * (1 << 20), f"discovery allocated {peak} bytes on driver"
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {"i": "bigint", "blob": "string"}
    assert sorted(r.i for r in out.select("i").collect()) == list(range(16))


def test_bag_unpack_type_drift_outside_sample_raises(spark, monkeypatch):
    # round 7 (ADVICE): a value whose type drifts outside the discovery
    # sample must raise, not silently cast to NULL
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.extensions import std
    from kql_engine_spark.translator import kql

    monkeypatch.setattr(std, "_KEY_SAMPLE_ROWS", 2)
    rows = [('{"v": 1}',), ('{"v": 2}',), ('{"v": 1.5}',)]
    df = spark.createDataFrame(rows, "d string").coalesce(1)
    cat = Catalog(spark)
    cat.register("drifty", df)
    out = kql(spark, "drifty | evaluate bag_unpack(d)", catalog=cat)
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["v"] == "bigint"  # sampled rows are all ints
    with pytest.raises(Exception, match="type drift"):
        out.collect()


def test_geo_lookups_accept_wkt_polygons(run_kql):
    # round 6: the geo lookup plugins normalize WKT geometry keys to the
    # GeoJSON carrier — same contract as the scalar geo family
    rows = run_kql(
        "let zones = datatable(zone:string, poly:string)["
        " 'west', 'POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))',"
        " 'east', 'POLYGON ((5 0, 10 0, 10 5, 5 5, 5 0))'];"
        " datatable(id:long, lon:real, lat:real)[1, 2.0, 2.0, 2, 7.0, 2.0, 3, 20.0, 20.0]"
        " | evaluate geo_polygon_lookup(zones, poly, lon, lat)"
        " | project id, zone | sort by id asc"
    ).collect()
    assert [(r.id, r.zone) for r in rows] == [(1, "west"), (2, "east")]
    rows = run_kql(
        "let roads = datatable(name:string, line:string)["
        " 'r1', 'LINESTRING (0 0, 10 0)'];"
        " datatable(id:long, lon:real, lat:real)[1, 5.0, 0.0001, 2, 5.0, 3.0]"
        " | evaluate geo_line_lookup(roads, line, lon, lat, 1000)"
        " | project id, name | sort by id asc"
    ).collect()
    assert [(r.id, r.name) for r in rows] == [(1, "r1")]


def test_json_shared_parse_matches_get_json_object(run_kql, spark):
    """Round 8 (VERDICT r7 item 1): the single-parse from_json routing must
    be value-identical to per-access get_json_object on every carrier shape
    — scalars, raw-text nested object/array, escapes, unicode, missing
    keys, malformed JSON, huge numbers. Multi-key project triggers the
    shared path; the same accesses via a single-key project (unshared)
    are the control."""
    rows = [
        '{"a": "x", "b": 1}',
        '{"a": 1.5, "b": true}',
        '{"a": {"n": [1, 2]}, "b": null}',
        '{"a": [1, "two", {"z":3}], "b": "s"}',
        '{"a": "esc\\"q", "b": "\\u00e9\\u4e2d"}',
        '{"b": 2}',
        '{"a": 1e3, "b": -0.0}',
        'not json at all',
        '',
    ]
    cells = ", ".join('"%s"' % r.replace("\\", "\\\\").replace('"', '\\"') for r in rows)
    dt_src = f"datatable (d: string) [{cells}]"
    shared = run_kql(
        f"{dt_src} | project a = d.a, b = d.b, e = extractjson('$.b', d)"
    ).collect()
    ctrl_a = run_kql(f"{dt_src} | project a = d.a").collect()
    ctrl_b = run_kql(f"{dt_src} | project b = d.b").collect()
    assert [r.a for r in shared] == [r.a for r in ctrl_a]
    assert [r.b for r in shared] == [r.b for r in ctrl_b]
    assert [r.e for r in shared] == [r.b for r in ctrl_b]


def test_json_shared_extend_multiple_keys(run_kql):
    # the ADVICE r7 repro: `T | project x = d.a, y = d.b` crashed with
    # NameError at HEAD; pin both project and extend shapes green
    out = run_kql(
        'datatable (d: string) ["{\\"a\\": \\"p\\", \\"b\\": \\"q\\"}"]'
        " | extend x = d.a, y = d.b | project x, y"
    ).collect()
    assert [(r.x, r.y) for r in out] == [("p", "q")]


def test_json_shared_not_applied_to_reassigned_base(run_kql):
    # a base (re)assigned in the same clause must NOT route through a
    # stale staged parse: d is rewritten mid-list, later access sees new d
    out = run_kql(
        'datatable (d: string) ["{\\"a\\": \\"old\\", \\"b\\": \\"ob\\"}"]'
        ' | project d = \'{"a": "new", "b": "nb"}\', x = d.a, y = d.b'
    ).collect()
    assert [(r.x, r.y) for r in out] == [("new", "nb")]


def test_bag_unpack_megabyte_bags_stay_bounded(spark):
    """Round 8 (VERDICT r7 item 7): bag_unpack's key/type discovery must
    stay byte-bounded on the driver no matter how large individual bags
    are — with >1 MB bags and more keys than _MAX_EXPAND, the driver only
    ever sees distinct (key, type) pairs, the surviving key set is the
    deterministic sort-order prefix, and columns come out typed."""
    import json

    from kql_engine_spark.extensions.std import _MAX_EXPAND
    from kql_engine_spark.catalog import Catalog

    nkeys = _MAX_EXPAND + 300
    pad = "x" * 3200  # ~1.3 MB per bag
    rows = []
    for r in range(3):
        bag = {f"k{str(i).zfill(4)}": (i + r if i % 2 else f"{pad}{i}")
               for i in range(nkeys)}
        rows.append((r, json.dumps(bag)))
    df = spark.createDataFrame(rows, "rid int, bag string")
    assert len(rows[0][1]) > 1_000_000
    from kql_engine_spark.translator import kql

    cat = Catalog(spark)
    cat.register("megabags", df)
    out = kql(spark, "megabags | evaluate bag_unpack(bag)", catalog=cat)
    cols = [c for c in out.columns if c.startswith("k")]
    assert len(cols) == _MAX_EXPAND  # deterministic sort-order prefix
    assert cols == sorted(cols)
    dtypes = dict(out.dtypes)
    assert dtypes["k0001"] == "bigint"  # odd index -> int values, typed
    assert dtypes["k0002"] == "string"
    got = out.select("rid", "k0001", "k0002").orderBy("rid").collect()
    assert [r.k0001 for r in got] == [1, 2, 3]
    assert got[0].k0002.endswith("2") and got[0].k0002.startswith("x")


def test_bag_unpack_type_drift_modes(spark):
    """Round 8 (ADVICE r7): default drift = typed error; `set
    bag_unpack_type_drift = 'null';` opts into Kusto's null-out."""
    import pytest
    from py4j.protocol import Py4JJavaError

    # 100k+1 rows: the drifting value sits OUTSIDE the discovery sample
    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    bags = spark.range(100_001).selectExpr(
        "id",
        "if(id < 100000, concat('{\"v\": ', id, '}'), '{\"v\": \"oops\"}') as bag",
    )
    cat = Catalog(spark)
    cat.register("driftbags", bags)
    strict = kql(
        spark, "driftbags | evaluate bag_unpack(bag) | summarize s = sum(v)",
        catalog=cat,
    )
    with pytest.raises(Exception) as ei:
        strict.collect()
    assert "type drift" in str(ei.value)
    lax = kql(
        spark,
        "set bag_unpack_type_drift = 'null';"
        " driftbags | evaluate bag_unpack(bag)"
        " | summarize s = sum(v), nulls = countif(isnull(v))",
        catalog=cat,
    )
    row = lax.collect()[0]
    assert row.s == sum(range(100_000)) and row.nulls == 1


def test_toscalar_does_not_clobber_serialized_order(run_kql):
    # round 8: the nested toscalar pipe translation reset the serialized-
    # order state, so a row_number() LATER in the same extend clause
    # raised a spurious needs-serialization error
    out = run_kql(
        "events | take 5 | sort by ts asc"
        " | extend x = toscalar(region | count), r = row_number()"
        " | summarize n = count(), rmax = max(r), x = any(x)"
    ).collect()[0]
    assert out.n == 5 and out.rmax == 5 and out.x == 5


def test_polygon_boolean_across_antimeridian(run_kql):
    # round 8: the fragment boolean works across the +-180 seam (3D arcs,
    # dlam-normalized areas): two bands straddling the antimeridian obey
    # inclusion-exclusion and the intersection is exactly half of A
    a = '{"type":"Polygon","coordinates":[[[179,-1],[-179,-1],[-179,1],[179,1],[179,-1]]]}'
    b = '{"type":"Polygon","coordinates":[[[179.5,-2],[-179.5,-2],[-179.5,2],[179.5,2],[179.5,-2]]]}'
    r = run_kql(
        f"print a = dynamic({a}), b = dynamic({b})"
        " | extend i = geo_intersection_2polygons(a, b),"
        "   u = geo_union_polygons_calculate(a, b)"
        " | project ai = geo_polygon_area(i), au = geo_polygon_area(u),"
        "   aa = geo_polygon_area(a), ab = geo_polygon_area(b)"
    ).collect()[0]
    assert abs(r.ai - r.aa / 2.0) < 0.01 * r.aa
    assert abs((r.aa + r.ab) - (r.au + r.ai)) < 0.002 * (r.aa + r.ab)


def test_dcount_accuracy_ladder_lgk_in_plan(run_kql):
    # round 10: the documented accuracy->lgConfigK ladder (aggregates.py
    # _DCOUNT_LGK) must be auditable from the query surface, and
    # `set exact_dcount = false;` must actually flip to the sketch path
    # (a raw Lit(false) in the options dict was truthy before round 10)
    import re

    for lvl, lgk in ((0, 7), (1, 9), (2, 12), (3, 14), (4, 17)):
        d = run_kql(
            "set exact_dcount = false;"
            f" lineitem | summarize d=dcount(l_orderkey, {lvl})"
        )
        plan = d._jdf.queryExecution().optimizedPlan().toString()
        m = re.search(r"hll_sketch_agg\([^,]*, (\d+)", plan)
        assert m and int(m.group(1)) == lgk, (lvl, plan[:200])
    # default stays exact
    d = run_kql("lineitem | summarize d=dcount(l_orderkey)")
    assert "hll" not in d._jdf.queryExecution().optimizedPlan().toString().lower()


def test_split_distinct_mixed_families(run_kql, monkeypatch):
    # round 10: the split-distinct rewrite must keep multi-column and
    # ordering-sensitive plain aggs intact alongside distinct ones on the
    # scale path (small-plan gate off)
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    q = (
        "lineitem | summarize p50 = percentile(l_quantity, 50),"
        " dc = dcount(l_orderkey), mx = arg_max(l_extendedprice, l_orderkey),"
        " c = count() by l_returnflag"
    )
    got = {r.l_returnflag: tuple(r) for r in run_kql(q).collect()}
    monkeypatch.setattr(TR, "_SPLIT_DISTINCT", False)
    want = {
        r.l_returnflag: tuple(r)
        for r in run_kql(q + " // fused-reference").collect()
    }
    assert got == want


def test_auto_broadcast_result_parity(run_kql, monkeypatch):
    # the source-bytes hint must never change results, only plans
    import kql_engine_spark.translator as TR

    q = (
        "customer | join kind=inner (orders) on $left.c_custkey == $right.o_custkey"
        " | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey"
        " | summarize n = count(), s = round(sum(l_extendedprice), 2) by c_nationkey"
        " | sort by c_nationkey asc"
    )
    on = [tuple(r) for r in run_kql(q).collect()]
    monkeypatch.setattr(TR, "_AUTO_BROADCAST", False)
    off = [tuple(r) for r in run_kql(q + " // ab-off").collect()]
    assert on == off


def test_sketch_dcount_nested_null_not_counted(run_kql):
    # round-10 review: Spark hash functions map NULL to the seed (42), so
    # an unguarded xxhash64 made sketch-mode dcount over nested columns
    # count null as a distinct value (and dcountif count every
    # predicate-failing row once)
    q = (
        "datatable(i:long)[1, 2, 3]"
        " | extend a = iff(i == 1, pack_array('x'), dynamic(null))"
        " | summarize d = dcount(a)"
    )
    assert run_kql("set exact_dcount = false; " + q).collect()[0].d == 1
    q2 = (
        "datatable(i:long)[1, 2, 3, 4]"
        " | extend a = pack_array(tostring(i % 2))"
        " | summarize d = dcountif(a, i <= 2)"
    )
    assert run_kql("set exact_dcount = false; " + q2).collect()[0].d == 2


def test_has_family_final_sigma_terms_still_match(run_kql):
    # round-10 review: lower() is context-sensitive beyond ASCII
    # (Final_Sigma: a trailing capital sigma lowers differently term-
    # finally vs mid-word), so the contains() prefilter must not apply to
    # non-ASCII terms
    assert run_kql("print b = 'word AΣB here' has_any ('AΣB')").collect()[0].b
    assert run_kql("print b = 'xx AΣB yy' hasprefix 'AΣ'").collect()[0].b
    assert run_kql("print b = 'xx AΣ yy' has 'aσ'").collect()[0].b is False


def test_split_distinct_quoted_dotted_name(run_kql, monkeypatch):
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    rows = run_kql(
        "lineitem | summarize ['a.b'] = dcount(l_orderkey), c = count()"
        " by l_returnflag | sort by l_returnflag asc"
    ).collect()
    assert rows and all(r["a.b"] > 0 and r.c > 0 for r in rows)


def test_split_distinct_bails_after_take(run_kql, monkeypatch):
    # round 11 (ADVICE): the split-distinct rewrite re-executes the
    # upstream once per aggregation piece; after a take (limit without a
    # total order) each piece could see DIFFERENT rows, so the rewrite
    # must bail to the fused single-scan plan. The fused plan has no
    # join-back — assert the optimized plan is Join-free.
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    df = run_kql(
        "lineitem | take 1000 | summarize dc = dcount(l_orderkey),"
        " c = count() by l_returnflag"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    # control: without the take the scale path DOES split (join-back)
    df2 = run_kql(
        "lineitem | summarize dc = dcount(l_orderkey), c = count()"
        " by l_returnflag // no-take-control"
    )
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan2, plan2


def test_split_distinct_bails_after_innerunique(run_kql, monkeypatch):
    # innerunique's dropDuplicates keeps an arbitrary survivor per key —
    # nondeterministic row selection must disable the split. Exactly one
    # Join (the innerunique join itself) should survive in the plan.
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    df = run_kql(
        "lineitem | join kind=innerunique (orders) on"
        " $left.l_orderkey == $right.o_orderkey"
        " | summarize dc = dcount(o_custkey), c = count() by l_returnflag"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1, plan


def test_split_distinct_bails_after_sample(run_kql, monkeypatch):
    # round 12 (ADVICE): sample / sample-distinct select rows via
    # orderBy(rand()) — nondeterministic across re-executions (values
    # depend on partition layout), so the split-distinct rewrite must
    # bail just like take/top/innerunique do.
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    df = run_kql(
        "lineitem | sample 1000 | summarize dc = dcount(l_orderkey),"
        " c = count() by l_returnflag"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    df2 = run_kql(
        "lineitem | sample-distinct 500 of l_orderkey"
        " | summarize dc = dcount(l_orderkey), c = count()"
    )
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan2, plan2


def test_dcount_accuracy_argument_validated(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    # Kusto rejects accuracy outside 0-4 and non-constant accuracy —
    # both in sketch AND exact mode (round 11, ADVICE; was a silent
    # fallback to accuracy 1 / a raw ValueError)
    for q in (
        "events | summarize d = dcount(user_id, 7)",
        "set exact_dcount = false; events | summarize d = dcount(user_id, -1)",
        "events | summarize d = dcountif(user_id, value > 0, 99)",
        "events | summarize d = dcount(user_id, event_type)",
        # round 12 (ADVICE): int() would truncate 2.9 -> 2; Kusto rejects
        "events | summarize d = dcount(user_id, 2.9)",
    ):
        with pytest.raises(KqlSemanticError):
            run_kql(q).collect()
    # valid accuracies still work in both modes
    assert run_kql(
        "set exact_dcount = false; events | summarize d = dcount(user_id % 97, 4)"
    ).collect()[0].d > 0
    assert run_kql("events | summarize d = dcount(user_id, 2)").collect()[0].d > 0


def test_growth_fn_extend_resets_auto_broadcast_estimate(run_kql, monkeypatch):
    # round 11 (ADVICE): extend is size-transparent for the source-bytes
    # auto-broadcast estimate ONLY while added columns are row-bounded; a
    # strrep-grown side must not keep its tiny on-disk estimate (the hint
    # would be a perf cliff / broadcast-size failure at scale). The hint
    # is visible as ResolvedHint in the analyzed plan.
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    # union makes the LEFT side size-opaque (estimate None, never
    # hinted), so any ResolvedHint in the plan must be the right side's
    left = "orders | union (orders | where 1 == 2) | "
    grown = run_kql(
        left + "join kind=inner (nation | extend p = strrep(n_name, 2))"
        " on $left.o_custkey == $right.n_nationkey | summarize c = count()"
    )
    aplan = grown._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in aplan, aplan
    # control: the un-grown dim side still receives the hint
    plain = run_kql(
        left + "join kind=inner (nation | extend p = strlen(n_name))"
        " on $left.o_custkey == $right.n_nationkey | summarize c = count()"
        " // growth-control"
    )
    aplan2 = plain._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in aplan2, aplan2


def test_take_stratified_contract(run_kql):
    # round 11: deterministic balanced subsampling. Per stratum the count
    # is min(N, population); the sample is a subset of the source; two
    # runs pick the IDENTICAL rows (the whole point vs sample/rand).
    base = {
        r.event_type: r.n
        for r in run_kql(
            "events | summarize n = count() by event_type"
        ).collect()
    }
    q = (
        "events | evaluate take_stratified(event_type, 25, event_id)"
        " | project event_type, event_id"
    )
    got1 = sorted(tuple(r) for r in run_kql(q).collect())
    got2 = sorted(tuple(r) for r in run_kql(q + " // rerun").collect())
    assert got1 == got2
    from collections import Counter

    per = Counter(t for t, _ in got1)
    assert per == {t: min(25, n) for t, n in base.items()}
    all_ids = {
        (r.event_type, r.event_id)
        for r in run_kql("events | project event_type, event_id").collect()
    }
    assert set(got1) <= all_ids


def test_take_stratified_validation(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    for q in (
        "events | evaluate take_stratified(event_type, 0, event_id)",
        "events | evaluate take_stratified(event_type, 10, event_type)",
        "events | evaluate take_stratified(event_type, 10)",
    ):
        with pytest.raises(KqlSemanticError):
            run_kql(q).collect()


def test_take_stratified_window_group_limit_plan(run_kql):
    # scale pin: Spark's WindowGroupLimit must push the <=N rank filter
    # below the shuffle so a hot stratum ships at most N rows per map
    # partition instead of its full population
    df = run_kql(
        "events | evaluate take_stratified(event_type, 5, event_id)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_hll_accuracy_argument_validated(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    # same contract as dcount (round 11): hll/hll_if accuracy must be a
    # constant integer 0-4, not a silent lgK default
    for q in (
        "events | summarize h = hll(user_id, 5)",
        "events | summarize h = hll_if(user_id, value > 0, -2)",
        "events | summarize h = hll(user_id, event_type)",
    ):
        with pytest.raises(KqlSemanticError):
            run_kql(q).collect()
    # the sketch round-trip still works at every valid accuracy
    row = run_kql(
        "events | extend uk = user_id % 97"
        " | summarize h = hll(uk, 4) | project d = dcount_hll(h)"
    ).collect()[0]
    exact = run_kql(
        "events | extend uk = user_id % 97 | summarize d = dcount(uk)"
    ).collect()[0].d
    assert row.d == exact  # lgK 21 is exact at fixture cardinality


def test_growth_fn_inside_serialize_items_screened(run_kql, monkeypatch):
    # serialize carries extend items too — a strrep there must also reset
    # the auto-broadcast size estimate (round-11 self-review)
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    left = "orders | union (orders | where 1 == 2) | "
    grown = run_kql(
        left + "join kind=inner (nation | serialize p = strrep(n_name, 2))"
        " on $left.o_custkey == $right.n_nationkey | summarize c = count()"
    )
    aplan = grown._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in aplan, aplan


def test_ngram_stats_contract(run_kql):
    # round 11: counts are exact (cross-checked vs a python recount) and
    # the top-k cut lowers to TakeOrderedAndProject
    import re
    from collections import Counter

    docs = run_kql("documents | project text").collect()
    want = Counter()
    for r in docs:
        ws = [w for w in re.split(r"\s+", r.text.lower()) if w]
        for i in range(len(ws) - 2):
            want[" ".join(ws[i : i + 3])] += 1
    df = run_kql("documents | evaluate ngram_stats(text, 3, 10)")
    got = [(r.ngram, r.ngram_count) for r in df.collect()]
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == expect
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_ngram_stats_validation(run_kql):
    from kql_engine_spark.errors import KqlSemanticError

    for q in (
        "documents | evaluate ngram_stats(text, 0)",
        "documents | evaluate ngram_stats(text, 2, 0)",
        "documents | evaluate ngram_stats(text)",
    ):
        with pytest.raises(KqlSemanticError):
            run_kql(q).collect()
    # n longer than every document -> empty result, no sequence() error
    assert run_kql(
        "documents | evaluate ngram_stats(text, 100000, 5)"
    ).count() == 0


def test_aqe_probe_result_parity_across_kinds(run_kql, spark, monkeypatch):
    # round 12: the rebalance probe must be semantics-free — identical
    # results probe-on vs probe-off across join kinds and filter
    # selectivities (including 0-survivor and all-survivor filters)
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    cases = [
        (100.0, "inner"), (0.0, "inner"), (1e9, "inner"),
        (100.0, "leftouter"), (100.0, "fullouter"),
    ]
    try:
        for i, (thr, kind) in enumerate(cases):
            q = (
                f"let big = lineitem | summarize sumq = sum(l_quantity)"
                f" by l_orderkey | where sumq > {thr};"
                f"big | join kind={kind} (orders) on"
                f" $left.l_orderkey == $right.o_orderkey"
                f" | summarize n = count(), s = sum(sumq),"
                f" k = count_distinct(o_orderkey)"
            )
            rows = {}
            for mode in (True, False):
                monkeypatch.setattr(TR, "_AQE_PROBE", mode)
                rows[mode] = sorted(
                    map(tuple, run_kql(q + f" // parity{i}m{int(mode)}").collect())
                )
            assert rows[True] == rows[False], (thr, kind)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_every_plugin_fails_typed_on_short_arity(run_kql):
    """Round 16: probe every registered evaluate plugin with 0 and 1
    arguments through the KQL surface. The contract is only-typed
    KqlErrors — an unguarded args[i] raises an untyped IndexError
    instead (dedup_near did exactly that for the 2-arg form until this
    round). Success is also fine (some plugins genuinely take 0-1
    args); what must never happen is a non-Kql Python exception."""
    from kql_engine_spark.errors import KqlError
    from kql_engine_spark.extensions import EVALUATE_REGISTRY

    failures = []
    for name in sorted(EVALUATE_REGISTRY):
        for arglist in ("", "text"):
            q = f"documents | evaluate {name}({arglist})"
            try:
                run_kql(q)
            except KqlError:
                pass
            except Exception as exc:  # noqa: BLE001 - the probe's point
                failures.append(f"{name}({arglist}): {type(exc).__name__}: {exc}")
    assert not failures, "untyped errors:\n" + "\n".join(failures)
