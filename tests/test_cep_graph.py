"""Tests for CEP (batch + streaming executors) and Gelly-style graph ops —
the reference's operator-harness layer (SURVEY.md §5 layer 3)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_1_6_0_spark.operators import graph as g
from flink_1_6_0_spark.streaming.cep import Pattern, cep_batch, cep_stream
from tests.helpers import normalize

_EVENTS = [
    # (event_id, ts, user, type) — user 1: v c v p ; user 2: c p
    (1, "2024-01-01 00:00:00", 1, "view"),
    (2, "2024-01-01 00:05:00", 1, "click"),
    (3, "2024-01-01 00:10:00", 1, "view"),
    (4, "2024-01-01 00:20:00", 1, "purchase"),
    (5, "2024-01-01 02:00:00", 1, "purchase"),  # outside 1h window of event 1
    (6, "2024-01-01 00:00:00", 2, "click"),
    (7, "2024-01-01 00:01:00", 2, "purchase"),
]


def _events_df(spark):
    df = spark.createDataFrame(_EVENTS, "event_id long, ts string, user_id long, event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _funnel(within_s):
    return (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by_any("click", lambda e: e["event_type"] == "click")
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(within_s)
    )


def test_cep_batch_followed_by_any(spark):
    out = cep_batch(_events_df(spark), _funnel(3600), ["user_id"], "ts", "event_id")
    rows = {(r.user_id, r.view_id, r.click_id, r.purchase_id) for r in out.collect()}
    # user1: view1→click2→purchase4 (purchase5 is beyond 1h of view1 and view3)
    assert rows == {(1, 1, 2, 4)}


def test_cep_within_boundary_strict(spark):
    """An event at elapsed == within is EXCLUDED: the reference times the
    partial out at ``timestamp - start >= windowTime`` (NFA.java:270;
    NFAITCase.java:293 golden). One second more headroom admits it."""
    out = cep_batch(_events_df(spark), _funnel(1200), ["user_id"], "ts", "event_id")
    rows = {(r.view_id, r.click_id, r.purchase_id) for r in out.collect()}
    assert (1, 2, 4) not in rows  # 00:20 - 00:00 == 1200s exactly — expired
    out2 = cep_batch(_events_df(spark), _funnel(1201), ["user_id"], "ts", "event_id")
    rows2 = {(r.view_id, r.click_id, r.purchase_id) for r in out2.collect()}
    assert (1, 2, 4) in rows2


def test_cep_followed_by_takes_first_match_only(spark):
    p = Pattern.begin("view", lambda e: e["event_type"] == "view").followed_by(
        "purchase", lambda e: e["event_type"] == "purchase"
    ).within(86400)
    out = cep_batch(_events_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {(r.view_id, r.purchase_id) for r in out.collect()}
    # each view matches only its FIRST later purchase (4), not also 5
    assert rows == {(1, 4), (3, 4)}


def test_cep_next_strict_contiguity(spark):
    p = Pattern.begin("view", lambda e: e["event_type"] == "view").next(
        "click", lambda e: e["event_type"] == "click"
    )
    out = cep_batch(_events_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {(r.view_id, r.click_id) for r in out.collect()}
    assert rows == {(1, 2)}  # view3 is followed immediately by purchase4, not a click


def test_cep_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "cep_src")
    _events_df(spark).repartition(1).write.parquet(src)
    from flink_1_6_0_spark.sources.stream import read_parquet_stream, run_bounded

    stream = read_parquet_stream(spark, src)
    out = cep_stream(
        stream, _funnel(3600), ["user_id"], "ts", "event_id", "event_type", use_cleanup_timer=False
    )
    got = {tuple(r) for r in run_bounded(out, "append")[0].collect()}
    assert got == {(1, 1, 2, 4)}


def test_stream_running_agg(spark, sf_dir):
    from flink_1_6_0_spark.sources.stream import events_stream, run_bounded
    from flink_1_6_0_spark.streaming.over_agg import stream_running_agg

    out = stream_running_agg(
        events_stream(spark, sf_dir), ["user_id"], "ts", "event_id", "value"
    )
    result, _ = run_bounded(out, "append")
    got = result.select("event_id", "user_id", "running_sum", "running_n").toPandas()

    from flink_1_6_0_spark.queries import T
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    batch = (
        T(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 2).alias("running_sum"),
            F.count("*").over(w).alias("running_n"),
        )
        .toPandas()
    )
    assert normalize(got) == normalize(batch)


# -- graph ops on a hand graph ----------------------------------------------


def test_connected_components_two_islands(spark):
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "src long, dst long")
    got = {(r.id, r.component) for r in g.connected_components(verts, edges).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)}


def test_sssp(spark):
    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    got = {(r.id, r.distance) for r in g.single_source_shortest_paths(verts, edges, 0).collect()}
    assert got == {(0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0)}


def test_triangle_count_k4(spark):
    # K4 has 4 triangles
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    assert g.triangle_count(edges).collect()[0]["n_triangles"] == 4


# -- quantifiers (Pattern.java:327-474) --------------------------------------

_QEVENTS = [
    (1, "2024-01-01 00:00:00", 1, "click"),
    (2, "2024-01-01 00:02:00", 1, "click"),
    (3, "2024-01-01 00:04:00", 1, "view"),
    (4, "2024-01-01 00:06:00", 1, "click"),
    (5, "2024-01-01 00:08:00", 1, "purchase"),
]


def _qdf(spark):
    df = spark.createDataFrame(_QEVENTS, "event_id long, ts string, user_id long, event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_cep_times_two(spark):
    p = (
        Pattern.begin("clicks", lambda e: e["event_type"] == "click")
        .times(2)
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    out = cep_batch(_qdf(spark), p, ["user_id"], "ts", "event_id")
    rows = {(tuple(r.clicks_ids), r.purchase_id) for r in out.collect()}
    # starts at click1→next click2; click2→next click4; click4 has no pair
    assert rows == {((1, 2), 5), ((2, 4), 5)}


def test_cep_optional_stage(spark):
    p = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("click", lambda e: e["event_type"] == "click")
        .optional()
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    out = cep_batch(_qdf(spark), p, ["user_id"], "ts", "event_id")
    rows = {(r.view_id, tuple(r.click_ids), r.purchase_id) for r in out.collect()}
    # view3 → optional click (skipped or click4) → purchase5
    assert rows == {(3, (), 5), (3, (4,), 5)}


def test_cep_one_or_more_consecutive(spark):
    p = (
        Pattern.begin("clicks", lambda e: e["event_type"] == "click")
        .one_or_more()
        .consecutive()
        .followed_by_any("view", lambda e: e["event_type"] == "view")
        .within(3600)
    )
    out = cep_batch(_qdf(spark), p, ["user_id"], "ts", "event_id")
    rows = {tuple(r.clicks_ids) for r in out.collect()}
    # consecutive runs ending before the view: (1), (1,2), (2); click4 is after the view
    assert rows == {(1,), (1, 2), (2,)}


def test_label_propagation_two_cliques(spark):
    # two triangles bridged by one edge; labels converge within each clique
    verts = spark.createDataFrame([(i, i) for i in range(6)], "id long, label long")
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    got = {(r.id, r.label) for r in g.label_propagation(verts, edges, iterations=4).collect()}
    assert {l for _, l in got if _ < 3} == {0} and {l for i, l in got if i >= 3} == {3}


# -- after-match skip strategies (AfterMatchSkipStrategy.java) --------------

_BBBC = [  # the canonical skip-strategy example: b1 b2 b3 c (one key)
    (10, "2024-01-01 00:00:00", 1, "b"),
    (11, "2024-01-01 00:01:00", 1, "b"),
    (12, "2024-01-01 00:02:00", 1, "b"),
    (13, "2024-01-01 00:03:00", 1, "c"),
]


def _bbbc_df(spark):
    df = spark.createDataFrame(_BBBC, "event_id long, ts string, user_id long, event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _b_plus_c():
    return (
        Pattern.begin("b", lambda e: e["event_type"] == "b")
        .one_or_more()
        .followed_by("c", lambda e: e["event_type"] == "c")
    )


def _bc_matches(spark, pattern):
    out = cep_batch(_bbbc_df(spark), pattern, ["user_id"], "ts", "event_id")
    return {(tuple(r.b_ids), r.c_id) for r in out.collect()}


def test_cep_no_skip_baseline(spark):
    assert _bc_matches(spark, _b_plus_c()) == {
        ((10,), 13), ((10, 11), 13), ((10, 11, 12), 13),
        ((11,), 13), ((11, 12), 13), ((12,), 13),
    }


def test_cep_skip_past_last_event(spark):
    # the earliest-start longest match wins; everything overlapping it is pruned
    assert _bc_matches(spark, _b_plus_c().skip_past_last_event()) == {((10, 11, 12), 13)}


def test_cep_skip_to_last(spark):
    # Flink doc example: SKIP_TO_LAST[b] keeps b1 b2 b3 c and b3 c
    assert _bc_matches(spark, _b_plus_c().skip_to_last("b")) == {
        ((10, 11, 12), 13), ((12,), 13),
    }


def test_cep_skip_to_first_degenerate(spark):
    # SKIP_TO_FIRST[b] prunes nothing here (threshold = each match's own start)
    assert _bc_matches(spark, _b_plus_c().skip_to_first("b")) == _bc_matches(spark, _b_plus_c())


def test_cep_skip_unknown_target_raises(spark):
    import pytest as _pytest

    with _pytest.raises(Exception):
        cep_batch(
            _bbbc_df(spark), _b_plus_c().skip_to_last("nope"), ["user_id"], "ts", "event_id"
        ).collect()


# -- group patterns (GroupPattern.java) -------------------------------------

_ABABC = [  # a b a b c (one key)
    (20, "2024-01-01 00:00:00", 1, "a"),
    (21, "2024-01-01 00:01:00", 1, "b"),
    (22, "2024-01-01 00:02:00", 1, "a"),
    (23, "2024-01-01 00:03:00", 1, "b"),
    (24, "2024-01-01 00:04:00", 1, "c"),
]


def _ababc_df(spark):
    df = spark.createDataFrame(_ABABC, "event_id long, ts string, user_id long, event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _ab():
    return Pattern.begin("a", lambda e: e["event_type"] == "a").followed_by(
        "b", lambda e: e["event_type"] == "b"
    )


def test_cep_group_times(spark):
    # (a b){2} c over  a b a b c : one match spanning all five events
    p = Pattern.begin_group("ab", _ab()).times(2).followed_by(
        "c", lambda e: e["event_type"] == "c"
    )
    out = cep_batch(_ababc_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {(tuple(r.ab_ids), r.c_id) for r in out.collect()}
    assert rows == {((20, 21, 22, 23), 24)}


def test_cep_group_one_or_more(spark):
    # (a b)+ over  a b a b c : anchors at both (a b) occurrences; greedy extension
    p = Pattern.begin_group("ab", _ab()).one_or_more()
    out = cep_batch(_ababc_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {tuple(r.ab_ids) for r in out.collect()}
    assert rows == {(20, 21), (20, 21, 22, 23), (22, 23)}


def test_cep_group_next_strict(spark):
    # x next_group (a b): group's first event must be adjacent to x
    p = Pattern.begin("x", lambda e: e["event_type"] == "a").next_group("ab", _ab())
    out = cep_batch(_ababc_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {(r.x_id, tuple(r.ab_ids)) for r in out.collect()}
    # x=a20 → group must start at b21: sub-pattern needs an 'a' first → no match;
    # x=a22 → group starts at b23: no. Only x anchored where the NEXT event starts (a b):
    # a20 next is b21 (not an a) … so the only strict fit is x=?? — expect empty? No:
    # x matches a20 and a22; group strict start at index+1: a20→b21 ✗, a22→b23 ✗.
    assert rows == set()


def test_cep_group_followed_by_relaxed(spark):
    # x followed_by_group (a b): first (a b) after x
    p = Pattern.begin("x", lambda e: e["event_type"] == "a").followed_by_group("ab", _ab())
    out = cep_batch(_ababc_df(spark), p, ["user_id"], "ts", "event_id")
    rows = {(r.x_id, tuple(r.ab_ids)) for r in out.collect()}
    assert rows == {(20, (22, 23))}


# -- negations / until / greedy / timesOrMore / or ---------------------------

def _seq_df(spark, types):
    rows = [
        (30 + i, f"2024-01-01 00:0{i}:00", 1, t) for i, t in enumerate(types)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _ids(out, *cols):
    return {tuple(r[c] for c in cols) for r in out.collect()}


def test_cep_not_next(spark):
    p = (
        Pattern.begin("a", lambda e: e["event_type"] == "a")
        .not_next("nb", lambda e: e["event_type"] == "b")
        .followed_by("c", lambda e: e["event_type"] == "c")
    )
    # a b c: b sits immediately after a → forbidden
    assert _ids(cep_batch(_seq_df(spark, ["a", "b", "c"]), p, ["user_id"], "ts", "event_id"), "a_id", "c_id") == set()
    # a x c: immediate successor is x → allowed
    assert _ids(cep_batch(_seq_df(spark, ["a", "x", "c"]), p, ["user_id"], "ts", "event_id"), "a_id", "c_id") == {(30, 32)}


def test_cep_not_followed_by(spark):
    p = (
        Pattern.begin("a", lambda e: e["event_type"] == "a")
        .not_followed_by("nb", lambda e: e["event_type"] == "b")
        .followed_by("c", lambda e: e["event_type"] == "c")
    )
    # any b in the a→c gap kills the match
    assert _ids(cep_batch(_seq_df(spark, ["a", "x", "b", "c"]), p, ["user_id"], "ts", "event_id"), "a_id", "c_id") == set()
    assert _ids(cep_batch(_seq_df(spark, ["a", "x", "x", "c"]), p, ["user_id"], "ts", "event_id"), "a_id", "c_id") == {(30, 33)}


def test_cep_not_followed_by_last_raises(spark):
    import pytest as _pytest

    p = Pattern.begin("a", lambda e: True).not_followed_by("nb", lambda e: True)
    with _pytest.raises(ValueError, match="notFollowedBy"):
        cep_batch(_seq_df(spark, ["a"]), p, ["user_id"], "ts", "event_id")


def test_cep_until_stops_loop(spark):
    p = (
        Pattern.begin("c", lambda e: e["event_type"] == "c")
        .one_or_more()
        .until(lambda e: e["event_type"] == "s")
    )
    out = cep_batch(_seq_df(spark, ["c", "c", "s", "c"]), p, ["user_id"], "ts", "event_id")
    runs = {tuple(r.c_ids) for r in out.collect()}
    # loops never cross the stop event at index 2; a fresh match after it is fine
    assert runs == {(30,), (30, 31), (31,), (33,)}


def test_cep_greedy_maximal_only(spark):
    p = (
        Pattern.begin("b", lambda e: e["event_type"] == "b")
        .one_or_more()
        .greedy()
        .followed_by("c", lambda e: e["event_type"] == "c")
    )
    out = cep_batch(_seq_df(spark, ["b", "b", "b", "c"]), p, ["user_id"], "ts", "event_id")
    # Flink greedy semantics: only maximal runs per start — b123c, b23c, b3c
    assert {(tuple(r.b_ids), r.c_id) for r in out.collect()} == {
        ((30, 31, 32), 33), ((31, 32), 33), ((32,), 33),
    }


def test_cep_times_or_more(spark):
    p = Pattern.begin("b", lambda e: e["event_type"] == "b").times_or_more(2)
    out = cep_batch(_seq_df(spark, ["b", "b", "b"]), p, ["user_id"], "ts", "event_id")
    assert {tuple(r.b_ids) for r in out.collect()} == {(30, 31), (30, 31, 32), (31, 32)}


def test_cep_or_condition(spark):
    p = Pattern.begin("ab", lambda e: e["event_type"] == "a").or_(
        lambda e: e["event_type"] == "b"
    ).followed_by("c", lambda e: e["event_type"] == "c")
    out = cep_batch(_seq_df(spark, ["a", "b", "c"]), p, ["user_id"], "ts", "event_id")
    assert _ids(out, "ab_id", "c_id") == {(30, 32), (31, 32)}


def test_hits_star_graph(spark):
    # star: 0->1, 0->2, 0->3 — vertex 0 is the only hub, 1..3 equal authorities
    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    got = {r.id: (r.hub, r.authority) for r in g.hits(verts, edges, iterations=3).collect()}
    assert abs(got[0][0] - 1.0) < 1e-9 and got[0][1] == 0.0
    for i in (1, 2, 3):
        assert got[i][0] == 0.0 and abs(got[i][1] - 1 / 3**0.5) < 1e-9


def test_community_detection_two_cliques(spark):
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    got = {(r.id, r.label) for r in g.community_detection(verts, edges, iterations=4).collect()}
    assert {l for i, l in got if i < 3} == {0} and {l for i, l in got if i >= 3} == {3}


def test_summarize_groups_and_edges(spark):
    # vertices grouped by color; edges condensed per (color, color)
    verts = spark.createDataFrame(
        [(0, "red"), (1, "red"), (2, "blue"), (3, "blue")], "id long, value string"
    )
    edges = spark.createDataFrame([(0, 2), (1, 3), (0, 1)], "src long, dst long")
    v_sum, e_sum = g.summarize(verts, edges)
    vs = {(r.repr_id, r.value, r.cnt) for r in v_sum.collect()}
    assert vs == {(0, "red", 2), (2, "blue", 2)}
    es = {(r.src_repr, r.dst_repr, r.cnt) for r in e_sum.collect()}
    assert es == {(0, 2, 2), (0, 0, 1)}


def test_cep_allow_combinations(spark):
    # c1 c2 c3 v4 — combinations adds the non-contiguous run (1,3)
    evs = [
        (1, "2024-01-01 00:00:00", 1, "click"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:02:00", 1, "click"),
        (4, "2024-01-01 00:03:00", 1, "view"),
    ]
    df = spark.createDataFrame(evs, "event_id long, ts string, user_id long, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))

    def pat(combi):
        p = Pattern.begin("clicks", lambda e: e["event_type"] == "click").one_or_more()
        if combi:
            p = p.allow_combinations()
        return p.followed_by_any("view", lambda e: e["event_type"] == "view").within(3600)

    plain = {tuple(r.clicks_ids) for r in cep_batch(df, pat(False), ["user_id"], "ts", "event_id").collect()}
    combi = {tuple(r.clicks_ids) for r in cep_batch(df, pat(True), ["user_id"], "ts", "event_id").collect()}
    assert plain == {(1,), (1, 2), (1, 2, 3), (2,), (2, 3), (3,)}
    assert combi == plain | {(1, 3)}


def test_cep_timeout_side_channel(spark):
    from flink_1_6_0_spark.streaming.cep import cep_batch_with_timeouts

    # user1 completes view→purchase; user2's view has no purchase in horizon
    evs = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:10:00", 1, "purchase"),
        (3, "2024-01-01 00:00:00", 2, "view"),
        (4, "2024-01-01 02:00:00", 2, "purchase"),  # outside 1h
    ]
    df = spark.createDataFrame(evs, "event_id long, ts string, user_id long, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    p = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    out = cep_batch_with_timeouts(df, p, ["user_id"], "ts", "event_id").collect()
    full = {(r.user_id, r.view_id, r.purchase_id) for r in out if not r.timed_out}
    timed = {(r.user_id, r.view_id, r.purchase_id, r.pending_stage) for r in out if r.timed_out}
    assert full == {(1, 1, 2)}
    assert timed == {(2, 3, None, "purchase")}


def test_cep_timeout_not_reported_when_completed(spark):
    from flink_1_6_0_spark.streaming.cep import cep_batch_with_timeouts

    # single user, complete match — no timeout rows at all
    evs = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:10:00", 1, "purchase"),
    ]
    df = spark.createDataFrame(evs, "event_id long, ts string, user_id long, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    p = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    out = cep_batch_with_timeouts(df, p, ["user_id"], "ts", "event_id").collect()
    assert [r.timed_out for r in out] == [False]


def test_local_clustering_coefficient(spark):
    # triangle 0-1-2 plus pendant edge 2-3: corners of the triangle with
    # deg 2 have coeff 1; vertex 2 (deg 3) has 1 triangle / 3 pairs; leaf 0
    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long")
    got = {r.id: (r.degree, r.n_tri, r.coeff) for r in
           __import__("flink_1_6_0_spark.operators.graph", fromlist=["g"]).local_clustering_coefficient(edges).collect()}
    assert got[0] == (2, 1, 1.0) and got[1] == (2, 1, 1.0)
    assert got[2] == (3, 1, round(1 / 3, 6)) and got[3] == (1, 0, 0.0)


def test_vertex_centric_reliable_checkpoint(spark):
    """run_vertex_centric (pregel/VertexCentricIteration.java analog) with
    checkpoint_mode='reliable': the loop survives lineage truncation through
    a real checkpoint (RDD files, not executor-pinned blocks) and converges
    to the same fixpoint."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.operators.graph import connected_components, run_vertex_centric

    # two components: {1,2,3} and {10,11}
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11)], "id long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(
            verts, edges, max_iterations=6, checkpoint_interval=2, checkpoint_mode="reliable"
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    # generic API directly: min-label propagation, reliable checkpoints
    from flink_1_6_0_spark.operators.graph import undirect

    sym = undirect(edges).distinct()
    labels = verts.select("id", F.col("id").alias("component"))

    def message_fn(state, e):
        return (
            e.join(state, e.dst == state.id)
            .groupBy(e.src.alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )

    def update_fn(state, msgs):
        return state.join(msgs, "id", "left").select(
            "id", F.least("component", F.coalesce("nbr_min", "component")).alias("component")
        )

    out = run_vertex_centric(
        labels, sym, message_fn, update_fn, 6,
        checkpoint_interval=2, checkpoint_mode="reliable",
    )
    assert {(r["id"], r["component"]) for r in out.collect()} == got


def test_lazy_reliable_persist_drains_only_after_materialization(spark):
    """r10 advice: creating a SECOND lazy reliable checkpoint must not drop
    the helper persist of a first one whose checkpoint has not materialized
    yet (that would recompute the full lineage at checkpoint-write time —
    the double-compute the persist exists to prevent). Once the first
    checkpoint HAS materialized (an action ran), the next creation drains
    it."""
    from flink_1_6_0_spark.operators import graph as G

    G.release_reliable_persists()  # clean slate
    a = spark.range(100).withColumnRenamed("id", "x")
    ck_a = G._checkpoint(a, "reliable", eager=False)
    assert len(G._RELIABLE_PERSISTS) == 1
    # no action on ck_a yet -> a second lazy checkpoint must KEEP a's persist
    b = spark.range(50).withColumnRenamed("id", "y")
    ck_b = G._checkpoint(b, "reliable", eager=False)
    assert len(G._RELIABLE_PERSISTS) == 2, "pending persist was drained early"
    # materialize both checkpoints, then a third creation drains them
    assert ck_a.count() == 100 and ck_b.count() == 50
    c = spark.range(10).withColumnRenamed("id", "z")
    G._checkpoint(c, "reliable", eager=False)
    assert len(G._RELIABLE_PERSISTS) == 1  # only c's own entry remains
    G.release_reliable_persists()
    assert not G._RELIABLE_PERSISTS


def test_checkpoint_mode_unknown_raises(spark):
    import pytest as _pytest

    from flink_1_6_0_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], "id long")
    with _pytest.raises(ValueError):
        connected_components(verts, edges, max_iterations=2, checkpoint_interval=1,
                             checkpoint_mode="cloud")


def test_gsa_custom_max_propagation(spark):
    """run_gather_sum_apply (gsa/GatherSumApplyIteration.java analog) with a
    CUSTOM algorithm: max-value propagation over an undirected graph — each
    superstep a vertex gathers neighbor values, sums with max, applies
    greatest(old, max). Exercises the 'all' edge direction (GSAConfiguration
    .setDirection) and the gather/sum/apply operator split."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.operators.graph import run_gather_sum_apply

    # chain 0-1-2 with values 5,1,9 and an isolated vertex 3 (value 7):
    # the chain converges to 9 everywhere; 3 keeps 7 (no gather rows)
    verts = spark.createDataFrame(
        [(0, 5.0), (1, 1.0), (2, 9.0), (3, 7.0)], "id long, value double"
    )
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")

    out = run_gather_sum_apply(
        verts,
        edges,
        gather_fn=lambda nbrs: nbrs.select("id", F.col("nb_value").alias("m")),
        sum_fn=lambda g: g.groupBy("id").agg(F.max("m").alias("m")),
        apply_fn=lambda state, summed: state.join(summed, "id", "left").select(
            "id", F.greatest("value", F.coalesce("m", "value")).alias("value")
        ),
        max_iterations=4,
        direction="all",
        checkpoint_interval=2,
    )
    got = {(r["id"], r["value"]) for r in out.collect()}
    assert got == {(0, 9.0), (1, 9.0), (2, 9.0), (3, 7.0)}


def test_gsa_neighbor_view_directions(spark):
    """_neighbor_view keying follows ProjectKeyWithNeighborOUT/IN
    (GatherSumApplyIteration.java:415): OUT keys by edge target with the
    SOURCE's state; IN is the mirror; edge payload columns ride along."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.operators.graph import _neighbor_view

    state = spark.createDataFrame([(0, 10.0), (1, 20.0)], "id long, value double")
    edges = spark.createDataFrame([(0, 1, 99.0)], "src long, dst long, weight double")

    out_rows = _neighbor_view(state, edges, "out").collect()
    assert [(r["id"], r["nb_value"], r["weight"]) for r in out_rows] == [(1, 10.0, 99.0)]

    in_rows = _neighbor_view(state, edges, "in").collect()
    assert [(r["id"], r["nb_value"], r["weight"]) for r in in_rows] == [(0, 20.0, 99.0)]

    all_rows = _neighbor_view(state, edges, "all").collect()
    assert {(r["id"], r["nb_value"]) for r in all_rows} == {(1, 10.0), (0, 20.0)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _neighbor_view(state, edges, "sideways")


def test_scatter_gather_min_label(spark):
    """run_scatter_gather (spargel/ScatterGatherIteration.java analog):
    ScatterFunction sends the vertex's label along its edges, spargel
    GatherFunction keeps the min of incoming messages — connected
    components, the reference's own spargel example."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.operators.graph import run_scatter_gather, undirect

    edges = undirect(spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long"))
    labels = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11)], "id long").select(
        "id", F.col("id").alias("component")
    )

    def scatter_fn(state, e):
        return (
            e.join(state, e.src == state.id)
            .groupBy(e.dst.alias("id"))
            .agg(F.min("component").alias("msg"))
        )

    def gather_fn(state, msgs):
        return state.join(msgs, "id", "left").select(
            "id", F.least("component", F.coalesce("msg", "component")).alias("component")
        )

    out = run_scatter_gather(labels, edges, scatter_fn, gather_fn, 6, checkpoint_interval=2)
    assert {(r["id"], r["component"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
    }


def test_bipartite_projections(spark):
    """BipartiteGraph.java:127/171/215: top/bottom, simple/full, edge-value
    passthrough. Users {u1,u2} both touch item A -> one edge per orientation
    per shared item; no self-edges."""
    from flink_1_6_0_spark.operators.graph import bipartite_projection

    e = spark.createDataFrame(
        [("u1", "A", 5), ("u2", "A", 3), ("u2", "B", 1), ("u3", "B", 2)],
        "top string, bottom string, w int",
    )
    top = {(r.src, r.dst) for r in bipartite_projection(e, "top").collect()}
    assert top == {("u1", "u2"), ("u2", "u1"), ("u2", "u3"), ("u3", "u2")}

    bottom = {(r.src, r.dst) for r in bipartite_projection(e, "bottom").collect()}
    assert bottom == {("A", "B"), ("B", "A")}  # via u2

    full = {(r.src, r.dst, r.via, r.ev_src, r.ev_dst)
            for r in bipartite_projection(e, "top", full=True, value_col="w").collect()}
    assert ("u1", "u2", "A", 5, 3) in full and ("u2", "u1", "A", 3, 5) in full

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bipartite_projection(e, "sideways")


# -- similarity tier (library/similarity/, metric/undirected/) ---------------


def test_jaccard_index_star(spark):
    # star: leaves share exactly the center; deg(leaf)=1 → score 1/(1+1-1)=1
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    rows = {(r["u"], r["v"]): r for r in g.jaccard_index(edges).collect()}
    assert set(rows) == {(1, 2), (1, 3), (2, 3)}
    for r in rows.values():
        assert (r["shared_neighbors"], r["distinct_neighbors"], r["score"]) == (1, 1, 1.0)


def test_jaccard_index_path(spark):
    # path 0-1-2-3: only (0,2) via 1 and (1,3) via 2; 1/(1+2-1) = 0.5
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    rows = {(r["u"], r["v"]): r["score"] for r in g.jaccard_index(edges).collect()}
    assert rows == {(0, 2): 0.5, (1, 3): 0.5}
    assert g.jaccard_index(edges, min_score=0.6).count() == 0


def test_jaccard_min_score_filters_exact_not_rounded(spark):
    """r4 ADVICE: the threshold applies to the EXACT ratio, not the
    6-decimal rounding. Pair (1,3) here scores exactly 1/3; rounding first
    (0.333333 < 1/3) would wrongly drop it at min_score=1/3."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 5)], "src long, dst long"
    )
    kept = {(r["u"], r["v"]) for r in g.jaccard_index(edges, min_score=1 / 3).collect()}
    assert (1, 3) in kept


def test_adamic_adar_min_score_filters_exact_not_rounded(spark):
    """Same exact-before-round contract for Adamic-Adar: threshold at the
    exact 1/ln(3) sum must keep the star pairs (rounded 0.910239 is BELOW
    the exact 0.9102392266...)."""
    import math

    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    exact = 1.0 / math.log(3)
    assert round(exact, 6) < exact  # precondition: rounding goes DOWN here
    assert g.adamic_adar(edges, min_score=exact).count() == 3


def test_adamic_adar_star(spark):
    import math

    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    rows = {(r["u"], r["v"]): r["score"] for r in g.adamic_adar(edges).collect()}
    w = round(1.0 / math.log(3), 6)  # shared neighbor 0 has degree 3
    assert rows == {(1, 2): w, (1, 3): w, (2, 3): w}


def test_vertex_metrics_k4(spark):
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = g.vertex_metrics(edges).collect()[0]
    assert (r["vertex_count"], r["edge_count"], r["average_degree"]) == (4, 6, 3.0)
    assert (r["triplet_count"], r["maximum_degree"], r["maximum_triplets"]) == (12, 3, 3)


def test_triadic_census_k4_and_star(spark):
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = g.triadic_census(k4).collect()[0]
    assert tuple(r) == (0, 0, 0, 4)
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = g.triadic_census(star).collect()[0]
    assert tuple(r) == (1, 0, 3, 0)  # {1,2,3} empty; 3 wedges through center


def test_average_clustering_coefficient(spark):
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = g.average_clustering_coefficient(k4).collect()[0]
    assert (r["vertex_count"], r["average_coeff"]) == (4, 1.0)


def test_edge_metrics_k4_and_path(spark):
    # K4: every vertex deg 3; low = # neighbors dominating in (deg, id) —
    # vertex 0 has low 3, vertex 1 low 2, vertex 2 low 1, vertex 3 low 0
    # → triangle triplets 3+1+0+0 = 4, rectangle 3C2+3·0 + ... = per-vertex
    # C(low,2)+low·high: v0 3+0=3, v1 1+2=3, v2 0+2=2, v3 0+0=0 → 8
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = g.edge_metrics(k4).collect()[0]
    assert tuple(r) == (4, 8, 3, 3)


# -- graph generators (generator/) -------------------------------------------


def test_generators_edge_counts_and_shapes(spark):
    from flink_1_6_0_spark.operators import graph_gen as gg

    assert gg.cycle_graph(spark, 10).count() == 20  # n undirected → 2n
    assert gg.path_graph(spark, 7).count() == 12  # n-1 undirected
    assert gg.complete_graph(spark, 5).count() == 20  # n(n-1)
    assert gg.hypercube_graph(spark, 4).count() == 64  # d·2^d
    assert gg.empty_graph(spark, 9).count() == 0
    assert gg.generated_vertices(spark, 9).count() == 9
    # hypercube neighbors differ in exactly one bit
    hc = {(r.src, r.dst) for r in gg.hypercube_graph(spark, 3).collect()}
    assert hc == {(i, i ^ (1 << b)) for i in range(8) for b in range(3)}
    # every generated undirected edge set is symmetric
    for edges in (
        gg.cycle_graph(spark, 6),
        gg.grid_graph(spark, [(3, True), (2, False)]),
        gg.echo_graph(spark, 8, 3),
        gg.singleton_edge_graph(spark, 3),
        gg.star_graph(spark, 5),
    ):
        s = {(r.src, r.dst) for r in edges.collect()}
        assert s == {(d, u) for u, d in s}


def test_grid_size2_wrap_is_forced_off(spark):
    from flink_1_6_0_spark.operators import graph_gen as gg

    # GridGraph.java:77 — wrap on a size-2 dim would duplicate the edge
    assert gg.grid_graph(spark, [(2, True)]).count() == 2


def test_rmat_is_partitioning_invariant(spark):
    from flink_1_6_0_spark.operators import graph_gen as gg

    a = sorted(map(tuple, gg.rmat_graph(spark, 5, 64, seed=7).collect()))
    b = sorted(
        map(tuple, gg.rmat_graph(spark, 5, 64, seed=7).repartition(13).collect())
    )
    assert a == b
    assert all(0 <= s < 32 and 0 <= d < 32 for s, d in a)


def test_vertex_metrics_directed_mixed(spark):
    # 0→1 (uni), 1⇄2 (bi), 2→0 (uni): degrees all 2; out 0:1, 1:2, 2:2... wait
    # edges: (0,1),(1,2),(2,1),(2,0) → deg(0)=2,deg(1)=2,deg(2)=2;
    # out: 0:1,1:1,2:2; in: 0:1,1:2,2:1; bidir per v: 0:0,1:1,2:1 → 1 bi edge
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1), (2, 0)], "src long, dst long"
    )
    r = g.vertex_metrics_directed(edges).collect()[0]
    assert (r["vertex_count"], r["unidirectional_edge_count"], r["bidirectional_edge_count"]) == (3, 2, 1)
    assert (r["maximum_degree"], r["maximum_out_degree"], r["maximum_in_degree"]) == (2, 2, 2)
    assert (r["triplet_count"], r["maximum_triplets"]) == (3, 1)


def test_directed_clustering_coefficient(spark):
    # directed triangle 0→1→2→0 plus reverse edge 1→0:
    # N(v) = all others (deg 2) for every v; directed edges among neighbors:
    # v0: (1,2),(2,1)? only (1,2) exists → 1;  v1: (2,0) → 1;  v2: (0,1),(1,0) → 2
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (1, 0)], "src long, dst long")
    rows = {r.id: (r.n_between, r.coeff) for r in
            g.local_clustering_coefficient_directed(edges).collect()}
    assert rows == {0: (1, 0.5), 1: (1, 0.5), 2: (2, 1.0)}
    agg = g.global_clustering_coefficient_directed(edges).collect()[0]
    assert (agg.vertex_count, agg.global_coeff) == (3, round(4 / 6, 6))
    assert agg.average_coeff == round((0.5 + 0.5 + 1.0) / 3, 6)


def test_similarity_and_census_match_brute_force_on_random_graphs(spark):
    """Spec check: jaccard_index / adamic_adar / triadic_census /
    edge_metrics against O(n³) Python references on random graphs
    (deterministic seed — same spirit as the span-stats spec checks)."""
    import math
    import random

    rnd = random.Random(7)
    for _ in range(3):
        n = 8
        und = [(a, b) for a in range(n) for b in range(n) if a < b and rnd.random() < 0.45]
        if not und:
            continue
        edges = spark.createDataFrame(und, "src long, dst long")
        nbrs = {v: set() for v in range(n)}
        for a, b in und:
            nbrs[a].add(b)
            nbrs[b].add(a)
        deg = {v: len(nbrs[v]) for v in range(n)}

        exp_j, exp_a = {}, {}
        for u in range(n):
            for v in range(u + 1, n):
                shared = nbrs[u] & nbrs[v]
                if shared:
                    exp_j[(u, v)] = (len(shared), deg[u] + deg[v] - len(shared))
                    exp_a[(u, v)] = round(
                        sum(0.0 if deg[z] == 1 else 1.0 / math.log(deg[z]) for z in shared), 6
                    )
        got_j = {
            (r.u, r.v): (r.shared_neighbors, r.distinct_neighbors)
            for r in g.jaccard_index(edges).collect()
        }
        got_a = {(r.u, r.v): r.score for r in g.adamic_adar(edges).collect()}
        assert got_j == exp_j
        assert got_a == exp_a

        # census vs brute-force triple classification
        es = {frozenset(e) for e in und}
        counts = [0, 0, 0, 0]
        for a in range(n):
            for b in range(a + 1, n):
                for c in range(b + 1, n):
                    k = sum(1 for p in ((a, b), (a, c), (b, c)) if frozenset(p) in es)
                    counts[k] += 1
        r = g.triadic_census(edges).collect()[0]
        # operator's vertex universe is edge-derived; brute force uses all n —
        # compensate the 0-edge triad count for isolated vertices
        active = {v for v in range(n) if deg[v]}
        m = len(active)
        t03_active = 0
        al = sorted(active)
        for i in range(m):
            for j in range(i + 1, m):
                for k in range(j + 1, m):
                    trip = (al[i], al[j]), (al[i], al[k]), (al[j], al[k])
                    if all(frozenset(p) not in es for p in trip):
                        t03_active += 1
        assert tuple(r) == (t03_active, counts[1], counts[2], counts[3])

        # edge metrics: triangle triplets Σ C(low,2), rectangle Σ C(low,2)+low·high
        low = {
            v: sum(
                1
                for w in nbrs[v]
                if (deg[v], v) < (deg[w], w)
            )
            for v in active
        }
        tri = {v: low[v] * (low[v] - 1) // 2 for v in active}
        rect = {v: tri[v] + low[v] * (deg[v] - low[v]) for v in active}
        em = g.edge_metrics(edges).collect()[0]
        assert tuple(em) == (
            sum(tri.values()), sum(rect.values()), max(tri.values()), max(rect.values())
        )


def test_directed_triadic_census_matches_brute_force(spark):
    """All 16 Holland-Leinhardt classes vs an O(n³) triple classifier on
    random directed graphs (deterministic seed)."""
    import itertools
    import random

    def brute(vertices, es):
        keys = ["t003", "t012", "t102", "t021d", "t021u", "t021c", "t111d", "t111u",
                "t030t", "t030c", "t201", "t120d", "t120u", "t120c", "t210", "t300"]
        counts = dict.fromkeys(keys, 0)
        for a, b, c in itertools.combinations(sorted(vertices), 3):
            pairs = [(a, b), (b, c), (a, c)]
            st = ["m" if (u, v) in es and (v, u) in es
                  else "f" if (u, v) in es else "r" if (v, u) in es else "n"
                  for u, v in pairs]
            nm, nn = st.count("m"), st.count("n")
            na = 3 - nm - nn
            arrows = [(u, v) if s == "f" else (v, u)
                      for (u, v), s in zip(pairs, st) if s in "fr"]
            if nm == 3:
                k = "t300"
            elif nm == 2:
                k = "t210" if na else "t201"
            elif nm == 1 and na == 0:
                k = "t102"
            elif nm == 1 and na == 1:
                mp = pairs[st.index("m")]
                k = "t111d" if arrows[0][1] in mp else "t111u"
            elif nm == 1:
                mp = pairs[st.index("m")]
                z = next(v for v in (a, b, c) if v not in mp)
                srcs = sum(1 for s, _ in arrows if s == z)
                k = {2: "t120d", 0: "t120u", 1: "t120c"}[srcs]
            elif na == 0:
                k = "t003"
            elif na == 1:
                k = "t012"
            elif na == 2:
                s1, s2 = arrows[0][0], arrows[1][0]
                t1, t2 = arrows[0][1], arrows[1][1]
                k = "t021d" if s1 == s2 else "t021u" if t1 == t2 else "t021c"
            else:
                outs = {}
                for s, _ in arrows:
                    outs[s] = outs.get(s, 0) + 1
                k = "t030c" if all(v == 1 for v in outs.values()) else "t030t"
            counts[k] += 1
        return counts

    rnd = random.Random(11)
    for _ in range(2):
        n = 7
        es = {(a, b) for a in range(n) for b in range(n) if a != b and rnd.random() < 0.3}
        active = {v for e in es for v in e}
        df = spark.createDataFrame(sorted(es), "src long, dst long")
        row = g.triadic_census_directed(df).collect()[0]
        got = dict(zip(row.__fields__, row))
        assert got == brute(active, es)


def test_rmat_noise_path(spark):
    from flink_1_6_0_spark.operators import graph_gen as gg

    a = sorted(map(tuple, gg.rmat_graph(spark, 5, 64, seed=7, noise_enabled=True).collect()))
    # deterministic under repartitioning, in-range, full count
    b = sorted(map(tuple, gg.rmat_graph(spark, 5, 64, seed=7, noise_enabled=True)
                   .repartition(11).collect()))
    assert a == b and len(a) == 64
    assert all(0 <= s < 32 and 0 <= d < 32 for s, d in a)
    # the parameter walk must actually change the draw vs the noiseless path
    base = sorted(map(tuple, gg.rmat_graph(spark, 5, 64, seed=7).collect()))
    assert a != base
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gg.rmat_graph(spark, 5, 64, noise_enabled=True, noise=3.0)


def test_directed_census_triangle_free_graph(spark):
    # empty triangle set must yield ZERO counts, not NULL propagation
    # (review finding: F.sum over no rows is NULL)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = g.triadic_census_directed(e).collect()[0]
    assert r.t021c == 1 and r.t003 == 0 and r.t300 == 0
    assert all(v is not None for v in r)


def test_summarize_null_vertex_values_kept(spark):
    """NullValue is a real group: edges between NULL-valued vertices must
    appear in the edge summary (review finding — the equi-join dropped
    them while the vertex summary still showed the NULL group)."""
    vertices = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "id long, value string"
    )
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    v_sum, e_sum = g.summarize(vertices, edges, "value")
    vs = {r["value"]: r["cnt"] for r in v_sum.collect()}
    assert vs == {None: 2, "x": 1}
    assert e_sum.count() == 2  # both edges survive, incl. the NULL-NULL one


def test_community_detection_string_ids(spark):
    """Non-numeric vertex ids keep their label (review finding — the long
    cast silently NULLed every label)."""
    vertices = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    out = {r["id"]: r["label"] for r in g.community_detection(vertices, edges, iterations=2).collect()}
    assert None not in out.values()
    assert set(out) == {"a", "b", "c"}


def test_gcc_directed_zero_wedge_graph(spark):
    """A single directed edge has zero wedges: global_coeff must be 0.0
    (matching the undirected sibling), not NULL/DIVIDE_BY_ZERO."""
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    row = g.global_clustering_coefficient_directed(edges).collect()[0]
    assert row["global_coeff"] == 0.0


def test_rmat_parameter_validation(spark):
    import pytest

    from flink_1_6_0_spark.operators.graph_gen import rmat_graph

    with pytest.raises(ValueError, match="a, b, c"):
        rmat_graph(spark, scale=4, edge_count=10, a=0.6, b=0.3, c=0.3)
    with pytest.raises(ValueError, match="scale"):
        rmat_graph(spark, scale=0, edge_count=10)


def test_sssp_non_convergence_raises(spark):
    """Partial Bellman-Ford distances are indistinguishable from final ones
    — exhausting max_iterations raises by default (review finding)."""
    import pytest

    # a 6-hop path needs ~6 relaxation rounds; cap at 2
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, weight double"
    )
    vertices = spark.createDataFrame([(i,) for i in range(7)], "id long")
    with pytest.raises(RuntimeError, match="converge"):
        g.single_source_shortest_paths(vertices, edges, 0, max_iterations=2)
    ok = g.single_source_shortest_paths(vertices, edges, 0, max_iterations=10)
    assert {r["id"]: r["distance"] for r in ok.collect()}[6] == 6.0


def test_cep_pattern_facade_routes_batch_and_stream(spark, sf_dir):
    """CEP.pattern(input, pattern) facade (CEP.java:38): identical results
    through the facade as through the executors it routes to, for both the
    batch NFA (batch input) and the stateful-stream executor (streaming
    input, timeout variant included)."""
    import pyspark.sql.functions as F
    import pytest

    from flink_1_6_0_spark.datastream_api import DataStream
    from flink_1_6_0_spark.queries import T
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_batch, pattern

    def mk():
        return (
            Pattern.begin("view", lambda e: e["event_type"] == "view")
            .followed_by_any("click", lambda e: e["event_type"] == "click")
            .within(3600)
        )

    ev = T(spark, sf_dir, "events")
    via_facade = pattern(ev, mk(), ["user_id"], "ts", "event_id").select().toPandas()
    direct = cep_batch(ev, mk(), ["user_id"], "ts", "event_id").toPandas()
    key = ["user_id", "view_id", "click_id"]
    assert set(map(tuple, via_facade[key].itertuples(index=False))) == set(
        map(tuple, direct[key].itertuples(index=False))
    )
    assert len(via_facade)

    # KeyedStream hook reaches the same facade
    ks = DataStream(ev).key_by("user_id")
    via_keyed = ks.cep(mk(), "ts", "event_id").select().toPandas()
    assert len(via_keyed) == len(direct)

    # batch timeout variant routes to cep_batch_with_timeouts
    to = pattern(ev, mk(), ["user_id"], "ts", "event_id").select_with_timeouts().toPandas()
    assert set(to.columns) >= {"timed_out", "pending_stage"}
    assert to["timed_out"].any() and (~to["timed_out"]).any()

    # streaming routing: missing type_col must be rejected loudly
    from flink_1_6_0_spark.sources.stream import events_stream, run_bounded

    stream = events_stream(spark, sf_dir)
    with pytest.raises(ValueError, match="type_col"):
        pattern(stream, mk(), ["user_id"], "ts", "event_id").select()

    out = pattern(
        stream, mk(), ["user_id"], "ts", "event_id", "event_type",
        use_cleanup_timer=False,
    ).select()
    assert out.isStreaming
    got = run_bounded(out, "append")[0].toPandas()
    assert set(map(tuple, got[key].itertuples(index=False))) == set(
        map(tuple, direct[key].itertuples(index=False))
    )


# ---------------------------------------------------------------------------
# round 10: iterative conditions, unbounded loops, loud eager mode
# ---------------------------------------------------------------------------


def test_cep_batch_iterative_condition(spark):
    """IterativeCondition (IterativeCondition.java:96): purchase qualifies
    only if its value beats the matched view's — the ctx-visible prior
    stage decides per-candidate."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 10.0),
        (2, "2024-01-01 00:05:00", 1, "purchase", 5.0),   # below the bar
        (3, "2024-01-01 00:10:00", 1, "purchase", 20.0),  # first-match winner
        (4, "2024-01-01 00:15:00", 1, "view", 30.0),
        (5, "2024-01-01 00:20:00", 1, "purchase", 25.0),  # below view4's bar
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by(
            "purchase",
            lambda e, ctx: e["event_type"] == "purchase"
            and e["value"] > ctx.first("view")["value"],
        )
        .within(3600)
    )
    out = cep_batch(df, pat, ["user_id"], "ts", "event_id")
    got = {(r.user_id, r.view_id, r.purchase_id) for r in out.collect()}
    assert got == {(1, 1, 3)}  # view4 finds no qualifying purchase


def test_cep_unbounded_one_or_more_beats_old_cap(spark):
    """A dense in-horizon run LONGER than the old default cap (8) must match
    in full — oneOrMore is unbounded like Pattern.java:346 now."""
    n = 12
    rows = [(i, f"2024-01-01 00:{i:02d}:00", 1, "click") for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = Pattern.begin("c", lambda e: e["event_type"] == "click").one_or_more().greedy().within(7200)
    out = cep_batch(df, pat, ["user_id"], "ts", "event_id")
    lengths = {len(r.c_ids) for r in out.collect()}
    assert max(lengths) == n


def test_cep_stream_eager_requires_opt_in_for_non_monotone(spark, sf_dir):
    """Round-9 verdict item 1: eager mode + a non-match-monotone pattern is
    the configuration round 8 proved unsafe — it must raise unless the
    caller asserts event-time order with eager=True."""
    import pytest

    from flink_1_6_0_spark.sources.stream import events_stream

    stream = events_stream(spark, sf_dir)
    pat = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    with pytest.raises(ValueError, match="match-monotone"):
        cep_stream(stream, pat, ["user_id"], "ts", "event_id", "event_type")
    # explicit opt-in builds the plan (not executed here)
    out = cep_stream(
        stream, pat, ["user_id"], "ts", "event_id", "event_type",
        use_cleanup_timer=False, eager=True,
    )
    assert out.isStreaming
    # match-monotone patterns need no flag
    mono = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(3600)
    )
    assert cep_stream(
        stream, mono, ["user_id"], "ts", "event_id", "event_type",
        use_cleanup_timer=False,
    ).isStreaming


def test_cep_stream_explicit_horizon_smaller_than_within_plus_disorder_raises(spark, sf_dir):
    """Round-9 ADVICE (medium): horizon < within+disorder trims withheld
    matches before the fold point reaches them — silent emptiness. Must
    raise loudly instead."""
    import pytest

    from flink_1_6_0_spark.sources.stream import events_stream

    stream = events_stream(spark, sf_dir)
    pat = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by_any("click", lambda e: e["event_type"] == "click")
        .within(3600)
    )
    with pytest.raises(ValueError, match="within\\+disorder"):
        cep_stream(
            stream, pat, ["user_id"], "ts", "event_id", "event_type",
            buffer_horizon_seconds=3600, disorder_seconds=600,
            use_cleanup_timer=False,
        )
    # adequate explicit horizon is accepted
    assert cep_stream(
        stream, pat, ["user_id"], "ts", "event_id", "event_type",
        buffer_horizon_seconds=4200, disorder_seconds=600,
        use_cleanup_timer=False,
    ).isStreaming


def test_cep_group_subpattern_sees_enclosing_match():
    """Iterative conditions inside a GROUP sub-pattern see the ENCLOSING
    partial match (the reference's IterativeCondition context spans the
    whole partial match): the inner b stage filters on the OUTER anchor's
    value."""
    from flink_1_6_0_spark.streaming.cep import _scan

    def ev(i, ts, typ, val):
        return {"event_id": i, "__ts": ts * 1_000_000, "event_type": typ, "value": val}

    events = [
        ev(1, 1, "s", 10.0),
        ev(2, 2, "a", 0.0),
        ev(3, 3, "b", 5.0),   # below the outer bar — must be skipped
        ev(4, 4, "a", 0.0),
        ev(5, 5, "b", 15.0),  # above — the qualifying inner b
    ]
    p = (
        Pattern.begin("s", lambda e: e["event_type"] == "s")
        .followed_by_group(
            "g",
            Pattern.begin("ga", lambda e: e["event_type"] == "a").followed_by(
                "gb",
                lambda e, ctx: e["event_type"] == "b"
                and e["value"] > ctx.first("s")["value"],
            ),
        )
        .within(3600)
    )
    assert _scan(events, p) == [((0,), (1, 4))]


def test_cep_where_and_chaining():
    """Pattern.java:150 — a second where() ANDs with the stage's existing
    condition (RichAndCondition), composing across predicate arities."""
    from flink_1_6_0_spark.streaming.cep import _scan

    def ev(i, ts, typ, val):
        return {"event_id": i, "__ts": ts * 1_000_000, "event_type": typ, "value": val}

    events = [
        ev(1, 1, "view", 10.0),
        ev(2, 2, "purchase", 20.0),   # beats view but value <= 15: AND fails
        ev(3, 3, "purchase", 16.0),   # wait — 16 > 15 AND > view: qualifies
    ]
    p = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .where(lambda e: e["value"] <= 18)                    # one-arg conjunct
        .where(lambda e, ctx: e["value"] > ctx.first("view")["value"])  # ctx conjunct
        .within(3600)
    )
    # first-match: purchase@2 has value 20 (fails <=18); purchase@3 wins
    assert _scan(events, p) == [((0,), (2,))]


def test_cep_begin_where_flink_call_shape():
    """The reference's canonical construction — begin(name).where(cond)
    (Pattern.java:123 then :150) — must equal begin(name, cond); an
    unconditioned stage matches every event."""
    from flink_1_6_0_spark.streaming.cep import _scan

    events = [
        {"event_id": i, "__ts": i * 1_000_000, "event_type": t}
        for i, t in enumerate("vxcvp")
    ]
    p1 = (
        Pattern.begin("a").where(lambda e: e["event_type"] == "v")
        .followed_by("b").where(lambda e: e["event_type"] == "p")
        .within(3600)
    )
    p2 = (
        Pattern.begin("a", lambda e: e["event_type"] == "v")
        .followed_by("b", lambda e: e["event_type"] == "p")
        .within(3600)
    )
    assert _scan(events, p1) == _scan(events, p2) != []
    assert len(_scan(events, Pattern.begin("a").within(3600))) == len(events)


def test_cep_subtype_narrows_stage():
    """subtype(SubEvent.class) analog: narrows the stage to one event type
    and composes with where() as an AND, like the reference's
    subtype().where() chain."""
    from flink_1_6_0_spark.streaming.cep import _scan

    events = [
        {"event_id": i, "__ts": i * 1_000_000, "event_type": t, "value": float(i)}
        for i, t in enumerate(["view", "click", "purchase", "purchase"])
    ]
    p = (
        Pattern.begin("a").subtype("view")
        .followed_by("b").subtype("purchase").where(lambda e: e["value"] > 2)
        .within(3600)
    )
    assert _scan(events, p) == [((0,), (3,))]  # purchase@2 fails value>2


def test_cep_flat_select_drops_and_fans_out(spark):
    """PatternFlatSelectFunction (PatternStream.flatSelect, :305): zero
    yielded rows drops the match, several fan it out — exercised through
    the CEP.pattern facade's flat_select on a batch input."""
    from flink_1_6_0_spark.streaming.cep import pattern as cep_pattern

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 5.0),
        (2, "2024-01-01 00:10:00", 1, "purchase", 2.0),   # delta<0: dropped
        (3, "2024-01-01 00:20:00", 1, "view", 1.0),
        (4, "2024-01-01 00:30:00", 1, "purchase", 9.0),   # delta=8: fans out x2
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = (
        Pattern.begin("view").subtype("view")
        .followed_by("purchase").subtype("purchase")
        .within(3600)
    )

    def fan(m):
        v, p = m["view"][0], m["purchase"][0]
        delta = p["value"] - v["value"]
        if delta <= 0:
            return []
        return [
            {"view_id": int(v["event_id"]), "purchase_id": int(p["event_id"]), "half": i}
            for i in range(2)
        ]

    out = cep_pattern(df, pat, ["user_id"], "ts", "event_id").flat_select(
        fan, "view_id long, purchase_id long, half int"
    )
    got = {(r.user_id, r.view_id, r.purchase_id, r.half) for r in out.collect()}
    # view1->purchase2 (first-match) dropped by the function; view3->purchase4 doubled
    assert got == {(1, 3, 4, 0), (1, 3, 4, 1)}


def test_cep_event_comparator_changes_match_selection(spark):
    """EventComparator (CEP.java:51, CEP.pattern(input, pattern, comparator)):
    a custom secondary order over SAME-TIMESTAMP events changes which
    candidate a first-match stage selects, exactly as the reference's
    comparator reorders the elements popped for one timestamp. Since r12
    streams honor it too — the fold buffer re-sorts by (ts, *comparator, id)
    on every load (see test_properties' kernel equivalence test and the
    stream_cep_comparator driver query)."""
    from flink_1_6_0_spark.streaming.cep import pattern as cep_pattern

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0),
        # two purchases at the SAME timestamp: id order picks 10; a
        # priority comparator (ascending on value) picks 11
        (10, "2024-01-01 00:10:00", 1, "purchase", 5.0),
        (11, "2024-01-01 00:10:00", 1, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = (
        Pattern.begin("view").subtype("view")
        .followed_by("purchase").subtype("purchase")
        .within(3600)
    )
    default = cep_pattern(df, pat, ["user_id"], "ts", "event_id").select()
    assert {r.purchase_id for r in default.collect()} == {10}
    custom = cep_pattern(
        df, pat, ["user_id"], "ts", "event_id", comparator_cols=["value"]
    ).select()
    assert {r.purchase_id for r in custom.collect()} == {11}
    # streaming accepts the comparator since r12: the facade threads it into
    # the kernel opts and auto-carries the column in the state buffer
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS event_id", "timestamp AS ts",
                    "value % 2 AS user_id", "'view' AS event_type",
                    "CAST(value AS double) AS value")
    )
    ps = cep_pattern(stream, pat, ["user_id"], "ts", "event_id", "event_type",
                     comparator_cols=["value"])
    assert ps.stream_opts["comparator_cols"] == ["value"]


def test_cep_two_arg_predicate_must_name_ctx():
    """r10 advice: a predicate like ``def pred(event, threshold)`` must fail
    loudly instead of silently receiving a MatchContext as `threshold` and
    producing wrong-but-plausible matches. The iterative slot is opted into
    by NAME (ctx/context)."""
    from flink_1_6_0_spark.streaming.cep import _scan

    events = [{"event_id": 0, "__ts": 0, "event_type": "view"}]
    bad = Pattern.begin("a", lambda e, threshold: True).within(3600)
    with pytest.raises(ValueError, match="ctx"):
        _scan(events, bad)
    ok = Pattern.begin("a", lambda e, ctx: True).within(3600)
    assert _scan(events, ok) == [((0,),)]
    ok2 = Pattern.begin("a", lambda e, context: True).within(3600)
    assert _scan(events, ok2) == [((0,),)]
    # closure-default helpers keep working (not a ctx slot)
    ok3 = Pattern.begin("a", lambda e, _t=3: True).within(3600)
    assert _scan(events, ok3) == [((0,),)]
    with pytest.raises(ValueError, match="required positional"):
        _scan(events, Pattern.begin("a", lambda e, ctx, extra: True).within(3600))


def test_cep_combinatorial_runs_ceiling_raises():
    """r10 advice (medium): an unbounded FOLLOWED_BY_ANY/allowCombinations
    loop on a dense key enumerates every repeat subset — exponential. The
    valve raises loudly instead of hanging/OOMing the executor."""
    from flink_1_6_0_spark.streaming import cep as C

    events = [
        {"event_id": i, "__ts": i, "event_type": "b"} for i in range(40)
    ]
    pat = (
        Pattern.begin("a", lambda e: True)
        .followed_by_any("loop", lambda e: True)
        .one_or_more()
        .within(3600)
    )
    old = C.COMBINATORIAL_RUNS_CEILING
    try:
        C.COMBINATORIAL_RUNS_CEILING = 50
        with pytest.raises(RuntimeError, match="combinatorial"):
            C._scan(events, pat)
        # a capped loop stays under the valve
        capped = (
            Pattern.begin("a", lambda e: True)
            .followed_by_any("loop", lambda e: True)
            .one_or_more(max_times=2)
            .within(30)
        )
        assert C._scan(events[:6], capped)
    finally:
        C.COMBINATORIAL_RUNS_CEILING = old


def test_cep_select_timeout_overload_batch(spark):
    """select(timeoutFn, selectFn) (PatternStream.java:182, Either<L,R>):
    matches carry the select payload with timed_out=false, dead partials the
    timeout payload with timed_out=true and the window-close instant
    (start + within, epoch µs handed to the fn); shared columns merge."""
    from flink_1_6_0_spark.streaming.cep import pattern as cep_pattern

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:10:00", 1, "purchase"),   # completes view1
        (3, "2024-01-01 02:00:00", 1, "view"),       # no purchase follows: dead
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = (
        Pattern.begin("view").subtype("view")
        .followed_by("purchase").subtype("purchase")
        .within(3600)
    )

    def sel(m):
        return {
            "view_id": int(m["view"][0]["event_id"]),
            "purchase_id": int(m["purchase"][0]["event_id"]),
        }

    def tmo(partial, timeout_ts):
        assert "purchase" not in partial  # only REACHED stages present
        return {
            "view_id": int(partial["view"][0]["event_id"]),
            "deadline_us": int(timeout_ts),
        }

    out = cep_pattern(df, pat, ["user_id"], "ts", "event_id").select(
        sel, "view_id long, purchase_id long",
        timeout_fn=tmo, timeout_schema="view_id long, deadline_us long",
    )
    got = {(r.timed_out, r.view_id, r.purchase_id, r.deadline_us) for r in out.collect()}
    import pandas as _pd

    view3_close = _pd.Timestamp("2024-01-01 03:00:00").value // 1000  # +within
    assert got == {(False, 1, 2, None), (True, 3, None, view3_close)}


def test_cep_flat_select_timeout_overload_batch(spark):
    """flatSelect(timeoutFn, selectFn) (PatternStream.java:365): BOTH
    functions return iterables — zero rows drops that side's report."""
    from flink_1_6_0_spark.streaming.cep import pattern as cep_pattern

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:10:00", 1, "purchase"),
        (3, "2024-01-01 02:00:00", 1, "view"),       # dead -> fans out x2
        (4, "2024-01-01 06:00:00", 1, "view"),       # dead -> dropped by fn
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pat = (
        Pattern.begin("view").subtype("view")
        .followed_by("purchase").subtype("purchase")
        .within(3600)
    )

    def sel(m):
        yield {"view_id": int(m["view"][0]["event_id"]),
               "purchase_id": int(m["purchase"][0]["event_id"])}

    def tmo(partial, timeout_ts):
        vid = int(partial["view"][0]["event_id"])
        if vid == 4:
            return []
        return [{"view_id": vid, "copy": i} for i in range(2)]

    out = cep_pattern(df, pat, ["user_id"], "ts", "event_id").flat_select(
        sel, "view_id long, purchase_id long",
        timeout_fn=tmo, timeout_schema="view_id long, copy int",
    )
    got = {(r.timed_out, r.view_id, r.purchase_id, r.copy) for r in out.collect()}
    assert got == {(False, 1, 2, None), (True, 3, None, 0), (True, 3, None, 1)}


def test_merge_either_schema_validation():
    from flink_1_6_0_spark.streaming.cep import _merge_either_schema

    ddl, sel, tmo, allc = _merge_either_schema("a long, b double", "a long, c string")
    assert ddl == "a long, b double, c string"
    assert (sel, tmo, allc) == (["a", "b"], ["a", "c"], ["a", "b", "c"])
    with pytest.raises(ValueError):  # shared name, different type
        _merge_either_schema("a long", "a string")
    with pytest.raises(ValueError):  # reserved tag column
        _merge_either_schema("timed_out boolean", "a long")


def test_cep_select_timeout_overload_argument_errors(spark):
    from flink_1_6_0_spark.streaming.cep import pattern as cep_pattern

    df = _events_df(spark)
    pat = _funnel(3600)
    ps = cep_pattern(df, pat, ["user_id"], "ts", "event_id")
    with pytest.raises(ValueError):  # timeout_fn without timeout_schema
        ps.select(lambda m: {}, "x long", timeout_fn=lambda p, t: {})
    with pytest.raises(ValueError):  # timeout_fn without select fn
        ps.select(timeout_fn=lambda p, t: {}, timeout_schema="x long")


def test_cep_select_function_batch_matches_ids_form(spark):
    """select(fn) must see exactly the matches the id-columns form emits:
    projecting the ids out of the function output equals plain select()."""
    from flink_1_6_0_spark.streaming.cep import cep_batch, cep_batch_select

    df = _events_df(spark)
    pat = _funnel(3600)

    def ids(m):
        return {
            "view_id": int(m["view"][0]["event_id"]),
            "click_id": int(m["click"][0]["event_id"]),
            "purchase_id": int(m["purchase"][0]["event_id"]),
        }

    a = {
        tuple(r)
        for r in cep_batch_select(
            df, pat, ["user_id"], "ts", "event_id", ids,
            "view_id long, click_id long, purchase_id long",
        ).collect()
    }
    b = {tuple(r) for r in cep_batch(df, _funnel(3600), ["user_id"], "ts", "event_id").collect()}
    assert a == b and a
