"""``streaming.events._first_point_after``: the funnel stream's
window-scan step matcher (replaced the per-user theta join the
skewed-clone probe measured at x17).  The end-to-end stream==batch
twins cover it at volume; these pin the tie semantics the rank
encoding must preserve."""


def test_first_point_after_strict_and_min(spark):
    from hpctoolkit_dataframe_spark.streaming.events import \
        _first_point_after

    anchors = spark.createDataFrame(
        [(1, 101, 10), (1, 102, 25), (2, 201, 10)],
        "user_id long, event_id long, v_ts long")
    points = spark.createDataFrame(
        # user 1: a point AT 10 (equal ts — must NOT match anchor 101
        # strictly), then 12 and 20; user 2: nothing after its anchor
        [(1, 10), (1, 12), (1, 20), (2, 9)],
        "user_id long, p long")
    got = {r["event_id"]: r["nxt"] for r in _first_point_after(
        anchors, points, "v_ts", "p", out="nxt").collect()}
    assert got == {101: 12,   # equal-ts point excluded, min later wins
                   102: None,  # no point after 25
                   201: None}  # points at other keys never leak


def test_first_point_after_anchor_is_never_its_own_point(spark):
    from hpctoolkit_dataframe_spark.streaming.events import \
        _first_point_after

    # two anchors at the SAME ts for one user: each must see the
    # later point, not each other
    anchors = spark.createDataFrame(
        [(7, 1, 100), (7, 2, 100)], "user_id long, event_id long, t long")
    points = spark.createDataFrame([(7, 150)], "user_id long, p long")
    got = {r["event_id"]: r["nxt"] for r in _first_point_after(
        anchors, points, "t", "p", out="nxt").collect()}
    assert got == {1: 150, 2: 150}
