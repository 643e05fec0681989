import math

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.operators import flame, multimodal


@pytest.fixture(scope="module")
def tree(spark):
    rows = [
        (-1, [], 100.0, "root"),
        (1, [1], 60.0, "a"),
        (2, [2], 40.0, "b"),
        (3, [1, 3], 30.0, "a1"),
        (4, [1, 4], 30.0, "a2"),
        (5, [2, 5], 40.0, "b1"),
    ]
    return spark.createDataFrame(
        rows, "id long, callpath array<long>, v double, procedure string")


def test_flame_layout_geometry(tree):
    layout = flame.flame_layout(tree, "v", label_col="procedure")
    by_id = {s["id"]: s for s in layout}
    two_pi = 2 * math.pi
    # first layer: 60/100 and 40/100 of the circle (reference :506)
    assert by_id[1]["width"] == pytest.approx(0.6 * two_pi)
    assert by_id[2]["width"] == pytest.approx(0.4 * two_pi)
    assert by_id[1]["offset"] == 0.0
    assert by_id[2]["offset"] == pytest.approx(0.6 * two_pi)
    # children split the parent's width (reference :493-501)
    assert by_id[3]["width"] == pytest.approx(0.3 * two_pi)
    assert by_id[4]["width"] == pytest.approx(0.3 * two_pi)
    assert by_id[4]["offset"] == pytest.approx(0.3 * two_pi)
    assert by_id[5]["width"] == pytest.approx(0.4 * two_pi)
    assert by_id[5]["offset"] == pytest.approx(0.6 * two_pi)


def test_flame_layout_prefix_and_depth(tree):
    layout = flame.flame_layout(tree, "v", prefix=(1,))
    ids = {s["id"] for s in layout}
    assert ids == {3, 4}  # only the subtree below node 1, min_depth=2


def test_flame_graph_renders(tree):
    pytest.importorskip("matplotlib")
    ax = flame.flame_graph(tree, "v", show=False)
    assert len(ax.patches) == 5  # one bar per node below the root
    ax2 = flame.flame_graph(tree, "v", shape="wheel", style="skyline",
                            show=False)
    assert ax2.name == "polar"


def test_multimodal_feature_plumbing(spark):
    media = multimodal.synthesize_media(spark, 20)
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media).collect()
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 20
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    # determinism: same content -> same features
    again = multimodal.extract_features(
        multimodal.synthesize_media(spark, 20), fake=True).collect()
    assert [r["features"] for r in feats] == [r["features"] for r in again]


def test_multimodal_frame_sampling(spark):
    media = multimodal.synthesize_media(spark, 9)
    frames = multimodal.sample_frames(media, every_nth=1, fake=True).collect()
    assert frames
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    # chunk count matches payload size
    for r in media.select("media_id", F.octet_length("content")
                          .alias("n")).collect():
        expected = (r["n"] + 1023) // 1024
        assert len(by_media[r["media_id"]]) == expected


def test_flame_svg_matches_layout_geometry(spark):
    """The dependency-free SVG sink must contain exactly one rect per
    layout segment, with x/width pixel geometry proportional to the
    oracle-gated layout (2*pi -> width_px), well-formed XML, and
    byte-stable output."""
    import math
    import xml.etree.ElementTree as ET

    from hpctoolkit_dataframe_spark.operators.flame import (
        NORMALIZATION_CONSTANT, flame_layout, flame_svg)
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    from .conftest import SF_DIR

    cct = build_cct(spark, SF_DIR)
    svg1 = flame_svg(cct, "value", max_depth=3, label_col=None,
                     width_px=1000)
    svg2 = flame_svg(cct, "value", max_depth=3, label_col=None,
                     width_px=1000)
    assert svg1 == svg2  # deterministic bytes
    root = ET.fromstring(svg1)  # well-formed
    ns = "{http://www.w3.org/2000/svg}"
    rects = root.findall(f"{ns}rect")
    layout = flame_layout(cct, "value", max_depth=3, label_col=None)
    assert len(rects) == len(layout)
    scale = 1000 / NORMALIZATION_CONSTANT
    for rect, seg in zip(rects, layout):
        assert math.isclose(float(rect.get("x")), seg["offset"] * scale,
                            abs_tol=2e-3)
        assert math.isclose(float(rect.get("width")), seg["width"] * scale,
                            abs_tol=2e-3)


