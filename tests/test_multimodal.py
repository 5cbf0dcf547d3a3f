"""Media operators (operators/multimodal.py): header decode and frame
sampling."""

from pyspark.sql import functions as F

from goldenretriever_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    synth_media,
)


def test_multimodal_decode_and_frame_sample(spark):
    media = synth_media(spark, "/root/testdata/sf0.001")
    decoded = decode_media(media).collect()
    assert len(decoded) == 500
    for r in decoded[:20]:
        assert 16 <= r["width"] < 256 and 16 <= r["height"] < 256
        assert r["payload_bytes"] > 8
        assert (r["kind"] == "video") == (r["n_frames"] > 1)
    frames = frame_sample(media, every=2)
    assert frames.filter(F.col("frame_idx") % 2 != 0).count() == 0
