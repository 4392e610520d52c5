"""Multimodal binary columns: schema, decode plumbing, features."""

import pytest

from paperslicer_spark.operators.multimodal import (
    decode_fake_image,
    encode_fake_image,
    extract_features,
    synth_assets,
)


def test_fake_codec_roundtrip():
    payload = encode_fake_image(7, 64, 32, "jpeg")
    w, h, fmt, px = decode_fake_image(payload)
    assert (w, h, fmt) == (64, 32, "jpeg")
    assert px.size == 64 * 32
    # determinism
    assert payload == encode_fake_image(7, 64, 32, "jpeg")


def test_strict_decode_raises():
    with pytest.raises(NotImplementedError):
        decode_fake_image(b"\x89PNG not really", strict=True)
    assert decode_fake_image(b"\x89PNG not really") is None


def test_assets_schema_and_features(spark):
    assets = synth_assets(spark, 24, seed=42).cache()
    rows = assets.collect()
    assert len(rows) == 24
    r = rows[0]
    assert isinstance(r["payload"], (bytes, bytearray))
    assert r["meta"]["n_bytes"] == len(r["payload"])
    assert r["meta"]["width"] * r["meta"]["height"] + 12 == len(r["payload"])

    feats = extract_features(assets, n_bins=8).collect()
    assert len(feats) == 24
    for f in feats:
        assert len(f["features"]) == 8
        assert abs(sum(f["features"]) - 1.0) < 1e-5  # normalized histogram
    assets.unpersist()


def test_generation_is_deterministic(spark):
    a = {r["asset_id"]: bytes(r["payload"])
         for r in synth_assets(spark, 8, seed=42).collect()}
    b = {r["asset_id"]: bytes(r["payload"])
         for r in synth_assets(spark, 8, seed=42, partitions=3).collect()}
    assert a == b


def _img(fill=255, rect=None, w=256, h=256):
    """White canvas with an optional dark rectangle — mirrors the
    reference spec's PIL fixtures (tests/test_media_filters.py)."""
    import numpy as np

    from paperslicer_spark.operators.multimodal import encode_pixels

    px = np.full((h, w), fill, dtype=np.uint8)
    if rect:
        x0, y0, x1, y1, v = rect
        px[y0:y1, x0:x1] = v
    return encode_pixels(px)


def test_filter_blank_and_lowink(spark):
    """Reference spec: blank page render dropped; informative figure
    kept; low-content (tiny blob) dropped."""
    from paperslicer_spark.operators.multimodal import filter_blank_lowink

    rows = [
        (0, _img()),                                        # blank
        (1, _img(rect=(40, 40, 200, 200, 0))),              # informative
        (2, _img(rect=(10, 10, 40, 40, 0), w=400, h=400)),  # low-content
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    kept = {r["asset_id"] for r in filter_blank_lowink(df).collect()}
    assert kept == {1}


def test_table_region_validator(spark):
    from paperslicer_spark.operators.multimodal import (
        TableRegionValidator, validate_table_regions)

    v = TableRegionValidator()
    framed = _img(rect=(10, 10, 390, 290, 0), w=400, h=300)
    blank = _img(w=400, h=300)
    assert v.is_valid(framed, {"x0": 0, "y0": 0, "x1": 400, "y1": 300})
    assert not v.is_valid(blank, {"x0": 0, "y0": 0, "x1": 400, "y1": 300})
    assert not v.is_valid(framed, {"x0": 0, "y0": 0, "x1": 4, "y1": 4})
    v.close()

    rows = [
        (0, "detector-table", framed, {"x0": 0, "y0": 0, "x1": 400, "y1": 300}),
        (1, "detector-table", blank, {"x0": 0, "y0": 0, "x1": 400, "y1": 300}),
        (2, "tei+tei-render", blank, {"x0": 0, "y0": 0, "x1": 400, "y1": 300}),
        (3, "detector-table", framed, None),   # no bbox → pass through
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, source string, payload binary, "
              "bbox struct<x0:int,y0:int,x1:int,y1:int>")
    kept = {r["asset_id"] for r in validate_table_regions(df).collect()}
    assert kept == {0, 2, 3}


def test_png_codec_roundtrip_and_filters():
    """Real stdlib-zlib PNG path: encode→decode round-trip, and a
    hand-filtered RGB PNG exercising all five scanline filter types
    (None/Sub/Up/Average/Paeth) decodes to the exact luma image."""
    import struct
    import zlib

    import numpy as np

    from paperslicer_spark.operators.multimodal import (
        _PNG_MAGIC, decode_image, decode_png, encode_png)

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
    w, h, flat = decode_png(encode_png(px))
    assert (w, h) == (17, 13)
    assert (flat.reshape(13, 17) == px).all()

    W, H, nch = 6, 5, 3
    pix = rng.integers(0, 256, size=(H, W * nch), dtype=np.uint8)

    def fwd(f, row, prev):
        out = np.zeros(len(row), dtype=np.uint8)
        for x in range(len(row)):
            a = int(row[x - nch]) if x >= nch else 0
            b = int(prev[x])
            c = int(prev[x - nch]) if x >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth per spec: a wins ties, then b, then c
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(row[x]) - pred) & 0xFF
        return out

    raw, prev = b"", np.zeros(W * nch, dtype=np.uint8)
    for y in range(H):
        f = y % 5
        raw += bytes([f]) + fwd(f, pix[y], prev).tobytes()
        prev = pix[y]

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    png = (_PNG_MAGIC
           + chunk(b"IHDR", struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    w2, h2, gray = decode_png(png)
    rgb = pix.reshape(H, W, 3).astype(np.int32)
    want = ((rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587
             + rgb[:, :, 2] * 114) // 1000).astype(np.uint8)
    assert (w2, h2) == (W, H)
    assert (gray.reshape(H, W) == want).all()

    # dispatch: PNG decodes; non-PNG non-fake filtered (or strict-raises)
    assert decode_image(png)[2] == "png"
    assert decode_image(b"\xff\xd8\xffJPEGJUNK") is None
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xffJPEGJUNK", strict=True)
    # malformed PNG bytes → None, never an exception (error-row model)
    assert decode_image(png[:40]) is None


def test_pixel_stages_on_real_png(spark):
    """The pixel filters / validator / features run on GENUINE PNG
    payloads, same semantics as the fake codec (closing the last
    'fake' in the media cascade)."""
    import numpy as np

    from paperslicer_spark.operators.multimodal import (
        TableRegionValidator, encode_png, extract_features,
        filter_blank_lowink)

    def png(fill=255, rect=None, w=256, h=256):
        px = np.full((h, w), fill, dtype=np.uint8)
        if rect:
            x0, y0, x1, y1, v = rect
            px[y0:y1, x0:x1] = v
        return encode_png(px)

    blank = png()
    informative = png(rect=(40, 40, 200, 200, 0))
    lowink = png(rect=(10, 10, 40, 40, 0), w=400, h=400)
    rows = [(0, blank), (1, informative), (2, lowink)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    kept = {r["asset_id"] for r in filter_blank_lowink(df).collect()}
    assert kept == {1}

    v = TableRegionValidator()
    framed = png(rect=(10, 10, 390, 290, 0), w=400, h=300)
    assert v.is_valid(framed, {"x0": 0, "y0": 0, "x1": 400, "y1": 300})
    assert not v.is_valid(png(w=400, h=300),
                          {"x0": 0, "y0": 0, "x1": 400, "y1": 300})

    assets = spark.createDataFrame(
        [(0, "c0", "image", informative,
          {"width": 256, "height": 256, "format": "png",
           "n_bytes": len(informative)})],
        "asset_id long, conv_id string, kind string, payload binary, "
        "meta struct<width:int,height:int,format:string,n_bytes:int>")
    feats = extract_features(assets, n_bins=8).collect()
    assert len(feats) == 1 and abs(sum(feats[0]["features"]) - 1.0) < 1e-5


def test_mapping_suggestions(spark, tmp_path):
    from paperslicer_spark.operators.metrics import mapping_suggestions
    from paperslicer_spark.operators.sinks import write_mapping_suggestions

    rows = [
        ("c1", [{"head": "Bayesian Meta-Analysis", "text": "t"},
                {"head": "2.1 Aims of the work", "text": "t"},
                {"head": "| Limitations", "text": "t"},
                {"head": "Unmatched Heading", "text": "t"}]),
        ("c2", [{"head": "Bayesian Meta-Analysis", "text": "t"}]),
    ]
    records = spark.createDataFrame(
        rows, "conv_id string, other_sections array<struct<head:string,text:string>>")
    got = {r["head"]: (r["suggestion"], r["count"])
           for r in mapping_suggestions(records).collect()}
    assert got["Bayesian Meta-Analysis"] == ("materials_and_methods", 2)
    assert got["2.1 Aims of the work"][0] == "introduction"
    assert got["| Limitations"][0] == "discussion"
    assert "Unmatched Heading" not in got

    write_mapping_suggestions(mapping_suggestions(records), str(tmp_path))
    import json
    sugg = json.loads((tmp_path / "mapping_suggestions.json").read_text())
    assert sugg["Bayesian Meta-Analysis"] == "materials_and_methods"
    txt = (tmp_path / "mapping_suggestions.txt").read_text()
    assert "| Limitations -> discussion" in txt


def test_mapping_suggestions_closed_loop(spark):
    """The reference's actual improvement loop (README 61%-from-39%):
    accepted suggestions fold back into the mapping and the unmapped
    rate DROPS — not just a report."""
    from paperslicer_spark.operators.metrics import (
        apply_mapping_suggestions, mapping_suggestions, unmapped_rate)

    rows = [
        ("c1", [{"head": "Bayesian Meta-Analysis", "text": "t"},
                {"head": "2.1 Aims of the work", "text": "t"},
                {"head": "Unmatched Heading", "text": "t"}]),
        ("c2", [{"head": "Bayesian Meta-Analysis", "text": "t"}]),
    ]
    records = spark.createDataFrame(
        rows, "conv_id string, other_sections array<struct<head:string,"
              "text:string>>")
    from pyspark.sql import functions as F
    sections = records.select(
        "conv_id", F.explode("other_sections").alias("os")
    ).select("conv_id", F.col("os.head").alias("section_label"),
             F.col("os.text").alias("clean_text"),
             F.lit(False).alias("is_canonical"))
    # seed one already-canonical row so the flip logic is exercised
    sections = sections.union(spark.createDataFrame(
        [("c1", "results", "r", True)], sections.schema))

    before = unmapped_rate(sections).collect()[0]
    assert before["n_sections"] == 5 and before["n_unmapped"] == 4

    accepted = mapping_suggestions(records)  # human accepts all
    applied = apply_mapping_suggestions(sections, accepted)
    after = unmapped_rate(applied).collect()[0]
    # 3 of the 4 unmapped rows had accepted suggestions
    assert after["n_sections"] == 5  # row-preserving
    assert after["n_unmapped"] == 1
    assert after["unmapped_rate"] < before["unmapped_rate"]
    labels = {(r["section_label"], r["is_canonical"])
              for r in applied.collect()}
    assert ("materials_and_methods", True) in labels
    assert ("introduction", True) in labels
    assert ("Unmatched Heading", False) in labels
    assert ("results", True) in labels


def test_video_container_roundtrip():
    import numpy as np
    from paperslicer_spark.operators.multimodal import (
        decode_fake_video, encode_fake_video)

    payload = encode_fake_video(7, 16, 24, 12, fps=30)
    w, h, nf, fps, frames = decode_fake_video(payload)
    assert (w, h, nf, fps) == (16, 24, 12, 30)
    assert frames.shape == (12, 24, 16)
    assert decode_fake_video(b"not a video") is None
    with pytest.raises(NotImplementedError):
        decode_fake_video(b"\x00\x01\x02", strict=True)
    # deterministic: same seed → same bytes
    assert payload == encode_fake_video(7, 16, 24, 12, fps=30)


def test_frame_sample_uniform_and_png_real(spark):
    import numpy as np
    from paperslicer_spark.operators.multimodal import (
        decode_fake_video, decode_png, frame_sample, synth_videos)

    vids = synth_videos(spark, 8, seed=42)
    meta = {r["asset_id"]: r["meta"]["n_frames"] for r in vids.collect()}
    out = frame_sample(vids, n_samples=4).collect()
    by_asset = {}
    for r in out:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for aid, rows in by_asset.items():
        nf = meta[aid]
        expect = sorted(set(
            np.linspace(0, nf - 1, min(4, nf)).astype(int).tolist()))
        assert sorted(r["frame_idx"] for r in rows) == expect
        # payloads are genuine PNGs matching the source frame exactly
        row = rows[0]
        w, h, px = decode_png(bytes(row["payload"]))
        assert (w, h) == (row["meta"]["width"], row["meta"]["height"])
        src = decode_fake_video(
            bytes(next(v for v in vids.collect()
                       if v["asset_id"] == aid)["payload"]))[4]
        assert np.array_equal(px.reshape(h, w), src[row["frame_idx"]])


def test_frame_sample_short_clip_dedup(spark):
    # a clip shorter than n_samples yields one row per frame, no dups
    import pandas as pd
    from paperslicer_spark.operators.multimodal import (
        VIDEO_SCHEMA, encode_fake_video, frame_sample)

    payload = encode_fake_video(1, 8, 8, 2)
    df = spark.createDataFrame(
        [(1, "c", "video", bytearray(payload),
          {"width": 8, "height": 8, "n_frames": 2, "fps": 24,
           "n_bytes": len(payload)})], VIDEO_SCHEMA)
    rows = frame_sample(df, n_samples=4).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1]


def test_audio_features_deterministic(spark):
    import numpy as np
    from paperslicer_spark.operators.multimodal import (
        audio_features, decode_fake_audio, encode_fake_audio, synth_audio)

    sr, s = decode_fake_audio(encode_fake_audio(3, 8000, 2000))
    assert sr == 8000 and s.size == 2000 and s.dtype == np.dtype("<i2")
    feats = {r["asset_id"]: r for r in
             audio_features(synth_audio(spark, 8, seed=42)).collect()}
    assert len(feats) == 8
    for r in feats.values():
        assert r["duration_s"] == round(r["n_samples"] / r["sample_rate"], 6)
        assert 0.0 < r["rms"] < 1.0          # sine+noise, clipped to ±1
        assert 0.0 < r["zcr"] < 1.0
        assert 0 < r["peak"] <= 32767
    # hand-check one clip against numpy
    row = feats[3]
    import random
    rng = random.Random((42 << 24) ^ 3)
    sr2 = rng.choice([8000, 16000])
    n2 = rng.choice([2000, 4000, 6400])
    _, samp = decode_fake_audio(encode_fake_audio(3, sr2, n2))
    s64 = samp.astype(np.int64)
    assert row["rms"] == round((int(np.sum(s64 * s64)) / n2) ** 0.5 / 32768.0, 6)
    assert row["zcr"] == round(
        int(np.count_nonzero(np.diff(np.signbit(s64)))) / (n2 - 1), 6)


def _ref_dhash(px, w, h, grid=8):
    """Independent brute-force dHash (plain Python loops)."""
    a = [[int(px[r * w + c]) for c in range(w)] for r in range(h)]
    re_ = [r * h // grid for r in range(grid + 1)]
    ce = [c * w // (grid + 1) for c in range(grid + 2)]
    hv = 0
    for r in range(grid):
        for c in range(grid):
            s1 = sum(a[i][j] for i in range(re_[r], re_[r + 1])
                     for j in range(ce[c], ce[c + 1]))
            s2 = sum(a[i][j] for i in range(re_[r], re_[r + 1])
                     for j in range(ce[c + 1], ce[c + 2]))
            n1 = (re_[r + 1] - re_[r]) * (ce[c + 1] - ce[c])
            n2 = (re_[r + 1] - re_[r]) * (ce[c + 2] - ce[c + 1])
            if s1 * n2 > s2 * n1:
                hv |= 1 << (r * grid + c)
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def test_image_dhash_vs_python(spark):
    from paperslicer_spark.operators.multimodal import (decode_image,
                                                        image_dhash,
                                                        synth_assets)

    assets = synth_assets(spark, 12, seed=42)
    got = {r["asset_id"]: r["dhash"]
           for r in image_dhash(assets).collect()}
    for row in assets.collect():
        w, h, _, px = decode_image(bytes(row["payload"]))
        assert got[row["asset_id"]] == _ref_dhash(px, w, h)


def test_image_dhash_pairs_find_planted_copies(spark):
    from paperslicer_spark.operators.dedup import hamming_pairs
    from paperslicer_spark.operators.multimodal import (image_dhash,
                                                        perturb_assets,
                                                        synth_assets)
    from pyspark.sql import functions as F

    assets = synth_assets(spark, 40, seed=42)
    corpus = assets.unionByName(perturb_assets(assets, every=5))
    sigs = image_dhash(corpus).select(
        F.col("asset_id").alias("doc"), F.col("dhash").alias("simhash"))
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in hamming_pairs(sigs, max_hamming=3).collect()}
    # every planted (original, +8-perturbed copy) pair is recovered...
    for i in range(0, 40, 5):
        assert (i, i + 100_000) in pairs
        assert pairs[(i, i + 100_000)] <= 3
    # ...and nothing else collides (unrelated random images sit at
    # hamming ~32)
    assert all(b - a == 100_000 for a, b in pairs)


def test_perturb_assets_deterministic_and_near(spark):
    from paperslicer_spark.operators.multimodal import (decode_image,
                                                        perturb_assets,
                                                        synth_assets)

    assets = synth_assets(spark, 10, seed=42)
    c1 = {r["asset_id"]: bytes(r["payload"])
          for r in perturb_assets(assets, every=5).collect()}
    c2 = {r["asset_id"]: bytes(r["payload"])
          for r in perturb_assets(assets, every=5).collect()}
    assert c1 == c2 and set(c1) == {100_000, 100_005}
    orig = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for aid, payload in c1.items():
        w, h, _, px = decode_image(payload)
        ow, oh, _, opx = decode_image(orig[aid - 100_000])
        assert (w, h) == (ow, oh)
        diff = sum(1 for a, b in zip(px, opx) if a != b)
        assert 1 <= diff <= 3  # n_flips=3, collisions possible
