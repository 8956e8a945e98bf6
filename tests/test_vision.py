"""Vision-stage kernels: stub determinism, CSV fallback ladder,
rotation detection + gate, resize plan."""

import numpy as np
import pandas as pd

from pdf_to_xls_vision_spark.core.vision import (
    MAX_IMAGE_B64_BYTES,
    correct_rotation,
    detect_rotation,
    parse_vision_csv,
    resize_plan,
    rotate_cw,
    stub_csv,
    stub_pixels,
)


def test_stub_deterministic():
    assert stub_csv("img://a/1") == stub_csv("img://a/1")
    assert stub_csv("img://a/1") != stub_csv("img://a/2")
    p1, r1 = stub_pixels("img://a/1")
    p2, r2 = stub_pixels("img://a/1")
    assert r1 == r2 and np.array_equal(p1, p2)


def test_parse_plain_csv():
    df = parse_vision_csv("Row_Type,Category,2024\nDETAIL,Rent,\"1,234\"")
    assert list(df.columns) == ["Row_Type", "Category", "2024"]
    assert df.iloc[0]["2024"] == "1,234"


def test_parse_strips_markdown_fence():
    df = parse_vision_csv("```csv\nRow_Type,Category\nDETAIL,Rent\n```")
    assert df is not None and len(df) == 1


def test_parse_bad_lines_skipped():
    csv = "a,b\n1,2\n3,4,5,6,7\n8,9"
    df = parse_vision_csv(csv)
    assert df is not None and len(df) == 2  # malformed row dropped


def test_parse_empty_returns_none():
    assert parse_vision_csv(None) is None
    assert parse_vision_csv("") is None
    assert parse_vision_csv("   ") is None


def test_rotation_detect_exact_over_sample():
    """Detected correction equals the ground-truth correction for every
    non-ambiguous stubbed raster."""
    for i in range(200):
        img, expected = stub_pixels(f"img://rot/{i}")
        ambiguous = int(img.min()) == int(img.max())
        corrected, applied = correct_rotation(img)
        if ambiguous:
            assert applied == 0
        else:
            assert applied == expected
            if expected:
                # corrected raster should now detect as upright
                assert detect_rotation(corrected)[0] == 0


def test_rotation_gate_blocks_low_confidence():
    flat = np.full((32, 32), 40, dtype=np.uint8)
    angle, conf = detect_rotation(flat)
    assert conf <= 1.0
    _, applied = correct_rotation(flat)
    assert applied == 0


def test_rotate_cw_roundtrip():
    img, _ = stub_pixels("img://roundtrip/1")
    for d in (0, 90, 180, 270):
        back = rotate_cw(rotate_cw(img, d), (360 - d) % 360)
        assert np.array_equal(back, img)


def test_resize_plan_under_limit_noop():
    assert resize_plan(1000, 800, MAX_IMAGE_B64_BYTES - 1) == []


def test_resize_plan_ladder():
    # 4x over the limit -> first scale = 0.9/sqrt(4) = 0.45
    steps = resize_plan(4000, 3000, 4 * MAX_IMAGE_B64_BYTES)
    assert steps[0] == (int(4000 * 0.45), int(3000 * 0.45))
    assert len(steps) <= 10
    # proportional model: final step is under the cap
    w, h = steps[-1]
    assert 4 * MAX_IMAGE_B64_BYTES * (w * h) / (4000 * 3000) <= MAX_IMAGE_B64_BYTES


def test_resize_plan_floor():
    steps = resize_plan(120, 120, 100 * MAX_IMAGE_B64_BYTES)
    assert all(w >= 100 and h >= 100 for w, h in steps)
    assert len(steps) == 10  # can't get under -> exhausts attempts


def test_stub_vision_frame_cleanable():
    """Cascade-bearing stub responses round-trip the cleaners without
    error and leave no ')(' artifacts behind."""
    from pdf_to_xls_vision_spark.core.cleaning import clean_vision_frame

    found = 0
    for i in range(300):
        c = stub_csv(f"img://clean/{i}")
        if not c or ")(" not in c:
            continue
        found += 1
        df = parse_vision_csv(c)
        df = df.dropna(how="all").dropna(axis=1, how="all")
        out = clean_vision_frame(df)
        for col in out.columns:
            for v in out[col]:
                if pd.notna(v) and isinstance(v, str):
                    assert ")(" not in v, (i, col, v)
    assert found > 0


def test_resize_media_and_frame_sampling(spark, tiny_corpus_path):
    """Multimodal resize + frame-sample plumbing over the corpus refs."""
    from operator_zoo.functions.multimodal import (
        corpus_media_refs,
        resize_media,
        sample_frames,
    )

    docs = spark.read.parquet(tiny_corpus_path)
    refs = corpus_media_refs(docs)
    n_refs = refs.count()
    assert n_refs > 10

    resized = resize_media(refs, max_dim=16).collect()
    assert len(resized) == n_refs
    for r in resized:
        assert max(r.width, r.height) <= 16
        assert 0 < r.scale < 1.0  # 32x32 sources: the resample path runs
        # aspect preserved within 1px rounding
        assert abs(r.width / r.src_width - r.height / r.src_height) < 0.05
        assert 0 <= r.mean_ink <= 255

    frames = sample_frames(refs, k=4)
    per_ref = frames.groupBy("media_ref").count().collect()
    assert len(per_ref) == n_refs
    assert all(1 <= row["count"] <= 4 for row in per_ref)
    sample = frames.limit(5).collect()
    for f in sample:
        assert 0 <= f.frame_idx < f.n_frames
        assert 8 <= f.n_frames <= 24
        assert f.width > 0 and f.height > 0


def test_ahash_bits_integer_exact():
    import numpy as np

    from operator_zoo.functions.multimodal import ahash_bits

    # flat raster: no block strictly above the mean -> all-zero hash
    assert ahash_bits(np.full((32, 32), 40, dtype=np.uint8)) == 0
    # bottom-right block hot: bit 63 set -> two's-complement negative
    img = np.zeros((32, 32), dtype=np.uint8)
    img[28:, 28:] = 255
    h = ahash_bits(img)
    assert h < 0 and (h + (1 << 64)) >> 63 == 1
    # top-left block hot: bit 0 only
    img2 = np.zeros((32, 32), dtype=np.uint8)
    img2[:4, :4] = 255
    assert ahash_bits(img2) == 1
    # non-divisible shapes crop, tiny images degrade to 0 cleanly
    assert isinstance(ahash_bits(np.ones((33, 31), dtype=np.uint8)), int)
    assert ahash_bits(np.ones((4, 4), dtype=np.uint8)) == 0


def _crafted_decoder(specs):
    """Test decoder: ref -> raster whose aHash bits are exactly the
    listed 4x4 blocks (k bright blocks of 64: 64*block_sum > total
    iff the block is bright, for k < 64). Defined as a LOCAL class so
    cloudpickle ships it by value to executors (a module-level class
    from a test module is shipped by reference and fails to import)."""

    class Crafted:
        def decode(self, media_ref):
            import numpy as np

            img = np.zeros((32, 32), dtype=np.uint8)
            for b in specs[media_ref]:
                by, bx = divmod(b, 8)
                img[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = 255
            return img

    return Crafted()


def test_phash_near_dups_complete_and_exact(spark):
    from operator_zoo.functions.multimodal import phash_near_dups

    specs = {
        "A": set(range(10)),          # bits 0-9
        "B": {0, 1, 2},               # vs A: hamming 7 -> pair
        "C": {8, 9},                  # vs A: hamming 8 -> NO pair
        "D": set(range(10)),          # identical to A -> hamming 0
        # 7 diff bits spread one per band 0..6, band 7 shared:
        "F1": {56},
        "F2": {56, 0, 8, 16, 24, 32, 40, 48},
    }
    sig = {r: sum(1 << b for b in bs) for r, bs in specs.items()}
    want = set()
    refs = sorted(specs)
    for i, a in enumerate(refs):
        for b in refs[i + 1 :]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 7:
                want.add((a, b, h))
    media = spark.createDataFrame([(r,) for r in refs], ["media_ref"])
    got = {
        (r["ref_a"], r["ref_b"], r["hamming"])
        for r in phash_near_dups(
            media, decoder=_crafted_decoder(specs)
        ).collect()
    }
    assert got == want
    assert ("A", "B", 7) in got and ("A", "D", 0) in got
    assert ("F1", "F2", 7) in got
    assert not any(a == "A" and b == "C" for a, b, _ in got)


def test_phash_near_dups_validation(spark):
    from operator_zoo.functions.multimodal import phash_near_dups

    media = spark.createDataFrame([("x",)], ["media_ref"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phash_near_dups(media, max_hamming=8, bands=8)
    with _pytest.raises(ValueError):
        phash_near_dups(media, max_hamming=2, bands=7)
