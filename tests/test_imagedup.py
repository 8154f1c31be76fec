"""Perceptual-hash image near-dup (operators/imagedup.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_platform_spark.operators.imagedup import (GRID_H, GRID_W,
                                                   MAX_HAMMING, N_BANDS,
                                                   PHASH_DOCS, dhash_bands,
                                                   hamming, luma_grid,
                                                   twin_doc)

SF_DIR = "/root/testdata/sf0.01"


def _gradient(w, h, ch):
    return bytes(((x * 8) % 256) for y in range(h) for x in range(w)
                 for _ in range(ch))


def test_dhash_gradient_and_flat_pins():
    w, h = 18, 16
    assert dhash_bands(w, h, 1, _gradient(w, h, 1)) == [0xFFFF] * N_BANDS
    assert dhash_bands(w, h, 1, bytes(w * h)) == [0] * N_BANDS


def test_luma_grid_channel_mean_and_sampling():
    # 2x1 RGB image stretched onto the grid: every sampled cell is one
    # of the two pixels; luma is the integer mean across channels
    px = bytes([10, 20, 31, 200, 210, 221])
    g = luma_grid(2, 1, 3, px)
    assert len(g) == GRID_H and len(g[0]) == GRID_W
    assert set(v for row in g for v in row) == {20, 210}


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 2**64 - 1),
       st.sets(st.integers(0, 63), max_size=MAX_HAMMING))
def test_pigeonhole_low_hamming_shares_a_band(h64, flips):
    """Any two hashes within MAX_HAMMING share >= 1 intact 16-bit band —
    the completeness guarantee the candidate join relies on."""
    other = h64
    for f in flips:
        other ^= 1 << f
    a = [(h64 >> (48 - 16 * k)) & 0xFFFF for k in range(N_BANDS)]
    b = [(other >> (48 - 16 * k)) & 0xFFFF for k in range(N_BANDS)]
    assert hamming(a, b) <= MAX_HAMMING
    assert any(x == y for x, y in zip(a, b))


def test_twin_modes():
    from ocr_platform_spark.datagen import gen_media
    from ocr_platform_spark.operators.multimodal import decode_image

    seen = {0: [], 2: [], 4: []}
    for i in range(PHASH_DOCS):
        tw = twin_doc(i)
        if tw is None:
            continue
        assert tw["url"].startswith("https://cdn.example.net/")
        ob = dhash_bands(*decode_image(gen_media(i)["media"]))
        tb = dhash_bands(*decode_image(tw["media"]))
        seen[i % 5].append(hamming(ob, tb))
        if i % 5 == 4:
            assert ob[3] == tb[3]     # band 3 intact by construction
    assert seen[0] and set(seen[0]) == {0}        # transcode: identical
    assert seen[2] and max(seen[2]) <= 2          # 1 cell: <= 2 bits
    assert any(d > MAX_HAMMING for d in seen[4])  # verify-reject is live
    # audio, video and corrupt rows never get twins
    assert twin_doc(4) is None and twin_doc(5) is None
    assert twin_doc(20) is None                   # %5==0 but %17==3


def test_twin_doc_skips_undecodable_rows(monkeypatch):
    """A row the decoder rejects is skipped (None), the same skip the
    fixture applies, instead of failing phash_media_df's whole job."""
    from ocr_platform_spark.operators import multimodal

    assert twin_doc(0) is not None

    def broken(payload):
        raise ValueError("corrupt payload")

    monkeypatch.setattr(multimodal, "decode_image", broken)
    assert twin_doc(0) is None


def test_image_hash_never_drop(spark):
    from ocr_platform_spark.operators.imagedup import image_hash_df

    df = spark.createDataFrame(
        [("u1", b"\x89PNG\r\n\x1a\nbroken"), ("u2", None)],
        "url string, media binary")
    rows = {r["url"]: r for r in image_hash_df(df).collect()}
    assert len(rows) == 2
    assert all(r["decode_error"] is not None for r in rows.values())
    assert all(r["b0"] is None for r in rows.values())


def test_pairs_match_bruteforce_and_rejection_is_live(spark):
    from ocr_platform_spark.operators.imagedup import (image_hash_df,
                                                       phash_media_df,
                                                       phash_pairs)

    hashes = image_hash_df(phash_media_df(spark, 120))
    got = {(r["url_a"], r["url_b"]): r["hamming"]
           for r in phash_pairs(hashes).collect()}
    hs = {r["url"]: [r["b0"], r["b1"], r["b2"], r["b3"]]
          for r in hashes.collect() if r["decode_error"] is None}
    urls = sorted(hs)
    want = {}
    shared_band_far = 0
    for i, a in enumerate(urls):
        for b in urls[i + 1:]:
            d = hamming(hs[a], hs[b])
            if d <= MAX_HAMMING:
                want[(a, b)] = d
            elif any(x == y for x, y in zip(hs[a], hs[b])):
                shared_band_far += 1
    assert got == want
    assert shared_band_far > 0    # the verify step really rejects


def test_pairs_plan_has_no_cartesian(spark):
    from ocr_platform_spark.operators.imagedup import (image_hash_df,
                                                       phash_media_df,
                                                       phash_pairs)

    plan = phash_pairs(image_hash_df(phash_media_df(spark, 40))) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
