"""Extension-operator property tests (SURVEY §5.5): LSH ⊆ guarantees,
dedup idempotence, similarity top-k vs brute force, multimodal plumbing."""

from __future__ import annotations

import os
import sys

import pytest

from pyspark.sql import functions as F

from etl_notifier_pipeline_spark.catalog import load_table
from etl_notifier_pipeline_spark.extensions import dedup as D
from etl_notifier_pipeline_spark.extensions import multimodal as M
from etl_notifier_pipeline_spark.extensions import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_pairs_subset_of_jaccard_candidates(spark):
    """Every LSH-verified pair must appear in the exact Jaccard pair
    set at the same threshold (LSH adds no false positives after
    verification)."""
    docs = load_table(spark, SF_DIR, "documents")
    lsh = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh <= exact
    # and identical docs (jaccard 1.0) are always caught by LSH
    identical = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs, threshold=1.0).collect()
        if r["jaccard"] == 1.0
    }
    assert identical <= lsh


def test_exact_dedup_counts(spark):
    docs = load_table(spark, SF_DIR, "documents")
    groups = D.exact_dedup_groups(docs)
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == docs.count()
    # fixture documents have *near*-duplicates (TESTDATA.md); exact
    # copies may or may not exist at this sf — the invariant above
    # (partition into groups) is the semantic check. Near-dups must
    # exist though:
    assert D.jaccard_pairs(docs, threshold=0.6).count() > 0


def test_topk_contains_bruteforce_best(spark):
    """Top-1 from the operator == argmax of a driver-side numpy check."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    out = S.topk_cosine(emb, emb.filter(F.col("vec_id") == 0), k=1).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    q = vecs[0]
    best = max(
        (i for i in vecs if i != 0),
        key=lambda i: (float(np.dot(q, vecs[i]) / (np.linalg.norm(q) * np.linalg.norm(vecs[i]))), -i),
    )
    assert out[0]["neighbor_id"] == best


def test_simhash_near_for_near_duplicate_docs(spark):
    """Exact-duplicate texts get identical simhash signatures."""
    docs = load_table(spark, SF_DIR, "documents")
    sig = D.simhash(docs).alias("s")
    joined = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .join(sig, F.col("a.doc_id") == F.col("s.doc_id"))
        .select(F.col("s.simhash").alias("ha"), F.col("b.doc_id").alias("bid"))
    )
    sig2 = D.simhash(docs).alias("s2")
    both = joined.join(sig2, F.col("bid") == F.col("s2.doc_id"))
    for r in both.collect():
        assert r["ha"] == r["simhash"]


class TestMultimodal:
    @pytest.fixture()
    def media(self, spark):
        rows = [
            (1, "image", b"imgbytes-1", ("image/png", 4, 4, None)),
            (2, "image", b"imgbytes-2", ("image/png", 8, 8, None)),
            (3, "video", b"vidbytes", ("video/mp4", 16, 16, 3500)),
        ]
        return spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    def test_feature_extraction_fake_decoder(self, spark, media):
        out = M.extract_features(media, codec="fake")
        rows = {r["media_id"]: r["features"] for r in out.collect()}
        assert len(rows) == 3 and all(len(v) == M.FEATURE_DIM for v in rows.values())
        # deterministic: same input -> same features
        again = {r["media_id"]: r["features"]
                 for r in M.extract_features(media, codec="fake").collect()}
        assert rows == again

    def test_real_decoder_gated_on_codec_lib(self, spark, media):
        """Without Pillow the real path raises; with Pillow the audio/
        video modalities (no codec for those either way) still raise —
        so .collect() over this mixed-modality frame fails in both
        worlds, just at different modalities."""
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            M.extract_features(media).collect()

    @pytest.mark.skipif(
        M._pil_module() is None, reason="Pillow not installed"
    )
    def test_real_image_decode_with_pillow(self, spark):
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (32, 32), (200, 10, 10)).save(buf, format="PNG")
        media = spark.createDataFrame(
            [(1, "image", buf.getvalue(), ("image/png", 32, 32, None))],
            M.MEDIA_SCHEMA,
        )
        feats = M.extract_features(media).collect()[0]["features"]
        assert len(feats) == M.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in feats)

    def test_pngio_roundtrip_and_corruption(self):
        from etl_notifier_pipeline_spark.extensions import pngio

        gray = bytes((x * 7 + y * 3) % 256 for y in range(9) for x in range(11))
        blob = pngio.encode_png(gray, 11, 9, "L")
        assert pngio.is_png(blob)
        assert pngio.decode_png(blob) == (11, 9, "L", gray)
        rgb = bytes((x + y + c) % 256 for y in range(5) for x in range(6) for c in range(3))
        blob2 = pngio.encode_png(rgb, 6, 5, "RGB")
        assert pngio.decode_png(blob2) == (6, 5, "RGB", rgb)
        # corruption fails loudly (CRC), never yields garbage pixels
        bad = bytearray(blob)
        bad[40] ^= 0xFF
        with pytest.raises(ValueError):
            pngio.decode_png(bytes(bad))
        with pytest.raises(ValueError):
            pngio.decode_png(b"not a png at all")

    def test_png_real_decode_pinned_features(self, spark):
        """Pin the real decode path end to end: a flat RGB PNG
        (120, 30, 200) must pool to EXACTLY luma/255 in all 16
        features, where luma is Pillow's fixed-point ITU-R 601 value
        — (120*19595 + 30*38470 + 200*7471 + 0x8000) >> 16 = 76."""
        from etl_notifier_pipeline_spark.extensions import pngio

        blob = pngio.encode_png(bytes([120, 30, 200]) * 100, 10, 10, "RGB")
        media = spark.createDataFrame(
            [(1, "image", blob, ("image/png", 10, 10, None))], M.MEDIA_SCHEMA
        )
        feats = M.extract_features(media, codec="real").collect()[0]["features"]
        assert feats == [76 / 255.0] * M.FEATURE_DIM

    def test_committed_png_fixture_real_branch(self, spark):
        """The committed genuine-PNG fixture decodes through the REAL
        branch (stdlib codec in this sandbox, PIL elsewhere): the
        exact-duplicate pair (img_000 / img_004) must produce
        identical features; the near-duplicate (img_005: one pixel
        nudged) must differ from img_000 in exactly the pooled block
        containing that pixel."""
        assert os.path.isdir(M.MEDIA_FIXTURE_DIR), "fixture not committed"
        media = M.media_from_dir(spark, M.MEDIA_FIXTURE_DIR)
        rows = media.select("media_id", "content").collect()
        # 8 PNG + 4 gray JPEG + 2 color 4:4:4 JPEG + 2 color 4:2:0 JPEG
        # + 2 progressive JPEG + 5 PCM WAV (snd_* sorts after img_*,
        # so image ids are stable)
        assert len(rows) == 23
        feats = {
            r["media_id"]: r["features"]
            for r in M.extract_features(media, codec="real").collect()
        }
        assert all(
            len(v) == M.FEATURE_DIM and all(0.0 <= f <= 1.0 for f in v)
            for v in feats.values()
        )
        # lexicographic rank: img_000 -> 1_000_000, img_004 -> 1_000_004
        assert feats[1_000_000] == feats[1_000_004]
        diffs = [
            i for i in range(M.FEATURE_DIM)
            if feats[1_000_000][i] != feats[1_000_005][i]
        ]
        assert diffs == [0]  # the nudged pixel lives in block (0, 0)
        # color JPEG pair (img_012 / img_013, byte-identical): the
        # REAL branch — stdlib 4:4:4 color decode + fixed-point luma —
        # executes in this sandbox, no Pillow involved
        assert feats[1_000_012] == feats[1_000_013]
        assert 0.0 < sum(feats[1_000_012]) < M.FEATURE_DIM  # non-degenerate
        # 4:2:0 chroma-subsampled color pair (img_014 / img_015,
        # byte-identical): the dominant real-world JPEG form now
        # decodes for REAL in-sandbox (r9 ask #6) — 16x16 MCUs, four Y
        # blocks + replicated chroma
        assert feats[1_000_014] == feats[1_000_015]
        assert 0.0 < sum(feats[1_000_014]) < M.FEATURE_DIM
        # progressive (SOF2) color pair (img_016 / img_017,
        # byte-identical): multi-scan successive-approximation decode
        # runs for REAL in-sandbox — no gate, no fake
        assert feats[1_000_016] == feats[1_000_017]
        assert 0.0 < sum(feats[1_000_016]) < M.FEATURE_DIM

    def test_codec_auto_mixes_real_and_fake(self, spark):
        """codec='auto': PNG bytes decode for real (bit-equal to the
        codec='real' branch), undecodable text bytes fall back to the
        deterministic fake (bit-equal to codec='fake')."""
        from etl_notifier_pipeline_spark.extensions import pngio

        png = pngio.encode_png(bytes(range(16)) * 16, 16, 16, "L")
        media = spark.createDataFrame(
            [
                (1, "image", png, ("image/png", 16, 16, None)),
                (2, "image", b"plain text bytes", (None, None, None, None)),
                (3, "audio", b"audio bytes", (None, None, None, None)),
            ],
            M.MEDIA_SCHEMA,
        )
        auto = {
            r["media_id"]: r["features"]
            for r in M.extract_features(media, codec="auto").collect()
        }
        real = M.extract_features(
            media.filter("media_id = 1"), codec="real"
        ).collect()[0]["features"]
        fake = {
            r["media_id"]: r["features"]
            for r in M.extract_features(media, codec="fake").collect()
        }
        assert auto[1] == real and auto[1] != fake[1]
        assert auto[2] == fake[2] and auto[3] == fake[3]

    @pytest.mark.skipif(
        M._pil_module() is None, reason="Pillow not installed"
    )
    def test_pil_and_stdlib_branches_bit_identical(self, spark):
        """PNG is lossless, the luma formula matches Pillow's, and the
        pooling is shared — so the PIL branch and the stdlib branch
        must produce bit-identical features for every committed
        fixture PNG (runs wherever Pillow is installed)."""
        from etl_notifier_pipeline_spark.extensions import multimodal as MM
        from etl_notifier_pipeline_spark.extensions import pngio

        for name in sorted(os.listdir(M.MEDIA_FIXTURE_DIR)):
            if not name.endswith(".png"):
                continue  # lossless contract is PNG-only; JPEG has its
                # own +/-1-tolerance PIL test below
            blob = open(os.path.join(M.MEDIA_FIXTURE_DIR, name), "rb").read()
            via_stdlib = MM._block_mean_pool(*(
                lambda w, h, px: (px, w, h)
            )(*pngio.gray_pixels(blob)))
            import io

            from PIL import Image

            img = Image.open(io.BytesIO(blob)).convert("L")
            via_pil = MM._block_mean_pool(
                list(img.getdata()), img.width, img.height
            )
            assert via_stdlib == via_pil, name

    def test_jpeg_roundtrip_and_fixture_decode(self):
        """The stdlib JPEG codec: encode->decode roundtrip error is
        bounded by the quantization table (the lossy contract: flat
        and block-aligned images are exact, smooth gradients within a
        few levels RMS), and every committed .jpg fixture decodes for
        real with its declared dimensions."""
        import math

        from etl_notifier_pipeline_spark.extensions import jpegio

        w = h = 32
        grad = [min(255, 3 * x + 4 * y) for y in range(h) for x in range(w)]
        blob = jpegio.encode_gray(grad, w, h)
        assert jpegio.is_jpeg(blob) and blob[-2:] == b"\xff\xd9"
        w2, h2, out = jpegio.decode_gray(blob)
        assert (w2, h2) == (w, h)
        rmse = math.sqrt(
            sum((a - b) ** 2 for a, b in zip(grad, out)) / len(grad)
        )
        assert rmse < 4.0
        _, _, flat = jpegio.decode_gray(jpegio.encode_gray([140] * 64, 8, 8))
        assert flat == [140] * 64  # flat blocks are lossless
        jpgs = [
            n for n in sorted(os.listdir(M.MEDIA_FIXTURE_DIR))
            if n.endswith(".jpg")
        ]
        # 4 grayscale + 2 color 4:4:4 (32x32) + 2 color 4:2:0 (36x20,
        # deliberately non-MCU-multiple) + 2 progressive SOF2 (40x28)
        assert len(jpgs) == 10
        for name in jpgs:
            blob = open(os.path.join(M.MEDIA_FIXTURE_DIR, name), "rb").read()
            fw, fh, ncomp = jpegio.dimensions(blob)
            if "420" in name or "015" in name:
                assert (fw, fh) == (36, 20)
            elif "016" in name or "017" in name:
                assert (fw, fh) == (40, 28)
                assert b"\xff\xc2" in blob  # genuinely SOF2 multi-scan
            else:
                assert (fw, fh) == (32, 32)
            if ncomp == 1:
                gw, gh, px = jpegio.decode_gray(blob)
            else:
                gw, gh, nc, px = jpegio.decode_image(blob)
                assert nc == 3 and len(px) == 3 * fw * fh
            assert (gw, gh) == (fw, fh)
            assert all(0 <= p <= 255 for p in px)
        assert sum(
            1 for n in jpgs
            if jpegio.dimensions(
                open(os.path.join(M.MEDIA_FIXTURE_DIR, n), "rb").read()
            )[2] == 3
        ) == 6
        # non-8-multiple dimensions: edge padding round-trips the
        # declared size, not the padded one
        ww, hh, _ = jpegio.decode_gray(
            jpegio.encode_gray([100] * (10 * 6), 10, 6)
        )
        assert (ww, hh) == (10, 6)

    def test_jpeg_routing_real_fake_and_gate(self, monkeypatch):
        """codec routing for lossy bytes (r6 verdict ask #6), pinned
        in a test that RUNS in this sandbox: baseline AND progressive
        (SOF2) grayscale JPEG decode for REAL through the stdlib
        codec; arithmetic-coded streams (SOF9) — which the stdlib
        codec cannot express — fall back to the deterministic fake
        under codec='auto' and raise the PIL gate under codec='real';
        a baseline-shaped stream merely RELABELED SOF2 is bad DATA
        (its single scan declares Ss=0,Se=63, illegal progressive).
        Pillow is forced absent so the assertion is
        environment-independent."""
        import pytest as _pytest

        from etl_notifier_pipeline_spark.extensions import jpegio
        from etl_notifier_pipeline_spark.extensions import multimodal as MM

        monkeypatch.setattr(MM, "_pil_module", lambda: None)
        baseline = jpegio.encode_gray([10 * i for i in range(8)] * 8, 8, 8)
        real = MM._decode_impl(baseline, "image", "real")
        assert real == MM._decode_impl(baseline, "image", "auto")
        assert real != MM._fake_features(baseline)
        # a GENUINE progressive stream decodes real, identically to
        # its baseline twin (same quantized coefficients)
        prog = jpegio.encode_gray(
            [10 * i for i in range(8)] * 8, 8, 8, progressive=True
        )
        assert MM._decode_impl(prog, "image", "real") == real
        # arithmetic coding (SOF9): the remaining capability gate
        arith = baseline.replace(b"\xff\xc0", b"\xff\xc9", 1)
        assert MM._decode_impl(arith, "image", "auto") == (
            MM._fake_features(arith)
        )
        with _pytest.raises(NotImplementedError, match="arithmetic"):
            MM._decode_impl(arith, "image", "real")
        # SOF0 relabeled SOF2: structurally progressive, semantically
        # baseline — its scan header is illegal for SOF2 -> bad data
        franken = baseline.replace(b"\xff\xc0", b"\xff\xc2", 1)
        assert MM._decode_impl(franken, "image", "auto") == (
            MM._fake_features(franken)
        )
        with _pytest.raises(ValueError, match="Se != 0"):
            MM._decode_impl(franken, "image", "real")

    def test_jpeg_restart_intervals_and_malformed_stream(
        self, monkeypatch
    ):
        """Restart intervals (DRI/RSTn) decode natively (r9 verdict
        missing #6's last framing gap): a restart-encoded stream
        roundtrips pixel-identical to the unrestarted encode of the
        same image, and restart DAMAGE — a DRI declared with no
        markers in-stream, or out-of-sequence RSTn — is bad DATA
        (ValueError -> fake under codec='auto'), as is a truncated or
        table-corrupted entropy stream. Nothing here may crash the
        decode UDF with EOFError/KeyError."""
        import pytest as _pytest

        from etl_notifier_pipeline_spark.extensions import jpegio
        from etl_notifier_pipeline_spark.extensions import multimodal as MM

        monkeypatch.setattr(MM, "_pil_module", lambda: None)
        pix = [min(255, 3 * x + 4 * y) for y in range(32) for x in range(32)]
        blob = jpegio.encode_gray(pix, 32, 32)
        # 16 MCUs at interval 3 -> 5 RSTn markers incl. a DC-heavy
        # gradient that makes predictor-reset bugs visible
        rst = jpegio.encode_gray(pix, 32, 32, restart_interval=3)
        assert rst.count(b"\xff\xdd") == 1
        # spec pin against symmetric encoder/decoder miscounts: 16
        # MCUs at interval 3 put exactly floor(15/3)=5 markers in the
        # stream, in RST0..RST4 modulo-8 order (entropy FF bytes are
        # stuffed FF00, so FFD0-FFD7 only occur as markers)
        entropy = rst[rst.find(b"\xff\xda") :]
        seq = [
            entropy[i + 1] - 0xD0
            for i in range(len(entropy) - 1)
            if entropy[i] == 0xFF and 0xD0 <= entropy[i + 1] <= 0xD7
        ]
        assert seq == [0, 1, 2, 3, 4]
        assert jpegio.decode_gray(rst) == jpegio.decode_gray(blob)
        # DRI declared but no RSTn in the entropy stream -> bad data
        sos = blob.find(b"\xff\xda")
        with_dri = blob[:sos] + b"\xff\xdd\x00\x04\x00\x08" + blob[sos:]
        with _pytest.raises(ValueError, match="malformed JPEG entropy"):
            jpegio.decode_gray(with_dri)
        assert MM._decode_impl(with_dri, "image", "auto") == (
            MM._fake_features(with_dri)
        )
        # out-of-sequence restart marker -> bad data
        out_of_seq = rst.replace(b"\xff\xd0", b"\xff\xd4", 1)
        assert out_of_seq != rst
        with _pytest.raises(ValueError, match="malformed JPEG entropy"):
            jpegio.decode_gray(out_of_seq)
        # headers complete, entropy stream empty -> malformed data
        truncated = blob[: sos + 10]
        with _pytest.raises(ValueError, match="malformed JPEG entropy"):
            jpegio.decode_gray(truncated)
        assert MM._decode_impl(truncated, "image", "auto") == (
            MM._fake_features(truncated)
        )
        # a stream referencing an undeclared Huffman table id is also
        # ValueError, not KeyError (SOS table-spec byte corrupted)
        bad_tbl = bytearray(blob)
        bad_tbl[sos + 6] = 0x77
        with _pytest.raises(ValueError, match="undeclared"):
            jpegio.decode_gray(bytes(bad_tbl))

    def test_jpeg_color_restart_roundtrip(self):
        """Color restart framing across all three sampling modes: the
        restart-encoded stream decodes pixel-identical to the
        unrestarted encode (DC predictors for all THREE components
        reset per marker; 4:2:0/4:2:2 MCU counting is per 16-wide
        footprint, not per block)."""
        from etl_notifier_pipeline_spark.extensions import jpegio

        rgb = [
            v
            for y in range(24)
            for x in range(24)
            for v in (
                min(255, 10 * x),
                min(255, 10 * y),
                (x * y) % 256,
            )
        ]
        for sub in ("444", "420", "422"):
            plain = jpegio.decode_image(jpegio.encode_rgb(rgb, 24, 24, sub))
            rst_blob = jpegio.encode_rgb(
                rgb, 24, 24, sub, restart_interval=2
            )
            assert b"\xff\xdd" in rst_blob
            assert jpegio.decode_image(rst_blob) == plain, sub

    def test_jpeg_progressive_roundtrip(self):
        """Progressive (SOF2) encode+decode: the successive-
        approximation script (DC first Al=1 -> per-component AC first
        Al=1 -> DC refine -> AC refine) must decode PIXEL-IDENTICAL
        to the baseline encode of the same image — the two paths share
        the quantized coefficients, so any drift in the scan framing,
        EOB runs, refinement correction bits, or point transforms
        shows up as a pixel diff. Non-8-multiple dims exercise the
        padding grid; color exercises interleaved DC + per-component
        AC scans over both table families."""
        from etl_notifier_pipeline_spark.extensions import jpegio

        pix = [
            (7 * x * x + 5 * y + (x * y) % 11) % 256
            for y in range(37)
            for x in range(33)
        ]
        base = jpegio.encode_gray(pix, 33, 37)
        prog = jpegio.encode_gray(pix, 33, 37, progressive=True)
        assert b"\xff\xc2" in prog and prog.count(b"\xff\xda") == 4
        assert jpegio.decode_gray(prog) == jpegio.decode_gray(base)
        assert jpegio.dimensions(prog) == (33, 37, 1)

        rgb = [
            v
            for y in range(24)
            for x in range(24)
            for v in (min(255, 10 * x), min(255, 10 * y), (x * y) % 256)
        ]
        basec = jpegio.encode_rgb(rgb, 24, 24)
        progc = jpegio.encode_rgb(rgb, 24, 24, progressive=True)
        assert progc.count(b"\xff\xda") == 8  # DC, 3xAC, DC ref, 3xAC ref
        assert jpegio.decode_image(progc) == jpegio.decode_image(basec)
        # invalid combinations stay loud
        import pytest as _pytest

        with _pytest.raises(ValueError, match="progressive"):
            jpegio.encode_gray(pix, 33, 37, restart_interval=2,
                               progressive=True)
        with _pytest.raises(ValueError, match="4:4:4 only"):
            jpegio.encode_rgb(rgb, 24, 24, "420", progressive=True)

    def test_jpeg_decode_never_crashes_on_corruption(self):
        """Web-facing contract for the whole decode surface: a
        single-byte corruption anywhere in a valid stream (baseline,
        restart-framed, or progressive) may decode to different
        pixels or raise ValueError/NotImplementedError — it must NEVER
        raise anything else (EOFError/KeyError/IndexError escaping the
        entropy decoder is how a malformed-input crash reaches the
        multimodal UDF) and never hang. Deterministic positions, no
        randomness."""
        from etl_notifier_pipeline_spark.extensions import jpegio

        pix = [(5 * x + 3 * y) % 256 for y in range(24) for x in range(24)]
        rgb = [
            v for y in range(16) for x in range(16)
            for v in ((x * 16) % 256, (y * 16) % 256, (x ^ y) * 16 % 256)
        ]
        streams = [
            jpegio.encode_gray(pix, 24, 24),
            jpegio.encode_gray(pix, 24, 24, restart_interval=2),
            jpegio.encode_gray(pix, 24, 24, progressive=True),
            jpegio.encode_rgb(rgb, 16, 16, "420"),
            jpegio.encode_rgb(rgb, 16, 16, progressive=True),
        ]
        for blob in streams:
            # flip one byte at every 7th position, plus truncations
            for pos in range(2, len(blob), 7):
                bad = bytearray(blob)
                bad[pos] ^= 0x5A
                try:
                    jpegio.decode_image(bytes(bad))
                except (ValueError, NotImplementedError):
                    pass
            for cut in range(2, len(blob), max(1, len(blob) // 17)):
                try:
                    jpegio.decode_image(blob[:cut])
                except (ValueError, NotImplementedError):
                    pass

    def test_png_wav_decode_never_crashes_on_corruption(self):
        """The same web-facing contract for the other two real codecs:
        corrupted or truncated PNG/WAV bytes raise ValueError or
        NotImplementedError only (the multimodal codec='auto' fallback
        classes), never struct/zlib/index errors."""
        from etl_notifier_pipeline_spark.extensions import pngio, wavio

        png = pngio.encode_png(bytes(range(256)) * 2, 32, 16, "L")
        wav = wavio.encode_wav(
            [0.25 * ((i % 7) - 3) / 3 for i in range(400)], 8000
        )
        for blob, decode in (
            (png, pngio.gray_pixels),
            (wav, lambda b: (wavio.wav_info(b), wavio.mono_samples(b))),
        ):
            for pos in range(2, len(blob), 5):
                bad = bytearray(blob)
                bad[pos] ^= 0x5A
                try:
                    decode(bytes(bad))
                except (ValueError, NotImplementedError):
                    pass
            for cut in range(0, len(blob), max(1, len(blob) // 17)):
                try:
                    decode(blob[:cut])
                except (ValueError, NotImplementedError):
                    pass

    @pytest.mark.skipif(
        M._pil_module() is None, reason="Pillow not installed"
    )
    def test_pil_decodes_stdlib_jpegs_within_tolerance(self):
        """Where Pillow IS installed: the committed fixture JPEGs are
        genuine enough for libjpeg — PIL must decode them with the
        same dimensions and near-identical pixels. Grayscale: +/-1
        (IDCT rounding is implementation-defined). 4:4:4 color: +/-2
        (adds YCbCr->RGB fixed-point vs float rounding). 4:2:0 color:
        libjpeg's DEFAULT chroma upsampling is triangular ("fancy"),
        ours is replication — chroma may differ near edges, but the
        full-resolution LUMA recomputed from both RGB outputs must
        still agree within rounding, and overall RMSE stays small."""
        import io
        import math

        from PIL import Image

        from etl_notifier_pipeline_spark.extensions import jpegio

        for name in sorted(os.listdir(M.MEDIA_FIXTURE_DIR)):
            if not name.endswith(".jpg"):
                continue
            blob = open(os.path.join(M.MEDIA_FIXTURE_DIR, name), "rb").read()
            w, h, nc, px = jpegio.decode_image(blob)
            if nc == 1:
                img = Image.open(io.BytesIO(blob)).convert("L")
                assert (img.width, img.height) == (w, h), name
                pil_px = list(img.getdata())
                assert max(
                    abs(a - b) for a, b in zip(px, pil_px)
                ) <= 1, name
                continue
            img = Image.open(io.BytesIO(blob)).convert("RGB")
            assert (img.width, img.height) == (w, h), name
            pil_px = [v for t in img.getdata() for v in t]
            sof = blob.find(b"\xff\xc0")
            if sof < 0:
                sof = blob.find(b"\xff\xc2")  # progressive fixtures
            y_hv = blob[sof + 2 + 2 + 6 + 1]
            if y_hv == 0x11:  # 4:4:4 — no upsampling in either decoder
                assert max(
                    abs(a - b) for a, b in zip(px, pil_px)
                ) <= 2, name
            else:  # subsampled: upsampling filters legitimately differ
                luma = lambda p, i: (  # noqa: E731
                    0.299 * p[i] + 0.587 * p[i + 1] + 0.114 * p[i + 2]
                )
                max_luma_diff = max(
                    abs(luma(px, i) - luma(pil_px, i))
                    for i in range(0, len(px), 3)
                )
                assert max_luma_diff <= 3.0, (name, max_luma_diff)
                rmse = math.sqrt(
                    sum((a - b) ** 2 for a, b in zip(px, pil_px)) / len(px)
                )
                assert rmse < 6.0, (name, rmse)
        # restart-encoded streams: libjpeg must decode our DRI/RSTn
        # framing bit-identically to our own reader (pins the encoder
        # to the spec, not just to a symmetric in-house decoder)
        pix = [min(255, 3 * x + 4 * y) for y in range(32) for x in range(32)]
        rst = jpegio.encode_gray(pix, 32, 32, restart_interval=3)
        img = Image.open(io.BytesIO(rst)).convert("L")
        _, _, ours = jpegio.decode_gray(rst)
        assert max(
            abs(a - b) for a, b in zip(ours, list(img.getdata()))
        ) <= 1

    def test_frame_sampling_explodes_by_duration(self, spark, media):
        frames = M.sample_frames(media, every_ms=1000, deterministic_fake=True).collect()
        # 3500ms video sampled at 1000ms -> frames at 0,1000,2000,3000
        assert sorted(r["frame_ms"] for r in frames) == [0, 1000, 2000, 3000]

    def test_partition_sizing(self, spark, media):
        out = M.size_partitions(media, target_partition_mb=1)
        assert out.count() == 3


def test_dedup_clusters_connected_components(spark):
    # chain 1-2-3 (diameter > 1 forces >1 propagation round),
    # pair 10-11, and 20-21-22 sharing hub 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in D.dedup_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_dedup_clusters_long_chain_converges(spark):
    n = 12  # diameter 11: exercises multi-round convergence + early exit
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    got = D.dedup_clusters(pairs).collect()
    assert len(got) == n + 1
    assert all(r["cluster_id"] == 0 for r in got)


def test_two_phase_components_matches_label_prop(spark):
    # deterministic multi-component graph with hubs, chains, isolates-
    # via-singleton-pairs: both algorithms must emit identical labels
    import random

    rng = random.Random(11)
    raw = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in raw if a != b], ["doc_a", "doc_b"]
    )
    lp = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in D.dedup_clusters(pairs).collect()
    )
    assert D.LAST_CLUSTER_STATS["fell_back"] is False
    tp = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in D.two_phase_components(pairs).collect()
    )
    assert lp == tp


def test_two_phase_beats_label_prop_on_adversarial_chain(spark):
    # diameter 80 chain: label propagation at max_iter=25 CANNOT
    # converge; dedup_clusters must detect that and fall back to the
    # two-phase rewrite rather than raising or mislabeling.
    n = 80
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    D.LAST_CLUSTER_STATS.clear()
    got = D.dedup_clusters(pairs, max_iter=25).collect()
    assert len(got) == n + 1
    assert all(r["cluster_id"] == 0 for r in got)
    # diagnostics recorded: fallback engaged, two-phase finished in
    # ~log^2 n rounds, far under the chain's diameter
    assert D.LAST_CLUSTER_STATS["fell_back"] is True
    assert D.LAST_CLUSTER_STATS["algorithm"] == "two_phase"
    assert D.LAST_CLUSTER_STATS["rounds"] < 25


def test_two_phase_components_star_and_isolated_pair(spark):
    pairs = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 9), (30, 31)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in D.two_phase_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 1), (9, 1), (30, 30), (31, 30)}


def test_repetition_features_bounds_and_degenerate_doc(spark):
    from etl_notifier_pipeline_spark.extensions.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),          # all-identical tokens
         (2, "all words here are fully distinct"), # no repetition
         (3, "one")],                              # too short for 2-grams
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    # doc 1: four 2-grams, one distinct -> dup frac 3/4; flagged
    assert got[1]["dup_2gram_frac"] == 0.75 and got[1]["repetitive"]
    assert got[2]["dup_2gram_frac"] == 0.0 and not got[2]["repetitive"]
    assert got[3]["n_2grams"] == 0 and got[3]["dup_2gram_frac"] is None
    assert not got[3]["repetitive"]  # NULL frac coalesces to unflagged
    for r in got.values():
        for c in ("dup_2gram_frac", "dup_3gram_frac"):
            assert r[c] is None or 0.0 <= r[c] <= 1.0


def test_contamination_counts_flags_only_overlapping_docs(spark):
    from etl_notifier_pipeline_spark.extensions.text import contamination_counts

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "eval"),
         (2, "a sentence with the quick brown fox jumps inside it", "train"),
         (3, "completely unrelated training content goes right here", "train")],
        ["doc_id", "text", "grp"],
    )
    got = {
        r["doc_id"]: r["n_contaminated_shingles"]
        for r in contamination_counts(docs, F.col("grp") == "eval").collect()
    }
    # doc 2 shares exactly one 5-gram ("the quick brown fox jumps")
    assert got == {2: 1}


def test_weighted_sample_deterministic_and_weight_monotone(spark):
    from etl_notifier_pipeline_spark.extensions.sampling import weighted_sample

    rows = [(i,) for i in range(500)]
    df = spark.createDataFrame(rows, ["k"])
    # weight >= resolution -> always kept
    full = weighted_sample(df, "k", F.lit(256))
    assert full.count() == 500
    # weight 0 -> never kept
    assert weighted_sample(df, "k", F.lit(0)).count() == 0
    # deterministic: same decisions twice, and half-weight keeps a
    # subset of full-weight decisions by construction (same hash key)
    half1 = {r["k"] for r in weighted_sample(df, "k", F.lit(128)).collect()}
    half2 = {r["k"] for r in weighted_sample(df, "k", F.lit(128)).collect()}
    assert half1 == half2
    quarter = {r["k"] for r in weighted_sample(df, "k", F.lit(64)).collect()}
    assert quarter <= half1
    # rate roughly proportional (hash uniformity; wide tolerance)
    assert 0.35 <= len(half1) / 500 <= 0.65


def test_jaccard_stop_shingle_guard_drops_hot_shingles(spark):
    """max_doc_freq: a shingle present in more docs than the cap never
    reaches the candidate self-join (the d03 skew guard). Docs sharing
    ONLY the boilerplate shingle stop pairing; docs sharing rare
    content still pair."""
    boiler = "click here to subscribe"  # 3-grams appear in every doc
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} filler{i} pad{i}") for i in range(6)]
        + [(10, f"{boiler} same same same"), (11, f"{boiler} same same same")],
        ["doc_id", "text"],
    )
    idx = D.shingle_index(docs, max_doc_freq=4)
    # every doc carries the boilerplate 3-grams -> df=8 > 4 -> dropped
    hot = D.shingle_index(docs).groupBy("shingle").count().filter("count > 4")
    assert idx.join(hot, "shingle", "left_semi").count() == 0
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs, threshold=0.2, max_doc_freq=4).collect()
    }
    assert pairs == {(10, 11)}  # boilerplate-only overlaps are gone
    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert (10, 11) in unguarded and len(unguarded) > 1


def test_simhash_pairs_pigeonhole_guard(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_pairs(docs, max_hamming=4, n_bands=4)
    # identical docs: hamming 0, always paired
    pairs = D.simhash_pairs(docs, max_hamming=3).collect()
    assert [(p["doc_a"], p["doc_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_simhash_band_plan_ladder():
    # frozen default regime: small corpora keep the 4x16 banding
    assert D.simhash_band_plan(5_000) == 4
    assert D.simhash_band_plan(65_536) == 4
    # m=5 -> min combo width 25 bits -> covers up to 2^25 docs
    assert D.simhash_band_plan(500_000) == 5
    assert D.simhash_band_plan(5_000_000) == 5
    # m=6 -> min combo width 31 bits
    assert D.simhash_band_plan(100_000_000) == 6
    # monotone: more docs never narrows the plan
    plans = [D.simhash_band_plan(10**e) for e in range(3, 13)]
    assert plans == sorted(plans)
    # bounded even for absurd corpus sizes (blocks can't shrink < 2)
    assert D.simhash_band_plan(10**30) < D.SIMHASH_BITS


def test_simhash_pairs_adaptive_plan_matches_frozen(spark):
    """The multi-block combo plan must return the IDENTICAL pair set
    as the frozen 4x16 banding — candidates are verified against the
    full signature, so banding is a pure performance knob."""
    docs = load_table(spark, SF_DIR, "documents").limit(300)
    frozen = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    for m in (5, 6, 7):
        adaptive = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_pairs(docs, max_hamming=3, n_bands=m).collect()
        }
        assert adaptive == frozen, f"n_bands={m} changed the pair set"
    assert frozen  # non-vacuous: fixture contains near-dups


def test_tfidf_rare_term_outranks_common(spark):
    from etl_notifier_pipeline_spark.extensions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common common rare"), (2, "common stuff"), (3, "common other")],
        ["doc_id", "text"],
    )
    top = tfidf_top_terms(docs, k=1)
    got = {r["doc_id"]: r["token"] for r in top.collect()}
    # doc 1: tf(common)=2/df=3 -> 2, tf(rare)=1/df=1 -> 3: rare wins
    assert got[1] == "rare"


def test_stratified_split_deterministic_and_stable(spark):
    from etl_notifier_pipeline_spark.extensions.sampling import stratified_split

    docs = load_table(spark, SF_DIR, "documents")
    a = {r["doc_id"]: r["split"] for r in stratified_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in
         stratified_split(docs.repartition(7), "doc_id").collect()}
    assert a == b  # partitioning-independent (unlike randomSplit)
    frac_train = sum(s == "train" for s in a.values()) / len(a)
    assert 0.7 < frac_train < 0.9
    # adding rows never moves an existing row's split (hash is row-local)
    half = {r["doc_id"]: r["split"] for r in
            stratified_split(docs.filter(F.col("doc_id") < 250), "doc_id").collect()}
    assert all(a[k] == v for k, v in half.items())


def test_sequence_packing_respects_budget_boundaries(spark):
    from etl_notifier_pipeline_spark.plans import get

    out = get("x11_sequence_packing").fn(spark, SF_DIR).collect()
    # bins are contiguous non-negative integers per lang, and a doc's
    # bin is determined by the tokens that precede it
    by_lang: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["lang"], r["doc_id"])):
        by_lang.setdefault(r["lang"], []).append(r)
    for rows in by_lang.values():
        cum = 0
        for r in rows:
            assert r["bin_id"] == cum // 4096
            cum += r["n_tokens"]


def test_chunk_token_windows_semantics(spark):
    """Chunk starts at 0, stride, ... < n_tok; tail chunks run short;
    a short doc yields exactly one chunk; chunking never shuffles."""
    from etl_notifier_pipeline_spark.extensions.text import chunk_token_windows

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, "solo")],
        ["doc_id", "text"],
    )
    out = chunk_token_windows(df, window=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 10 tokens -> starts 0,3,6,9 -> lengths 4,4,4,1
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_tokens for r in c1] == [4, 4, 4, 1]
    assert c1[0].chunk_text == "a b c d"
    assert c1[1].chunk_text == "d e f g"  # overlap of 1 at stride 3
    assert c1[3].chunk_text == "j"
    # doc 2: 2 tokens -> one chunk, short
    assert [(r.chunk_idx, r.chunk_tokens) for r in by_doc[2]] == [(0, 2)]
    assert by_doc[3][0].chunk_text == "solo"
    plan = (
        chunk_token_windows(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

    with pytest.raises(ValueError):
        chunk_token_windows(df, stride=0)


def test_shard_assignment_stable_and_total(spark):
    """Shard ids are deterministic across runs/partitioning, in
    [0, n), and adding rows never moves existing ones."""
    from etl_notifier_pipeline_spark.extensions.sampling import shard_assignment

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {
        r.doc_id: r.shard_id
        for r in shard_assignment(df, "doc_id", 16).collect()
    }
    b = {
        r.doc_id: r.shard_id
        for r in shard_assignment(df.repartition(7), "doc_id", 16).collect()
    }
    assert a == b
    assert all(0 <= v < 16 for v in a.values())
    bigger = shard_assignment(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"), "doc_id", 16
    )
    c = {r.doc_id: r.shard_id for r in bigger.collect()}
    assert all(c[k] == v for k, v in a.items())


def test_mixture_resample_monotone_and_stable(spark):
    """Raising a rate only ADDS rows (no swap); identical keep-set
    across partitionings; rate 0/1 edge cases; invalid rate raises."""
    from etl_notifier_pipeline_spark.extensions.sampling import mixture_resample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(400)],
        ["doc_id", "source"],
    )
    low = {
        r.doc_id
        for r in mixture_resample(df, "source", "doc_id", {"a": 0.25}).collect()
    }
    high = {
        r.doc_id
        for r in mixture_resample(df, "source", "doc_id", {"a": 0.75}).collect()
    }
    assert low <= high  # monotone: tuning up never drops sampled rows
    again = {
        r.doc_id
        for r in mixture_resample(
            df.repartition(13), "source", "doc_id", {"a": 0.25}
        ).collect()
    }
    assert again == low
    none_a = mixture_resample(df, "source", "doc_id", {"a": 0.0}).collect()
    assert all(r.source == "b" for r in none_a)  # rate 0 drops the source
    assert len(none_a) == 200  # default rate 1.0 keeps all of b
    with pytest.raises(ValueError):
        mixture_resample(df, "source", "doc_id", {"a": 1.5})


def test_block_pack_spans_conservation_and_tiling(spark):
    from etl_notifier_pipeline_spark.extensions.sampling import (
        block_pack_spans,
    )

    # Sparse keys, a zero-token doc, docs crossing several block
    # boundaries; block=8 keeps the arithmetic hand-checkable.
    docs = spark.createDataFrame(
        [(0, 5), (1, 0), (2, 13), (3, 4), (7, 9), (100, 3)],
        "doc_id long, n long",
    )
    out = block_pack_spans(docs, "doc_id", "n", block=8, group_size=4)
    rows = {(r.doc_id, r.block_id): r for r in out.collect()}

    # zero-token docs contribute no span
    assert not any(k[0] == 1 for k in rows)
    # per-doc token conservation + in-doc spans tile [0, n)
    by_doc: dict[int, list] = {}
    for r in rows.values():
        by_doc.setdefault(r.doc_id, []).append(r)
    expect = {0: 5, 2: 13, 3: 4, 7: 9, 100: 3}
    for doc, n in expect.items():
        spans = sorted(by_doc[doc], key=lambda r: r.block_id)
        assert sum(s.tokens_in_block for s in spans) == n
        assert spans[0].doc_offset == 0
        for a, b in zip(spans, spans[1:]):
            assert b.doc_offset == a.doc_offset + a.tokens_in_block
    # stream tiling: every block except the last holds exactly 8
    # tokens, and spans inside a block are contiguous from offset 0
    by_blk: dict[int, list] = {}
    for r in rows.values():
        by_blk.setdefault(r.block_id, []).append(r)
    total = sum(expect.values())  # 34 -> blocks 0..4, last holds 2
    assert set(by_blk) == {0, 1, 2, 3, 4}
    for blk, spans in by_blk.items():
        spans.sort(key=lambda r: r.offset_in_block)
        assert spans[0].offset_in_block == 0
        for a, b in zip(spans, spans[1:]):
            assert b.offset_in_block == a.offset_in_block + a.tokens_in_block
        got = sum(s.tokens_in_block for s in spans)
        assert got == (8 if blk < 4 else total - 32)


def test_block_pack_spans_group_size_invariant(spark):
    from etl_notifier_pipeline_spark.extensions.sampling import (
        block_pack_spans,
    )

    docs = spark.range(0, 200).selectExpr(
        "id AS doc_id", "(id % 7) + 1 AS n"
    )
    small = block_pack_spans(docs, "doc_id", "n", block=16, group_size=3)
    huge = block_pack_spans(docs, "doc_id", "n", block=16, group_size=10**6)
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, huge.collect())
    )


def test_per_source_cap_bound_and_partitioning_independence(spark):
    from etl_notifier_pipeline_spark.extensions.sampling import (
        per_source_cap,
    )

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source"
    )
    kept = per_source_cap(df, "source", "doc_id", cap=10)
    counts = {r.source: r.c for r in
              kept.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert counts == {"s0": 10, "s1": 10, "s2": 10}
    # same selection regardless of input partitioning
    again = per_source_cap(df.repartition(17), "source", "doc_id", cap=10)
    assert sorted(map(tuple, kept.collect())) == sorted(
        map(tuple, again.collect())
    )
    # hash order, not key order: selection is not simply the lowest ids
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids != list(range(30))


def test_oov_rate_scores_garbage_high_and_vocab_zero(spark):
    from etl_notifier_pipeline_spark.extensions.text import oov_rate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha"),
            (2, "alpha beta gamma"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in oov_rate(docs, vocab_size=2).collect()}
    # vocab = {alpha, beta}: doc1 fully covered, doc3 fully OOV
    assert out[1].n_oov == 0 and out[1].oov_rate == 0.0
    assert out[3].n_oov == 3 and out[3].oov_rate == 1.0
    assert out[2].n_oov == 1 and abs(out[2].oov_rate - 1 / 3) < 1e-12
    assert all(r.n_oov <= r.n_tokens for r in out.values())


class TestOrderedPrefixSum:
    def test_matches_single_partition_window_exactly(self, spark):
        """Two-phase value-ordered running sum must be bit-identical to
        the global single-partition window — decimals stay exact across
        the bucket-offset recombination, at any bucket count."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.caching import release_all
        from etl_notifier_pipeline_spark.extensions.sampling import (
            ordered_prefix_sum,
        )

        df = spark.range(5000).select(
            F.col("id").alias("k"),
            # duplicate-heavy values force ties: order (v DESC, k) must
            # stay total across bucket boundaries
            (F.pmod(F.hash("id"), F.lit(97)).cast("decimal(12,2)") / 7)
            .alias("v"),
        )
        expected = df.withColumn(
            "cum",
            F.sum("v").over(
                W.orderBy(F.col("v").desc(), "k").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        for n_buckets in (1, 7, 64):
            got = ordered_prefix_sum(
                df, "v", [F.col("v").desc(), F.col("k")],
                alias="cum", n_buckets=n_buckets,
            )
            exp = {r["k"]: str(r["cum"]) for r in expected.collect()}
            act = {r["k"]: str(r["cum"]) for r in got.collect()}
            assert act == exp, f"n_buckets={n_buckets}"
        release_all()

    def test_rejects_bad_bucket_count(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from etl_notifier_pipeline_spark.extensions.sampling import (
            ordered_prefix_sum,
        )

        df = spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        with pytest.raises(ValueError, match="n_buckets"):
            ordered_prefix_sum(df, "v", [F.col("k")], n_buckets=0)


class TestArrowSimilarityPathEquivalence:
    """The Arrow hot paths added for corpus-scale dedup must agree
    with the JVM Column forms they shadow (same argmin tie rule, same
    pair sets) — the two implementations are cost models, not
    semantics."""

    def _emb(self, spark, n=300, dim=16):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda p: (
                    F.pmod(F.hash(F.col("id"), p), F.lit(1000)).cast("float")
                    / 500.0
                    - 1.0
                ),
            ).alias("embedding"),
            F.pmod(F.col("id"), F.lit(7)).cast("int").alias("label"),
        )

    def test_ivf_assign_frame_arrow_matches_jvm(self, spark):
        from etl_notifier_pipeline_spark.extensions import similarity as S

        emb = self._emb(spark)
        cents = S.ivf_centroids(emb, 70)
        jvm = {
            r["vec_id"]: r["cell"]
            for r in S.ivf_assign_frame(
                emb, cents, jvm_max_cells=1000
            ).collect()
        }
        arrow = {
            r["vec_id"]: r["cell"]
            for r in S.ivf_assign_frame(
                emb, cents, jvm_max_cells=1
            ).collect()
        }
        assert arrow == jvm

    def test_blocked_pairs_arrow_matches_jvm(self, spark):
        from etl_notifier_pipeline_spark.extensions import similarity as S

        emb = self._emb(spark)
        jvm = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in S.blocked_near_dup_pairs(
                emb, block_col="label", threshold=0.4
            ).collect()
        }
        arrow = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in S.blocked_near_dup_pairs_arrow(
                emb, block_col="label", threshold=0.4
            ).collect()
        }
        assert set(arrow) == set(jvm)
        for k in jvm:
            assert abs(arrow[k] - jvm[k]) < 1e-9, k


def test_incremental_dedup_matches_full_cross_side_pairs(spark):
    """d13 shape: the incremental batch-vs-historical match set must
    equal the FULL-corpus LSH pair set restricted to cross-side pairs
    (same hash family, same bands, same verify threshold) — the
    increment loses nothing and invents nothing relative to a full
    re-dedup. Novelty must be the exact complement of the match set."""
    docs = load_table(spark, SF_DIR, "documents")
    is_batch = (F.col("doc_id") % 7) == 0
    hist, batch = docs.filter(~is_batch), docs.filter(is_batch)
    inc = D.incremental_lsh_dedup(hist, batch, threshold=0.5).collect()

    full = D.minhash_lsh_dedup(docs, threshold=0.5).collect()
    cross = {}
    for r in full:
        a_batch = r["doc_a"] % 7 == 0
        b_batch = r["doc_b"] % 7 == 0
        if a_batch != b_batch:  # exactly one side in the batch
            bid, hid = (
                (r["doc_a"], r["doc_b"]) if a_batch else (r["doc_b"], r["doc_a"])
            )
            cross.setdefault(bid, []).append((r["jaccard"], hid))

    assert {r["doc_id"] for r in inc} == {
        r["doc_id"] for r in batch.select("doc_id").collect()
    }
    for r in inc:
        expect = cross.get(r["doc_id"], [])
        assert r["n_matches"] == len(expect)
        assert r["is_novel"] == (not expect)
        if expect:
            best_j = max(j for j, _ in expect)
            best_id = min(h for j, h in expect if j == best_j)
            assert r["best_jaccard"] == best_j
            assert r["best_match_id"] == best_id
        else:
            assert r["best_match_id"] is None and r["best_jaccard"] is None


def test_incremental_dedup_overlapping_doc_ids_guarded(spark):
    """A doc_id present on BOTH sides must not match itself: the
    anti-join guard drops the stale hist row, so a re-submitted doc is
    verdicted against the rest of the corpus only — identical to the
    result when hist was disjoint to begin with."""
    docs = load_table(spark, SF_DIR, "documents")
    is_batch = (F.col("doc_id") % 7) == 0
    hist, batch = docs.filter(~is_batch), docs.filter(is_batch)
    clean = {
        r["doc_id"]: (r["n_matches"], r["best_match_id"], r["is_novel"])
        for r in D.incremental_lsh_dedup(hist, batch, threshold=0.5).collect()
    }
    # poison hist with a full copy of the batch (worst-case overlap)
    overlapping = hist.unionByName(batch)
    guarded = {
        r["doc_id"]: (r["n_matches"], r["best_match_id"], r["is_novel"])
        for r in D.incremental_lsh_dedup(
            overlapping, batch, threshold=0.5
        ).collect()
    }
    assert guarded == clean


def test_incremental_semantic_dedup_matches_bruteforce(spark):
    """s13 shape: verdicts must equal the brute-force cross-side
    reduction (numpy), and a hist side poisoned with a full batch copy
    must be neutralized by the disjointness guard."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    is_batch = (F.col("vec_id") % 12) == 0
    hist, batch = emb.filter(~is_batch), emb.filter(is_batch)
    got = {
        r["vec_id"]: (r["n_matches"], r["best_match_id"], r["is_novel"])
        for r in S.incremental_semantic_dedup(
            hist, batch, threshold=0.85
        ).collect()
    }
    rows = emb.collect()
    H = [(r["vec_id"], np.array(r["embedding"], dtype=np.float64))
         for r in rows if r["vec_id"] % 12 != 0]
    B = [(r["vec_id"], np.array(r["embedding"], dtype=np.float64))
         for r in rows if r["vec_id"] % 12 == 0]
    assert set(got) == {i for i, _ in B}
    for bid, bv in B:
        ms = []
        for hid, hv in H:
            c = float(bv @ hv / (np.linalg.norm(bv) * np.linalg.norm(hv)))
            if c >= 0.85 - 1e-12:  # float-fold vs numpy tolerance band
                ms.append((c, hid))
        n, best, novel = got[bid]
        if not ms:
            assert novel and n == 0
        else:
            # counts can differ only for cosines within float tolerance
            assert abs(n - len(ms)) <= sum(1 for c, _ in ms if abs(c - 0.85) < 1e-9)
            assert not novel
            best_c = max(c for c, _ in ms)
            expect = min(h for c, h in ms if abs(c - best_c) < 1e-12)
            assert best == expect
    # overlap guard: poisoning hist with the batch changes nothing
    poisoned = {
        r["vec_id"]: (r["n_matches"], r["best_match_id"], r["is_novel"])
        for r in S.incremental_semantic_dedup(
            hist.unionByName(batch), batch, threshold=0.85
        ).collect()
    }
    assert poisoned == got


def test_jpeg_color_roundtrip_and_gates():
    """r8 ask #7: baseline 4:4:4 color JPEG on the stdlib Huffman
    core — encode->decode roundtrip error bounded by the quant tables
    (flat blocks near-exact, gradients within a few levels), the
    strict-grayscale entry point rejects color by contract, and
    decode_image serves both layouts."""
    import math

    from etl_notifier_pipeline_spark.extensions import jpegio

    w = h = 24
    rgb = []
    for y in range(h):
        for x in range(w):
            rgb += [min(255, 5 * x), min(255, 5 * y), 128]
    blob = jpegio.encode_rgb(rgb, w, h)
    assert jpegio.is_jpeg(blob) and blob[-2:] == b"\xff\xd9"
    assert jpegio.dimensions(blob) == (w, h, 3)
    w2, h2, nc, out = jpegio.decode_image(blob)
    assert (w2, h2, nc) == (w, h, 3) and len(out) == 3 * w * h
    rmse = math.sqrt(
        sum((a - b) ** 2 for a, b in zip(rgb, out)) / len(rgb)
    )
    assert rmse < 6.0, rmse
    # flat color block: chroma quantization keeps it within a couple
    # of levels per channel
    flat = [200, 64, 32] * 64
    _, _, _, fout = jpegio.decode_image(jpegio.encode_rgb(flat, 8, 8))
    assert max(abs(a - b) for a, b in zip(flat, fout)) <= 4
    # decode_gray is single-component by contract
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="decode_image"):
        jpegio.decode_gray(blob)
    # grayscale streams flow through decode_image too
    gray = [(3 * x + 2 * y) % 256 for y in range(16) for x in range(16)]
    gblob = jpegio.encode_gray(gray, 16, 16)
    gw, gh, gnc, gpx = jpegio.decode_image(gblob)
    assert (gw, gh, gnc) == (16, 16, 1)
    assert gpx == jpegio.decode_gray(gblob)[2]
    # non-8-multiple color dimensions: edge padding round-trips the
    # declared size
    odd = [10, 20, 30] * (10 * 6)
    ow, oh, onc, _ = jpegio.decode_image(jpegio.encode_rgb(odd, 10, 6))
    assert (ow, oh, onc) == (10, 6, 3)
    # sampling factors above 2 gate (1 and 2 are decoded for real):
    # fabricate a SOF0 with 3x3 luma sampling
    idx = blob.find(b"\xff\xc0")
    bad = bytearray(blob)
    bad[idx + 7 + 4] = 0x33  # Y component sampling 3x3
    with _pytest.raises(NotImplementedError, match="sampling factor"):
        jpegio.decode_image(bytes(bad))


def test_jpeg_420_chroma_subsampling_roundtrip():
    """r9 ask #6: 4:2:0 chroma subsampling — the dominant real-world
    JPEG form — decodes for real in-sandbox: 16x16 MCUs of four Y
    blocks + one box-averaged Cb/Cr block each, chroma replicated back
    to full resolution. Error vs the source stays bounded by quant +
    subsampling loss; luma (full-res in 4:2:0) stays as tight as
    4:4:4."""
    import math

    from etl_notifier_pipeline_spark.extensions import jpegio

    w, h = 40, 24  # multiple MCU columns, non-square
    rgb = []
    for y in range(h):
        for x in range(w):
            rgb += [min(255, 4 * x + 2 * y), (x * 7) % 256, min(255, 3 * y)]
    blob = jpegio.encode_rgb(rgb, w, h, subsampling="420")
    assert jpegio.is_jpeg(blob)
    assert jpegio.dimensions(blob) == (w, h, 3)
    # SOF0 declares Y=2x2, Cb=Cr=1x1
    sof = blob.find(b"\xff\xc0")
    assert blob[sof + 2 + 2 + 6 + 1] == 0x22
    assert blob[sof + 2 + 2 + 6 + 4] == 0x11
    w2, h2, nc, out = jpegio.decode_image(blob)
    assert (w2, h2, nc) == (w, h, 3)
    rmse = math.sqrt(sum((a - b) ** 2 for a, b in zip(rgb, out)) / len(rgb))
    # bound vs the information-theoretic floor for THIS image: what a
    # lossless codec would produce after the same 2x2 box-average +
    # replicate chroma path (the G channel is a 7px sawtooth, so the
    # subsampling itself costs ~14 RMSE here) — quantization may add
    # only a few levels on top
    import numpy as np

    a = np.asarray(rgb, dtype=np.float64).reshape(h, w, 3)
    from etl_notifier_pipeline_spark.extensions.jpegio import (
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
    )

    ych = _rgb_to_ycbcr(a)

    def _sub(p):
        ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
        p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        s = p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        return np.repeat(np.repeat(s, 2, axis=0), 2, axis=1)[:h, :w]

    floor = np.clip(
        np.round(_ycbcr_to_rgb(ych[0], _sub(ych[1]), _sub(ych[2]))), 0, 255
    )
    floor_rmse = math.sqrt(float(np.mean((floor - a) ** 2)))
    assert rmse < floor_rmse + 4.0, (rmse, floor_rmse)
    # luma carries full resolution: the decoded Y plane must match the
    # source Y within 4:4:4-grade error even though chroma is halved
    src_y = [
        0.299 * rgb[i] + 0.587 * rgb[i + 1] + 0.114 * rgb[i + 2]
        for i in range(0, len(rgb), 3)
    ]
    got_y = [
        0.299 * out[i] + 0.587 * out[i + 1] + 0.114 * out[i + 2]
        for i in range(0, len(out), 3)
    ]
    yrmse = math.sqrt(
        sum((a - b) ** 2 for a, b in zip(src_y, got_y)) / len(src_y)
    )
    assert yrmse < 5.0, yrmse
    # flat color: subsampling loses nothing, quant error only
    flat = [200, 64, 32] * (16 * 16)
    _, _, _, fout = jpegio.decode_image(
        jpegio.encode_rgb(flat, 16, 16, subsampling="420")
    )
    assert max(abs(a - b) for a, b in zip(flat, fout)) <= 4
    # odd (non-MCU-multiple) dimensions round-trip the declared size
    odd = [10, 20, 30] * (18 * 9)
    ow, oh, onc, _ = jpegio.decode_image(
        jpegio.encode_rgb(odd, 18, 9, subsampling="420")
    )
    assert (ow, oh, onc) == (18, 9, 3)
    # 4:2:2 (Y 2x1, horizontal-only subsampling) round-trips too
    blob422 = jpegio.encode_rgb(rgb, w, h, subsampling="422")
    sof = blob422.find(b"\xff\xc0")
    assert blob422[sof + 2 + 2 + 6 + 1] == 0x21
    w3, h3, nc3, out422 = jpegio.decode_image(blob422)
    assert (w3, h3, nc3) == (w, h, 3)
    rmse422 = math.sqrt(
        sum((a - b) ** 2 for a, b in zip(rgb, out422)) / len(rgb)
    )
    # 422 keeps vertical chroma, so on any image it can't do worse
    # than 420 (this image's chroma detail is horizontal — the G
    # sawtooth — so the two land close; quant noise allows ~1 level)
    assert rmse422 < rmse + 1.0, (rmse422, rmse)


def test_jpeg_adobe_app14_rgb_gate():
    """r9 advice #5: a 3-component stream that is NOT JFIF YCbCr must
    gate to NotImplementedError instead of silently applying the
    BT.601 inverse and emitting garbled pixels. Two detectable forms:
    Adobe APP14 transform=0 (components are raw RGB), and non-JFIF
    component ids."""
    import struct

    import pytest as _pytest

    from etl_notifier_pipeline_spark.extensions import jpegio

    rgb = [100, 150, 200] * 64
    blob = jpegio.encode_rgb(rgb, 8, 8)

    def with_app14(transform: int) -> bytes:
        payload = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform)
        seg = struct.pack(">HH", 0xFFEE, len(payload) + 2) + payload
        return blob[:2] + seg + blob[2:]  # splice right after SOI

    with _pytest.raises(NotImplementedError, match="YCbCr"):
        jpegio.decode_image(with_app14(0))
    # transform=1 explicitly declares YCbCr: decodes fine
    w, h, nc, px = jpegio.decode_image(with_app14(1))
    assert (w, h, nc) == (8, 8, 3)
    assert px == jpegio.decode_image(blob)[3]

    # exotic component ids without an Adobe transform: same gate.
    # Patch cids in SOF0 (1,2,3 -> 82,71,66 "RGB") and in SOS.
    bad = bytearray(blob)
    sof = bad.find(b"\xff\xc0")
    for ci, cid in enumerate((82, 71, 66)):
        bad[sof + 2 + 2 + 6 + 3 * ci] = cid
    sos = bad.find(b"\xff\xda")
    for si, cid in enumerate((82, 71, 66)):
        bad[sos + 2 + 2 + 1 + 2 * si] = cid
    with _pytest.raises(NotImplementedError, match="component"):
        jpegio.decode_image(bytes(bad))


# ---------------------------------------------------------------- audio/WAV


def test_wavio_stdlib_wave_parity_on_fixtures():
    """Header parity: for every committed snd_*.wav fixture the stdlib
    ``wave`` module and our RIFF chunk walk must agree on rate /
    channels / width / frame count (wave IS the public reference
    parser for PCM WAV)."""
    import io
    import wave

    from etl_notifier_pipeline_spark.extensions import wavio

    names = [
        n for n in sorted(os.listdir(M.MEDIA_FIXTURE_DIR))
        if n.endswith(".wav")
    ]
    assert len(names) == 5  # sine, dup, noise, stereo, near
    for name in names:
        blob = open(os.path.join(M.MEDIA_FIXTURE_DIR, name), "rb").read()
        info = wavio.wav_info(blob)
        w = wave.open(io.BytesIO(blob))
        assert w.getframerate() == info.sample_rate, name
        assert w.getnchannels() == info.channels, name
        assert w.getsampwidth() * 8 == info.bits_per_sample, name
        assert w.getnframes() == info.n_frames, name
        assert info.duration_ms == info.n_frames * 1000 // info.sample_rate


def test_wavio_roundtrip_and_pinned_rms():
    """encode -> decode round-trips within 16-bit quantization, and a
    known sine pins the feature math: every segment-RMS of a steady
    0.8-amplitude sine is 0.8/sqrt(2) up to quantization + windowing
    (each 250-sample segment holds 13.75 cycles)."""
    import math

    from etl_notifier_pipeline_spark.extensions import wavio

    rate, n = 8000, 4000
    sig = [0.8 * math.sin(2 * math.pi * 440 * i / rate) for i in range(n)]
    blob = wavio.encode_wav(sig, rate)
    got_rate, mono = wavio.mono_samples(blob)
    assert got_rate == rate and len(mono) == n
    # bound = half an encode step (1/65534) + the 32767-vs-32768
    # scale asymmetry (|s|/32768): ~4.0e-5 at amplitude 0.8
    assert max(abs(a - b) for a, b in zip(sig, mono)) <= 1.5 / 32767
    feats = wavio.segment_rms_features(mono, 16)
    want = 0.8 / math.sqrt(2)
    assert all(abs(f - want) < 5e-3 for f in feats)
    # determinism: identical bytes -> identical vector, bit for bit
    assert feats == wavio.segment_rms_features(
        wavio.mono_samples(wavio.encode_wav(sig, rate))[1], 16
    )


def test_wavio_stereo_mixdown_and_float_formats():
    """Stereo mixes to mono by per-frame mean; IEEE float32/float64
    payloads decode (format tag 3), including inside a
    WAVE_FORMAT_EXTENSIBLE wrapper."""
    import math
    import struct as st

    from etl_notifier_pipeline_spark.extensions import wavio

    rate, n = 8000, 800
    left = [0.5] * n
    right = [-0.5] * n
    inter = [v for pair in zip(left, right) for v in pair]
    blob = wavio.encode_wav(inter, rate, channels=2)
    _, mono = wavio.mono_samples(blob)
    assert max(abs(v) for v in mono) <= 1.5 / 32767  # cancels to ~0

    # hand-build a float32 WAV (encoder is PCM16-only by design)
    sig = [math.sin(2 * math.pi * 100 * i / rate) for i in range(n)]
    data = st.pack(f"<{n}f", *sig)
    fmt = b"fmt " + st.pack("<IHHIIHH", 16, 3, 1, rate, rate * 4, 4, 32)
    f32 = (b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE" + fmt
           + b"data" + st.pack("<I", len(data)) + data)
    got_rate, mono = wavio.mono_samples(f32)
    assert got_rate == rate
    assert max(abs(a - b) for a, b in zip(sig, mono)) < 1e-6

    # extensible wrapper: tag 0xFFFE, SubFormat GUID leading with the
    # real tag (1 = PCM)
    pcm = st.pack(f"<{n}h", *[int(s * 32767) for s in sig])
    sub = st.pack("<H", 1) + b"\x00" * 14
    ext = st.pack("<IHHIIHH", 40, 0xFFFE, 1, rate, rate * 2, 2, 16)
    # cbSize=22, validBitsPerSample=16, channelMask=0, 16-byte GUID
    ext += st.pack("<HHI", 22, 16, 0) + sub
    exblob = (b"RIFF" + st.pack("<I", 48 + 12 + len(pcm)) + b"WAVE"
              + b"fmt " + ext + b"data" + st.pack("<I", len(pcm)) + pcm)
    info = wavio.wav_info(exblob)
    assert info.format_tag == 1 and info.bits_per_sample == 16


def test_wavio_gates_and_malformed():
    """Capability vs malformed taxonomy (jpegio's): compressed format
    tags gate NotImplementedError; broken containers raise ValueError;
    both fall back to the deterministic fake under codec='auto'."""
    import struct as st

    import pytest as _pytest

    from etl_notifier_pipeline_spark.extensions import wavio
    from etl_notifier_pipeline_spark.extensions.multimodal import (
        _decode_impl,
        _fake_features,
    )

    # mu-law (tag 7) — a real compressed WAV form
    data = bytes(range(200))
    fmt = b"fmt " + st.pack("<IHHIIHH", 16, 7, 1, 8000, 8000, 1, 8)
    mulaw = (b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE" + fmt
             + b"data" + st.pack("<I", len(data)) + data)
    with _pytest.raises(NotImplementedError, match="format tag 7"):
        wavio.wav_info(mulaw)
    assert _decode_impl(mulaw, "audio", "auto") == _fake_features(mulaw)
    with _pytest.raises(NotImplementedError):
        _decode_impl(mulaw, "audio", "real")

    with _pytest.raises(ValueError, match="not a RIFF"):
        wavio.wav_info(b"\x00" * 64)
    no_data = (b"RIFF" + st.pack("<I", 28) + b"WAVE"
               + b"fmt " + st.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16))
    with _pytest.raises(ValueError, match="missing fmt or data"):
        wavio.wav_info(no_data)
    # too-short signal: pooling refuses rather than emitting junk
    tiny = wavio.encode_wav([0.1] * 8, 8000)
    with _pytest.raises(ValueError, match="too short"):
        wavio.segment_rms_features(wavio.mono_samples(tiny)[1], 16)
    assert _decode_impl(tiny, "audio", "auto") == _fake_features(tiny)
    # non-WAV audio bytes under real: the modality gate
    with _pytest.raises(NotImplementedError, match="audio"):
        _decode_impl(b"mp3 bytes maybe", "audio", "real")


def test_audio_fixture_real_branch(spark):
    """End-to-end over the committed WAV fixtures through the REAL
    branch: media_from_dir tags .wav rows modality='audio', the dup
    pair (snd_000/snd_001) produces bit-identical features, the
    near-dup (snd_004: amplitude 0.79 vs 0.80) is close but not equal,
    and audio_meta returns exact header facts."""
    media = M.media_from_dir(spark, M.MEDIA_FIXTURE_DIR).filter(
        F.col("modality") == "audio"
    )
    rows = media.select("media_id", "meta.mime").collect()
    assert len(rows) == 5
    assert {r["mime"] for r in rows} == {"audio/wav"}
    feats = {
        r["media_id"]: r["features"]
        for r in M.extract_features(media, codec="real").collect()
    }
    # lexicographic rank continues after the 18 image files
    sine, dup, near = feats[1_000_018], feats[1_000_019], feats[1_000_022]
    assert sine == dup
    assert sine != near
    assert max(abs(a - b) for a, b in zip(sine, near)) < 0.02
    meta = {
        r["media_id"]: r for r in M.audio_meta(media).collect()
    }
    assert len(meta) == 5
    for mid, r in meta.items():
        assert r["sample_rate"] == 8000 and r["duration_ms"] == 500
        assert r["n_frames"] == 4000 and r["bits_per_sample"] == 16
        assert r["channels"] == (2 if mid == 1_000_021 else 1)


def test_audio_meta_total_on_undecodable(spark):
    """audio_meta is a total function of the audio rows: text-byte
    stand-ins keep their id with NULL header fields instead of
    dropping."""
    rows = [(1, "audio", b"not a wav"), (2, "image", b"png-ish")]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, content binary"
    )
    got = M.audio_meta(media).collect()
    assert len(got) == 1  # image row filtered, audio row kept
    assert got[0]["media_id"] == 1 and got[0]["sample_rate"] is None


def test_xm04_audio_stats_runs(spark):
    """Registry smoke for the r11 oracle-paired shape: 5 really-decoded
    WAV fixtures with exact header facts (8 kHz, 500 ms, 4000 frames),
    the first-segment-RMS envelope TRUE on every row, and the text
    stand-ins counted through n_undecodable."""
    from etl_notifier_pipeline_spark.plans import all_queries

    df = all_queries()["xm04_audio_stats"](spark, SF_DIR)
    rows = {r["media_id"]: r for r in df.collect()}
    assert len(rows) == 5
    for mid, r in rows.items():
        assert r["sample_rate"] == 8000 and r["duration_ms"] == 500
        assert r["n_frames"] == 4000
        assert r["channels"] == (2 if mid == 1_000_021 else 1)
        assert r["f0_in_envelope"] is True
        assert r["n_undecodable"] == 500


def test_image_decode_facts_total_on_undecodable(spark):
    """image_decode_facts is a total function of the image rows:
    non-image bytes keep their id with NULL facts instead of dropping
    (the contract xm01's fixture-only output relies on)."""
    rows = [(1, "image", b"not an image"), (2, "audio", b"riff-ish")]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, content binary"
    )
    got = M.image_decode_facts(media).collect()
    assert len(got) == 1  # audio row filtered, image row kept
    assert got[0]["media_id"] == 1 and got[0]["container"] is None
    assert got[0]["pixels_complete"] is None


def test_ivfpq_query_rejects_nonpositive_nq_hint():
    """r10 advice: the nq hint drives the broadcast-vs-SMJ LUT branch;
    an nq <= 0 is always a caller bug (and an understated hint would
    re-select the oversized broadcast) — fail fast before planning."""
    with pytest.raises(ValueError, match="nq hint"):
        S.ivfpq_query(None, {}, None, nq=0)
    with pytest.raises(ValueError, match="nq hint"):
        S.ivfpq_query(None, {}, None, nq=-5)


def test_ann_recall_family_requires_merge():
    """r10 advice: tools/ann_recall.py --family without --merge would
    silently drop every unselected family from the artifact — the CLI
    must refuse up front (before any Spark work)."""
    import subprocess

    p = subprocess.run(
        [sys.executable, "tools/ann_recall.py", "/nonexistent",
         "--family", "ivf"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert p.returncode != 0
    assert "--family requires --merge" in (p.stderr + p.stdout)


def test_ann_recall_main_run_carries_merged_sections(tmp_path):
    """r11 advice: a plain full harness run rewrote --json wholesale
    and silently dropped previously merged frontier/maintenance
    sections (353 lines of measured data lost in r11). The carry
    helper must pick them up from --merge's source when given, else
    from the existing artifact at --json, and ignore garbage."""
    import importlib.util as _ilu
    import json

    spec = _ilu.spec_from_file_location(
        "ann_recall_mod", "/root/repo/tools/ann_recall.py"
    )
    mod = _ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)

    art = tmp_path / "ann.json"
    art.write_text(json.dumps(
        {"families": {}, "frontier": {"ivf": {"points": [1]}},
         "maintenance": {"corpus_rows": 5}}
    ))
    # plain run pointing --json at the existing artifact: both carried
    got = mod._carry_sections(None, str(art))
    assert set(got) == {"frontier", "maintenance"}
    assert got["frontier"] == {"ivf": {"points": [1]}}
    # --merge source wins over the --json file per section; a section
    # only the --json artifact carries is backstopped, not dropped
    got = mod._carry_sections({"frontier": {"lsh": {}}}, str(art))
    assert got == {"frontier": {"lsh": {}},
                   "maintenance": {"corpus_rows": 5}}
    # fresh artifact / unreadable file: nothing to carry, no crash
    assert mod._carry_sections(None, str(tmp_path / "absent.json")) == {}
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert mod._carry_sections(None, str(bad)) == {}


def test_ivfpq_lut_shuffle_branch_matches_broadcast(spark, monkeypatch):
    """ivfpq_query degrades the LUT-frame broadcast to a cell-key
    sort-merge join past LUT_BROADCAST_BUDGET_BYTES (a 1000-query
    batch at 2 M vectors weighs ~2.8 GB — over driver maxResultSize;
    SMJ rather than shuffle-hash because the hash-relation build has
    no spill path and exhausted an 8 GB heap at the r10 batch rung).
    The two branches must return identical rows: same candidates, same
    ADC ranks, same exact rerank."""
    from etl_notifier_pipeline_spark.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 6)
    idx, params = S.ivfpq_build(emb, n_cells=8)
    idx = idx.localCheckpoint()  # freeze: both branches read same index
    wide = S.ivfpq_query(idx, params, queries, k=4).collect()
    monkeypatch.setattr(S, "LUT_BROADCAST_BUDGET_BYTES", 0)
    narrow = S.ivfpq_query(idx, params, queries, k=4).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, narrow))
    assert len(wide) > 0


def test_substring_dup_stats_fixture_has_duplicated_shingles(spark):
    """Duplicated shingles occur in the fixture, so x29's DuckDB oracle
    exercises the solely-owned branch of substring_dup_stats."""
    from etl_notifier_pipeline_spark.catalog import load_table
    from etl_notifier_pipeline_spark.extensions import text as X

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = X.substring_dup_stats(d, width=40, stride=20).collect()
    assert any(r["n_dup_shingles"] > 0 for r in rows)


def test_two_phase_fixpoint_star_converges_round_one(spark):
    # r13 convergence-check change (count short-circuit + single
    # anti-join): a star centered at the min node is ALREADY the
    # two-phase fixpoint — round 1 must detect new == old through the
    # equal-count + empty-anti-join path and stop immediately, with
    # correct labels. Pins the set-equality logic (|new| == |old| and
    # new \ old == {} together imply equality for deduped edge sets).
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], ["doc_a", "doc_b"]
    )
    D.LAST_CLUSTER_STATS.clear()
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in D.two_phase_components(pairs).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0)}
    assert D.LAST_CLUSTER_STATS["rounds"] == 1


def test_label_prop_changed_count_no_second_join(spark):
    # r13 label-prop change: the per-round convergence count now reads
    # the (old_label, label) columns of the SAME checkpointed frame
    # instead of re-joining two label frames. Pin that the returned
    # schema is unchanged (no old_label leak) and labels still match
    # the independent union-find on a multi-component graph.
    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (1, 9), (30, 31)], ["doc_a", "doc_b"]
    )
    out = D.dedup_clusters(pairs)
    assert D.LAST_CLUSTER_STATS["fell_back"] is False
    assert out.columns == ["doc_id", "cluster_id"]
    got = {(r["doc_id"], r["cluster_id"]) for r in out.collect()}
    assert got == {(5, 5), (6, 5), (7, 5), (1, 1), (9, 1), (30, 30), (31, 30)}
