"""Multimodal binary-column operators: real image resize/features, WAV
audio (stubbed non-WAV decode) and GIF frame indexing, with real Spark
plumbing (schemas, batch fan-out, stride logic, lineage)."""

import numpy as np

from xcrawl3r_spark.functions.imagecodec import decode_image
from xcrawl3r_spark.operators import multimodal as M


def test_resize_area_exact_downscale():
    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[:4, :, 0] = 100  # top half red=100
    out = M.resize_area(px, 4, 4)
    assert out.shape == (4, 4, 3)
    assert (out[:2, :, 0] == 100).all() and (out[2:, :, 0] == 0).all()


def test_audio_roundtrip_and_stub_gate():
    wave, rate = M.decode_audio(M.synth_audio("a1", 4000, 8000))
    assert len(wave) == 4000 and rate == 8000
    assert abs(float(np.sqrt((wave ** 2).mean())) - 0.3535) < 0.01  # sine rms
    try:
        M.decode_audio(b"fLaC" + b"\x00" * 16)  # no codec lib in sandbox
        raise AssertionError("stub must refuse non-WAV/XPCM payloads")
    except NotImplementedError:
        pass


def test_wav_parse_roundtrip_all_layouts():
    """decode_wav recovers the exact formula samples through every
    obstacle layout (LIST-before-fmt, odd JUNK between fmt and data,
    trailing cue) and rejects non-PCM16-mono declarations."""
    rejected = 0
    for i in range(60):
        p = M.wav_params(i)
        data = M.synth_wav(i)
        reject = p["fmt_code"] != 1 or p["channels"] != 1
        try:
            pcm, rate = M.decode_wav(data)
        except ValueError:
            assert reject, (i, p)
            rejected += 1
            continue
        assert not reject
        assert rate == p["rate"] and len(pcm) == p["n"]
        exp = np.array([M.wav_sample(p["seed"], p["step"], j)
                        for j in range(p["n"])], dtype=np.int16)
        assert (pcm == exp).all(), i
    assert rejected == 9  # i%13==5 (float fmt) + i%17==2 (stereo)
    # real WAV rides decode_audio too (normalized floats)
    wave, rate = M.decode_audio(M.synth_wav(0))
    # /32767 normalization: a full-scale -32768 sample lands at -32768/32767
    assert rate == 8000 and abs(wave).max() <= 32768.0 / 32767.0
    for bad in (b"", b"RIFF....", b"RIFF\x00\x00\x00\x00WAVEdata"):
        try:
            M.decode_wav(bad)
            raise AssertionError("malformed wav must raise")
        except ValueError:
            pass


def test_gif_frame_index_walk():
    """_iter_gif_frames recovers every gif_frame_params formula value
    from real GIF89a bytes — loop extensions, comment pre-blocks,
    graphic-control delays (consumed per-frame), local color tables,
    multi-sub-block LZW chains."""
    for v in range(40):
        frames = list(M._iter_gif_frames(M.synth_gif_video(v)))
        exp = M.gif_frame_params(v)
        assert len(frames) == len(exp)
        for f, e in zip(frames, exp):
            for k in ("frame_idx", "x", "y", "w", "h", "delay_cs",
                      "has_lct", "lzw_len"):
                assert f[k] == e[k], (v, k)
    for bad in (b"", b"GIF89a", b"GIF89a" + b"\x00" * 7 + b"\x99",
                M.synth_video("v1", n_frames=2)):
        try:
            list(M._iter_gif_frames(bad))
            raise AssertionError("malformed gif must raise")
        except ValueError:
            pass


def test_image_features_and_resize_spark(spark):
    from xcrawl3r_spark.sources import datagen as G

    imgs = G.images_df(spark, G.GraphParams(hosts=2, pages_per_host=6),
                       distributed=False)
    feats = M.image_features(imgs).collect()
    assert len(feats) == 12
    assert all(0 <= r["mean_r"] <= 255 and r["part_id"] >= 0 for r in feats)

    small = M.resize_images(imgs, 8, 8)
    rows = small.collect()
    assert len(rows) == 12
    assert all(r["w"] == 8 and r["h"] == 8 for r in rows)
    px = decode_image(rows[0]["bytes"], rows[0]["fmt"])
    assert px.shape == (8, 8, 3)


def test_audio_video_spark(spark):
    # mixed container batch: XPCM fixtures + real WAVs + one reject row
    rows = [(f"a{i}", M.synth_audio(f"a{i}", 2000)) for i in range(5)]
    rows += [(f"w{i}", M.synth_wav(i)) for i in (0, 1, 3)]  # 2 is stereo
    rows.append(("bad", M.synth_wav(5)))  # i%13==5 -> float fmt, drops
    audio = spark.createDataFrame(rows, "audio_id string, bytes binary")
    af = M.audio_features(audio).collect()
    assert len(af) == 8 and not [r for r in af if r["audio_id"] == "bad"]
    by_id = {r["audio_id"]: r for r in af}
    assert all(by_id[f"a{i}"]["rms"] > 0.3 for i in range(5))  # sine rms
    # integer features agree with an independent numpy recompute
    p = M.wav_params(1)
    s = np.array([M.wav_sample(p["seed"], p["step"], j)
                  for j in range(p["n"])], dtype=np.int64)
    r = by_id["w1"]
    assert r["sum_sq"] == int((s * s).sum())
    assert r["zero_crossings"] == int(np.count_nonzero(np.diff(s < 0)))
    assert r["n_samples"] == p["n"] and r["rate"] == p["rate"]


def test_gif_frame_index_spark(spark):
    videos = spark.createDataFrame(
        [(f"g{v}", M.synth_gif_video(v)) for v in range(6)]
        + [("notgif", M.synth_video("x", n_frames=2))],
        "video_id string, bytes binary")
    fs = M.gif_frame_index(videos, stride=2).collect()
    assert not [r for r in fs if r["video_id"] == "notgif"]
    exp_n = sum(len([f for f in M.gif_frame_params(v)
                     if f["frame_idx"] % 2 == 0]) for v in range(6))
    assert len(fs) == exp_n
    r = [x for x in fs if x["video_id"] == "g3" and x["frame_idx"] == 0][0]
    e = M.gif_frame_params(3)[0]
    assert (r["x"], r["y"], r["w"], r["h"], r["delay_cs"]) == (
        e["x"], e["y"], e["w"], e["h"], e["delay_cs"])
    assert all(x["part_id"] >= 0 for x in fs)
