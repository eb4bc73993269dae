"""Frame sampling and WAV audio metadata/features."""

import numpy as np
import pytest

from docvault_ocr_service_spark.extract.audio import (
    AudioDecodeError, encode_wav, parse_wav)
from docvault_ocr_service_spark.extract.images import (
    decode_png, encode_gif_gray, encode_png, encode_tiff_gray)


def test_parse_wav_roundtrip():
    t = np.arange(8000) / 8000.0
    wave = 0.5 * np.sin(2 * np.pi * 440 * t)          # 1s of A440
    meta = parse_wav(encode_wav(wave, 8000))
    assert meta["channels"] == 1 and meta["sample_rate"] == 8000
    assert meta["bits"] == 16 and meta["n_samples"] == 8000
    assert meta["duration_ms"] == 1000
    # mean |sin| = 2/pi * amplitude; rms = amplitude/sqrt(2)
    assert abs(meta["mean_amplitude"] - 0.5 * 2 / np.pi) < 0.01
    assert abs(meta["rms_amplitude"] - 0.5 / np.sqrt(2)) < 0.01
    with pytest.raises(AudioDecodeError):
        parse_wav(b"RIFFxxxxWAVEbroken")
    with pytest.raises(AudioDecodeError):
        parse_wav(b"not audio at all")


def test_audio_media_features(spark):
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    wave = encode_wav(0.25 * np.ones(4000), 8000)     # 0.5s DC
    rows = [("w", "audio", wave),
            ("m", "audio", b"ID3\x03rest of an mp3"),
            ("u", "audio", b"random bytes")]
    media = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    got = {r["media_id"]: r for r in
           extract_media_features(media, fake=False).collect()}
    w = got["w"]
    assert w["decode_status"] == "ok" and w["format"] == "wav"
    assert w["n_frames"] == 4000
    assert abs(w["brightness"] - 0.25) < 0.01         # mean |amplitude|
    assert w["features"][0] == 500.0                  # duration_ms
    assert got["m"]["decode_status"].startswith("corrupted:no MPEG")
    assert got["u"]["decode_status"] == "unknown_format"


def test_sample_frames(spark):
    from docvault_ocr_service_spark.functions.multimodal import (
        sample_frames)

    frames = [np.full((8, 8), v, dtype=np.uint8)
              for v in (10, 60, 110, 160, 210, 250)]
    rows = [("gif6", encode_gif_gray(frames)),
            ("tif2", encode_tiff_gray(frames[:2])),
            ("png1", encode_png(frames[0])),
            ("bad", b"\x89PNG\r\n\x1a\nbroken")]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    out = sample_frames(media, max_frames=3).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    gif = sorted(by_id["gif6"], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in gif] == [0, 2, 4]  # evenly spaced
    assert [round(r["brightness"]) for r in gif] == [10, 110, 210]
    assert all(r["n_frames"] == 6 and r["status"] == "ok" for r in gif)
    # sampled frames round-trip as PNGs
    assert (decode_png(bytes(gif[1]["frame_png"]))[..., 0] == 110).all()
    assert [r["frame_idx"] for r in by_id["tif2"]] == [0, 1]
    assert len(by_id["png1"]) == 1 and by_id["png1"][0]["n_frames"] == 1
    assert by_id["bad"][0]["status"].startswith("undecodable")


def test_mp3_header_metadata():
    """MP3 frame-walk metadata: rates/bitrates/channel modes round-trip
    the fixture writer, ID3v2 tags skip, truncated tails stop the walk,
    and garbage raises."""
    import pytest

    from docvault_ocr_service_spark.extract.audio import (
        AudioDecodeError, encode_mp3_frames, parse_mp3,
        sniff_audio_format)

    for rate, spf in ((44100, 1152), (22050, 576), (8000, 576)):
        for br in (32, 128):
            for mono in (False, True):
                d = encode_mp3_frames(12, br, rate, mono, id3_bytes=33)
                assert sniff_audio_format(d[:12]) == "mp3"
                m = parse_mp3(d)
                assert (m["sample_rate"], m["bitrate_kbps"]) == (rate, br)
                assert m["channels"] == (1 if mono else 2)
                assert m["n_frames"] == 12
                assert m["duration_ms"] == 12 * spf * 1000 / rate
                assert m["vbr"] is False

    # truncated final frame: walk stops, earlier frames still counted
    d = encode_mp3_frames(5, 128, 44100)
    assert parse_mp3(d[:-10])["n_frames"] == 4
    with pytest.raises(AudioDecodeError):
        parse_mp3(b"\x00" * 5000)


def test_mp3_media_row(spark):
    from docvault_ocr_service_spark.extract.audio import (
        encode_mp3_frames, encode_wav)
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)
    import numpy as np

    rows = [("m", "audio", encode_mp3_frames(8, 64, 22050, mono=True)),
            ("w", "audio", encode_wav(np.full(800, 0.25), 8000)),
            ("o", "audio", b"OggS garbage here")]
    media = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    got = {r["media_id"]: r for r in
           extract_media_features(media, fake=False).collect()}
    m = got["m"]
    assert m["decode_status"] == "metadata_only:mp3"
    assert m["n_frames"] == 8
    assert list(m["features"]) == [8 * 576 * 1000 / 22050, 22050.0, 1.0]
    assert got["w"]["decode_status"] == "ok"
    # Ogg magic but no Vorbis ident header -> honest corruption error
    assert got["o"]["decode_status"].startswith("corrupted:")


def test_flac_ogg_media_rows(spark):
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)
    from fixture_encoders import encode_flac_header, encode_ogg_vorbis_header

    rows = [("f", "audio", encode_flac_header(48000, 2, 16, 96000)),
            ("v", "audio", encode_ogg_vorbis_header(22050, 1, 44100))]
    media = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    got = {r["media_id"]: r for r in
           extract_media_features(media, fake=False).collect()}
    f = got["f"]
    assert f["decode_status"] == "metadata_only:flac"
    assert list(f["features"]) == [2000.0, 48000.0, 2.0]
    v = got["v"]
    assert v["decode_status"] == "metadata_only:ogg"
    assert list(v["features"]) == [2000.0, 22050.0, 1.0]


def test_ogg_truncated_ident_and_payload_magic():
    """Truncated Vorbis ident -> AudioDecodeError (not IndexError);
    'OggS' bytes inside packet payloads must not corrupt the duration."""
    import pytest

    from docvault_ocr_service_spark.extract.audio import (
        AudioDecodeError, parse_ogg_vorbis)
    from fixture_encoders import encode_ogg_vorbis_header

    trunc = (b"OggS" + b"\x00" * 22 + bytes([30]) + b"\x00" * 30
             + b"\x01vorbis")
    with pytest.raises(AudioDecodeError):
        parse_ogg_vorbis(trunc)

    # append a fake final 'page' whose magic sits INSIDE a payload: the
    # page walk must ignore it (granule comes from real page headers)
    good = encode_ogg_vorbis_header(22050, 2, 44100)
    poisoned = good[:-1] + b"OggS" + (10**12).to_bytes(8, "little") + b"x"
    m = parse_ogg_vorbis(poisoned)
    assert m["n_samples"] == 44100
