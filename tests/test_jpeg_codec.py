"""JPEG codec pins that need no Spark session: the exact encoder bytes
of every renderer and payload fixture, and the decoder's handling of a
single component's sampling factors."""

import hashlib

from powerpoint_context_extractor_spark import jpeg
from powerpoint_context_extractor_spark.operators import multimodal as mm

# sha256 over every renderer output and fixture payload below: a new
# value means an encoder emits different bytes (and the media payload
# sizes the benchmark reports move with them)
ENCODER_BYTES_SHA = (
    "b05ad29392ea08a76e6699caf1781afd1c00239585520719c57590d9ae40f799")
# sha256 over decode_jpeg's result for every JPEG stream above
DECODE_RESULTS_SHA = (
    "b98ef755d5c2ae51889d1ee018efefaf5ca7a9fc6ad3aa0a10217a744c3e2eb4")


def _noise(n: int, seed: int) -> bytes:
    """Dense-AC pixels: a multiplicative hash of the index."""
    return bytes(((i * 2654435761 + seed * 40503) >> 11) % 256
                 for i in range(n))


def _ramp(w: int, h: int, ch: int) -> bytes:
    """Smooth pixels: few AC terms, so EOB runs and ZRLs show up."""
    return bytes((x * 5 + y * 3 + c * 40) % 256
                 for y in range(h) for x in range(w) for c in range(ch))


def _encoder_outputs():
    for w, h in ((8, 8), (16, 8), (32, 16), (64, 32)):
        for px in (_noise(w * h, w + h), _ramp(w, h, 1)):
            yield jpeg.render_jpeg_gray(w, h, px)
            yield jpeg.render_jpeg_gray_progressive(w, h, px)
            yield jpeg.render_jpeg_gray_progressive_sa(w, h, px)
    for ri in (1, 3):
        yield jpeg.render_jpeg_gray(32, 16, _noise(512, ri),
                                    restart_interval=ri)
    for w, h in ((16, 16), (32, 16), (32, 32)):
        for rgb in (_noise(w * h * 3, w * h), _ramp(w, h, 3)):
            yield jpeg.render_jpeg_color(w, h, rgb)
            yield jpeg.render_jpeg_color_progressive(w, h, rgb)
    yield jpeg.render_jpeg_color(32, 32, _noise(32 * 32 * 3, 2),
                                 restart_interval=2)
    for name in ("jpeg_payload_for_doc", "jpeg_prog_payload_for_doc",
                 "jpeg_dri_payload_for_doc", "jpeg_prog_sa_payload_for_doc",
                 "jpeg_color_payload_for_doc",
                 "jpeg_color_prog_payload_for_doc",
                 "tiff_jpeg_payload_for_doc", "mjpeg_payload_for_doc"):
        for doc_id in range(50):
            yield getattr(mm, name)(doc_id)


def test_jpeg_encoder_bytes_are_pinned():
    h = hashlib.sha256()
    for out in _encoder_outputs():
        h.update(len(out).to_bytes(4, "big"))
        h.update(out)
    assert h.hexdigest() == ENCODER_BYTES_SHA


def test_jpeg_decode_results_are_pinned():
    h = hashlib.sha256()
    for out in _encoder_outputs():
        if out[:2] == b"\xff\xd8":
            w, ht, nc, px = jpeg.decode_jpeg(out)
            h.update(bytes([w, ht, nc]) + px)
    assert h.hexdigest() == DECODE_RESULTS_SHA


def test_single_component_sampling_factors_are_ignored():
    """A one-component frame is decoded block by block whatever its
    SOF sampling byte says, as T.81 A.2.2 prescribes for a
    non-interleaved scan."""
    px = _noise(32 * 16, 5)
    for render in (jpeg.render_jpeg_gray, jpeg.render_jpeg_gray_progressive,
                   jpeg.render_jpeg_gray_progressive_sa):
        data = render(32, 16, px)
        sof = max(data.find(b"\xff\xc0"), data.find(b"\xff\xc2"))
        assert data[sof + 11] == 0x11
        relabeled = data[:sof + 11] + b"\x22" + data[sof + 12:]
        assert jpeg.decode_jpeg(relabeled) == jpeg.decode_jpeg(data)
