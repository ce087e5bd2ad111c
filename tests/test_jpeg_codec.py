"""Baseline-sequential JPEG codec (VERDICT r13 item 4): the stdlib
decoder in operators/multimodal.py, fed by the package's constant-block
fixture encoder and by the general RGB encoder below -- Huffman
entropy coding, dequant, IDCT, YCbCr->RGB, restart intervals,
sampling-factor upsampling -- pinned by a committed golden file,
marker-structure checks against the T.81 layout, exact-decode proofs
for the per-block-constant fixture form, and lossy round-trip property
bounds for arbitrary content."""

from __future__ import annotations

import random
import struct

import pytest

from dbt_metrics_ingestion_script_spark.operators import multimodal as M

# T.81 Annex K typical chrominance tables, (BITS, HUFFVAL) like the
# package's luminance tables; only the RGB encoder below uses them.
_JPEG_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def encode_jpeg_rgb(
    width: int, height: int, rgb: bytes, subsample: bool = False
) -> bytes:
    """General baseline JPEG encoder (3-component JFIF YCbCr, quant all
    ones, standard Annex K tables): float FDCT + rounding, zigzag
    run-length AC coding with ZRL/EOB, interleaved MCUs; 4:4:4 by
    default, 4:2:0 (2x2 luma per MCU, box-averaged chroma) when
    `subsample`.  quant=1 keeps every coefficient, so the decode error
    is bounded by the FDCT/color rounding -- the property the round-trip
    test asserts (<= 2 per channel)."""
    import numpy as np

    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
    ]
    samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    comp_planes = []
    for ci, (hs, vs) in enumerate(samp):
        p = planes[ci]
        if (hs, vs) != (hmax, vmax):
            # box-average chroma down to its sampled resolution
            fh, fv = hmax // hs, vmax // vs
            ph = (height + fv - 1) // fv
            pw = (width + fh - 1) // fh
            padded = np.pad(
                p, ((0, ph * fv - height), (0, pw * fh - width)), mode="edge"
            )
            p = padded.reshape(ph, fv, pw, fh).mean(axis=(1, 3))
        tw, th = 8 * hs * mcux, 8 * vs * mcuy
        p = np.pad(
            p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"
        )
        comp_planes.append(p)
    comps = [(1, *samp[0], 0), (2, *samp[1], 0), (3, *samp[2], 0)]
    out = M._jpeg_headers(
        width,
        height,
        comps,
        [
            (0, 0, M._JPEG_DC_LUM), (1, 0, M._JPEG_AC_LUM),
            (0, 1, _JPEG_DC_CHR), (1, 1, _JPEG_AC_CHR),
        ],
    )
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    out += b"\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    maps = {
        0: (M._jpeg_huff_encode_map(*M._JPEG_DC_LUM),
            M._jpeg_huff_encode_map(*M._JPEG_AC_LUM)),
        1: (M._jpeg_huff_encode_map(*_JPEG_DC_CHR),
            M._jpeg_huff_encode_map(*_JPEG_AC_CHR)),
    }
    A = M._jpeg_dct_matrix()
    w = M._JpegBitWriter()
    preds = [0, 0, 0]

    def emit_block(ci: int, block) -> None:
        import numpy as np

        dc_map, ac_map = maps[0 if ci == 0 else 1]
        coeff = np.rint(A @ (block - 128.0) @ A.T).astype(np.int64)
        zz = [int(coeff.flat[M._JPEG_ZIGZAG[i]]) for i in range(64)]
        s, extra = M._jpeg_magnitude(zz[0] - preds[ci])
        preds[ci] = zz[0]
        w.write(*dc_map[s])
        if s:
            w.write(extra, s)
        last = 63
        while last > 0 and zz[last] == 0:
            last -= 1
        run = 0
        for i in range(1, last + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run >= 16:
                w.write(*ac_map[0xF0])  # ZRL
                run -= 16
            s, extra = M._jpeg_magnitude(zz[i])
            w.write(*ac_map[(run << 4) | s])
            w.write(extra, s)
            run = 0
        if last < 63:
            w.write(*ac_map[0x00])  # EOB

    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hs, vs) in enumerate(samp):
                p = comp_planes[ci]
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        emit_block(ci, p[y0 : y0 + 8, x0 : x0 + 8])
    return bytes(out + w.flush() + b"\xff\xd9")

# committed golden: encode_jpeg_gray_blocks(11, 5, [64, 200],
# restart_interval=1) as of r14 -- byte-format stability pin (any
# change to marker layout, table serialization, bit packing, or
# stuffing shows up here before it hits the registered corpus)
_GOLDEN_HEX = (
    "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101ffc0000b080005000b01011100ffc4001f0000010501010101"
    "010100000000000000000102030405060708090a0bffc400b510000201030302"
    "0403050504040000017d01020300041105122131410613516107227114328191"
    "a1082342b1c11552d1f02433627282090a161718191a25262728292a34353637"
    "38393a434445464748494a535455565758595a636465666768696a7374757677"
    "78797a838485868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4"
    "b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8"
    "e9eaf1f2f3f4f5f6f7f8f9faffdd00040001ffda0008010100003f00fe7febff"
    "d0fe902bffd9"
)


def test_golden_file_bytes_and_decode():
    """The committed golden blob must re-encode byte-identically AND
    decode to the exact per-block pixels."""
    golden = bytes.fromhex(_GOLDEN_HEX)
    assert (
        M.encode_jpeg_gray_blocks(11, 5, [64, 200], restart_interval=1)
        == golden
    )
    w, h, rgb = M.decode_jpeg_rgb(golden)
    assert (w, h) == (11, 5)
    for y in range(h):
        for x in range(w):
            want = 64 if x < 8 else 200
            assert rgb[3 * (y * w + x) : 3 * (y * w + x) + 3] == bytes(
                [want] * 3
            )


def test_golden_marker_structure_matches_t81_layout():
    """Spec-level pins independent of the round trip: SOI first, EOI
    last, SOF0 declares 8-bit precision / 5x11 / 1 component, the DQT
    is 64 ones, the DHT BITS arrays are the Annex K standard tables,
    and the DRI interval is 1."""
    b = bytes.fromhex(_GOLDEN_HEX)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    sof = b.find(b"\xff\xc0")
    assert sof > 0
    # SOF0 payload: len(2) precision(1) height(2) width(2) ncomp(1)
    assert b[sof + 4] == 8
    assert int.from_bytes(b[sof + 5 : sof + 7], "big") == 5
    assert int.from_bytes(b[sof + 7 : sof + 9], "big") == 11
    assert b[sof + 9] == 1
    dqt = b.find(b"\xff\xdb")
    assert set(b[dqt + 5 : dqt + 69]) == {1}
    dht1 = b.find(b"\xff\xc4")
    assert list(b[dht1 + 5 : dht1 + 21]) == M._JPEG_DC_LUM[0]
    dht2 = b.find(b"\xff\xc4", dht1 + 2)
    assert list(b[dht2 + 5 : dht2 + 21]) == M._JPEG_AC_LUM[0]
    dri = b.find(b"\xff\xdd")
    assert int.from_bytes(b[dri + 4 : dri + 6], "big") == 1
    assert b.count(b"\xff\xd0") == 1  # one RST0 between the two MCUs


def test_annex_k_tables_are_valid_canonical_codes():
    """Each shipped table: value count matches the BITS sum, and the
    canonical code assignment satisfies Kraft (prefix-free)."""
    for bits, vals in (
        M._JPEG_DC_LUM, _JPEG_DC_CHR, M._JPEG_AC_LUM, _JPEG_AC_CHR,
    ):
        assert sum(bits) == len(vals) == len(set(vals))
        kraft = sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits))
        assert kraft <= 1.0
        enc = M._jpeg_huff_encode_map(bits, vals)
        codes = {(length, code) for code, length in enc.values()}
        assert len(codes) == len(vals)  # no collisions


def test_constant_block_fixture_is_exactly_lossless():
    """The analytic-oracle precondition: per-block-constant JPEGs
    decode bit-exactly (one DC coefficient survives quant=1 + IDCT
    rounding), including DC-diff sign changes and edge cropping."""
    W, H = 17, 12  # 3x2 blocks, right+bottom crop
    bw = (W + 7) // 8
    vals = [(240 + 17 * b) % 256 for b in range(bw * ((H + 7) // 8))]
    w, h, rgb = M.decode_jpeg_rgb(M.encode_jpeg_gray_blocks(W, H, vals))
    assert (w, h) == (W, H)
    for y in range(H):
        for x in range(W):
            want = vals[(y // 8) * bw + (x // 8)]
            assert rgb[3 * (y * W + x)] == want


@pytest.mark.parametrize("ri", [0, 1, 2, 4, 7])
def test_restart_intervals_reset_dc_prediction(ri):
    W, H = 33, 17  # 5x3 = 15 MCUs
    bw = (W + 7) // 8
    vals = [(30 + 41 * b) % 256 for b in range(bw * ((H + 7) // 8))]
    blob = M.encode_jpeg_gray_blocks(W, H, vals, restart_interval=ri)
    w, h, rgb = M.decode_jpeg_rgb(blob)
    assert (w, h) == (W, H)
    assert all(
        rgb[3 * (y * W + x)] == vals[(y // 8) * bw + (x // 8)]
        for y in range(H)
        for x in range(W)
    )


@pytest.mark.parametrize("seed,dims", [(7, (19, 11)), (23, (8, 8)), (99, (21, 16))])
def test_rgb_444_round_trip_error_bound(seed, dims):
    """quant=1 keeps every coefficient: decode error is bounded by the
    FDCT/color rounding -- <= 2 per channel for arbitrary content."""
    W, H = dims
    random.seed(seed)
    rgb0 = bytes(random.randrange(256) for _ in range(W * H * 3))
    w, h, rgb1 = M.decode_jpeg_rgb(encode_jpeg_rgb(W, H, rgb0))
    assert (w, h) == (W, H)
    assert max(abs(a - b) for a, b in zip(rgb0, rgb1)) <= 2


def test_rgb_420_subsampled_decode():
    """4:2:0: luma carries per-pixel detail at full resolution through
    the 2x2-blocks-per-MCU layout; constant chroma survives the
    box-average + replication upsample within rounding."""
    W, H = 19, 11
    random.seed(5)
    gray = [random.randrange(256) for _ in range(W * H)]
    rgb0 = bytes(v for g in gray for v in (g, g, g))  # chroma-constant
    w, h, rgb1 = M.decode_jpeg_rgb(
        encode_jpeg_rgb(W, H, rgb0, subsample=True)
    )
    assert (w, h) == (W, H)
    assert max(abs(a - b) for a, b in zip(rgb0, rgb1)) <= 2


def test_progressive_and_truncated_rejected():
    blob = bytearray(M.encode_jpeg_gray_blocks(9, 3, [10, 250]))
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="0xFFC2"):
        M.decode_jpeg_rgb(bytes(blob))
    with pytest.raises(ValueError, match="SOI"):
        M.decode_jpeg_rgb(b"\x89PNG not a jpeg")


def test_dispatcher_routes_jpeg():
    blob = M.encode_jpeg_gray_blocks(5, 3, [200])
    assert M.decode_image_rgb(blob)[:2] == (5, 3)


def test_truncated_jpeg_raises_value_error_via_dispatcher():
    """The dispatcher contract: undecodable payloads raise ValueError
    (so decode_stats callers can route), never a bare IndexError from
    the bit reader hitting end-of-buffer."""
    blob = M.encode_jpeg_gray_blocks(17, 12, [(i * 31) % 256 for i in range(6)])
    with pytest.raises(ValueError):
        M.decode_image_rgb(blob[: len(blob) // 2])


def test_sos_with_undeclared_component_raises_value_error():
    """ADVICE r15: a SOS referencing a component id absent from SOF
    raised StopIteration from a bare next(), leaking past the
    dispatcher's ValueError contract.  Now it names the defect."""
    blob = bytearray(M.encode_jpeg_gray_blocks(9, 3, [10, 250]))
    sos = blob.find(b"\xff\xda")
    # SOS layout: FFDA len ns cs1 tables1 ... -> corrupt cs1
    blob[sos + 5] = 0x77
    with pytest.raises(ValueError, match="undeclared component"):
        M.decode_jpeg_rgb(bytes(blob))
    with pytest.raises(ValueError):
        M.decode_image_rgb(bytes(blob))


def test_sos_with_undeclared_huffman_table_raises_value_error():
    """ADVICE r15: a scan selecting a Huffman table id that no DHT
    declared raised KeyError from huff[(cls, id)] mid-entropy-loop;
    now validated up front with the table named."""
    blob = bytearray(M.encode_jpeg_gray_blocks(9, 3, [10, 250]))
    sos = blob.find(b"\xff\xda")
    # tables byte: high nibble DC id, low nibble AC id -> point both
    # at table 3, never declared by the fixture encoder
    blob[sos + 6] = 0x33
    with pytest.raises(ValueError, match="Huffman table"):
        M.decode_jpeg_rgb(bytes(blob))
    with pytest.raises(ValueError):
        M.decode_image_rgb(bytes(blob))
