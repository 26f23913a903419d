"""Ogg Vorbis codec tests (operators/vorbis.py).

Strategy: the transforms are pinned against
direct-matrix evaluations of the spec formulas; the bitstream layer is
exercised by encode→decode round trips through the REAL setup parser
(the fixture encoder writes a full spec-conformant setup header, so
codebook assignment, floor1 decode, residue type 2, and the Ogg layer
all run on every round trip); hybrid long/short window lapping — which
the single-blocksize encoder can't reach — is verified by a pure-math
mixed-blocksize overlap-add reconstruction; Ogg packet spanning and CRC
rejection are driven by hand-built pages."""

import numpy as np
import pytest

from speech_data_pipeline_spark.operators.vorbis import (
    Codebook,
    _Lap,
    _LsbWriter,
    _Lsb,
    _lookup1_values,
    _ogg_page,
    _render_line,
    assign_codewords,
    decode_vorbis_bytes,
    encode_vorbis,
    float32_pack,
    float32_unpack,
    ilog,
    imdct,
    mdct,
    ogg_packets,
    parse_codebook,
    vorbis_window,
)


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------


def _mdct_matrix(n):
    k = np.arange(n // 2)
    i = np.arange(n)
    return np.cos(
        np.pi / (2 * n) * (2 * i[:, None] + 1 + n / 2) * (2 * k[None, :] + 1)
    )


@pytest.mark.parametrize("n", [64, 256, 2048])
def test_transforms_match_direct_matrices(n):
    rng = np.random.default_rng(n)
    x = rng.standard_normal(n)
    M = _mdct_matrix(n)
    assert np.allclose(mdct(x), M.T @ x, atol=1e-9)
    X = rng.standard_normal(n // 2)
    assert np.allclose(imdct(X), M @ X, atol=1e-9)


def test_ola_cascade_gain_is_n_over_4():
    """The spec IMDCT has no scale factor; analysis+window+OLA gain is
    n/4 — the constant the encoder divides out."""
    n = 128
    rng = np.random.default_rng(7)
    sig = rng.standard_normal(n * 6)
    w = vorbis_window(n, n, n)
    out = np.zeros_like(sig)
    hop = n // 2
    for b in range((len(sig) - n) // hop + 1):
        seg = sig[b * hop : b * hop + n]
        out[b * hop : b * hop + n] += imdct(mdct(seg * w)) * w
    core = slice(n, len(sig) - n)
    assert np.allclose(out[core], sig[core] * (n / 4), atol=1e-8)


def test_mixed_blocksize_lap_reconstruction():
    """Hybrid windows + _Lap: a short→long→long→short block sequence
    with the spec's slope placement reconstructs the signal exactly.
    Block positions follow S_next = S_prev + 3*prev_n/4 - cur_n/4
    (centers advance by prev_n/4 + cur_n/4 = the samples finalized)."""
    n0, n1 = 256, 1024
    # (n, left_n, right_n): slope sizes per the prev/next window flags
    seq = [
        (n0, n0, n0),
        (n0, n0, n0),
        (n1, n0, n1),   # long block, prev short, next long
        (n1, n1, n0),   # long block, prev long, next short
        (n0, n0, n0),
        (n0, n0, n0),
    ]
    starts = [0]
    for (pn, _, _), (cn, _, _) in zip(seq, seq[1:]):
        starts.append(starts[-1] + 3 * pn // 4 - cn // 4)
    total = starts[-1] + seq[-1][0]
    rng = np.random.default_rng(3)
    sig = rng.standard_normal(total)
    lap = _Lap(1)
    out = []
    for (n, ln, rn), s in zip(seq, starts):
        w = vorbis_window(n, ln, rn)
        X = (4.0 / n) * mdct(sig[s : s + n] * w)
        out.extend(lap.add([imdct(X) * w])[0].tolist())
    got = np.array(out)
    # decoded stream covers [C_0, C_last) = [128, starts[-1] + 128)
    ref = sig[n0 // 2 : starts[-1] + n0 // 2]
    assert len(got) == len(ref)
    assert np.allclose(got, ref, atol=1e-8)


# ---------------------------------------------------------------------------
# bit-level primitives
# ---------------------------------------------------------------------------


def test_lsb_bit_order_round_trip():
    w = _LsbWriter()
    w.write(0b101, 3)
    w.write(0x5C, 8)
    w.write(1, 1)
    w.write(0x3FFFF, 18)
    r = _Lsb(w.bytes())
    assert r.read(3) == 0b101
    assert r.read(8) == 0x5C
    assert r.read(1) == 1
    assert r.read(18) == 0x3FFFF
    with pytest.raises(ValueError, match="truncated"):
        r.read(8)


def test_float32_pack_unpack():
    for v in [-128.0, 1.0, 0.25, 3.0, -0.5, 0.0, 255.0]:
        assert float32_unpack(float32_pack(v)) == v


def test_ilog_spec_values():
    # spec §9.2.1 examples
    assert [ilog(x) for x in [0, 1, 2, 3, 4, 7]] == [0, 1, 2, 2, 3, 3]
    assert ilog(-1) == 0


def test_assign_codewords_canonical_example():
    """Spec §3.2.1's worked example: lengths [2,4,4,4,4,2,3,3] must get
    codewords 00, 0100, 0101, 0110, 0111, 10, 110, 111."""
    codes = assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    assert codes == {
        0: 0b00, 1: 0b0100, 2: 0b0101, 3: 0b0110, 4: 0b0111,
        5: 0b10, 6: 0b110, 7: 0b111,
    }


def test_assign_codewords_prefix_free_and_oversubscribed():
    lengths = [3, 3, 3, 3, 3, 3, 3, 3]
    codes = assign_codewords(lengths)
    bits = {format(codes[i], f"0{lengths[i]}b") for i in codes}
    assert len(bits) == 8
    for a in bits:
        for b in bits:
            if a != b:
                assert not b.startswith(a)
    with pytest.raises(ValueError, match="over-subscribed"):
        assign_codewords([1, 1, 1])


def test_lookup1_values():
    assert _lookup1_values(257, 1) == 257
    assert _lookup1_values(9, 2) == 3
    assert _lookup1_values(8, 2) == 2
    assert _lookup1_values(27, 3) == 3


def test_render_line_is_integer_bresenham():
    v = np.zeros(8, dtype=np.int64)
    _render_line(0, 0, 8, 4, v, 8)
    assert v.tolist() == [0, 0, 1, 1, 2, 2, 3, 3]
    v = np.zeros(8, dtype=np.int64)
    _render_line(0, 7, 8, 0, v, 8)  # negative slope, truncating division
    assert v[0] == 7 and v[7] == 1
    assert all(np.diff(v) <= 0)


# ---------------------------------------------------------------------------
# codebook parse paths (ordered / sparse / lookup 2) and residue fmt 0
# ---------------------------------------------------------------------------


def _parse_book_from_bits(fill):
    w = _LsbWriter()
    w.write(0x564342, 24)
    fill(w)
    return parse_codebook(_Lsb(w.bytes()))


def test_parse_codebook_ordered_lengths():
    def fill(w):
        w.write(2, 16)   # dims
        w.write(5, 24)   # entries
        w.write(1, 1)    # ordered
        w.write(1, 5)    # start length 2
        # 3 entries at len 2 (ilog(5)=3 bits), then 2 at len 3 (ilog(2)=2)
        w.write(3, 3)
        w.write(2, 2)
        w.write(0, 4)    # no lookup

    book = _parse_book_from_bits(fill)
    assert book.lengths == [2, 2, 2, 3, 3]


def test_parse_codebook_sparse_and_lookup2():
    def fill(w):
        w.write(2, 16)
        w.write(3, 24)
        w.write(0, 1)    # not ordered
        w.write(1, 1)    # sparse
        w.write(1, 1); w.write(0, 5)   # entry 0: used, len 1
        w.write(0, 1)                   # entry 1: unused
        w.write(1, 1); w.write(0, 5)   # entry 2: used, len 1
        w.write(2, 4)    # lookup type 2: explicit, entries*dims = 6
        w.write(float32_pack(-1.0), 32)
        w.write(float32_pack(0.5), 32)
        w.write(2, 4)    # value_bits 3
        w.write(0, 1)    # sequence_p
        for m in [0, 2, 4, 6, 1, 3]:
            w.write(m, 3)

    book = _parse_book_from_bits(fill)
    assert book.lengths == [1, 0, 1]
    assert np.allclose(book.vectors[0], [-1.0, 0.0])
    assert np.allclose(book.vectors[1], [1.0, 2.0])
    assert np.allclose(book.vectors[2], [-0.5, 0.5])


def test_residue_format0_interleaved_add():
    """Format 0 writes entry components strided by partition_size/dims."""
    from speech_data_pipeline_spark.operators.vorbis import Residue

    book = Codebook(2, 2, [1, 1], np.array([[1.0, 2.0], [3.0, 4.0]]))
    w = _LsbWriter()
    book.encode_scalar(w, 0)
    book.encode_scalar(w, 1)
    v = np.zeros(4)
    Residue._decode_partition(_Lsb(w.bytes()), book, v, 0, 4, fmt=0)
    assert v.tolist() == [1.0, 3.0, 2.0, 4.0]
    v = np.zeros(4)
    w2 = _LsbWriter()
    book.encode_scalar(w2, 0)
    book.encode_scalar(w2, 1)
    Residue._decode_partition(_Lsb(w2.bytes()), book, v, 0, 4, fmt=1)
    assert v.tolist() == [1.0, 2.0, 3.0, 4.0]


def test_inverse_coupling_quadrants():
    """Square-polar de-coupling, all four sign quadrants (spec §4.3.5):
    (5,3)->(5,2) (5,-3)->(2,5) (-5,3)->(-5,-2) (-5,-3)->(-2,-5)."""
    from speech_data_pipeline_spark.operators.vorbis import (
        Mapping, decode_audio_packet,  # noqa: F401 (import sanity)
    )

    m = np.array([5.0, 5.0, -5.0, -5.0])
    a = np.array([3.0, -3.0, 3.0, -3.0])
    new_m = np.where(a > 0, m, m + a)
    new_a = np.where(a > 0, m - a, m)
    neg = m <= 0
    new_m = np.where(neg & (a > 0), m, new_m)
    new_a = np.where(neg & (a > 0), m + a, new_a)
    new_m = np.where(neg & (a <= 0), m - a, new_m)
    new_a = np.where(neg & (a <= 0), m, new_a)
    assert new_m.tolist() == [5.0, 2.0, -5.0, -2.0]
    assert new_a.tolist() == [2.0, 5.0, -2.0, -5.0]


# ---------------------------------------------------------------------------
# Ogg layer
# ---------------------------------------------------------------------------


def test_ogg_crc_rejects_corruption():
    sr = 8000
    blob = bytearray(encode_vorbis([np.zeros(500)], sr))
    # flip one payload byte in the last page body
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_vorbis_bytes(bytes(blob))


def test_ogg_packet_spans_pages():
    """A packet whose lacing ends with 255 continues on the next page
    (continuation flag); reassembly must yield the original bytes."""
    payload = bytes(range(256)) * 2  # 512 bytes
    serial = 99
    # page 1 carries the first 510 bytes as [255, 255] (no terminator)
    head = (
        b"OggS\x00\x02" + (0).to_bytes(8, "little")
        + serial.to_bytes(4, "little") + (0).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + bytes([2, 255, 255]) + payload[:510]
    )
    from speech_data_pipeline_spark.operators.vorbis import _ogg_crc

    head = head[:22] + _ogg_crc(head[:22] + b"\x00\x00\x00\x00" + head[26:]).to_bytes(4, "little") + head[26:]
    tail = (
        b"OggS\x00\x05" + (77).to_bytes(8, "little")
        + serial.to_bytes(4, "little") + (1).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + bytes([1, 2]) + payload[510:]
    )
    tail = tail[:22] + _ogg_crc(tail[:22] + b"\x00\x00\x00\x00" + tail[26:]).to_bytes(4, "little") + tail[26:]
    pkts = list(ogg_packets(head + tail))
    assert len(pkts) == 1
    data, granule, eos = pkts[0]
    assert data == payload
    assert granule == 77 and eos


def test_ogg_page_lacing_255_multiple():
    """A packet of exactly 255*k bytes needs a trailing 0 lacing value."""
    pkt = bytes(255)
    page = _ogg_page(5, 0, 0, [pkt], bos=True)
    segs = page[26]
    assert segs == 2 and page[27:29] == bytes([255, 0])
    got = list(ogg_packets(page))
    assert got[0][0] == pkt


# ---------------------------------------------------------------------------
# end-to-end round trips
# ---------------------------------------------------------------------------


def test_round_trip_mono_sine_snr_and_exact_length():
    sr = 8000
    t = np.arange(4001)  # deliberately not a block multiple
    sig = 0.5 * np.sin(2 * np.pi * 440 * t / sr)
    blob = encode_vorbis([sig], sr)
    dec, dsr = decode_vorbis_bytes(blob)
    assert dsr == sr
    assert len(dec) == len(sig)  # final-granule truncation is exact
    got = np.array(dec)
    err = got - sig
    snr = 10 * np.log10(np.dot(sig, sig) / np.dot(err, err))
    assert snr > 35.0


def test_round_trip_stereo_channels_kept_apart():
    sr = 16000
    t = np.arange(5000)
    L = 0.5 * np.sin(2 * np.pi * 440 * t / sr)
    R = 0.3 * np.sin(2 * np.pi * 880 * t / sr)
    chans, dsr = decode_vorbis_bytes(encode_vorbis([L, R], sr), mono=False)
    assert dsr == sr and len(chans) == 2
    for ref, got in [(L, np.array(chans[0])), (R, np.array(chans[1]))]:
        err = got - ref
        assert 10 * np.log10(np.dot(ref, ref) / np.dot(err, err)) > 35.0


def test_round_trip_silence_uses_unaudible_channel_path():
    dec, _ = decode_vorbis_bytes(encode_vorbis([np.zeros(1000)], 8000))
    assert len(dec) == 1000
    assert max(abs(v) for v in dec) == 0.0


def test_opus_payload_raises_documented_seam():
    ident = b"OpusHead" + bytes([1, 1]) + (0).to_bytes(2, "little") + (
        48000
    ).to_bytes(4, "little") + bytes(3)
    page = _ogg_page(11, 0, 0, [ident], bos=True)
    with pytest.raises(NotImplementedError, match="Opus"):
        decode_vorbis_bytes(page)


def test_floor0_raises_documented_seam():
    """A setup header declaring floor type 0 (legacy LSP) hits the seam."""
    from speech_data_pipeline_spark.operators.vorbis import parse_setup

    w = _LsbWriter()
    w.write_bytes(b"\x05vorbis")
    w.write(0, 8)            # 1 codebook
    w.write(0x564342, 24)
    w.write(1, 16)
    w.write(1, 24)
    w.write(0, 1)
    w.write(0, 1)
    w.write(0, 5)
    w.write(0, 4)
    w.write(0, 6)            # 1 time transform
    w.write(0, 16)
    w.write(0, 6)            # 1 floor
    w.write(0, 16)           # floor type 0
    with pytest.raises(NotImplementedError, match="floor type 0"):
        parse_setup(w.bytes(), 1, 8000, (256, 256))


def test_truncated_audio_packet_raises():
    sr = 8000
    t = np.arange(1000)
    blob = encode_vorbis([0.4 * np.sin(2 * np.pi * 300 * t / sr)], sr)
    # chop the stream inside the last page body: the page CRC catches it
    with pytest.raises(ValueError):
        decode_vorbis_bytes(blob[: len(blob) - 30])


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def test_decode_media_spark_path_vorbis(spark):
    from speech_data_pipeline_spark.operators.multimodal import decode_media

    sr = 8000
    t = np.arange(2000)
    sig = 0.4 * np.sin(2 * np.pi * 440 * t / sr)
    blob = encode_vorbis([sig], sr)
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, payload binary"
    )
    row = decode_media(df).collect()[0]
    assert row["sr"] == sr
    assert len(row["samples"]) == 2000
    got = np.array(row["samples"])
    err = got - sig
    assert 10 * np.log10(np.dot(sig, sig) / np.dot(err, err)) > 35.0


# ---------------------------------------------------------------------------
# mixed long/short-block streams (hybrid windows through the bitstream)
# ---------------------------------------------------------------------------


def test_mixed_blocksize_round_trip_mono():
    """The two-blocksize encoder writes short→long, long→long and
    long→short transitions; the decoder's window flags and hybrid
    slopes must reconstruct with exact length and clean SNR."""
    from speech_data_pipeline_spark.operators.vorbis import (
        encode_vorbis_mixed,
    )

    sr = 8000
    t = np.arange(9001)
    sig = 0.5 * np.sin(2 * np.pi * 440 * t / sr) + 0.2 * np.sin(
        2 * np.pi * 1234 * t / sr
    )
    blob = encode_vorbis_mixed([sig], sr)
    dec, dsr = decode_vorbis_bytes(blob)
    assert dsr == sr and len(dec) == len(sig)
    got = np.array(dec)
    err = got - sig
    assert 10 * np.log10(np.dot(sig, sig) / np.dot(err, err)) > 30.0


def test_mixed_blocksize_round_trip_stereo_and_probe():
    from speech_data_pipeline_spark.operators.vorbis import (
        encode_vorbis_mixed,
    )

    sr = 16000
    t = np.arange(7003)
    L = 0.5 * np.sin(2 * np.pi * 440 * t / sr)
    R = 0.3 * np.sin(2 * np.pi * 880 * t / sr)
    blob = encode_vorbis_mixed([L, R], sr)
    chans, dsr = decode_vorbis_bytes(blob, mono=False)
    assert dsr == sr and len(chans) == 2 and len(chans[0]) == len(L)
    for ref, got in [(L, np.array(chans[0])), (R, np.array(chans[1]))]:
        err = got - ref
        assert 10 * np.log10(np.dot(ref, ref) / np.dot(err, err)) > 30.0


def test_mixed_stream_actually_uses_both_modes():
    """Paranoia: the packets must really select both modes (short and
    long blocks), otherwise the hybrid path isn't exercised."""
    from speech_data_pipeline_spark.operators.vorbis import (
        encode_vorbis_mixed, ogg_packets,
    )

    blob = encode_vorbis_mixed([np.ones(6000) * 0.1], 8000)
    modes = []
    for i, (pkt, _, _) in enumerate(ogg_packets(blob)):
        if i < 3:
            continue  # headers
        r = _Lsb(pkt)
        assert r.read(1) == 0
        modes.append(r.read(1))
    assert 0 in modes and 1 in modes


# ---------------------------------------------------------------------------
# square-polar coupling through the bitstream
# ---------------------------------------------------------------------------


def test_couple_forward_inverts_all_quadrants():
    from speech_data_pipeline_spark.operators.vorbis import _couple_forward

    def inverse(m, a):
        if m > 0:
            return (m, m - a) if a > 0 else (m + a, m)
        return (m, m + a) if a > 0 else (m - a, m)

    rng = np.random.default_rng(5)
    quads = set()
    for _ in range(500):
        l_v, r_v = int(rng.integers(-63, 64)), int(rng.integers(-63, 64))
        m, a = _couple_forward(l_v, r_v)
        assert inverse(m, a) == (l_v, r_v)
        quads.add((m > 0, a > 0))
    assert len(quads) == 4  # all four decoder branches exercised


def test_coupled_stereo_round_trip():
    """One square-polar coupling step in the mapping: the decoder's
    §4.3.5 inverse runs on every packet and both channels reconstruct."""
    from speech_data_pipeline_spark.operators.vorbis import (
        encode_vorbis_coupled,
    )

    sr = 8000
    t = np.arange(5000)
    L = 0.5 * np.sin(2 * np.pi * 440 * t / sr)
    R = -0.4 * np.sin(2 * np.pi * 620 * t / sr) + 0.1 * np.sin(
        2 * np.pi * 50 * t / sr
    )
    chans, dsr = decode_vorbis_bytes(
        encode_vorbis_coupled([L, R], sr), mono=False
    )
    assert dsr == sr and len(chans[0]) == len(L)
    for ref, got in [(L, np.array(chans[0])), (R, np.array(chans[1]))]:
        err = got - ref
        assert 10 * np.log10(np.dot(ref, ref) / np.dot(err, err)) > 25.0


def test_coupled_stream_with_one_silent_channel():
    """Nonzero-vector propagation (spec §4.3.3): the silent channel's
    floor bit is 0 but its residue still decodes because its coupling
    partner is audible; output must stay silent on that channel."""
    from speech_data_pipeline_spark.operators.vorbis import (
        encode_vorbis_coupled,
    )

    sr = 8000
    t = np.arange(3000)
    L = 0.5 * np.sin(2 * np.pi * 440 * t / sr)
    R = np.zeros(3000)
    chans, _ = decode_vorbis_bytes(
        encode_vorbis_coupled([L, R], sr), mono=False
    )
    gotL = np.array(chans[0])
    err = gotL - L
    assert 10 * np.log10(np.dot(L, L) / np.dot(err, err)) > 25.0
