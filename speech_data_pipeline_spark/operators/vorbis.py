"""Pure-NumPy Ogg Vorbis I codec: decoder + deterministic fixture encoder.

Why this exists: the reference pipeline feeds its decode backend every
container the backend accepts — ``.ogg`` is one of the six accepted
extensions (reference modules/models/utils.py:11-16; decode happens in
modules/separation_filter.py:101 via the librosa/audioread backend).
This container ships no codec backend, so this repo decodes natively.
Unlike MP3 Layer III and AAC (whose spectral Huffman code tables are
external ISO tabular data an offline build cannot derive), Vorbis I
carries its ENTIRE Huffman codebook set and floor/residue configuration
inside the stream setup header — the format is fully decodable from the
public Vorbis I specification (Xiph.Org Foundation) plus the Ogg
framing spec (RFC 3533), which is what everything below is derived
from. No code is taken from any existing decoder.

Scope — the complete Vorbis I decode chain:

- Ogg layer: page parse with CRC-32 verify (poly 0x04C11DB7, unreflected,
  zero init/xorout, CRC field zeroed during computation), lacing-value
  packet reassembly including packets spanning pages (continuation flag).
- Setup parse: codebooks (ordered and sparse length lists, the spec's
  first-fit "lowest available codeword" assignment, lookup types 0/1/2
  with the 21-bit-mantissa ``float32_unpack`` quirk), floor type 1 config,
  residue types 0/1/2, mapping type 0 (submaps, square-polar coupling),
  modes.  Floor type 0 (the legacy LSP floor, absent from modern
  encoders) raises a documented ``NotImplementedError`` seam.
- Audio decode: floor1 amplitude decode (masterbook/subclass books,
  low/high neighbor prediction, the exact integer ``render_point`` /
  ``render_line`` Bresenham of spec §9.2.6-7) and dB-table curve
  synthesis; residue partition decode (formats 0/1/2, classword
  expansion, 8-stage cascade); square-polar channel de-coupling; the
  IMDCT (FFT-backed via a DCT-IV factorization — O(n log n), exact to
  the direct transform); Vorbis windowing with hybrid long/short slope
  placement; window overlap-add lapping that handles mixed blocksizes;
  final-granule tail truncation.

The encoder exists to make self-contained fixtures (same pattern as the
FLAC encoder in operators/flac.py): it writes a minimal but
fully spec-conformant mono/stereo stream — one 256-sample mode, a
two-point floor1 line per channel, residue type 2 with a 257-entry
lookup-type-1 value codebook — and every bit of it goes through the
same setup/floor/residue/codebook machinery the decoder parses, so
round-trip tests exercise the real paths, not a shortcut.

MDCT convention note: the spec IMDCT is
``y[i] = sum_k X[k] cos(pi/(2n) (2i+1+n/2)(2k+1))`` with no scale
factor; the analysis+window+OLA cascade then has gain n/4 (verified
numerically in tests), so the encoder scales its forward MDCT by 4/n.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Ogg framing (RFC 3533)
# ---------------------------------------------------------------------------

_CRC_TABLE: list[int] | None = None


def _ogg_crc(data: bytes) -> int:
    """CRC-32, poly 0x04C11DB7, unreflected, init 0, no final xor."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tab = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            tab.append(r)
        _CRC_TABLE = tab
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def ogg_pages(b: bytes):
    """Yield ``(header_type, granule, serial, seq, segments)`` per page;
    ``segments`` is the list of (bytes, complete_flag) lacing runs.
    Verifies each page CRC."""
    pos = 0
    while pos + 27 <= len(b):
        if b[pos : pos + 4] != b"OggS":
            raise ValueError("bad Ogg capture pattern")
        if b[pos + 4] != 0:
            raise ValueError("unsupported Ogg version")
        header_type = b[pos + 5]
        (granule,) = struct.unpack("<q", b[pos + 6 : pos + 14])
        (serial, seq, crc) = struct.unpack("<III", b[pos + 14 : pos + 26])
        nseg = b[pos + 26]
        table = b[pos + 27 : pos + 27 + nseg]
        body_start = pos + 27 + nseg
        body_len = sum(table)
        page = b[pos : body_start + body_len]
        if body_start + body_len > len(b):
            raise ValueError("truncated Ogg page")
        zeroed = page[:22] + b"\x00\x00\x00\x00" + page[26:]
        if _ogg_crc(zeroed) != crc:
            raise ValueError("Ogg page CRC mismatch")
        # reassemble lacing runs into packet fragments
        segs = []
        off = body_start
        cur = bytearray()
        for lace in table:
            cur.extend(b[off : off + lace])
            off += lace
            if lace < 255:
                segs.append((bytes(cur), True))
                cur = bytearray()
        if cur:
            segs.append((bytes(cur), False))  # continues on next page
        yield header_type, granule, serial, seq, segs
        pos = body_start + body_len


def ogg_packets(b: bytes):
    """Reassemble the logical packet stream of the FIRST serial in the
    physical stream.  Yields ``(packet_bytes, page_granule, eos)`` where
    ``page_granule`` is the granule of the page the packet ENDS on (or
    None when the packet doesn't end a page's lacing)."""
    target = None
    partial = bytearray()
    for header_type, granule, serial, seq, segs in ogg_pages(b):
        if target is None and header_type & 0x02:
            target = serial
        if serial != target:
            continue
        eos = bool(header_type & 0x04)
        if not (header_type & 0x01):
            partial = bytearray()  # fresh packet starts this page
        for i, (frag, complete) in enumerate(segs):
            partial.extend(frag)
            if complete:
                last = i == len(segs) - 1
                yield bytes(partial), (granule if last else None), (
                    eos and last
                )
                partial = bytearray()


def _ogg_page(
    serial: int, seq: int, granule: int, packets: list[bytes],
    bos: bool = False, eos: bool = False,
) -> bytes:
    table = bytearray()
    body = bytearray()
    for p in packets:
        q, r = divmod(len(p), 255)
        table.extend([255] * q)
        table.append(r)  # a 255-multiple length needs the trailing 0 too
        body.extend(p)
    if len(table) > 255:
        raise ValueError("too many lacing values for one page")
    header_type = (0x02 if bos else 0) | (0x04 if eos else 0)
    head = (
        b"OggS\x00"
        + bytes([header_type])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(table)])
        + bytes(table)
    )
    page = head + bytes(body)
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


# ---------------------------------------------------------------------------
# LSB-first bit packing (Vorbis I spec §2)
# ---------------------------------------------------------------------------


class _Lsb:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def read(self, nbits: int) -> int:
        v = 0
        got = 0
        p = self.pos
        d = self.data
        n8 = len(d) * 8
        while got < nbits:
            if p >= n8:
                raise ValueError("truncated vorbis packet")
            take = min(8 - (p & 7), nbits - got)
            v |= ((d[p >> 3] >> (p & 7)) & ((1 << take) - 1)) << got
            got += take
            p += take
        self.pos = p
        return v


class _LsbWriter:
    __slots__ = ("buf", "cur", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.cur |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def write_bytes(self, b: bytes) -> None:
        for byte in b:
            self.write(byte, 8)

    def bytes(self) -> bytes:
        out = bytes(self.buf)
        if self.nbits:
            out += bytes([self.cur & 0xFF])
        return out


def ilog(x: int) -> int:
    """Spec §9.2.1: position of the highest set bit; <=0 -> 0."""
    return x.bit_length() if x > 0 else 0


def float32_unpack(x: int) -> float:
    """Spec §9.2.2: sign(1) | exponent(10) | mantissa(21), bias 788."""
    mant = x & 0x1FFFFF
    sign = -1.0 if x & 0x80000000 else 1.0
    exp = (x & 0x7FE00000) >> 21
    return sign * mant * 2.0 ** (exp - 788)


def float32_pack(v: float) -> int:
    """Inverse of :func:`float32_unpack` (encoder side); exact for the
    integer-valued min/delta fields the fixture encoder writes."""
    if v == 0:
        return 788 << 21
    sign = 0x80000000 if v < 0 else 0
    fm, fe = math.frexp(abs(v))  # |v| = fm * 2^fe, fm in [0.5, 1)
    mant = int(round(fm * (1 << 21)))
    exp = fe - 21 + 788
    if mant == 1 << 21:
        mant >>= 1
        exp += 1
    if not (0 <= exp < 1024):
        raise ValueError("float out of packable range")
    return sign | (exp << 21) | mant


# ---------------------------------------------------------------------------
# codebooks (spec §3)
# ---------------------------------------------------------------------------


def assign_codewords(lengths: list[int]) -> dict[int, int]:
    """Spec §3.2.1 codeword assignment: each used entry receives, in
    entry order, the numerically lowest unused codeword of its length
    (first-fit), keeping the code prefix-free.  Implemented by tracking
    free subtree roots: taking a codeword of length l from root (L, c)
    assigns ``c << (l-L)`` (the all-zeros descent) and frees the sibling
    at every level on the way down."""
    free: list[tuple[int, int]] = [(0, 0)]
    codes: dict[int, int] = {}
    for i, l in enumerate(lengths):
        if l <= 0:
            continue
        best = -1
        bestv = None
        for idx, (L, c) in enumerate(free):
            if L <= l:
                v = c << (40 - L)  # fractional position, common scale
                if bestv is None or v < bestv:
                    bestv = v
                    best = idx
        if best < 0:
            raise ValueError("over-subscribed huffman code lengths")
        L, c = free.pop(best)
        codes[i] = c << (l - L)
        for k in range(1, l - L + 1):
            free.append((L + k, (c << k) | 1))
    return codes


def _lookup1_values(entries: int, dims: int) -> int:
    """Largest integer v with v**dims <= entries (spec §9.2.3)."""
    v = int(entries ** (1.0 / dims))
    while (v + 1) ** dims <= entries:
        v += 1
    while v > 0 and v ** dims > entries:
        v -= 1
    return v


class Codebook:
    __slots__ = ("dims", "entries", "lengths", "table", "maxlen", "vectors")

    def __init__(self, dims, entries, lengths, vectors):
        self.dims = dims
        self.entries = entries
        self.lengths = lengths
        codes = assign_codewords(lengths)
        self.table = {
            (lengths[e], c): e for e, c in codes.items()
        }
        self.maxlen = max((l for l in lengths if l > 0), default=0)
        self.vectors = vectors

    def decode_scalar(self, r: _Lsb) -> int:
        acc = 0
        ln = 0
        tab = self.table
        while ln < self.maxlen:
            acc = (acc << 1) | r.read(1)
            ln += 1
            e = tab.get((ln, acc))
            if e is not None:
                return e
        raise ValueError("invalid vorbis codeword")

    def decode_vq(self, r: _Lsb) -> np.ndarray:
        if self.vectors is None:
            raise ValueError("scalar codebook used in VQ context")
        return self.vectors[self.decode_scalar(r)]

    def encode_scalar(self, w: _LsbWriter, entry: int) -> None:
        """Fixture-encoder side: emit the codeword MSB-first (the first
        transmitted bit is the root branch)."""
        l = self.lengths[entry]
        code = None
        for (ln, c), e in self.table.items():
            if e == entry:
                code = c
                l = ln
                break
        if code is None:
            raise ValueError("entry has no codeword")
        for i in range(l - 1, -1, -1):
            w.write((code >> i) & 1, 1)


def parse_codebook(r: _Lsb) -> Codebook:
    if r.read(24) != 0x564342:
        raise ValueError("bad codebook sync pattern")
    dims = r.read(16)
    entries = r.read(24)
    lengths = [0] * entries
    if r.read(1):  # ordered
        cur_len = r.read(5) + 1
        cur = 0
        while cur < entries:
            num = r.read(ilog(entries - cur))
            if cur + num > entries:
                raise ValueError("ordered codebook length overflow")
            for i in range(cur, cur + num):
                lengths[i] = cur_len
            cur += num
            cur_len += 1
    else:
        sparse = r.read(1)
        for i in range(entries):
            if sparse:
                if r.read(1):
                    lengths[i] = r.read(5) + 1
            else:
                lengths[i] = r.read(5) + 1
    lookup = r.read(4)
    vectors = None
    if lookup in (1, 2):
        minv = float32_unpack(r.read(32))
        delta = float32_unpack(r.read(32))
        value_bits = r.read(4) + 1
        sequence_p = r.read(1)
        lv = _lookup1_values(entries, dims) if lookup == 1 else entries * dims
        mults = [r.read(value_bits) for _ in range(lv)]
        vecs = np.zeros((entries, dims))
        for e in range(entries):
            last = 0.0
            if lookup == 1:
                idiv = 1
                for d in range(dims):
                    off = (e // idiv) % lv
                    vecs[e, d] = mults[off] * delta + minv + last
                    if sequence_p:
                        last = vecs[e, d]
                    idiv *= lv
            else:
                for d in range(dims):
                    vecs[e, d] = mults[e * dims + d] * delta + minv + last
                    if sequence_p:
                        last = vecs[e, d]
        vectors = vecs
    elif lookup != 0:
        raise ValueError(f"reserved codebook lookup type {lookup}")
    return Codebook(dims, entries, lengths, vectors)


# ---------------------------------------------------------------------------
# floor type 1 (spec §7)
# ---------------------------------------------------------------------------

#: spec floor1_inverse_dB_table closed form: 256 log steps spanning
#: 10^(-255*7/256) .. 1.0 (matches the published table to float32).
_FLOOR1_DB = 10.0 ** (7.0 * (np.arange(256) - 255) / 256.0)

_FLOOR1_RANGES = [256, 128, 86, 64]


class Floor1:
    def __init__(self, r: _Lsb):
        self.partitions = r.read(5)
        self.partition_class = [r.read(4) for _ in range(self.partitions)]
        maxc = max(self.partition_class, default=-1)
        self.class_dims = []
        self.class_subclasses = []
        self.class_masterbooks = []
        self.subclass_books = []
        for _ in range(maxc + 1):
            dim = r.read(3) + 1
            sub = r.read(2)
            master = r.read(8) if sub else -1
            books = [r.read(8) - 1 for _ in range(1 << sub)]
            self.class_dims.append(dim)
            self.class_subclasses.append(sub)
            self.class_masterbooks.append(master)
            self.subclass_books.append(books)
        self.multiplier = r.read(2) + 1
        rangebits = r.read(4)
        xs = [0, 1 << rangebits]
        for i in range(self.partitions):
            cls = self.partition_class[i]
            for _ in range(self.class_dims[cls]):
                xs.append(r.read(rangebits))
        self.x_list = xs
        self.sort_order = sorted(range(len(xs)), key=lambda k: xs[k])

    def decode(self, r: _Lsb, books: list[Codebook], n2: int):
        """Read one channel's floor data; returns the rendered curve of
        length ``n2`` or None when the channel is unaudible."""
        if not r.read(1):
            return None
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        ybits = ilog(rng - 1)
        y = [r.read(ybits), r.read(ybits)]
        for i in range(self.partitions):
            cls = self.partition_class[i]
            cdim = self.class_dims[cls]
            cbits = self.class_subclasses[cls]
            csub = (1 << cbits) - 1
            cval = 0
            if cbits:
                cval = books[self.class_masterbooks[cls]].decode_scalar(r)
            for _ in range(cdim):
                book = self.subclass_books[cls][cval & csub]
                cval >>= cbits
                y.append(books[book].decode_scalar(r) if book >= 0 else 0)
        return self._synthesize(y, n2)

    def _synthesize(self, y: list[int], n2: int) -> np.ndarray:
        xs = self.x_list
        npts = len(xs)
        rng = _FLOOR1_RANGES[self.multiplier - 1]
        final = [0] * npts
        step2 = [False] * npts
        final[0], final[1] = y[0], y[1]
        step2[0] = step2[1] = True
        for i in range(2, npts):
            lo = _low_neighbor(xs, i)
            hi = _high_neighbor(xs, i)
            pred = _render_point(xs[lo], final[lo], xs[hi], final[hi], xs[i])
            val = y[i]
            if val:
                highroom = rng - pred
                lowroom = pred
                room = 2 * min(highroom, lowroom)
                step2[lo] = step2[hi] = step2[i] = True
                if val >= room:
                    if highroom > lowroom:
                        final[i] = val - lowroom + pred
                    else:
                        final[i] = pred - (val - highroom) - 1
                else:
                    if val & 1:
                        final[i] = pred - ((val + 1) >> 1)
                    else:
                        final[i] = pred + (val >> 1)
            else:
                step2[i] = False
                final[i] = pred
        # curve synthesis (§7.2.4): multiplier into dB-table domain
        v = np.zeros(n2, dtype=np.int64)
        order = self.sort_order
        hx = 0
        hy = 0
        lx = 0
        ly = final[order[0]] * self.multiplier
        for k in order:
            if not step2[k]:
                continue
            hx = xs[k]
            hy = final[k] * self.multiplier
            if hx > lx:
                _render_line(lx, ly, hx, hy, v, n2)
            lx, ly = hx, hy
        if hx < n2:
            _render_line(hx, hy, n2, hy, v, n2)
        np.clip(v, 0, 255, out=v)
        return _FLOOR1_DB[v]


def _low_neighbor(xs: list[int], i: int) -> int:
    best = -1
    for n in range(i):
        if xs[n] < xs[i] and (best < 0 or xs[n] > xs[best]):
            best = n
    return best


def _high_neighbor(xs: list[int], i: int) -> int:
    best = -1
    for n in range(i):
        if xs[n] > xs[i] and (best < 0 or xs[n] < xs[best]):
            best = n
    return best


def _render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(
    x0: int, y0: int, x1: int, y1: int, v: np.ndarray, n2: int
) -> None:
    """Spec §9.2.6 integer Bresenham; division truncates toward zero."""
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    base = abs(dy) // adx
    if dy < 0:
        base = -base
    sy = base - 1 if dy < 0 else base + 1
    x = x0
    y = y0
    err = 0
    ady -= abs(base) * adx
    if x < n2:
        v[x] = y
    for x in range(x0 + 1, min(x1, n2)):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y


# ---------------------------------------------------------------------------
# residues (spec §8)
# ---------------------------------------------------------------------------


class Residue:
    def __init__(self, rtype: int, r: _Lsb):
        self.rtype = rtype
        self.begin = r.read(24)
        self.end = r.read(24)
        self.partition_size = r.read(24) + 1
        self.classifications = r.read(6) + 1
        self.classbook = r.read(8)
        cascades = []
        for _ in range(self.classifications):
            low = r.read(3)
            high = r.read(5) if r.read(1) else 0
            cascades.append((high << 3) | low)
        self.cascades = cascades
        self.books = []
        for c in range(self.classifications):
            row = []
            for stage in range(8):
                row.append(r.read(8) if cascades[c] & (1 << stage) else -1)
            self.books.append(row)

    def decode(
        self,
        r: _Lsb,
        do_not_decode: list[bool],
        n2: int,
        books: list[Codebook],
    ) -> list[np.ndarray]:
        if self.rtype == 2:
            ch = len(do_not_decode)
            dnd = [all(do_not_decode)]
            big = self._decode_inner(r, dnd, n2 * ch, fmt=1)[0]
            return [big[c::ch].copy() for c in range(ch)]
        fmt = self.rtype
        return self._decode_inner(r, do_not_decode, n2, fmt=fmt)

    def _decode_inner(
        self, r: _Lsb, do_not_decode: list[bool], size: int, fmt: int
    ) -> list[np.ndarray]:
        books_all = _SETUP_BOOKS.get()
        classbook = books_all[self.classbook]
        classwords = classbook.dims
        begin = min(self.begin, size)
        end = min(self.end, size)
        psize = self.partition_size
        n_to_read = (end - begin) // psize
        nch = len(do_not_decode)
        out = [np.zeros(size) for _ in range(nch)]
        if n_to_read == 0:
            return out
        cls = [[0] * (n_to_read + classwords) for _ in range(nch)]
        for gpass in range(8):
            pcount = 0
            while pcount < n_to_read:
                if gpass == 0:
                    for j in range(nch):
                        if do_not_decode[j]:
                            continue
                        temp = classbook.decode_scalar(r)
                        for i in range(classwords - 1, -1, -1):
                            cls[j][pcount + i] = temp % self.classifications
                            temp //= self.classifications
                for _ in range(classwords):
                    if pcount >= n_to_read:
                        break
                    for j in range(nch):
                        if do_not_decode[j]:
                            continue
                        c = cls[j][pcount]
                        book_idx = self.books[c][gpass]
                        if book_idx < 0:
                            continue
                        book = books_all[book_idx]
                        off = begin + pcount * psize
                        self._decode_partition(
                            r, book, out[j], off, psize, fmt
                        )
                    pcount += 1
        return out

    @staticmethod
    def _decode_partition(
        r: _Lsb, book: Codebook, v: np.ndarray, off: int, psize: int,
        fmt: int,
    ) -> None:
        dims = book.dims
        if fmt == 0:
            step = psize // dims
            for i in range(step):
                vec = book.decode_vq(r)
                for d in range(dims):
                    v[off + i + d * step] += vec[d]
        else:  # format 1 (also used by type 2's interleaved vector)
            i = 0
            while i < psize:
                vec = book.decode_vq(r)
                for d in range(dims):
                    v[off + i] += vec[d]
                    i += 1


class _SetupBooksRef:
    """Tiny indirection so Residue._decode_inner can reach the stream's
    codebook list without threading it through every call."""

    def __init__(self):
        self._books = None

    def set(self, books):
        self._books = books

    def get(self):
        return self._books


_SETUP_BOOKS = _SetupBooksRef()


# ---------------------------------------------------------------------------
# mappings / modes / setup
# ---------------------------------------------------------------------------


class Mapping:
    def __init__(self, r: _Lsb, channels: int):
        if r.read(16) != 0:
            raise ValueError("reserved mapping type")
        self.submaps = r.read(4) + 1 if r.read(1) else 1
        self.coupling = []
        if r.read(1):
            steps = r.read(8) + 1
            bits = ilog(channels - 1)
            for _ in range(steps):
                mag = r.read(bits)
                ang = r.read(bits)
                if mag == ang or mag >= channels or ang >= channels:
                    raise ValueError("invalid coupling step")
                self.coupling.append((mag, ang))
        if r.read(2) != 0:
            raise ValueError("mapping reserved bits set")
        if self.submaps > 1:
            self.mux = [r.read(4) for _ in range(channels)]
        else:
            self.mux = [0] * channels
        self.submap_floor = []
        self.submap_residue = []
        for _ in range(self.submaps):
            r.read(8)  # unused time config
            self.submap_floor.append(r.read(8))
            self.submap_residue.append(r.read(8))


class Mode:
    def __init__(self, r: _Lsb):
        self.blockflag = r.read(1)
        if r.read(16) != 0 or r.read(16) != 0:
            raise ValueError("reserved window/transform type")
        self.mapping = r.read(8)


class VorbisSetup:
    def __init__(self, channels, sr, blocksizes):
        self.channels = channels
        self.sr = sr
        self.blocksizes = blocksizes
        self.codebooks: list[Codebook] = []
        self.floors: list[Floor1] = []
        self.residues: list[Residue] = []
        self.mappings: list[Mapping] = []
        self.modes: list[Mode] = []


def parse_ident(packet: bytes) -> tuple[int, int, tuple[int, int]]:
    if packet[:7] != b"\x01vorbis":
        raise ValueError("bad identification header")
    r = _Lsb(packet, 7 * 8)
    if r.read(32) != 0:
        raise ValueError("unsupported vorbis version")
    channels = r.read(8)
    sr = r.read(32)
    r.read(32), r.read(32), r.read(32)  # bitrate max/nominal/min
    bs0 = 1 << r.read(4)
    bs1 = 1 << r.read(4)
    if not r.read(1):
        raise ValueError("ident framing bit unset")
    if channels < 1 or sr < 1 or bs0 > bs1:
        raise ValueError("invalid ident header fields")
    return channels, sr, (bs0, bs1)


def parse_setup(packet: bytes, channels, sr, blocksizes) -> VorbisSetup:
    if packet[:7] != b"\x05vorbis":
        raise ValueError("bad setup header")
    r = _Lsb(packet, 7 * 8)
    s = VorbisSetup(channels, sr, blocksizes)
    for _ in range(r.read(8) + 1):
        s.codebooks.append(parse_codebook(r))
    for _ in range(r.read(6) + 1):  # time domain transforms: placeholders
        if r.read(16) != 0:
            raise ValueError("reserved time domain transform")
    for _ in range(r.read(6) + 1):
        ftype = r.read(16)
        if ftype == 1:
            s.floors.append(Floor1(r))
        elif ftype == 0:
            raise NotImplementedError(
                "vorbis floor type 0 (legacy LSP floor): absent from "
                "modern encoders; floor1 is fully implemented "
                "(operators/vorbis.py seam)"
            )
        else:
            raise ValueError(f"reserved floor type {ftype}")
    for _ in range(r.read(6) + 1):
        rtype = r.read(16)
        if rtype not in (0, 1, 2):
            raise ValueError(f"reserved residue type {rtype}")
        s.residues.append(Residue(rtype, r))
    for _ in range(r.read(6) + 1):
        s.mappings.append(Mapping(r, channels))
    for _ in range(r.read(6) + 1):
        s.modes.append(Mode(r))
    if not r.read(1):
        raise ValueError("setup framing bit unset")
    return s


# ---------------------------------------------------------------------------
# transforms and windows
# ---------------------------------------------------------------------------


def _dct_iv(x: np.ndarray) -> np.ndarray:
    """DCT-IV via a zero-padded FFT with pre/post twiddles; exact to the
    direct transform (tested)."""
    m = len(x)
    j = np.arange(m)
    y = np.fft.fft(x * np.exp(-1j * np.pi * j / (2 * m)), 2 * m)[:m]
    return np.real(y * np.exp(-1j * np.pi * (j + 0.5) / (2 * m)))


def imdct(X: np.ndarray) -> np.ndarray:
    """Spec IMDCT (n outputs from n/2 coefficients), via DCT-IV symmetry
    extension: y[i] = f(i + M/2) with f = DCT-IV(X), using
    f(2M-1-a) = -f(a) and f(a+2M) = -f(a)."""
    m = len(X)
    f = _dct_iv(X)
    h = m // 2
    y = np.empty(2 * m)
    y[:h] = f[h:]
    y[h : h + m] = -f[::-1]
    y[h + m :] = -f[:h]
    return y


def mdct(x: np.ndarray) -> np.ndarray:
    """Forward MDCT matching :func:`imdct`'s basis (encoder side);
    folds the 2M inputs into an M-point DCT-IV by the same symmetries."""
    n = len(x)
    m = n // 2
    h = m // 2
    u = np.zeros(m)
    u[h:] = x[:h]
    u -= x[h : h + m][::-1]
    u[:h] -= x[h + m :]
    return _dct_iv(u)


def vorbis_window(n: int, left_n: int, right_n: int) -> np.ndarray:
    """Window with hybrid slopes: ``left_n``/``right_n`` are the
    blocksizes governing each slope (== n for a full slope, == the
    short blocksize on a long block adjoining a short one)."""
    w = np.zeros(n)
    ls, le = n // 4 - left_n // 4, n // 4 + left_n // 4
    rs, re = n - n // 4 - right_n // 4, n - n // 4 + right_n // 4
    i = np.arange(le - ls)
    w[ls:le] = np.sin(
        np.pi / 2 * np.sin(np.pi * (i + 0.5) / (2 * (le - ls))) ** 2
    )
    i = np.arange(re - rs)
    w[rs:re] = np.sin(
        np.pi / 2 * np.sin(np.pi * (re - rs - i - 0.5) / (2 * (re - rs))) ** 2
    )
    w[le:rs] = 1.0
    return w


class _Lap:
    """Window overlap-add across (possibly mixed-size) blocks.  Returns
    the finalized samples — the region from the previous block's center
    to the current block's center (length prev_n/4 + n/4)."""

    def __init__(self, channels: int):
        self.channels = channels
        self.tail: list[np.ndarray] | None = None
        self.prev_n = 0

    def add(self, ys: list[np.ndarray]) -> list[np.ndarray]:
        n = len(ys[0])
        outs = []
        if self.tail is None:
            outs = [np.zeros(0) for _ in ys]
        else:
            L = self.prev_n // 4 + n // 4
            s_cur = L - n // 2  # S_cur relative to C_prev
            for ch, y in enumerate(ys):
                out = np.zeros(L)
                t = self.tail[ch]
                k = min(L, len(t))
                out[:k] += t[:k]
                if s_cur >= 0:
                    out[s_cur:] += y[: L - s_cur]
                else:
                    out += y[-s_cur : -s_cur + L]
                outs.append(out)
        self.tail = [y[n // 2 :].copy() for y in ys]
        self.prev_n = n
        return outs


# ---------------------------------------------------------------------------
# audio packet decode
# ---------------------------------------------------------------------------


def decode_audio_packet(
    setup: VorbisSetup, packet: bytes, lap: _Lap
) -> list[np.ndarray]:
    r = _Lsb(packet)
    if r.read(1) != 0:
        raise ValueError("not an audio packet")
    mode = setup.modes[r.read(ilog(len(setup.modes) - 1))]
    n = setup.blocksizes[mode.blockflag]
    n2 = n // 2
    left_n = right_n = n
    if mode.blockflag:
        prev_flag = r.read(1)
        next_flag = r.read(1)
        if not prev_flag:
            left_n = setup.blocksizes[0]
        if not next_flag:
            right_n = setup.blocksizes[0]
    mapping = setup.mappings[mode.mapping]
    ch = setup.channels
    _SETUP_BOOKS.set(setup.codebooks)
    floors = []
    nonzero = []
    for c in range(ch):
        fl = setup.floors[mapping.submap_floor[mapping.mux[c]]]
        curve = fl.decode(r, setup.codebooks, n2)
        floors.append(curve)
        nonzero.append(curve is not None)
    # nonzero propagation across coupling pairs (spec §4.3.3)
    for mag, ang in mapping.coupling:
        if nonzero[mag] or nonzero[ang]:
            nonzero[mag] = nonzero[ang] = True
    residues: list[np.ndarray | None] = [None] * ch
    for s_idx in range(mapping.submaps):
        chans = [c for c in range(ch) if mapping.mux[c] == s_idx]
        dnd = [not nonzero[c] for c in chans]
        res = setup.residues[mapping.submap_residue[s_idx]]
        outs = res.decode(r, dnd, n2, setup.codebooks)
        for c, v in zip(chans, outs):
            residues[c] = v
    # inverse square-polar coupling, last step first (spec §4.3.5)
    for mag, ang in reversed(mapping.coupling):
        m = residues[mag]
        a = residues[ang]
        new_m = np.where(a > 0, m, m + a)
        new_a = np.where(a > 0, m - a, m)
        neg = m <= 0
        # spec branches on the magnitude sign too:
        #   M>0, A>0 -> (M, M-A);   M>0, A<=0 -> (M+A, M)
        #   M<=0, A>0 -> (M, M+A);  M<=0, A<=0 -> (M-A, M)
        new_m = np.where(neg & (a > 0), m, new_m)
        new_a = np.where(neg & (a > 0), m + a, new_a)
        new_m = np.where(neg & (a <= 0), m - a, new_m)
        new_a = np.where(neg & (a <= 0), m, new_a)
        residues[mag] = new_m
        residues[ang] = new_a
    win = vorbis_window(n, left_n, right_n)
    ys = []
    for c in range(ch):
        if floors[c] is None:
            ys.append(np.zeros(n))
        else:
            spec = residues[c][:n2] * floors[c]
            ys.append(imdct(spec) * win)
    return lap.add(ys)


def decode_vorbis_bytes(
    payload: bytes, mono: bool = True
) -> tuple[list, int]:
    """Decode a whole Ogg Vorbis stream; same ``(samples_or_channels,
    sr)`` contract as the WAV/FLAC decoders in this package."""
    b = bytes(payload)
    packets = ogg_packets(b)
    try:
        ident, _, _ = next(packets)
    except StopIteration:
        raise ValueError("empty Ogg stream") from None
    if ident[:8] == b"OpusHead":
        raise NotImplementedError(
            "Ogg Opus payload: CELT/SILK decode needs a codec backend "
            "this package does not include"
        )
    channels, sr, blocksizes = parse_ident(ident)
    comment, _, _ = next(packets)
    if comment[:7] != b"\x03vorbis":
        raise ValueError("bad comment header")
    setup_pkt, _, _ = next(packets)
    setup = parse_setup(setup_pkt, channels, sr, blocksizes)
    lap = _Lap(channels)
    chans = [[] for _ in range(channels)]
    final_granule = -1
    for packet, granule, eos in packets:
        outs = decode_audio_packet(setup, packet, lap)
        for c in range(channels):
            chans[c].extend(outs[c].tolist())
        if granule is not None and granule >= 0:
            final_granule = granule
        if eos:
            break
    total = len(chans[0])
    if 0 <= final_granule < total:
        chans = [c[:final_granule] for c in chans]
    if channels > 1:
        if mono:
            return np.mean(np.array(chans), axis=0).tolist(), int(sr)
        return [list(c) for c in chans], int(sr)
    if not mono:
        return [list(chans[0])], int(sr)
    return list(chans[0]), int(sr)


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------

_ENC_N = 256  # single blocksize: one mode, blockflag 0, full slopes


def _enc_ident(channels: int, sr: int) -> bytes:
    w = _LsbWriter()
    w.write_bytes(b"\x01vorbis")
    w.write(0, 32)
    w.write(channels, 8)
    w.write(sr, 32)
    w.write(0, 32)
    w.write(0, 32)
    w.write(0, 32)
    w.write(8, 4)  # blocksize_0 = 2^8
    w.write(8, 4)  # blocksize_1 = 2^8
    w.write(1, 1)
    return w.bytes()


def _enc_comment() -> bytes:
    w = _LsbWriter()
    w.write_bytes(b"\x03vorbis")
    vendor = b"speech_data_pipeline_spark fixture encoder"
    w.write(len(vendor), 32)
    w.write_bytes(vendor)
    w.write(0, 32)
    w.write(1, 1)
    return w.bytes()


def _enc_setup(channels: int) -> bytes:
    """Setup: book0 = 2-entry classbook (dims 8), book1 = 257-entry
    lookup-1 value book covering -128..128; floor1 two-point line;
    residue type 2 over the interleaved vector; one mapping, one mode."""
    w = _LsbWriter()
    w.write_bytes(b"\x05vorbis")
    w.write(1, 8)  # 2 codebooks
    # book 0: classbook
    w.write(0x564342, 24)
    w.write(8, 16)   # dims = classwords
    w.write(2, 24)   # entries
    w.write(0, 1)    # not ordered
    w.write(0, 1)    # not sparse
    w.write(0, 5)    # entry 0: length 1
    w.write(0, 5)    # entry 1: length 1
    w.write(0, 4)    # lookup 0
    # book 1: value book
    w.write(0x564342, 24)
    w.write(1, 16)
    w.write(257, 24)
    w.write(0, 1)
    w.write(0, 1)
    for _ in range(257):
        w.write(8, 5)  # all lengths 9
    w.write(1, 4)    # lookup type 1
    w.write(float32_pack(-128.0), 32)
    w.write(float32_pack(1.0), 32)
    w.write(8, 4)    # value_bits 9
    w.write(0, 1)    # sequence_p
    for i in range(257):  # lookup_values = 257 (257^1 <= 257)
        w.write(i, 9)
    # time transforms
    w.write(0, 6)
    w.write(0, 16)
    # floors: one floor1
    w.write(0, 6)
    w.write(1, 16)
    w.write(0, 5)    # partitions = 0 -> just the two endpoint values
    w.write(0, 2)    # multiplier 1
    w.write(7, 4)    # rangebits: X = [0, 128] == n/2
    # residues: one type 2
    w.write(0, 6)
    w.write(2, 16)
    w.write(0, 24)                    # begin
    w.write(128 * channels, 24)       # end (interleaved domain)
    w.write(15, 24)                   # partition size 16
    w.write(1, 6)                     # 2 classifications
    w.write(0, 8)                     # classbook 0
    w.write(1, 3)                     # class 0 cascade low bits: stage 0
    w.write(0, 1)
    w.write(0, 3)                     # class 1: unused
    w.write(0, 1)
    w.write(1, 8)                     # class 0 stage 0 -> book 1
    # mappings: one, type 0, 1 submap, no coupling
    w.write(0, 6)
    w.write(0, 16)
    w.write(0, 1)    # submaps flag
    w.write(0, 1)    # coupling flag
    w.write(0, 2)    # reserved
    w.write(0, 8)    # time
    w.write(0, 8)    # floor 0
    w.write(0, 8)    # residue 0
    # modes: one
    w.write(0, 6)
    w.write(0, 1)    # blockflag 0
    w.write(0, 16)
    w.write(0, 16)
    w.write(0, 8)
    w.write(1, 1)    # framing
    return w.bytes()


def _floor_q_for_peak(peak: float) -> int:
    """Smallest table index whose dB value >= peak/127 (so residues
    round into the codebook's -128..128 range)."""
    if peak <= 0:
        return 0
    target = peak / 127.0
    q = int(math.ceil(255.0 + 256.0 / 7.0 * math.log10(target)))
    q = max(0, min(255, q))
    while q < 255 and _FLOOR1_DB[q] < target:
        q += 1
    return q


def encode_vorbis(
    channels: list[np.ndarray], sr: int, serial: int = 0x5350
) -> bytes:
    """Encode PCM channels ([-1,1] float arrays) as a spec-conformant
    Ogg Vorbis stream (256-sample blocks, per-channel flat floor1 line,
    residue type 2).  Deterministic."""
    ch = len(channels)
    if ch < 1:
        raise ValueError("need at least one channel")
    sig = [np.asarray(c, dtype=np.float64) for c in channels]
    total = min(len(c) for c in sig)
    n = _ENC_N
    n2 = n // 2
    hop = n2
    nblocks = max(2, -(-total // hop) + 1)
    padded_len = (nblocks - 1) * hop + n
    padded = [np.zeros(padded_len) for _ in range(ch)]
    for c in range(ch):
        padded[c][n2 : n2 + total] = sig[c][:total]
    win = vorbis_window(n, n, n)
    # the real codebook objects drive the encode (same tables the
    # decoder will parse back out of the setup header)
    value_lengths = [9] * 257
    value_book = Codebook(1, 257, value_lengths, None)
    class_book = Codebook(8, 2, [1, 1], None)
    pages = [
        _ogg_page(serial, 0, 0, [_enc_ident(ch, sr)], bos=True),
        _ogg_page(serial, 1, 0, [_enc_comment(), _enc_setup(ch)]),
    ]
    seq = 2
    for bi in range(nblocks):
        w = _LsbWriter()
        w.write(0, 1)  # audio packet (mode bits: ilog(0) = 0)
        res_q = []
        any_nonzero = False
        for c in range(ch):
            seg = padded[c][bi * hop : bi * hop + n]
            X = (4.0 / n) * mdct(seg * win)
            peak = float(np.max(np.abs(X))) if len(X) else 0.0
            if peak <= 0.0:
                w.write(0, 1)  # floor nonzero bit: unaudible channel
                res_q.append(np.zeros(n2, dtype=np.int64))
                continue
            any_nonzero = True
            q = _floor_q_for_peak(peak)
            w.write(1, 1)
            w.write(q, 8)  # y0
            w.write(q, 8)  # y1
            floor_val = _FLOOR1_DB[q]
            res = np.rint(X / floor_val).astype(np.int64)
            np.clip(res, -128, 128, out=res)
            res_q.append(res)
        if any_nonzero:
            big = np.zeros(n2 * ch, dtype=np.int64)
            for c in range(ch):
                big[c::ch] = res_q[c]
            # residue 2, pass 0: per classword-group, one classword
            # (entry 0) then the partitions it covers
            psize = 16
            n_parts = (128 * ch) // psize
            p = 0
            while p < n_parts:
                class_book.encode_scalar(w, 0)
                for _ in range(8):
                    if p >= n_parts:
                        break
                    for vlo in big[p * psize : (p + 1) * psize]:
                        value_book.encode_scalar(w, int(vlo) + 128)
                    p += 1
        granule = bi * hop  # samples complete after this block
        last = bi == nblocks - 1
        if last:
            granule = total
        pages.append(
            _ogg_page(serial, seq, granule, [w.bytes()], eos=last)
        )
        seq += 1
    return b"".join(pages)


# ---------------------------------------------------------------------------
# mixed long/short-block fixture encoder (exercises the hybrid-window
# decode path through the real bitstream, not just the lap math)
# ---------------------------------------------------------------------------

_ENC_N_LONG = 2048


def _enc_ident_mixed(channels: int, sr: int) -> bytes:
    w = _LsbWriter()
    w.write_bytes(b"\x01vorbis")
    w.write(0, 32)
    w.write(channels, 8)
    w.write(sr, 32)
    w.write(0, 32)
    w.write(0, 32)
    w.write(0, 32)
    w.write(8, 4)   # blocksize_0 = 2^8
    w.write(11, 4)  # blocksize_1 = 2^11
    w.write(1, 1)
    return w.bytes()


def _enc_setup_mixed(channels: int) -> bytes:
    """Two floors (rangebits 7 / 10), two residues (interleaved ends
    for each blocksize), two mappings, two modes (blockflag 0 / 1);
    codebooks shared with the single-blocksize setup."""
    w = _LsbWriter()
    w.write_bytes(b"\x05vorbis")
    w.write(1, 8)  # 2 codebooks
    w.write(0x564342, 24)
    w.write(8, 16)
    w.write(2, 24)
    w.write(0, 1)
    w.write(0, 1)
    w.write(0, 5)
    w.write(0, 5)
    w.write(0, 4)
    w.write(0x564342, 24)
    w.write(1, 16)
    w.write(257, 24)
    w.write(0, 1)
    w.write(0, 1)
    for _ in range(257):
        w.write(8, 5)
    w.write(1, 4)
    w.write(float32_pack(-128.0), 32)
    w.write(float32_pack(1.0), 32)
    w.write(8, 4)
    w.write(0, 1)
    for i in range(257):
        w.write(i, 9)
    # time transforms
    w.write(0, 6)
    w.write(0, 16)
    # floors: two floor1 configs
    w.write(1, 6)
    for rangebits in (7, 10):
        w.write(1, 16)
        w.write(0, 5)
        w.write(0, 2)
        w.write(rangebits, 4)
    # residues: two type 2
    w.write(1, 6)
    for n2 in (128, 1024):
        w.write(2, 16)
        w.write(0, 24)
        w.write(n2 * channels, 24)
        w.write(15, 24)
        w.write(1, 6)
        w.write(0, 8)
        w.write(1, 3)
        w.write(0, 1)
        w.write(0, 3)
        w.write(0, 1)
        w.write(1, 8)
    # mappings: two
    w.write(1, 6)
    for idx in (0, 1):
        w.write(0, 16)
        w.write(0, 1)
        w.write(0, 1)
        w.write(0, 2)
        w.write(0, 8)    # time
        w.write(idx, 8)  # floor
        w.write(idx, 8)  # residue
    # modes: two
    w.write(1, 6)
    for blockflag, mapping in ((0, 0), (1, 1)):
        w.write(blockflag, 1)
        w.write(0, 16)
        w.write(0, 16)
        w.write(mapping, 8)
    w.write(1, 1)
    return w.bytes()


def encode_vorbis_mixed(
    channels: list[np.ndarray], sr: int, serial: int = 0x5351
) -> bytes:
    """Encode with BOTH blocksizes (256 / 2048): every 4th block is
    short, so the stream contains short→long, long→long and
    long→short transitions and the decoder's prev/next window flags
    and hybrid slopes are all exercised.  Same flat-floor / residue-2
    scheme as :func:`encode_vorbis`."""
    ch = len(channels)
    sig = [np.asarray(c, dtype=np.float64) for c in channels]
    total = min(len(c) for c in sig)
    n0, n1 = _ENC_N, _ENC_N_LONG
    # block size pattern and positions: S_k = S_{k-1} + 3n_{k-1}/4 - n_k/4
    sizes = []
    starts = []
    covered = 0
    k = 0
    while covered < total or len(sizes) < 2:
        n = n0 if k % 4 == 0 else n1
        if not sizes:
            starts.append(0)
        else:
            starts.append(starts[-1] + 3 * sizes[-1] // 4 - n // 4)
            covered += sizes[-1] // 4 + n // 4
        sizes.append(n)
        k += 1
    off = max(0, -min(starts))
    c0 = starts[0] + off + sizes[0] // 2
    padded_len = max(s + off + n for s, n in zip(starts, sizes))
    padded = [np.zeros(padded_len) for _ in range(ch)]
    for c in range(ch):
        padded[c][c0 : c0 + total] = sig[c][:total]
    value_book = Codebook(1, 257, [9] * 257, None)
    class_book = Codebook(8, 2, [1, 1], None)
    pages = [
        _ogg_page(serial, 0, 0, [_enc_ident_mixed(ch, sr)], bos=True),
        _ogg_page(serial, 1, 0, [_enc_comment(), _enc_setup_mixed(ch)]),
    ]
    seq = 2
    finalized = 0
    for bi, (n, s) in enumerate(zip(sizes, starts)):
        long_blk = n == n1
        prev_flag = 1 if (bi > 0 and sizes[bi - 1] == n1) else 0
        if bi + 1 < len(sizes):
            next_flag = 1 if sizes[bi + 1] == n1 else 0
        else:
            next_flag = 1  # no successor: window shape past EOS is moot
        left_n = n if (not long_blk or prev_flag) else n0
        right_n = n if (not long_blk or next_flag) else n0
        win = vorbis_window(n, left_n, right_n)
        n2 = n // 2
        w = _LsbWriter()
        w.write(0, 1)
        w.write(1 if long_blk else 0, 1)  # mode number (2 modes)
        if long_blk:
            w.write(prev_flag, 1)
            w.write(next_flag, 1)
        res_q = []
        any_nonzero = False
        for c in range(ch):
            seg = padded[c][s + off : s + off + n]
            X = (4.0 / n) * mdct(seg * win)
            peak = float(np.max(np.abs(X))) if len(X) else 0.0
            if peak <= 0.0:
                w.write(0, 1)
                res_q.append(np.zeros(n2, dtype=np.int64))
                continue
            any_nonzero = True
            q = _floor_q_for_peak(peak)
            w.write(1, 1)
            w.write(q, 8)
            w.write(q, 8)
            res = np.rint(X / _FLOOR1_DB[q]).astype(np.int64)
            np.clip(res, -128, 128, out=res)
            res_q.append(res)
        if any_nonzero:
            big = np.zeros(n2 * ch, dtype=np.int64)
            for c in range(ch):
                big[c::ch] = res_q[c]
            psize = 16
            n_parts = (n2 * ch) // psize
            p = 0
            while p < n_parts:
                class_book.encode_scalar(w, 0)
                for _ in range(8):
                    if p >= n_parts:
                        break
                    for vlo in big[p * psize : (p + 1) * psize]:
                        value_book.encode_scalar(w, int(vlo) + 128)
                    p += 1
        if bi > 0:
            finalized += sizes[bi - 1] // 4 + n // 4
        last = bi == len(sizes) - 1
        granule = total if last else finalized
        pages.append(_ogg_page(serial, seq, granule, [w.bytes()], eos=last))
        seq += 1
    return b"".join(pages)


# ---------------------------------------------------------------------------
# coupled stereo fixture encoder (exercises square-polar de-coupling
# through the real bitstream)
# ---------------------------------------------------------------------------


def _couple_forward(l_val: int, r_val: int) -> tuple[int, int]:
    """Forward square-polar coupling: M = the larger-|.| channel
    (ties -> left), A solved so the decoder's quadrant rules invert
    exactly (verified element-wise; both ±(L−R) candidates are tried
    because the sign convention flips with the quadrant)."""
    m = l_val if abs(l_val) >= abs(r_val) else r_val
    for a in (l_val - r_val, r_val - l_val):
        if m > 0:
            out = (m, m - a) if a > 0 else (m + a, m)
        else:
            out = (m, m + a) if a > 0 else (m - a, m)
        if out == (l_val, r_val):
            return m, a
    raise AssertionError("square-polar forward has no solution")


def _enc_setup_coupled() -> bytes:
    """Stereo setup with ONE square-polar coupling step (magnitude =
    channel 0, angle = channel 1); floor/residue/codebooks otherwise
    identical to :func:`_enc_setup` for 2 channels (re-emitted rather
    than bit-patched — the mapping section sits mid-stream)."""
    w = _LsbWriter()
    w.write_bytes(b"\x05vorbis")
    w.write(1, 8)
    w.write(0x564342, 24)
    w.write(8, 16)
    w.write(2, 24)
    w.write(0, 1)
    w.write(0, 1)
    w.write(0, 5)
    w.write(0, 5)
    w.write(0, 4)
    w.write(0x564342, 24)
    w.write(1, 16)
    w.write(257, 24)
    w.write(0, 1)
    w.write(0, 1)
    for _ in range(257):
        w.write(8, 5)
    w.write(1, 4)
    w.write(float32_pack(-128.0), 32)
    w.write(float32_pack(1.0), 32)
    w.write(8, 4)
    w.write(0, 1)
    for i in range(257):
        w.write(i, 9)
    w.write(0, 6)
    w.write(0, 16)
    w.write(0, 6)
    w.write(1, 16)
    w.write(0, 5)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 6)
    w.write(2, 16)
    w.write(0, 24)
    w.write(256, 24)   # end: 128 * 2 channels
    w.write(15, 24)
    w.write(1, 6)
    w.write(0, 8)
    w.write(1, 3)
    w.write(0, 1)
    w.write(0, 3)
    w.write(0, 1)
    w.write(1, 8)
    w.write(0, 6)      # 1 mapping
    w.write(0, 16)
    w.write(0, 1)      # 1 submap
    w.write(1, 1)      # coupling flag SET
    w.write(0, 8)      # 1 coupling step
    w.write(0, 1)      # magnitude = ch 0 (ilog(channels-1) = 1 bit)
    w.write(1, 1)      # angle = ch 1
    w.write(0, 2)
    w.write(0, 8)
    w.write(0, 8)
    w.write(0, 8)
    w.write(0, 6)
    w.write(0, 1)
    w.write(0, 16)
    w.write(0, 16)
    w.write(0, 8)
    w.write(1, 1)
    return w.bytes()


def encode_vorbis_coupled(
    channels: list[np.ndarray], sr: int, serial: int = 0x5352
) -> bytes:
    """Stereo encode with one square-polar coupling step: residues are
    stored as (magnitude, angle) pairs the decoder must de-couple, so
    the §4.3.5 inverse runs on every packet.  A SHARED floor per block
    keeps both channels' residues in the same units (coupling mixes
    them); residues quantize to ±63 so angles stay inside the ±128
    value book."""
    if len(channels) != 2:
        raise ValueError("coupled fixture encoder is stereo-only")
    sig = [np.asarray(c, dtype=np.float64) for c in channels]
    total = min(len(c) for c in sig)
    n = _ENC_N
    n2 = n // 2
    hop = n2
    nblocks = max(2, -(-total // hop) + 1)
    padded_len = (nblocks - 1) * hop + n
    padded = [np.zeros(padded_len) for _ in range(2)]
    for c in range(2):
        padded[c][n2 : n2 + total] = sig[c][:total]
    win = vorbis_window(n, n, n)
    value_book = Codebook(1, 257, [9] * 257, None)
    class_book = Codebook(8, 2, [1, 1], None)
    pages = [
        _ogg_page(serial, 0, 0, [_enc_ident(2, sr)], bos=True),
        _ogg_page(serial, 1, 0, [_enc_comment(), _enc_setup_coupled()]),
    ]
    seq = 2
    for bi in range(nblocks):
        w = _LsbWriter()
        w.write(0, 1)
        specs = []
        for c in range(2):
            seg = padded[c][bi * hop : bi * hop + n]
            specs.append((4.0 / n) * mdct(seg * win))
        peak = max(float(np.max(np.abs(s))) for s in specs)
        if peak <= 0.0:
            w.write(0, 1)
            w.write(0, 1)
        else:
            # shared floor level, residues in ±63; a silent channel
            # writes floor-nonzero = 0 so the decoder's §4.3.3
            # propagation (partner audible -> residue still decoded)
            # is exercised, and its output zeroes on the missing floor
            q = _floor_q_for_peak(peak * 2.0)  # peak/63-ish headroom
            floor_val = _FLOOR1_DB[q]
            res = []
            for c in range(2):
                ch_peak = float(np.max(np.abs(specs[c])))
                r_ = np.rint(specs[c] / floor_val).astype(np.int64)
                np.clip(r_, -63, 63, out=r_)
                res.append(r_)
                if ch_peak <= 0.0:
                    w.write(0, 1)
                else:
                    w.write(1, 1)
                    w.write(q, 8)
                    w.write(q, 8)
            big = np.zeros(n2 * 2, dtype=np.int64)
            for i in range(n2):
                m, a = _couple_forward(int(res[0][i]), int(res[1][i]))
                big[i * 2] = m
                big[i * 2 + 1] = a
            psize = 16
            n_parts = (n2 * 2) // psize
            p = 0
            while p < n_parts:
                class_book.encode_scalar(w, 0)
                for _ in range(8):
                    if p >= n_parts:
                        break
                    for vlo in big[p * psize : (p + 1) * psize]:
                        value_book.encode_scalar(w, int(vlo) + 128)
                    p += 1
        granule = bi * hop
        last = bi == nblocks - 1
        if last:
            granule = total
        pages.append(_ogg_page(serial, seq, granule, [w.bytes()], eos=last))
        seq += 1
    return b"".join(pages)
