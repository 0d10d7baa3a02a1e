"""Minimal from-scratch 7-zip container codec (S2/S3, SURVEY.md §2.1).

The reference extracts CSV / GeoJSON members from ``.7z`` archives with the
py7zr package (/root/reference/geocode/utilities.py:433-487). py7zr is not
installed here, so this module implements the subset of the PUBLIC 7z
container format ("7zFormat.txt", distributed with 7-Zip/LZMA SDK) that
those reference archives need, on top of the standard library's ``lzma``:

* reader: signature header -> (plain or LZMA-encoded) end header ->
  PackInfo / UnPackInfo / SubStreamsInfo / FilesInfo -> per-folder decode.
  Codecs: Copy (0x00), LZMA1 (0x030101), LZMA2 (0x21) — single-coder
  folders (what 7z produces for plain ``7z a archive.7z files...``).
  Filtered/encrypted/multi-coder folders raise NotImplementedError.
* writer: one LZMA2 (or Copy) folder per member + a plain header — used by
  tests and prep tooling to produce genuine archives; the compressed
  payload is real LZMA2 emitted by the standard library, so the reader's
  codec path is exercised against a production-grade stream, not a mock.

Driver-side only (archives are MB-scale reference data, never the fact
table) — nothing here runs on executors.
"""

from __future__ import annotations

import lzma
import struct
import zlib
from pathlib import Path

MAGIC = b"7z\xbc\xaf\x27\x1c"

# property ids (7zFormat.txt)
K_END = 0x00
K_HEADER = 0x01
K_MAIN_STREAMS = 0x04
K_FILES_INFO = 0x05
K_PACK_INFO = 0x06
K_UNPACK_INFO = 0x07
K_SUBSTREAMS = 0x08
K_SIZE = 0x09
K_CRC = 0x0A
K_FOLDER = 0x0B
K_UNPACK_SIZES = 0x0C
K_NUM_UNPACK_STREAM = 0x0D
K_EMPTY_STREAM = 0x0E
K_EMPTY_FILE = 0x0F
K_NAME = 0x11
K_ENCODED_HEADER = 0x17

CODEC_COPY = b"\x00"
CODEC_LZMA1 = b"\x03\x01\x01"
CODEC_LZMA2 = b"\x21"


class SevenZipError(ValueError):
    pass


# --- low-level primitives -----------------------------------------------------

class _Reader:
    def __init__(self, buf: bytes):
        self.b = buf
        self.i = 0

    def byte(self) -> int:
        v = self.b[self.i]
        self.i += 1
        return v

    def bytes(self, n: int) -> bytes:
        v = self.b[self.i:self.i + n]
        if len(v) != n:
            raise SevenZipError("truncated 7z header")
        self.i += n
        return v

    def number(self) -> int:
        """7z variable-length number (7zFormat.txt 'REAL_UINT64')."""
        first = self.byte()
        mask = 0x80
        value = 0
        for i in range(8):
            if (first & mask) == 0:
                value |= (first & (mask - 1)) << (8 * i)
                return value
            value |= self.byte() << (8 * i)
            mask >>= 1
        return value

    def bits(self, n: int) -> list[bool]:
        out = []
        cur = 0
        avail = 0
        for _ in range(n):
            if avail == 0:
                cur = self.byte()
                avail = 8
            out.append(bool(cur & 0x80))
            cur = (cur << 1) & 0xFF
            avail -= 1
        return out


def _write_number(v: int) -> bytes:
    """Inverse of _Reader.number: with i extra little-endian bytes the
    first byte carries i leading 1-bits, a 0 separator bit, then the HIGH
    (7-i) bits of the value."""
    for i in range(9):
        if i == 8:
            return bytes([0xFF]) + v.to_bytes(8, "little")
        high = v >> (8 * i)
        if high < (1 << (7 - i)):
            prefix = (0xFF << (8 - i)) & 0xFF
            return bytes([prefix | high]) + \
                (v & ((1 << (8 * i)) - 1)).to_bytes(i, "little")
    raise SevenZipError("unreachable")


# --- codec layer ----------------------------------------------------------------

def _lzma2_dict_prop(dict_size: int) -> int:
    for p in range(41):
        if p == 40:
            if dict_size == 0xFFFFFFFF:
                return 40
            continue
        if (2 | (p & 1)) << (p // 2 + 11) == dict_size:
            return p
    raise SevenZipError(f"unencodable LZMA2 dict size {dict_size}")


def _decode_folder(codec: bytes, props: bytes, packed: bytes,
                   unpack_size: int) -> bytes:
    if codec == CODEC_COPY:
        return packed[:unpack_size]
    if codec == CODEC_LZMA2:
        if len(props) != 1:
            raise SevenZipError("LZMA2 needs a 1-byte dict-size property")
        p = props[0]
        dict_size = 0xFFFFFFFF if p == 40 else (2 | (p & 1)) << (p // 2 + 11)
        dec = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW,
            filters=[{"id": lzma.FILTER_LZMA2, "dict_size": dict_size}])
        return dec.decompress(packed, max_length=unpack_size)
    if codec == CODEC_LZMA1:
        if len(props) != 5:
            raise SevenZipError("LZMA1 needs 5 property bytes")
        lclppb = props[0]
        dict_size = struct.unpack("<I", props[1:5])[0]
        dec = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW,
            filters=[{"id": lzma.FILTER_LZMA1,
                      "dict_size": max(dict_size, 1 << 12),
                      "lc": lclppb % 9,
                      "lp": (lclppb // 9) % 5,
                      "pb": lclppb // 45}])
        return dec.decompress(packed, max_length=unpack_size)
    raise NotImplementedError(
        f"7z codec {codec.hex()} not supported (Copy/LZMA1/LZMA2 only — "
        "BCJ-filtered or encrypted archives need py7zr)")


# --- header model ---------------------------------------------------------------

def _parse_streams_info(r: _Reader) -> dict:
    """kPackInfo/kUnPackInfo/kSubStreamsInfo group -> dict."""
    info = {"pack_pos": 0, "pack_sizes": [], "folders": [],
            "num_unpack": None, "sub_sizes": None}
    while True:
        t = r.byte()
        if t == K_END:
            break
        if t == K_PACK_INFO:
            info["pack_pos"] = r.number()
            n = r.number()
            while True:
                t2 = r.byte()
                if t2 == K_END:
                    break
                if t2 == K_SIZE:
                    info["pack_sizes"] = [r.number() for _ in range(n)]
                elif t2 == K_CRC:
                    _skip_crc(r, n)
                else:
                    raise SevenZipError(f"unexpected id {t2:#x} in PackInfo")
        elif t == K_UNPACK_INFO:
            if r.byte() != K_FOLDER:
                raise SevenZipError("UnPackInfo must start with kFolder")
            nf = r.number()
            if r.byte() != 0:
                raise SevenZipError("external folder definitions unsupported")
            folders = [_parse_folder(r) for _ in range(nf)]
            if r.byte() != K_UNPACK_SIZES:
                raise SevenZipError("missing kCodersUnpackSize")
            for f in folders:
                f["unpack_sizes"] = [r.number() for _ in range(f["n_out"])]
            while True:
                t2 = r.byte()
                if t2 == K_END:
                    break
                if t2 == K_CRC:
                    _skip_crc(r, nf)
                else:
                    raise SevenZipError(f"unexpected id {t2:#x} in UnPackInfo")
            info["folders"] = folders
        elif t == K_SUBSTREAMS:
            nf = len(info["folders"])
            nums = [1] * nf
            sizes = None
            while True:
                t2 = r.byte()
                if t2 == K_END:
                    break
                if t2 == K_NUM_UNPACK_STREAM:
                    nums = [r.number() for _ in range(nf)]
                elif t2 == K_SIZE:
                    # sizes of all substreams except the last of each folder
                    sizes = []
                    for fi, f in enumerate(info["folders"]):
                        got = [r.number() for _ in range(nums[fi] - 1)]
                        got.append(_folder_out_size(f) - sum(got))
                        sizes.append(got)
                elif t2 == K_CRC:
                    ndigests = sum(nums)
                    _skip_crc(r, ndigests)
                else:
                    raise SevenZipError(
                        f"unexpected id {t2:#x} in SubStreamsInfo")
            info["num_unpack"] = nums
            info["sub_sizes"] = sizes
        else:
            raise SevenZipError(f"unexpected id {t:#x} in StreamsInfo")
    return info


def _skip_crc(r: _Reader, n: int) -> None:
    defined = r.bits(n) if r.byte() == 0 else [True] * n
    r.bytes(4 * sum(defined))


def _parse_folder(r: _Reader) -> dict:
    n_coders = r.number()
    if n_coders != 1:
        raise NotImplementedError(
            "multi-coder 7z folders (filter chains) are not supported")
    flags = r.byte()
    id_size = flags & 0x0F
    codec = r.bytes(id_size)
    if flags & 0x10:  # complex coder
        n_in, n_out = r.number(), r.number()
    else:
        n_in = n_out = 1
    props = b""
    if flags & 0x20:
        props = r.bytes(r.number())
    if n_in != 1 or n_out != 1:
        raise NotImplementedError("complex 7z coders unsupported")
    # single coder, 1-in/1-out => no bind pairs, one packed stream (implicit)
    return {"codec": codec, "props": props, "n_out": 1}


def _folder_out_size(folder: dict) -> int:
    return folder["unpack_sizes"][-1]


def _parse_files_info(r: _Reader) -> tuple[list[str], list[bool]]:
    n_files = r.number()
    names: list[str] = []
    empty = [False] * n_files
    while True:
        t = r.byte()
        if t == K_END:
            break
        size = r.number()
        end = r.i + size
        if t == K_NAME:
            if r.byte() != 0:
                raise SevenZipError("external names unsupported")
            raw = r.bytes(end - r.i)
            names = raw.decode("utf-16-le").split("\x00")[:-1]
        elif t == K_EMPTY_STREAM:
            empty = r.bits(n_files)
            r.i = end
        else:
            r.i = end  # mtime/attributes/etc: not needed
    if not names:
        raise SevenZipError("archive has no kName record")
    return names, empty


def _parse_header(r: _Reader) -> tuple[dict, list[str], list[bool]]:
    streams, names, empty = {}, [], []
    while True:
        t = r.byte()
        if t == K_END:
            break
        if t == K_MAIN_STREAMS:
            streams = _parse_streams_info(r)
        elif t == K_FILES_INFO:
            names, empty = _parse_files_info(r)
        else:
            raise SevenZipError(f"unexpected id {t:#x} in Header")
    return streams, names, empty


# --- public API -------------------------------------------------------------------

def read_7z(path: str | Path) -> dict[str, bytes]:
    """Read every member of a .7z archive -> {name: bytes}."""
    data = Path(path).read_bytes()
    if data[:6] != MAGIC:
        raise SevenZipError("not a 7z archive (bad signature)")
    nh_off, nh_size = struct.unpack("<QQ", data[12:28])
    nh_crc = struct.unpack("<I", data[28:32])[0]
    header = data[32 + nh_off:32 + nh_off + nh_size]
    if zlib.crc32(header) & 0xFFFFFFFF != nh_crc:
        raise SevenZipError("next-header CRC mismatch")
    r = _Reader(header)
    t = r.byte()
    if t == K_ENCODED_HEADER:
        streams = _parse_streams_info(r)
        header = _decode_streams(data, streams)[0]
        r = _Reader(header)
        t = r.byte()
    if t != K_HEADER:
        raise SevenZipError(f"unexpected top-level id {t:#x}")
    streams, names, empty = _parse_header(r)

    blobs = _decode_streams(data, streams) if streams.get("folders") else []
    # split folder outputs into substreams, assign to non-empty files in order
    pieces: list[bytes] = []
    nums = streams.get("num_unpack") or [1] * len(blobs)
    subs = streams.get("sub_sizes")
    for fi, blob in enumerate(blobs):
        if subs is None or subs[fi] is None:
            sizes = [len(blob)] if nums[fi] == 1 else None
            if sizes is None:
                raise SevenZipError("missing substream sizes")
        else:
            sizes = subs[fi]
        off = 0
        for s in sizes:
            pieces.append(blob[off:off + s])
            off += s
    out: dict[str, bytes] = {}
    pi = 0
    for name, is_empty in zip(names, empty):
        if is_empty:
            out[name] = b""
        else:
            out[name] = pieces[pi]
            pi += 1
    return out


def _decode_streams(data: bytes, streams: dict) -> list[bytes]:
    """Decode every folder's packed stream -> list of folder output blobs."""
    base = 32 + streams["pack_pos"]
    offsets = []
    off = base
    for sz in streams["pack_sizes"]:
        offsets.append(off)
        off += sz
    blobs = []
    for fi, folder in enumerate(streams["folders"]):
        packed = data[offsets[fi]:offsets[fi] + streams["pack_sizes"][fi]]
        blobs.append(_decode_folder(folder["codec"], folder["props"], packed,
                                    _folder_out_size(folder)))
    return blobs


def extract_member(path: str | Path, member: str) -> bytes:
    members = read_7z(path)
    if member not in members:
        raise KeyError(f"{member!r} not in archive ({sorted(members)})")
    return members[member]


def _compress(blob: bytes, codec: str) -> tuple[bytes, bytes, bytes]:
    """-> (packed, codec_id, props)."""
    if codec == "lzma2":
        dict_size = 1 << 20
        comp = lzma.LZMACompressor(
            format=lzma.FORMAT_RAW,
            filters=[{"id": lzma.FILTER_LZMA2, "dict_size": dict_size}])
        return (comp.compress(blob) + comp.flush(), CODEC_LZMA2,
                bytes([_lzma2_dict_prop(dict_size)]))
    if codec == "copy":
        return blob, CODEC_COPY, b""
    raise SevenZipError(f"writer codec {codec!r} unsupported")


def _streams_info_bytes(pack_pos: int, packs: list[bytes],
                        folders: list[tuple[bytes, bytes, int]],
                        sub_sizes: list[list[int]] | None = None) -> bytes:
    """Serialize a PackInfo+UnPackInfo(+SubStreamsInfo) group (no leading
    id, no trailing kEnd — callers wrap it)."""
    h = bytearray()
    h.append(K_PACK_INFO)
    h += _write_number(pack_pos)
    h += _write_number(len(packs))
    h.append(K_SIZE)
    for p in packs:
        h += _write_number(len(p))
    h.append(K_END)
    h.append(K_UNPACK_INFO)
    h.append(K_FOLDER)
    h += _write_number(len(folders))
    h.append(0)                               # not external
    for codec_id, props, _ in folders:
        h += _write_number(1)                 # one coder
        h.append(len(codec_id) | (0x20 if props else 0))
        h += codec_id
        if props:
            h += _write_number(len(props))
            h += props
    h.append(K_UNPACK_SIZES)
    for _, _, unpack in folders:
        h += _write_number(unpack)
    h.append(K_END)
    if sub_sizes is not None:
        h.append(K_SUBSTREAMS)
        h.append(K_NUM_UNPACK_STREAM)
        for sizes in sub_sizes:
            h += _write_number(len(sizes))
        h.append(K_SIZE)
        for sizes in sub_sizes:
            for s in sizes[:-1]:              # last size is implied
                h += _write_number(s)
        h.append(K_END)
    return bytes(h)


def write_7z(path: str | Path, members: dict[str, bytes],
             codec: str = "lzma2", solid: bool = False,
             encode_header: bool = False) -> None:
    """Write a .7z archive. ``codec``: 'lzma2' (stdlib raw LZMA2 stream) or
    'copy'. ``solid`` packs all members into ONE folder with a
    SubStreamsInfo split (7z's default layout); ``encode_header`` wraps the
    end header in a kEncodedHeader LZMA2 folder (also 7z's default) — both
    exist so the reader's production-shape paths are testable without
    external tooling."""
    if not members:
        raise SevenZipError("cannot write an empty archive")
    if any(len(v) == 0 for v in members.values()):
        raise SevenZipError("empty members not supported by this writer")
    packs: list[bytes] = []
    folders: list[tuple[bytes, bytes, int]] = []  # codec_id, props, unpack
    sub_sizes = None
    if solid:
        blob = b"".join(members.values())
        packed, cid, props = _compress(blob, codec)
        packs.append(packed)
        folders.append((cid, props, len(blob)))
        sub_sizes = [[len(v) for v in members.values()]]
    else:
        for blob in members.values():
            packed, cid, props = _compress(blob, codec)
            packs.append(packed)
            folders.append((cid, props, len(blob)))

    h = bytearray([K_HEADER])
    h.append(K_MAIN_STREAMS)
    h += _streams_info_bytes(0, packs, folders, sub_sizes)
    h.append(K_END)                           # end MainStreamsInfo
    h.append(K_FILES_INFO)
    h += _write_number(len(members))
    names = b"".join((n + "\x00").encode("utf-16-le") for n in members)
    h.append(K_NAME)
    h += _write_number(len(names) + 1)
    h.append(0)                               # not external
    h += names
    h.append(K_END)                           # end FilesInfo
    h.append(K_END)                           # end Header

    body = b"".join(packs)
    header = bytes(h)
    if encode_header:
        hpacked, hcid, hprops = _compress(header, "lzma2")
        eh = bytearray([K_ENCODED_HEADER])
        eh += _streams_info_bytes(len(body), [hpacked],
                                  [(hcid, hprops, len(header))])
        eh.append(K_END)
        body = body + hpacked
        header = bytes(eh)
    start = bytearray()
    start += MAGIC
    start += bytes([0, 4])
    tail = struct.pack("<QQ", len(body), len(header)) + \
        struct.pack("<I", zlib.crc32(header) & 0xFFFFFFFF)
    start += struct.pack("<I", zlib.crc32(tail) & 0xFFFFFFFF)
    start += tail
    Path(path).write_bytes(bytes(start) + body + header)
