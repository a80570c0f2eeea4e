"""Minimal pure-python HDF5 reader + writer for the reference's own
event-file layout (VERDICT r9 #8): contiguous 1-D ``Stream_N``
datasets under the root group, a ``Name`` string attribute per
stream, an optional ``msMarkers`` dataset and root-level string
attributes (``FirstEventTimeStamp``). Written against the public
HDF5 File Format Specification (v0 superblock with old-style
symbol-table groups; v2/v3 superblocks with v2 object headers and
compact link messages are read-supported) the same way ``io/igor.py``
implements the public Igor TN003 spec — no h5py, stdlib + numpy only.

Reference consumer this unblocks: ``hdf5Reader``
(/root/reference/mpes/fprocessing.py:468-856) reads exactly this
shape — ``Stream_*`` groups discovered at the root, ``Name``
attribute as the column alias, contiguous numeric payloads sliced by
event range. The reader here resolves a dataset slice to one
``seek + frombuffer`` on the contiguous block, so the Spark ingest
seam's chunk plan maps to byte-range reads (the 100 TB shape: each
executor task reads only its own [amin, amax) byte window).

Chunked layouts with the deflate and/or shuffle filters (what
``h5py .create_dataset(compression="gzip")`` produces) decode
natively too — chunk B-tree walk + ``zlib`` per chunk. Out of scope
(clear errors, not silent wrong answers): other filters (szip, lzf),
variable-length / dense-link storage, fractal-heap attribute
storage. The reference's event files are plain contiguous streams;
anything beyond the above belongs to a real libhdf5 binding
(``Hdf5Backend``).
"""

from __future__ import annotations

import mmap
import struct
from dataclasses import dataclass, field

import numpy as np

__all__ = ["Hdf5LiteFile", "write_hdf5", "read_hdf5"]

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# low-level helpers
# ---------------------------------------------------------------------------


def _pad8(n: int) -> int:
    return (n + 7) & ~7


def _dtype_message(dt: np.dtype) -> bytes:
    """Datatype message body for the numeric/string classes the layout
    uses. Little-endian only (the reference's files and every test
    fixture are LE)."""
    dt = np.dtype(dt)
    if dt.kind in "iu":
        cls, ver = 0, 1
        bits0 = 0x08 if dt.kind == "i" else 0x00  # bit 3: signed
        props = struct.pack("<HH", 0, dt.itemsize * 8)  # offset, precision
    elif dt.kind == "f":
        cls, ver = 1, 1
        bits0 = 0x20  # mantissa normalization: implied-msb (IEEE)
        if dt.itemsize == 4:
            sign_pos = 31
            # offset, precision, exp loc, exp size, man loc, man size, bias
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        elif dt.itemsize == 8:
            sign_pos = 63
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            raise ValueError(f"unsupported float size {dt.itemsize}")
        head = struct.pack(
            "<BBBBI", (ver << 4) | cls, bits0, sign_pos, 0, dt.itemsize
        )
        return head + props
    elif dt.kind == "S":
        cls, ver = 3, 1
        bits0 = 0x00  # null-terminated ASCII
        props = b""
    else:
        raise ValueError(f"unsupported dtype {dt}")
    head = struct.pack("<BBBBI", (ver << 4) | cls, bits0, 0, 0, dt.itemsize)
    return head + props


def _parse_dtype(body: bytes) -> np.dtype:
    """Datatype message -> numpy dtype (fixed-point, IEEE float and
    fixed strings; LE and BE)."""
    clsver, b0 = body[0], body[1]
    cls, _ver = clsver & 0x0F, clsver >> 4
    size = struct.unpack_from("<I", body, 4)[0]
    if cls == 0:  # fixed-point
        endian = ">" if (b0 & 0x01) else "<"
        kind = "i" if (b0 & 0x08) else "u"
        return np.dtype(f"{endian}{kind}{size}")
    if cls == 1:  # float
        endian = ">" if (b0 & 0x01) else "<"
        return np.dtype(f"{endian}f{size}")
    if cls == 3:  # fixed string
        return np.dtype(f"S{size}")
    raise ValueError(f"unsupported datatype class {cls}")


def _dataspace_message(shape: tuple[int, ...]) -> bytes:
    return struct.pack("<BBBxxxxx", 1, len(shape), 0) + b"".join(
        struct.pack("<Q", d) for d in shape
    )


def _parse_dataspace(body: bytes) -> tuple[int, ...]:
    ver = body[0]
    rank = body[1]
    off = 8 if ver == 1 else 4  # v2 header is 4 bytes (ver, rank, flags, type)
    return tuple(
        struct.unpack_from("<Q", body, off + 8 * i)[0] for i in range(rank)
    )


def _parse_filter_pipeline(body: bytes) -> tuple[int, ...]:
    """Filter pipeline message -> filter ids in application order
    (v1 with 8-padded names, v2 compact)."""
    ver, nf = body[0], body[1]
    ids = []
    off = 8 if ver == 1 else 2
    for _ in range(nf):
        fid, name_len, _flags, ncv = struct.unpack_from("<HHHH", body, off)
        off += 8
        if ver == 1 or fid >= 256:
            off += _pad8(name_len) if ver == 1 else name_len
        off += 4 * ncv
        if ver == 1 and ncv % 2:
            off += 4  # v1 pads client data to 8 bytes
        ids.append(fid)
    return tuple(ids)


def _attribute_message(name: str, value) -> bytes:
    """Attribute message v1 (8-byte-padded name/datatype/dataspace
    segments) holding a scalar string or numeric value."""
    if isinstance(value, str):
        data = value.encode() + b"\x00"
        dt = _dtype_message(np.dtype(f"S{len(data)}"))
    else:
        arr = np.asarray(value)
        data = arr.astype(arr.dtype.newbyteorder("<")).tobytes()
        dt = _dtype_message(arr.dtype)
    nm = name.encode() + b"\x00"
    ds = _dataspace_message(())
    body = struct.pack("<BxHHH", 1, len(nm), len(dt), len(ds))
    body += nm + b"\x00" * (_pad8(len(nm)) - len(nm))
    body += dt + b"\x00" * (_pad8(len(dt)) - len(dt))
    body += ds + b"\x00" * (_pad8(len(ds)) - len(ds))
    return body + data


def _parse_attribute(body: bytes):
    ver = body[0]
    if ver == 1:
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
        off = 8
        name = body[off : off + name_size].split(b"\x00")[0].decode()
        off += _pad8(name_size)
        dt = _parse_dtype(body[off : off + dt_size])
        off += _pad8(dt_size)
        shape = _parse_dataspace(body[off : off + ds_size])
        off += _pad8(ds_size)
    elif ver in (2, 3):
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
        off = 8 + (1 if ver == 3 else 0)
        if ver == 3:
            off = 9  # version, flags, sizes(6), encoding
        name = body[off : off + name_size].split(b"\x00")[0].decode()
        off += name_size
        dt = _parse_dtype(body[off : off + dt_size])
        off += dt_size
        shape = _parse_dataspace(body[off : off + ds_size])
        off += ds_size
    else:
        raise ValueError(f"unsupported attribute message version {ver}")
    n = int(np.prod(shape)) if shape else 1
    raw = body[off : off + n * dt.itemsize]
    if dt.kind == "S":
        val = raw.split(b"\x00")[0].decode()
        return name, val
    arr = np.frombuffer(raw, dtype=dt, count=n)
    return name, (arr.reshape(shape) if shape else arr[0].item())


# ---------------------------------------------------------------------------
# writer (superblock v0, v1 object headers, one symbol-table root group)
# ---------------------------------------------------------------------------


def _v1_header(messages: list[tuple[int, bytes]]) -> bytes:
    """Assemble a version-1 object header with 8-aligned messages."""
    parts = []
    for mtype, body in messages:
        padded = body + b"\x00" * (_pad8(len(body)) - len(body))
        parts.append(struct.pack("<HHBxxx", mtype, len(padded), 0) + padded)
    blob = b"".join(parts)
    return struct.pack("<BxHIIxxxx", 1, len(messages), 1, len(blob)) + blob


def write_hdf5(
    path: str,
    datasets: dict[str, np.ndarray],
    dataset_attrs: dict[str, dict] | None = None,
    root_attrs: dict | None = None,
) -> None:
    """Write a v0-superblock HDF5 file: every array a contiguous
    dataset, per-dataset scalar attributes (e.g. ``Name``) and
    root-level attributes. Names may contain ``/`` — intermediate
    path segments become real HDF5 subgroups (the reference's
    ``binned/V3`` + ``axes/ax{i}`` layout, fprocessing.py:3354-3416),
    each with its own symbol-table B-tree + local heap. Link names
    land in lexicographic order (libhdf5's lookup contract)."""
    dataset_attrs = dataset_attrs or {}
    root_attrs = root_attrs or {}

    # build the group tree: node = {"ds": {leaf: full_name}, "sub": {}}
    def _node():
        return {"ds": {}, "sub": {}}

    root = _node()
    for full in datasets:
        parts = full.split("/")
        cur = root
        for seg in parts[:-1]:
            cur = cur["sub"].setdefault(seg, _node())
        cur["ds"][parts[-1]] = full

    out = bytearray(b"\x00" * 96)  # superblock placeholder

    def _tell() -> int:
        return len(out)

    def _write_dataset(full: str) -> int:
        arr = np.ascontiguousarray(datasets[full])
        arr = arr.astype(arr.dtype.newbyteorder("<"))
        data_addr = _tell()
        out.extend(arr.tobytes())
        msgs = [
            (0x0001, _dataspace_message(arr.shape)),
            (0x0003, _dtype_message(arr.dtype)),
            (0x0008, struct.pack("<BBQQ", 3, 1, data_addr, arr.nbytes)),
        ]
        for an, av in dataset_attrs.get(full, {}).items():
            msgs.append((0x000C, _attribute_message(an, av)))
        addr = _tell()
        out.extend(_v1_header(msgs))
        return addr

    def _write_group(node: dict, attrs: dict | None = None) -> tuple[int, int, int]:
        """Returns (group_oh_addr, btree_addr, heap_addr)."""
        links: dict[str, int] = {}
        for seg, sub in node["sub"].items():
            links[seg], _, _ = _write_group(sub)
        for leaf, full in node["ds"].items():
            links[leaf] = _write_dataset(full)
        if len(links) > 64:
            raise ValueError("one symbol-table node per group (<= 64 links)")
        heap_data = bytearray(b"\x00" * 8)
        name_off: dict[str, int] = {}
        for nm in sorted(links):
            name_off[nm] = len(heap_data)
            raw = nm.encode() + b"\x00"
            heap_data += raw + b"\x00" * (_pad8(len(raw)) - len(raw))
        heap_addr = _tell()
        out.extend(
            b"HEAP"
            + struct.pack("<BxxxQQQ", 0, len(heap_data), _UNDEF, heap_addr + 32)
        )
        out.extend(bytes(heap_data))
        snod_addr = _tell()
        out.extend(b"SNOD" + struct.pack("<BBH", 1, 0, len(links)))
        for nm in sorted(links, key=lambda n: name_off[n]):
            out.extend(struct.pack("<QQIxxxx16x", name_off[nm], links[nm], 0))
        btree_addr = _tell()
        lo = min(name_off.values()) if links else 0
        hi = max(name_off.values()) if links else 0
        out.extend(
            b"TREE"
            + struct.pack("<BBHQQ", 0, 0, 1, _UNDEF, _UNDEF)
            + struct.pack("<QQQ", lo, snod_addr, hi)
        )
        msgs = [(0x0011, struct.pack("<QQ", btree_addr, heap_addr))]
        for an, av in (attrs or {}).items():
            msgs.append((0x000C, _attribute_message(an, av)))
        oh = _tell()
        out.extend(_v1_header(msgs))
        return oh, btree_addr, heap_addr

    root_oh_addr, btree_addr, heap_addr = _write_group(root, root_attrs)

    eof = _tell()
    sb = _SIG + struct.pack(
        "<BBBBBBBxHHIQQQQ",
        0, 0, 0, 0, 0,  # versions
        8, 8,  # offset / length sizes
        32, 16,  # group leaf / internal K
        0,  # consistency flags
        0, _UNDEF, eof, _UNDEF,  # base, free-space, EOF, driver info
    )
    sb += struct.pack("<QQIxxxxQQ", 0, root_oh_addr, 1, btree_addr, heap_addr)
    out[: len(sb)] = sb
    with open(path, "wb") as fh:
        fh.write(out)


# ---------------------------------------------------------------------------
# reader (superblock v0/v2/v3; v1 + v2 object headers; symbol-table
# and compact-link groups; contiguous + compact layouts)
# ---------------------------------------------------------------------------


@dataclass
class _Dataset:
    dtype: np.dtype
    shape: tuple[int, ...]
    data_addr: int
    data_size: int
    compact: bytes | None = None
    attrs: dict = field(default_factory=dict)
    chunk_dims: tuple[int, ...] | None = None  # chunked layout (class 2)
    chunk_btree: int = -1
    filters: tuple[int, ...] = ()  # filter pipeline ids, applied order
    _cache: "np.ndarray | None" = None  # assembled chunked data


class Hdf5LiteFile:
    """Parsed handle: ``.datasets`` maps link name -> :class:`_Dataset`
    (dtype, shape, contiguous address, attributes), ``.attrs`` holds
    root-group attributes. :meth:`read` slices a 1-D dataset with one
    bounded byte-range read — no full-file materialization."""

    def __init__(self, path: str):
        self.path = path
        # a read-only map: the structure walk touches header pages
        # only, and a dataset slice reads just its own byte window
        with open(path, "rb") as fh:
            try:
                self._buf = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
            except ValueError:  # an empty file cannot be mapped
                raise ValueError(
                    "not an HDF5 file (bad superblock signature)"
                ) from None
        if self._buf[:8] != _SIG:
            raise ValueError("not an HDF5 file (bad superblock signature)")
        self.datasets: dict[str, _Dataset] = {}
        self.attrs: dict = {}
        self._parse_superblock()

    # -- structure walk ----------------------------------------------------

    def _parse_superblock(self) -> None:
        buf = self._buf
        ver = buf[8]
        if ver == 0:
            if buf[13] != 8 or buf[14] != 8:
                raise ValueError("only 8-byte offsets/lengths supported")
            root_entry = 56
            oh_addr = struct.unpack_from("<Q", buf, root_entry + 8)[0]
            self._group(oh_addr, self.datasets, self.attrs)
        elif ver in (2, 3):
            if buf[9] != 8 or buf[10] != 8:
                raise ValueError("only 8-byte offsets/lengths supported")
            oh_addr = struct.unpack_from("<Q", buf, 36)[0]
            self._group(oh_addr, self.datasets, self.attrs)
        else:
            raise ValueError(f"unsupported superblock version {ver}")

    def _messages(self, oh_addr: int) -> list[tuple[int, bytes]]:
        """All messages of a v1 or v2 object header, continuations
        followed."""
        buf = self._buf
        msgs: list[tuple[int, bytes]] = []
        if buf[oh_addr : oh_addr + 4] == b"OHDR":
            flags = buf[oh_addr + 5]
            off = oh_addr + 6
            if flags & 0x20:
                off += 16
            if flags & 0x10:
                off += 4
            size_bytes = 1 << (flags & 0x3)
            chunk_size = int.from_bytes(
                buf[off : off + size_bytes], "little"
            )
            off += size_bytes
            self._v2_block(off, chunk_size, flags, msgs)
        else:
            ver = buf[oh_addr]
            if ver != 1:
                raise ValueError(f"unsupported object header version {ver}")
            nmsgs = struct.unpack_from("<H", buf, oh_addr + 2)[0]
            blk_size = struct.unpack_from("<I", buf, oh_addr + 8)[0]
            blocks = [(oh_addr + 16, blk_size)]
            while blocks and len(msgs) < nmsgs:
                start, size = blocks.pop(0)
                off, end = start, start + size
                while off + 8 <= end and len(msgs) < nmsgs:
                    mtype, msize = struct.unpack_from("<HH", buf, off)
                    body = buf[off + 8 : off + 8 + msize]
                    if mtype == 0x0010:  # continuation
                        caddr, clen = struct.unpack_from("<QQ", body, 0)
                        blocks.append((caddr, clen))
                    else:
                        msgs.append((mtype, body))
                    off += 8 + msize
        return msgs

    def _v2_block(self, off: int, size: int, flags: int, msgs: list) -> None:
        buf = self._buf
        end = off + size
        while off + 4 <= end - 4:  # trailing 4 bytes = checksum/gap
            mtype = buf[off]
            msize = struct.unpack_from("<H", buf, off + 1)[0]
            hdr = 4 + (2 if flags & 0x04 else 0)
            body = buf[off + hdr : off + hdr + msize]
            if mtype == 0x10 and len(body) >= 16:
                caddr, clen = struct.unpack_from("<QQ", body, 0)
                if buf[caddr : caddr + 4] == b"OCHK":
                    self._v2_block(caddr + 4, clen - 8, flags, msgs)
            elif mtype != 0:
                msgs.append((mtype, body))
            off += hdr + msize

    def _group(
        self, oh_addr: int, into: dict, attrs: dict, prefix: str = ""
    ) -> None:
        links: list[tuple[str, int]] = []
        stab = None
        is_dataset = False
        for mtype, body in self._messages(oh_addr):
            if mtype == 0x0011:  # symbol table
                stab = struct.unpack_from("<QQ", body, 0)
            elif mtype == 0x0006:  # compact link message
                links.append(self._parse_link(body))
            elif mtype == 0x000C:
                k, v = _parse_attribute(body)
                attrs[k] = v
            elif mtype == 0x0001:
                is_dataset = True
        if is_dataset:
            raise ValueError("expected a group header, found a dataset")
        if stab is not None:
            btree_addr, heap_addr = stab
            heap_data = self._heap_data_addr(heap_addr)
            for name_off, child in self._btree_entries(btree_addr):
                links.append((self._heap_str(heap_data, name_off), child))
        for name, child in links:
            self._add_dataset(prefix + name, child)

    def _parse_link(self, body: bytes) -> tuple[str, int]:
        flags = body[1]
        off = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[off]
            off += 1
        if flags & 0x04:
            off += 8  # creation order
        if flags & 0x10:
            off += 1  # charset
        len_size = 1 << (flags & 0x3)
        nlen = int.from_bytes(body[off : off + len_size], "little")
        off += len_size
        name = body[off : off + nlen].decode()
        off += nlen
        if ltype != 0:
            raise ValueError("only hard links supported")
        return name, struct.unpack_from("<Q", body, off)[0]

    def _heap_data_addr(self, heap_addr: int) -> int:
        buf = self._buf
        if buf[heap_addr : heap_addr + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        return struct.unpack_from("<Q", buf, heap_addr + 24)[0]

    def _heap_str(self, data_addr: int, off: int) -> str:
        buf = self._buf
        end = buf.find(b"\x00", data_addr + off)
        if end < 0:
            raise ValueError("unterminated local heap string")
        return buf[data_addr + off : end].decode()

    def _btree_entries(self, addr: int) -> list[tuple[int, int]]:
        buf = self._buf
        if buf[addr : addr + 4] == b"SNOD":
            n = struct.unpack_from("<H", buf, addr + 6)[0]
            out = []
            for i in range(n):
                e = addr + 8 + 40 * i
                name_off, child = struct.unpack_from("<QQ", buf, e)
                out.append((name_off, child))
            return out
        if buf[addr : addr + 4] != b"TREE":
            raise ValueError("bad B-tree signature")
        level = buf[addr + 5]
        n = struct.unpack_from("<H", buf, addr + 6)[0]
        out = []
        base = addr + 24  # past sig, type, level, nused, siblings
        for i in range(n):
            child = struct.unpack_from("<Q", buf, base + 8 + i * 16)[0]
            out.extend(self._btree_entries(child))
        _ = level
        return out

    def _add_dataset(self, name: str, oh_addr: int) -> None:
        dtype = shape = layout = None
        attrs: dict = {}
        msgs = self._messages(oh_addr)
        if any(m in (0x0011, 0x0002, 0x0006, 0x000A) for m, _ in msgs):
            # nested group (symbol-table or link-storage header):
            # recurse with the path prefix — datasets register under
            # their full 'group/leaf' name
            self._group(oh_addr, self.datasets, attrs, prefix=name + "/")
            return
        filters: tuple[int, ...] = ()
        for mtype, body in msgs:
            if mtype == 0x0001:
                shape = _parse_dataspace(body)
            elif mtype == 0x0003:
                dtype = _parse_dtype(body)
            elif mtype == 0x0008:
                layout = body
            elif mtype == 0x000B:
                filters = _parse_filter_pipeline(body)
            elif mtype == 0x000C:
                k, v = _parse_attribute(body)
                attrs[k] = v
        if dtype is None or shape is None or layout is None:
            raise ValueError(f"dataset {name!r}: incomplete object header")
        ver, cls = layout[0], layout[1]
        if ver != 3:
            raise ValueError(f"unsupported data layout version {ver}")
        if cls == 1:  # contiguous
            data_addr, data_size = struct.unpack_from("<QQ", layout, 2)
            self.datasets[name] = _Dataset(dtype, shape, data_addr, data_size, None, attrs)
        elif cls == 0:  # compact
            csize = struct.unpack_from("<H", layout, 2)[0]
            self.datasets[name] = _Dataset(
                dtype, shape, -1, csize, bytes(layout[4 : 4 + csize]), attrs
            )
        elif cls == 2:  # chunked (r9: + deflate/shuffle filters)
            ndims = layout[2]  # rank + 1 (trailing element-size dim)
            (btree_addr,) = struct.unpack_from("<Q", layout, 3)
            dims = struct.unpack_from(f"<{ndims}I", layout, 11)
            bad = [f for f in filters if f not in (1, 2)]
            if bad:
                raise ValueError(
                    f"unsupported HDF5 filter ids {bad} (deflate=1 and "
                    "shuffle=2 decode natively; others need libhdf5)"
                )
            self.datasets[name] = _Dataset(
                dtype,
                shape,
                -1,
                0,
                None,
                attrs,
                chunk_dims=tuple(int(d) for d in dims[:-1]),
                chunk_btree=btree_addr,
                filters=filters,
            )
        else:
            raise ValueError(f"unsupported data layout class {cls}")

    # -- data access ---------------------------------------------------------

    def _chunk_entries(self, addr: int, ndims: int):
        """Walk a v1 chunk B-tree (node type 1): yields
        (chunk_nbytes, filter_mask, offsets, data_addr)."""
        buf = self._buf
        if buf[addr : addr + 4] != b"TREE":
            raise ValueError("bad chunk B-tree signature")
        ntype, level = buf[addr + 4], buf[addr + 5]
        if ntype != 1:
            raise ValueError(f"expected chunk B-tree, got node type {ntype}")
        nused = struct.unpack_from("<H", buf, addr + 6)[0]
        off = addr + 24
        key_size = 8 + 8 * (ndims + 1)  # size, mask, ndims+1 u64 offsets
        for _ in range(nused):
            nbytes, mask = struct.unpack_from("<II", buf, off)
            coords = struct.unpack_from(f"<{ndims + 1}Q", buf, off + 8)
            child = struct.unpack_from("<Q", buf, off + key_size)[0]
            if level == 0:
                yield nbytes, mask, coords[:-1], child
            else:
                yield from self._chunk_entries(child, ndims)
            off += key_size + 8

    def _assemble_chunked(self, ds: _Dataset) -> np.ndarray:
        """Decode every chunk (deflate/shuffle filters) into the full
        array — grid-bounded materialization for binned/interop files
        (the event-ingest path uses contiguous layouts and never
        lands here)."""
        import zlib

        out = np.zeros(ds.shape, dtype=ds.dtype)
        cdims = ds.chunk_dims
        isz = ds.dtype.itemsize
        for nbytes, mask, coords, addr in self._chunk_entries(
            ds.chunk_btree, len(ds.shape)
        ):
            raw = bytes(self._buf[addr : addr + nbytes])
            for pos, fid in reversed(list(enumerate(ds.filters))):
                if mask & (1 << pos):
                    continue  # filter skipped for this chunk
                if fid == 1:
                    raw = zlib.decompress(raw)
                elif fid == 2:  # shuffle: de-interleave byte planes
                    a = np.frombuffer(raw, dtype="u1").reshape(isz, -1)
                    raw = a.T.tobytes()
            chunk = np.frombuffer(raw, dtype=ds.dtype).reshape(cdims)
            sel = tuple(
                slice(c, min(c + d, s))
                for c, d, s in zip(coords, cdims, ds.shape)
            )
            clip = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            out[sel] = chunk[clip]
        return out

    def read(self, name: str, start: int = 0, stop: int | None = None) -> np.ndarray:
        """Slice a 1-D dataset [start, stop): one byte-range decode of
        the contiguous block (n-D datasets read whole with start/stop
        on the leading axis). Chunked datasets assemble once (cached)
        and slice from the cache."""
        ds = self.datasets[name]
        n = ds.shape[0] if ds.shape else 1
        stop = n if stop is None else min(stop, n)
        start = max(0, start)
        if ds.chunk_dims is not None:
            if ds._cache is None:
                ds._cache = self._assemble_chunked(ds)
            return ds._cache[start:stop]
        row = int(np.prod(ds.shape[1:], dtype=np.int64)) if len(ds.shape) > 1 else 1
        isz = ds.dtype.itemsize * row
        raw = (
            ds.compact[start * isz : stop * isz]
            if ds.compact is not None
            else self._buf[ds.data_addr + start * isz : ds.data_addr + stop * isz]
        )
        arr = np.frombuffer(raw, dtype=ds.dtype)
        if len(ds.shape) > 1:
            arr = arr.reshape((stop - start, *ds.shape[1:]))
        return arr

    def n_rows(self, name: str) -> int:
        ds = self.datasets[name]
        return int(ds.shape[0]) if ds.shape else 1

    def close(self) -> None:
        """Unmap the file. Arrays already read stay valid (each
        :meth:`read` copies its byte window out of the map)."""
        self._buf.close()


def read_hdf5(path: str) -> Hdf5LiteFile:
    """Open and parse an HDF5 file's structure (data reads stay lazy
    byte-range slices)."""
    return Hdf5LiteFile(path)


def append_hdf5(
    path: str,
    datasets: dict[str, np.ndarray],
    dataset_attrs: dict[str, dict] | None = None,
    root_attrs: dict | None = None,
) -> None:
    """Append datasets to an existing lite-written HDF5 file by
    READ-MODIFY-WRITE (r10, VERDICT r9 #9 stretch): parse the file,
    materialize every existing dataset + its attributes, merge the new
    ones in, and rewrite the whole file through :func:`write_hdf5`.
    A name collision raises, matching ``h5py.create_dataset`` under
    mode 'a'. O(file size) per call by design — this writer serves
    driver-small binned artifacts (bounded by grid size), not event
    data; streaming appends belong to libhdf5. Missing file degrades
    to a plain write, like h5py mode 'a'."""
    import os

    dataset_attrs = dict(dataset_attrs or {})
    root_attrs = dict(root_attrs or {})
    if not os.path.exists(path):
        write_hdf5(path, datasets, dataset_attrs, root_attrs)
        return
    f = read_hdf5(path)
    dup = sorted(set(f.datasets) & set(datasets))
    if dup:
        raise ValueError(f"datasets already exist: {dup}")
    merged = {name: f.read(name) for name in f.datasets}
    merged.update(datasets)
    attrs = {
        name: dict(ds.attrs) for name, ds in f.datasets.items() if ds.attrs
    }
    attrs.update(dataset_attrs)
    f.close()  # the rewrite truncates the mapped file
    write_hdf5(path, merged, attrs, {**f.attrs, **root_attrs})
