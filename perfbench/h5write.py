"""Frozen, trimmed copy of the engine's netCDF-4 writer
(ncagg_spark/sources/hdf5_writer.py at commit 5153595), used only to write
the nc4_day input granules. The benchmark keeps its own copy so its inputs
never change with the code under test; the engine's reader must still
decode them. Only what the generator uses is kept: integer and float
variables along an unlimited record dimension (one chunk each, zlib with
the byte-shuffle filter), fixed dimensions without a coordinate variable,
and string / numeric attributes. The bytes written are those of the
engine's writer for the same call.

The layout follows the public HDF5 File Format Specification (version 3)
with the structural choices netCDF-C makes at its default settings:

  * superblock v0 (8-byte offsets/lengths, no checksum);
  * object headers v1, one header block per object;
  * old-style root group: v1 B-tree (type 0) + one SNOD symbol node +
    local heap, names sorted;
  * dataspace v1, datatype v1 (fixed / float / string / reference /
    vlen), data layout v3 (chunked + v1 type-1 chunk B-tree), filter
    pipeline v1 (shuffle + deflate);
  * the netCDF-4 dimension model: dimension-scale datasets
    (CLASS="DIMENSION_SCALE"), placeholder scales for dimensions without
    a coordinate variable, DIMENSION_LIST vlen-of-object-reference
    attributes backed by a global heap collection (GCOL).
"""

from __future__ import annotations

import itertools
import struct
import zlib

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
# records per chunk; a v1 B-tree leaf holds at most 64 chunks (K=32)
_RECORD_CHUNK = 4096
_BTREE_MAX = 64
_PLACEHOLDER_NAME = "This is a netCDF dimension but not a netCDF variable."


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * ((8 - len(b) % 8) % 8)


# ---------------------------------------------------------------------------
# datatype / dataspace / attribute messages
# ---------------------------------------------------------------------------


def _dt_fixed(size: int, signed: bool) -> bytes:
    # class 0 (fixed point), v1; little-endian, bit 3 = signed
    head = struct.pack("<BBBBI", 0x10, 0x08 if signed else 0x00, 0, 0, size)
    return head + struct.pack("<HH", 0, 8 * size)


def _dt_float(size: int) -> bytes:
    # class 1 (float), v1; IEEE little-endian, implied mantissa MSB
    if size == 4:
        sign, exp_loc, exp_sz, man_sz, bias = 31, 23, 8, 23, 127
    elif size == 8:
        sign, exp_loc, exp_sz, man_sz, bias = 63, 52, 11, 52, 1023
    else:
        raise ValueError(f"float{size * 8} unsupported")
    head = struct.pack("<BBBBI", 0x11, 0x20, sign, 0, size)
    return head + struct.pack("<HHBBBBI", 0, 8 * size, exp_loc, exp_sz, 0, man_sz, bias)


def _dt_string(size: int) -> bytes:
    # class 3 (string), v1; null-padded, ASCII
    return struct.pack("<BBBBI", 0x13, 0x00, 0, 0, max(size, 1))


def _dt_vlen_ref() -> bytes:
    # class 9 (vlen sequence) of class 7 (object reference)
    ref = struct.pack("<BBBBI", 0x17, 0x00, 0, 0, 8)
    return struct.pack("<BBBBI", 0x19, 0x00, 0, 0, 16) + ref


def _np_datatype(dt: np.dtype) -> bytes:
    dt = np.dtype(dt)
    if dt.kind in ("i", "u"):
        return _dt_fixed(dt.itemsize, dt.kind == "i")
    if dt.kind == "f":
        return _dt_float(dt.itemsize)
    raise ValueError(f"unsupported dtype {dt}")


def _dataspace(shape: tuple, maxshape: tuple | None = None) -> bytes:
    flags = 0x1 if maxshape is not None else 0x0
    out = struct.pack("<BBB5x", 1, len(shape), flags)
    out += b"".join(struct.pack("<Q", d) for d in shape)
    if maxshape is not None:
        out += b"".join(struct.pack("<Q", d) for d in maxshape)
    return out


def _scalar_dataspace() -> bytes:
    return struct.pack("<BBB5x", 1, 0, 0)


def _attr_message(name: str, dt_msg: bytes, ds_msg: bytes, data: bytes) -> bytes:
    nm = name.encode("utf-8") + b"\x00"
    body = struct.pack("<BBHHH", 1, 0, len(nm), len(dt_msg), len(ds_msg))
    return body + _pad8(nm) + _pad8(dt_msg) + _pad8(ds_msg) + data


def _attr(name: str, v) -> tuple[int, bytes]:
    """An attribute message (type 0x0C) for a string or a numeric scalar."""
    if isinstance(v, str):
        b = v.encode("utf-8") + b"\x00"
        return 0x0C, _attr_message(name, _dt_string(len(b)), _scalar_dataspace(), b)
    a = np.asarray(v)
    if a.ndim != 0 or a.dtype.kind not in ("i", "u", "f"):
        raise ValueError(f"unsupported attribute {name}={v!r}")
    data = a.astype(a.dtype.newbyteorder("<")).tobytes()
    return 0x0C, _attr_message(name, _np_datatype(a.dtype), _scalar_dataspace(), data)


# ---------------------------------------------------------------------------
# objects and chunk storage
# ---------------------------------------------------------------------------


def _object_header_v1(messages: list[tuple[int, bytes]]) -> bytes:
    body = b""
    for mtype, mdata in messages:
        mdata = _pad8(mdata)
        body += struct.pack("<HHB3x", mtype, len(mdata), 0) + mdata
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(body)) + body


class _FileBuilder:
    def __init__(self):
        self.out = bytearray(b"\x00" * 96)  # room for the superblock

    def alloc(self, data: bytes) -> int:
        self.out += b"\x00" * ((8 - len(self.out) % 8) % 8)
        addr = len(self.out)
        self.out += data
        return addr

    def finish(self, root_header_addr: int, leaf_k: int) -> bytes:
        sb = struct.pack(
            "<8sBBBBBBBxHHI",
            b"\x89HDF\r\n\x1a\n",
            0, 0, 0, 0, 0,  # superblock, free space, root table, -, shared header
            8, 8,  # offset and length sizes
            leaf_k, 16,  # group leaf / internal node K
            0,  # consistency flags
        )
        sb += struct.pack("<QQQQ", 0, UNDEF, len(self.out), UNDEF)
        # root group symbol table entry: name offset, header addr, cache 0
        sb += struct.pack("<QQI4x16x", 0, root_header_addr, 0)
        self.out[: len(sb)] = sb
        return bytes(self.out)


def _write_chunked(fb: _FileBuilder, arr: np.ndarray, chunk: tuple[int, ...],
                   compression: int) -> int:
    """Shuffle + deflate every chunk (edge chunks padded to the full chunk
    shape), then one v1 type-1 B-tree leaf over them; returns its address."""
    esz = arr.dtype.itemsize
    entries = []  # (offsets, addr, stored size)
    grids = [range(0, s, c) for s, c in zip(arr.shape, chunk)]
    for offs in itertools.product(*grids):
        sl = tuple(slice(o, min(o + c, s)) for o, c, s in zip(offs, chunk, arr.shape))
        block = np.zeros(chunk, dtype=arr.dtype)
        block[tuple(slice(0, s.stop - s.start) for s in sl)] = arr[sl]
        raw = block.astype(arr.dtype.newbyteorder("<")).tobytes()
        raw = np.frombuffer(raw, "u1").reshape(-1, esz).T.tobytes()
        raw = zlib.compress(raw, compression)
        entries.append((offs, fb.alloc(raw), len(raw)))
    if len(entries) > _BTREE_MAX:
        raise ValueError("more chunks than one B-tree leaf holds")

    def key(offs: tuple[int, ...], size: int) -> bytes:
        return struct.pack("<II", size, 0) + b"".join(
            struct.pack("<Q", o) for o in (*offs, 0)  # trailing element dim
        )

    # past-the-end key: the first chunk offset beyond the data in each dim
    end = tuple(-(-s // c) * c for s, c in zip(arr.shape, chunk))
    body = struct.pack("<4sBBHQQ", b"TREE", 1, 0, len(entries), UNDEF, UNDEF)
    for offs, addr, size in entries:
        body += key(offs, size) + struct.pack("<Q", addr)
    return fb.alloc(body + key(end, 0))


def _dataset_header(fb: _FileBuilder, arr: np.ndarray | None, shape, maxshape,
                    dtype, attrs: list[tuple[int, bytes]], compression: int) -> int:
    """A record variable (chunked, filtered) or, with ``arr`` None, a
    placeholder scale with no data allocated."""
    msgs = [(0x01, _dataspace(shape, maxshape)), (0x03, _np_datatype(dtype))]
    if arr is None:
        msgs.append((0x08, struct.pack("<BBQQ", 3, 1, UNDEF, 0)))
    else:
        chunk = (min(max(arr.shape[0], 1), _RECORD_CHUNK),) + arr.shape[1:]
        btree = _write_chunked(fb, arr, chunk, compression)
        filters = struct.pack("<BB6x", 1, 2)
        for fid, cval in ((2, arr.dtype.itemsize), (1, compression)):
            # id, name length 0, flags, one client value (+ pad to even)
            filters += struct.pack("<HHHHI4x", fid, 0, 0, 1, cval)
        msgs.append((0x0B, filters))
        lay = struct.pack("<BBBQ", 3, 2, len(chunk) + 1, btree)
        lay += b"".join(struct.pack("<I", c) for c in (*chunk, arr.dtype.itemsize))
        msgs.append((0x08, lay))
    msgs.extend(attrs)
    return fb.alloc(_object_header_v1(msgs))


def write_hdf5(path: str, *, dims: list[tuple[str, int]],
               variables: dict[str, tuple[list[str], np.ndarray]],
               attributes: dict, var_attributes: dict[str, dict],
               compression: int) -> None:
    """Write a netCDF-4 file. ``dims`` is [(name, size)] with size 0 for
    the record dimension, which must have a coordinate variable of the
    same name; every variable is name -> (dims, array) along it."""
    dim_sizes = dict(dims)
    rec_dim = next(n for n, s in dims if s == 0)
    numrecs = len(variables[rec_dim][1])
    for name, (vdims, _) in variables.items():
        if not vdims or vdims[0] != rec_dim or (name in dim_sizes and name != rec_dim):
            raise ValueError(f"{name}: only record variables are supported")

    fb = _FileBuilder()
    header_addr: dict[str, int] = {}

    def var_attrs(name: str) -> list[tuple[int, bytes]]:
        return [_attr(k, v) for k, v in (var_attributes.get(name) or {}).items()]

    # pass 1: dimension scales (their addresses feed DIMENSION_LIST)
    for di, (dname, dsize) in enumerate(dims):
        scale = [
            _attr("CLASS", "DIMENSION_SCALE"),
            None,  # NAME
            (0x0C, _attr_message("_Netcdf4Dimid", _dt_fixed(4, True),
                                 _scalar_dataspace(), struct.pack("<i", di))),
        ]
        if dname == rec_dim:
            a = np.asarray(variables[dname][1])
            scale[1] = _attr("NAME", dname)
            header_addr[dname] = _dataset_header(
                fb, a, a.shape, (UNDEF,) + a.shape[1:], a.dtype,
                scale + var_attrs(dname), compression,
            )
        else:
            scale[1] = _attr("NAME", f"{_PLACEHOLDER_NAME}  {max(dsize, 1)}")
            header_addr[dname] = _dataset_header(
                fb, None, (dsize,), None, np.dtype("<f4"), scale, compression
            )

    # global heap collection: one object reference per (variable, dim)
    data_vars = [n for n in variables if n != rec_dim]
    refs: list[bytes] = []
    ref_idx: dict[str, list[int]] = {}
    for name in data_vars:
        ref_idx[name] = []
        for d in variables[name][0]:
            refs.append(struct.pack("<Q", header_addr[d]))
            ref_idx[name].append(len(refs))  # heap ids are 1-based
    body = b"".join(
        struct.pack("<HH4xQ", i, 1, len(r)) + _pad8(r) for i, r in enumerate(refs, 1)
    )
    total = max(4096, 16 + len(body))
    free = total - (16 + len(body))
    if 0 < free < 16:  # the free-space object needs its 16-byte header
        total, free = total + 16, free + 16
    gcol = struct.pack("<4sB3xQ", b"GCOL", 1, total) + body
    if free:  # free-space object: index 0, size includes its header
        gcol += struct.pack("<HH4xQ", 0, 0, free)
    gcol_addr = fb.alloc(gcol + b"\x00" * (total - len(gcol)))

    # pass 2: data variables
    for name in data_vars:
        vdims, arr = variables[name]
        a = np.asarray(arr)
        shape = (numrecs,) + tuple(dim_sizes[d] for d in vdims[1:])
        dim_list = b"".join(struct.pack("<IQI", 1, gcol_addr, i) for i in ref_idx[name])
        attrs = [(0x0C, _attr_message("DIMENSION_LIST", _dt_vlen_ref(),
                                      _dataspace((len(vdims),)), dim_list))]
        header_addr[name] = _dataset_header(
            fb, a, a.shape, (UNDEF,) + shape[1:], a.dtype,
            attrs + var_attrs(name), compression,
        )

    # root group: local heap + one SNOD + v1 B-tree
    names = sorted(header_addr)
    heap = bytearray(8)  # offset 0: the empty string
    name_off = {}
    for nm in names:
        name_off[nm] = len(heap)
        heap += nm.encode("utf-8") + b"\x00"
    heap = _pad8(bytes(heap))
    heap_data_addr = fb.alloc(heap)
    heap_addr = fb.alloc(struct.pack("<4sB3xQQQ", b"HEAP", 0, len(heap), 1, heap_data_addr))
    snod = struct.pack("<4sBxH", b"SNOD", 1, len(names))
    for nm in names:
        snod += struct.pack("<QQI4x16x", name_off[nm], header_addr[nm], 0)
    snod_addr = fb.alloc(snod)
    btree = struct.pack("<4sBBHQQ", b"TREE", 0, 0, 1, UNDEF, UNDEF)
    btree += struct.pack("<QQQ", 0, snod_addr, name_off[names[-1]])
    btree_addr = fb.alloc(btree)
    root = [(0x11, struct.pack("<QQ", btree_addr, heap_addr))]
    root += [_attr(k, v) for k, v in attributes.items()]
    root_addr = fb.alloc(_object_header_v1(root))
    # the one SNOD holds every name: the group leaf K must allow it
    blob = fb.finish(root_addr, leaf_k=max(4, (len(names) + 1) // 2))
    with open(path, "wb") as f:
        f.write(blob)
