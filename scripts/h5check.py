#!/usr/bin/env python3
"""Independent HDF5 validation (dev tool): a minimal pure-Python reader
for the public HDF5 format subset our Scala writer emits (superblock
v0, v1 object headers, symbol-table groups, contiguous/chunked
datasets, shuffle+deflate). Written separately from the Scala reader so
writer bugs can't hide behind a shared implementation: a file produced
by graft's Hdf5Writer is decoded here with nothing but struct+zlib and
compared against the source parquet (timestamps as epoch
microseconds, see graft.ExportOne).

Usage: python3 scripts/h5check.py <file.hdf5> [<table.parquet>]
"""
import struct
import sys
import zlib
from datetime import datetime, timezone

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def micros(d):
    """timestamp -> int64 microseconds since the epoch (naive = UTC),
    the encoding graft.ExportOne gives timestamp columns"""
    if d.tzinfo is None:
        d = d.replace(tzinfo=timezone.utc)
    delta = d - EPOCH
    return (delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds


class H5:
    def __init__(self, path):
        self.b = open(path, "rb").read()
        assert self.b[:8] == b"\x89HDF\r\n\x1a\n", "not an HDF5 file"
        assert self.b[8] == 0, "superblock version"
        assert self.b[13] == 8 and self.b[14] == 8, "offset/length sizes"
        self.root = self.u64(56 + 8)

    def u16(self, o):
        return struct.unpack_from("<H", self.b, o)[0]

    def u32(self, o):
        return struct.unpack_from("<I", self.b, o)[0]

    def u64(self, o):
        return struct.unpack_from("<Q", self.b, o)[0]

    def messages(self, addr):
        assert self.b[addr] == 1, "object header version"
        nmsgs = self.u16(addr + 2)
        size = self.u32(addr + 8)
        out, blocks, seen = [], [(addr + 16, size)], 0
        while blocks and seen < nmsgs:
            start, ln = blocks.pop(0)
            p = start
            while p < start + ln and seen < nmsgs:
                typ, sz = self.u16(p), self.u16(p + 2)
                data = p + 8
                if typ == 0x10:
                    blocks.append((self.u64(data), self.u64(data + 8)))
                elif typ:
                    out.append((typ, data, sz))
                seen += 1
                p = data + sz
        return out

    def links(self, addr):
        """symbol-table group -> {name: child addr}"""
        stab = [m for m in self.messages(addr) if m[0] == 0x11]
        assert stab, "not a group"
        btree, heap = self.u64(stab[0][1]), self.u64(stab[0][1] + 8)
        assert self.b[heap:heap + 4] == b"HEAP"
        hdata = self.u64(heap + 24)
        out = {}

        def walk(a):
            assert self.b[a:a + 4] == b"TREE"
            level, n = self.b[a + 5], self.u16(a + 6)
            for i in range(n):
                child = self.u64(a + 24 + 8 + 16 * i)
                if level:
                    walk(child)
                else:
                    assert self.b[child:child + 4] == b"SNOD"
                    for j in range(self.u16(child + 6)):
                        e = child + 8 + 40 * j
                        name_off, oaddr = self.u64(e), self.u64(e + 8)
                        name = self.b[hdata + name_off:
                                      self.b.index(b"\0", hdata + name_off)]
                        out[name.decode()] = oaddr

        walk(btree)
        return out

    def dataset(self, addr):
        """-> list of python values (row-major; rows of lists for 2-D)"""
        dt = ds = layout = filters = None
        for typ, off, _ in self.messages(addr):
            if typ == 0x01:
                ds = off
            elif typ == 0x03:
                dt = off
            elif typ == 0x08:
                layout = off
            elif typ == 0x0B:
                filters = off
        ver, nd = self.b[ds], self.b[ds + 1]
        base = ds + 8 if ver == 1 else ds + 4
        dims = [self.u64(base + 8 * i) for i in range(nd)]
        cls, bits0 = self.b[dt] & 0x0F, self.b[dt + 1]
        size = self.u32(dt + 4)
        fmt = {
            (0, 8): "<q", (0, 4): "<i", (0, 2): "<h",
            (1, 8): "<d", (1, 4): "<f",
        }.get((cls, size))
        assert fmt or cls in (3, 9), f"datatype class {cls} size {size}"
        raw = self._raw(layout, filters, dims, size)
        n = 1
        for d in dims:
            n *= d
        if cls == 9:  # vlen string: (len u32, GCOL addr u64, index u32)
            assert bits0 & 0x0F == 1, "vlen non-string"
            vals = []
            for i in range(n):
                ln, gaddr, idx = struct.unpack_from("<IQI", raw, i * 16)
                vals.append(self.gheap(gaddr, idx)[:ln].decode())
        elif cls == 3:
            vals = [raw[i * size:(i + 1) * size].split(b"\0")[0].decode()
                    for i in range(n)]
        else:
            vals = [struct.unpack_from(fmt, raw, i * size)[0] for i in range(n)]
        if len(dims) == 2:
            w = dims[1]
            vals = [vals[i * w:(i + 1) * w] for i in range(dims[0])]
        return vals

    def gheap(self, addr, idx):
        """object `idx` from the GCOL global heap collection at addr"""
        assert self.b[addr:addr + 4] == b"GCOL", "no global heap"
        end = addr + self.u64(addr + 8)
        p = addr + 16
        while p < end:
            oid = self.u16(p)
            assert oid != 0, "heap object not found"
            size = self.u64(p + 8)
            if oid == idx:
                return self.b[p + 16:p + 16 + size]
            p += 16 + ((size + 7) & ~7)
        raise AssertionError("heap object not found")

    def _raw(self, layout, filters, dims, esize):
        v, cls = self.b[layout], self.b[layout + 1]
        assert v == 3, "layout version"
        if cls == 1:  # contiguous
            addr, nbytes = self.u64(layout + 2), self.u64(layout + 10)
            return self.b[addr:addr + nbytes]
        assert cls == 2, "layout class"
        ndp1 = self.b[layout + 2]
        btree = self.u64(layout + 3)
        cdims = [self.u32(layout + 11 + 4 * i) for i in range(ndp1 - 1)]
        fids = []
        if filters is not None:
            nf = self.b[filters + 1]
            p = filters + 8
            for _ in range(nf):
                fid, nlen, ncli = self.u16(p), self.u16(p + 2), self.u16(p + 6)
                fids.append(fid)
                p += 8 + ((nlen + 7) & ~7) + 4 * ((ncli + 1) // 2 * 2)
        rank = len(dims) if dims else 1
        keysz = 8 + 8 * (rank + 1)
        chunk_elems = 1
        for c in cdims:
            chunk_elems *= c
        chunk_bytes = chunk_elems * esize
        rowbytes = esize
        for d in dims[1:]:
            rowbytes *= d
        total = dims[0] * rowbytes if dims else esize
        out = bytearray(total)

        def unshuffle(data):
            if esize <= 1:
                return data
            n = len(data) // esize
            o = bytearray(len(data))
            for i in range(n):
                for bb in range(esize):
                    o[i * esize + bb] = data[bb * n + i]
            return bytes(o)

        def walk(a):
            assert self.b[a:a + 4] == b"TREE" and self.b[a + 4] == 1
            level, n = self.b[a + 5], self.u16(a + 6)
            p = a + 24
            for _ in range(n):
                nbytes = self.u32(p)
                start_row = self.u64(p + 8)
                child = self.u64(p + keysz)
                if level:
                    walk(child)
                else:
                    data = self.b[child:child + nbytes]
                    for f in reversed(fids):
                        if f == 1:
                            data = zlib.decompress(data, bufsize=chunk_bytes)
                        elif f == 2:
                            data = unshuffle(data)
                        else:
                            raise AssertionError(f"filter {f}")
                    off = start_row * rowbytes
                    ln = min(len(data), total - off)
                    out[off:off + ln] = data[:ln]
                p += keysz + 8

        walk(btree)
        return bytes(out)


def main():
    h5 = H5(sys.argv[1])
    root = h5.links(h5.root)
    print(f"root groups: {sorted(root)}")
    data = h5.links(root["data"])
    cols = {name: h5.dataset(addr) for name, addr in data.items()}
    for name, vals in sorted(cols.items()):
        print(f"  {name}: {len(vals)} values, head={vals[:3]}")
    if len(sys.argv) > 2:
        import pyarrow.parquet as pq
        t = pq.read_table(sys.argv[2])
        bad = 0
        for name in t.column_names:
            want = [micros(v) if isinstance(v, datetime) else v
                    for v in t[name].to_pylist()]
            got = cols[name]
            if len(got) != len(want):
                ok = False
            elif isinstance(want[0], float):
                ok = all(abs(a - b) < 1e-9 or a == b for a, b in zip(got, want))
            else:
                ok = got == want
            if not ok:
                bad += 1
                print(f"MISMATCH {name}")
        print("OK: all columns equal parquet" if not bad else f"{bad} BAD")
        sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
