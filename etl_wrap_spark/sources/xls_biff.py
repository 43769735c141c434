"""Legacy .xls (BIFF8) codec in pure stdlib (SURVEY §2.1 S8, §2.2 K14).

The reference reads xls via an event-driven cell handler
(Wrap/File.pm:154-187: worksheet selection by 1-based index, header
assertion on the header row, date columns, stop-on-empty-cell) and
writes xls via Spreadsheet::WriteExcel (Wrap/File.pm:614-691). This
environment has no Excel library, so — like the xlsx codec
(sources/xlsx.py) — the container and record formats are implemented
directly:

- OLE2/CFB compound container: FAT + mini-FAT stream reassembly on
  read; a minimal single-stream container on write.
- BIFF8 records: BOF/BOUNDSHEET/SST(+CONTINUE)/LABELSST/LABEL/NUMBER/
  RK/MULRK/FORMULA(+STRING)/BOOLERR/EOF. Unicode strings handle the
  compressed (latin-1) and UTF-16LE forms, including strings split
  across CONTINUE boundaries (each continuation restates the encoding
  flag byte — the classic BIFF quirk).

Values surface as strings exactly like ``parse_xlsx`` (numbers in
canonical form, date cells as serials) so the shared ``_shape_rows``
post-processing — header assertion, projection, date conversion,
stop-on-empty — applies unchanged. Divergence from the reference noted:
date cells convert serial→YYYYMMDD directly rather than re-parsing the
US-formatted display string (Wrap/File.pm:171-177) — same output, no
locale round-trip.

The writer emits real SST + LABELSST records (with CONTINUE splitting
past the 8224-byte record limit), so round-trip tests exercise the
reader's shared-string path, not a simplified inline one.
"""

from __future__ import annotations

import io
import struct
from collections.abc import Sequence

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD
_MAX_RECORD_DATA = 8224  # BIFF8 record payload limit → CONTINUE


def _u16(b: bytes, o: int) -> int:
    return struct.unpack_from("<H", b, o)[0]


def _u32(b: bytes, o: int) -> int:
    return struct.unpack_from("<I", b, o)[0]


# =========================================================== CFB container
def cfb_open_stream(data: bytes, names: Sequence[str] = ("Workbook", "Book")) -> bytes:
    """Reassemble the named stream from an OLE2 compound file (FAT and
    mini-FAT chains both supported)."""
    if data[:8] != _CFB_MAGIC:
        raise ValueError("not an OLE2 compound file (bad magic): not a .xls?")
    ssz = 1 << _u16(data, 30)
    mssz = 1 << _u16(data, 32)
    num_fat = _u32(data, 44)
    dir_start = _u32(data, 48)
    mini_cutoff = _u32(data, 56)
    minifat_start = _u32(data, 60)
    difat_start = _u32(data, 68)
    num_difat = _u32(data, 72)

    difat = [_u32(data, 76 + 4 * i) for i in range(109)]
    s = difat_start
    for _ in range(num_difat):
        base = 512 + s * ssz
        difat += [_u32(data, base + 4 * i) for i in range(ssz // 4 - 1)]
        s = _u32(data, base + ssz - 4)

    fat: list[int] = []
    for s in difat[:num_fat]:
        if s == _FREESECT:
            continue
        base = 512 + s * ssz
        fat += [_u32(data, base + 4 * i) for i in range(ssz // 4)]

    def chain(start: int) -> list[int]:
        out, s, seen = [], start, set()
        while s < len(fat) and s not in seen:
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    def read_chain(start: int) -> bytes:
        return b"".join(data[512 + s * ssz : 512 + (s + 1) * ssz] for s in chain(start))

    directory = read_chain(dir_start)
    entries = []
    for off in range(0, len(directory) - 127, 128):
        e = directory[off : off + 128]
        nlen = _u16(e, 64)
        name = e[: max(0, nlen - 2)].decode("utf-16-le", errors="ignore")
        entries.append((name, e[66], _u32(e, 116), _u32(e, 120)))  # (name, type, startsect, size)
    if not entries:
        raise ValueError("empty CFB directory")

    minifat: list[int] = []
    for s in chain(minifat_start) if minifat_start != _ENDOFCHAIN else []:
        base = 512 + s * ssz
        minifat += [_u32(data, base + 4 * i) for i in range(ssz // 4)]
    ministream = read_chain(entries[0][2]) if entries[0][1] == 5 else b""

    for name, typ, start, size in entries:
        if typ == 2 and name in names:
            if size < mini_cutoff and minifat:
                out, s, seen = [], start, set()
                while s < len(minifat) and s not in seen:
                    seen.add(s)
                    out.append(ministream[s * mssz : (s + 1) * mssz])
                    s = minifat[s]
                return b"".join(out)[:size]
            return read_chain(start)[:size]
    raise ValueError(f"no stream named any of {list(names)} in compound file")


# ======================================================== BIFF8 record read
def _records(stream: bytes, start: int = 0):
    """Yield (opcode, offset, payload) from `start` until stream end."""
    off = start
    n = len(stream)
    while off + 4 <= n:
        op = _u16(stream, off)
        ln = _u16(stream, off + 2)
        yield op, off, stream[off + 4 : off + 4 + ln]
        off += 4 + ln


class _ChunkReader:
    """Byte reader over SST payload + CONTINUE payloads. Character data
    may split at chunk boundaries; the continuation restates the
    encoding-flag byte (handled in read_string)."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.chunks[self.ci]) - self.off

    def _advance(self) -> None:
        while self.ci < len(self.chunks) - 1 and self._avail() == 0:
            self.ci += 1
            self.off = 0

    def raw(self, n: int) -> bytes:
        out = b""
        while n:
            self._advance()
            take = min(n, self._avail())
            if take == 0:
                raise ValueError("truncated SST")
            out += self.chunks[self.ci][self.off : self.off + take]
            self.off += take
            n -= take
        return out

    def u8(self) -> int:
        return self.raw(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.raw(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.raw(4))[0]

    def read_string(self) -> str:
        cch = self.u16()
        grbit = self.u8()
        crun = self.u16() if grbit & 0x08 else 0
        cbext = self.u32() if grbit & 0x04 else 0
        high = grbit & 0x01
        parts: list[str] = []
        remaining = cch
        while remaining:
            if self._avail() == 0:
                self._advance()
                high = self.u8() & 0x01  # continuation flag byte
            avail = self._avail()
            take = min(remaining, avail // 2 if high else avail)
            if take == 0:
                raise ValueError("truncated string in SST")
            raw = self.raw(take * 2 if high else take)
            parts.append(raw.decode("utf-16-le" if high else "latin-1"))
            remaining -= take
        if crun or cbext:
            self.raw(4 * crun + cbext)
        return "".join(parts)


def _rk_value(rk: int) -> float:
    if rk & 0x02:  # integer form
        v = float(rk >> 2 if rk >> 2 < (1 << 29) else (rk >> 2) - (1 << 30))
    else:
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return v / 100.0 if rk & 0x01 else v


def _num_str(v: float) -> str:
    """Canonical numeric string, matching the xlsx codec's stored-text
    forms ('45292', '1.5')."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _inline_string(payload: bytes, off: int) -> str:
    cch = _u16(payload, off)
    grbit = payload[off + 2]
    p = off + 3
    if grbit & 0x08:
        p += 2
    if grbit & 0x04:
        p += 4
    if grbit & 0x01:
        return payload[p : p + 2 * cch].decode("utf-16-le")
    return payload[p : p + cch].decode("latin-1")


def parse_xls(data: bytes, worksheet: str | int | None = None) -> list[list[str]]:
    """xls (BIFF8) bytes → dense rows of strings, same contract as
    ``parse_xlsx``: `worksheet` is a sheet name, 1-based index, or None
    (first sheet)."""
    wb = cfb_open_stream(data)
    sst: list[str] = []
    sheets: list[tuple[str, int]] = []  # (name, stream offset)

    # --- workbook globals: SST (+CONTINUE) and BOUNDSHEETs
    pending_sst: list[bytes] | None = None
    for op, _off, payload in _records(wb):
        if op == 0x00FC:  # SST
            pending_sst = [payload]
        elif op == 0x003C and pending_sst is not None:  # CONTINUE
            pending_sst.append(payload)
        elif op == 0x0085:  # BOUNDSHEET
            pos = _u32(payload, 0)
            cch = payload[6]
            grbit = payload[7]
            raw = payload[8 : 8 + (2 * cch if grbit & 1 else cch)]
            name = raw.decode("utf-16-le" if grbit & 1 else "latin-1")
            sheets.append((name, pos))
        elif op == 0x000A:  # EOF of globals
            break
    if pending_sst is not None:
        rd = _ChunkReader(pending_sst)
        rd.u32()  # cstTotal
        unique = rd.u32()
        sst = [rd.read_string() for _ in range(unique)]

    if not sheets:
        raise ValueError("no BOUNDSHEET records: not a BIFF8 workbook?")
    if worksheet is None:
        target = sheets[0][1]
    elif isinstance(worksheet, int):
        target = sheets[worksheet - 1][1]
    else:
        matches = [pos for n, pos in sheets if n == worksheet]
        if not matches:
            raise ValueError(f"worksheet {worksheet!r} not found; have {[n for n, _ in sheets]}")
        target = matches[0]

    # --- worksheet substream
    cells: dict[int, dict[int, str]] = {}

    def put(r: int, c: int, v: str) -> None:
        cells.setdefault(r, {})[c] = v

    pending_formula_cell: tuple[int, int] | None = None
    for op, _off, payload in _records(wb, target):
        if op == 0x0809 and _off != target:  # BOF of the NEXT substream
            break
        if op == 0x000A and _off != target:  # EOF of this sheet
            break
        if op == 0x00FD:  # LABELSST
            put(_u16(payload, 0), _u16(payload, 2), sst[_u32(payload, 6)])
        elif op == 0x0203:  # NUMBER
            put(_u16(payload, 0), _u16(payload, 2), _num_str(struct.unpack_from("<d", payload, 6)[0]))
        elif op == 0x027E:  # RK
            put(_u16(payload, 0), _u16(payload, 2), _num_str(_rk_value(_u32(payload, 6))))
        elif op == 0x00BD:  # MULRK
            row = _u16(payload, 0)
            col0 = _u16(payload, 2)
            nrk = (len(payload) - 6) // 6
            for i in range(nrk):
                put(row, col0 + i, _num_str(_rk_value(_u32(payload, 4 + 6 * i + 2))))
        elif op == 0x0204:  # LABEL (inline BIFF8 unicode string)
            put(_u16(payload, 0), _u16(payload, 2), _inline_string(payload, 6))
        elif op == 0x0205:  # BOOLERR
            if payload[7] == 0:
                put(_u16(payload, 0), _u16(payload, 2), "TRUE" if payload[6] else "FALSE")
        elif op == 0x0006:  # FORMULA: cached result
            row, col = _u16(payload, 0), _u16(payload, 2)
            res = payload[6:14]
            if res[6:8] == b"\xff\xff":
                if res[0] == 0:  # string result follows in a STRING record
                    pending_formula_cell = (row, col)
                elif res[0] == 1:
                    put(row, col, "TRUE" if res[2] else "FALSE")
            else:
                put(row, col, _num_str(struct.unpack("<d", res)[0]))
        elif op == 0x0207 and pending_formula_cell is not None:  # STRING
            rd = _ChunkReader([payload])
            put(*pending_formula_cell, rd.read_string())
            pending_formula_cell = None

    if not cells:
        return []
    max_row = max(cells)
    width = max((max(cs) for cs in cells.values()), default=-1) + 1
    return [[cells.get(r, {}).get(c, "") for c in range(width)] for r in range(max_row + 1)]


# ======================================================== BIFF8 + CFB write
def _record(op: int, payload: bytes) -> bytes:
    return struct.pack("<HH", op, len(payload)) + payload


def _sst_records(strings: Sequence[str]) -> bytes:
    """SST with CONTINUE splits past the record-size limit: between
    strings (the continuation starts with the next string's header) or
    inside character data (the continuation restates the encoding-flag
    byte) — both forms the reader handles."""
    chunks: list[bytes] = []
    cur = struct.pack("<II", len(strings), len(strings))

    def flush() -> None:
        nonlocal cur
        chunks.append(cur)
        cur = b""

    for s in strings:
        try:
            raw, grbit, width = s.encode("latin-1"), 0, 1
        except UnicodeEncodeError:
            raw, grbit, width = s.encode("utf-16-le"), 1, 2
        if len(cur) + 3 + width > _MAX_RECORD_DATA:  # header + ≥1 char must fit
            flush()
        cur += struct.pack("<HB", len(s), grbit)
        while raw:
            space = _MAX_RECORD_DATA - len(cur)
            if space < width:
                flush()
                cur = bytes([grbit])  # continuation flag for split char data
                space = _MAX_RECORD_DATA - 1
            take = (min(space, len(raw)) // width) * width
            cur += raw[:take]
            raw = raw[take:]
    chunks.append(cur)
    out = _record(0x00FC, chunks[0])
    for extra in chunks[1:]:
        out += _record(0x003C, extra)
    return out


def write_xls_bytes(header: Sequence[str], rows: list[Sequence[str]], sheet_name: str = "Sheet1") -> bytes:
    """Rows → minimal BIFF8 .xls in an OLE2 container. String cells go
    through SST/LABELSST (like Spreadsheet::WriteExcel); numeric-looking
    values become NUMBER records. Round-trips through ``parse_xls``."""
    all_rows = [list(header)] + [list(r) for r in rows]

    def numeric(v: str) -> float | None:
        import math

        try:
            f = float(v)
        except (TypeError, ValueError):
            return None
        return f if math.isfinite(f) else None

    sst_strings: list[str] = []
    sst_index: dict[str, int] = {}
    cell_recs = b""
    for r, row in enumerate(all_rows):
        for c, v in enumerate(row):
            v = "" if v is None else str(v)
            if v == "":
                continue
            num = numeric(v) if r > 0 else None  # header always textual
            if num is not None:
                cell_recs += _record(0x0203, struct.pack("<HHHd", r, c, 0, num))
            else:
                if v not in sst_index:
                    sst_index[v] = len(sst_strings)
                    sst_strings.append(v)
                cell_recs += _record(0x00FD, struct.pack("<HHHI", r, c, 0, sst_index[v]))

    bof_wb = _record(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0xC1, 0x0406))
    bof_ws = _record(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB, 0x07CC, 0xC1, 0x0406))
    eof = _record(0x000A, b"")
    sst = _sst_records(sst_strings)

    name_raw = sheet_name.encode("latin-1", errors="replace")
    boundsheet_payload_len = 4 + 2 + 1 + 1 + len(name_raw)
    globals_len = len(bof_wb) + len(sst) + 4 + boundsheet_payload_len + len(eof)
    boundsheet = _record(
        0x0085, struct.pack("<IHBB", globals_len, 0, len(name_raw), 0) + name_raw
    )
    sheet_stream = bof_ws + cell_recs + eof
    workbook = bof_wb + sst + boundsheet + eof + sheet_stream
    return _cfb_container(workbook)


def _cfb_container(stream: bytes, name: str = "Workbook") -> bytes:
    """Single-stream OLE2 container. The stream is padded to ≥4096 bytes
    so it lives in regular FAT sectors (no mini-stream machinery)."""
    data = stream + b"\x00" * max(0, 4096 - len(stream))
    n_stream = (len(data) + 511) // 512
    data += b"\x00" * (n_stream * 512 - len(data))
    n_dir = 1
    n_fat = 1
    while (n_fat * 128) < (n_fat + n_dir + n_stream):
        n_fat += 1

    fat = [_FATSECT] * n_fat  # the FAT sectors themselves
    fat.append(_ENDOFCHAIN)  # directory (single sector)
    first_stream = n_fat + n_dir
    fat += [first_stream + i + 1 for i in range(n_stream - 1)] + [_ENDOFCHAIN]
    fat += [_FREESECT] * (n_fat * 128 - len(fat))

    def dirent(nm: str, typ: int, color: int, child: int, start: int, size: int) -> bytes:
        raw = nm.encode("utf-16-le") + b"\x00\x00"
        e = raw + b"\x00" * (64 - len(raw))
        e += struct.pack("<HBB", len(raw), typ, color)
        e += struct.pack("<III", 0xFFFFFFFF, 0xFFFFFFFF, child)  # left/right/child
        e += b"\x00" * 36  # CLSID + state + times
        e += struct.pack("<II", start, size)
        e += b"\x00" * 4
        return e

    directory = dirent("Root Entry", 5, 1, 1, _ENDOFCHAIN, 0)
    directory += dirent(name, 2, 1, 0xFFFFFFFF, first_stream, len(stream))
    directory += b"\x00" * (512 - len(directory) % 512 if len(directory) % 512 else 0)

    difat = list(range(n_fat)) + [_FREESECT] * (109 - n_fat)
    dir_sector = n_fat  # directory sits right after the FAT sectors
    header = _CFB_MAGIC + b"\x00" * 16  # magic + zero CLSID
    header += struct.pack(
        "<HHHHH6xIIIIIIIII",
        0x003E, 0x0003, 0xFFFE, 9, 6,  # minor, major, byte order, sector/mini shifts
        0,            # number of directory sectors (v3: unused)
        n_fat,        # number of FAT sectors
        dir_sector,   # first directory sector
        0,            # transaction signature
        4096,         # mini-stream cutoff
        _ENDOFCHAIN,  # first mini-FAT sector (none)
        0,            # number of mini-FAT sectors
        _ENDOFCHAIN,  # first DIFAT sector (all 109 fit in the header)
        0,            # number of DIFAT sectors
    )
    header += b"".join(struct.pack("<I", s) for s in difat)
    assert len(header) == 512, len(header)

    body = b"".join(struct.pack("<I", v) for v in fat) + directory + data
    return header + body
