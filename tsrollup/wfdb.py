"""Native WFDB binary source: MIT-BIH ``.hea``/``.dat``(format 212)/``.atr``
parsing as a distributed Spark read — no wfdb dependency.

The reference ingests MIT-BIH through the wfdb library
(``TSFEDL/data.py:138-139`` ``wfdb.rdrecord`` / ``wfdb.rdann``) and then
segments per annotation run (``data.py:10-96``). This module replaces the
library call with a from-spec parser of the PUBLICLY documented PhysioNet
WFDB formats (the ``header(5)``/``signal(5)``/``annot(5)`` man pages):

- **format 212**: two 12-bit two's-complement ADC samples packed per 3 bytes
  (byte0 = low 8 of s0; byte1 = high 4 of s0 | high 4 of s1 << 4;
  byte2 = low 8 of s1), multi-signal frames interleaved sample-major;
- **.hea**: ``record n_sig fs n_samples`` + one
  ``file fmt gain(baseline)/units adc_res adc_zero init_value checksum
  block_size description`` line per signal;
- **MIT .atr**: 16-bit little-endian words, type = bits 10-15,
  time-delta = bits 0-9; pseudo-annotations SKIP(59, +4-byte high-word-first
  interval), NUM(60, sticky), SUB(61, current only), CHN(62, sticky),
  AUX(63, byte-count + even-padded string); EOF = zero word.

Spark-first shape: ``spark.read.format("binaryFile")`` scans the record
directory; each ``.dat`` decodes INSIDE one ``mapInArrow`` batch (the heavy
12-bit unpack is vectorized NumPy over the whole buffer — no per-sample
Python), emitting one row per (record, channel) with the ADC array. Headers
are metadata-sized (one short text row per record) and join the blob scan
broadcast, so the 100 TB path is: binary splits stream through executors
once, zero data shuffles. Calibration ``mv = (adc - baseline) / gain`` is a
single IEEE division, bit-reproducible everywhere.
"""

from __future__ import annotations

import io as _io
import re
from dataclasses import dataclass
from typing import Iterator

import numpy as np

from .arrowbuf import arrow_schema, rows_batch

# public WFDB annotation codes (ecgcodes.h mnemonics, PhysioNet spec)
ANN_SYMBOL = {1: "N", 2: "L", 3: "R", 4: "a", 5: "V", 6: "F", 7: "J",
              8: "A", 9: "S", 10: "E", 11: "j", 12: "/", 13: "Q", 14: "~",
              16: "|", 18: "s", 19: "T", 20: "*", 21: "D", 22: '"',
              23: "=", 24: "p", 25: "B", 26: "^", 27: "t", 28: "+",
              29: "u", 30: "?", 31: "!", 32: "[", 33: "]", 34: "e",
              35: "n", 36: "@", 37: "x", 38: "f", 39: "(", 40: ")"}
ANN_CODE = {s: c for c, s in ANN_SYMBOL.items()}

_SKIP, _NUM, _SUB, _CHN, _AUX = 59, 60, 61, 62, 63


# ------------------------------------------------------------ format 212 ---

def pack212(adc: np.ndarray) -> bytes:
    """Pack 12-bit two's-complement samples (any int dtype, each in
    [-2048, 2047]) into WFDB format-212 bytes; an odd count is zero-padded
    to the byte boundary (the reader trims by n_samples)."""
    a = np.asarray(adc, dtype=np.int64)
    if a.size and (a.max() > 2047 or a.min() < -2048):
        raise ValueError("format 212 samples must fit 12 bits signed")
    if a.size % 2:
        a = np.concatenate([a, np.zeros(1, dtype=np.int64)])
    u = (a & 0xFFF).reshape(-1, 2)
    b = np.empty((u.shape[0], 3), dtype=np.uint8)
    b[:, 0] = u[:, 0] & 0xFF
    b[:, 1] = ((u[:, 0] >> 8) & 0x0F) | (((u[:, 1] >> 8) & 0x0F) << 4)
    b[:, 2] = u[:, 1] & 0xFF
    return b.tobytes()


def unpack212(buf: bytes, n_samples: int) -> np.ndarray:
    """Inverse of :func:`pack212`: ``n_samples`` int64 values in
    [-2048, 2047]. Fully vectorized — one reshape + two shifts over the
    whole buffer."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size % 3:
        raise ValueError(f"format 212 buffer length {b.size} not "
                         "a multiple of 3")
    if n_samples > b.size // 3 * 2:
        raise ValueError("buffer too short for n_samples")
    t = b.reshape(-1, 3).astype(np.int64)
    out = np.empty(t.shape[0] * 2, dtype=np.int64)
    out[0::2] = t[:, 0] | ((t[:, 1] & 0x0F) << 8)
    out[1::2] = t[:, 2] | ((t[:, 1] & 0xF0) << 4)
    return np.where(out > 2047, out - 4096, out)[:n_samples]


def wfdb_checksum(adc: np.ndarray) -> int:
    """WFDB per-signal checksum: 16-bit signed sum of all ADC samples."""
    s = int(np.asarray(adc, dtype=np.int64).sum()) & 0xFFFF
    return s - 0x10000 if s > 0x7FFF else s


# ----------------------------------------------------------------- header ---

@dataclass(frozen=True)
class SignalSpec:
    filename: str
    fmt: int
    gain: float
    baseline: int
    units: str
    description: str
    checksum: int | None  # None = field absent from the header (no check);
    #                       0 is a LEGAL checksum value and is verified


@dataclass(frozen=True)
class RecordHeader:
    record: str
    n_sig: int
    fs: float
    n_samples: int
    signals: tuple[SignalSpec, ...]


_SIG_RE = re.compile(
    r"^(?P<file>\S+)\s+(?P<fmt>\d+)\s+"
    r"(?P<gain>[0-9.]+)(?:\((?P<base>-?\d+)\))?(?:/(?P<units>\S+))?"
    r"(?:\s+(?P<adcres>\d+)\s+(?P<adczero>-?\d+)\s+(?P<init>-?\d+)\s+"
    r"(?P<cksum>-?\d+)\s+(?P<blk>\d+)\s*(?P<desc>.*))?$")


def parse_header(text: str) -> RecordHeader:
    """Parse a ``.hea`` file (the subset MIT-BIH uses: no multi-segment
    records, no skew/byte-offset fields). Defaults follow the spec: gain
    200, baseline = adc_zero (0 when absent), units mV."""
    lines = [ln.strip() for ln in text.splitlines()
             if ln.strip() and not ln.startswith("#")]
    head = lines[0].split()
    record, n_sig = head[0], int(head[1])
    fs = float(head[2]) if len(head) > 2 else 250.0
    n_samples = int(head[3]) if len(head) > 3 else 0
    sigs = []
    for ln in lines[1:1 + n_sig]:
        m = _SIG_RE.match(ln)
        if not m:
            raise ValueError(f"unparseable signal line: {ln!r}")
        gain = float(m.group("gain")) or 200.0
        base = int(m.group("base")) if m.group("base") is not None else (
            int(m.group("adczero")) if m.group("adczero") else 0)
        sigs.append(SignalSpec(
            filename=m.group("file"), fmt=int(m.group("fmt")), gain=gain,
            baseline=base, units=m.group("units") or "mV",
            description=(m.group("desc") or "").strip(),
            checksum=int(m.group("cksum"))
            if m.group("cksum") is not None else None))
    return RecordHeader(record, n_sig, fs, n_samples, tuple(sigs))


def format_header(h: RecordHeader) -> str:
    out = [f"{h.record} {h.n_sig} {h.fs:g} {h.n_samples}"]
    for s in h.signals:
        out.append(f"{s.filename} {s.fmt} {s.gain:g}({s.baseline})/{s.units}"
                   f" 12 0 0 {s.checksum if s.checksum is not None else 0}"
                   f" 0 {s.description}")
    return "\n".join(out) + "\n"


# ------------------------------------------------------------ record codec ---

def encode_record(record: str, signals: np.ndarray, fs: float = 360.0,
                  gain: float = 200.0, baseline: int = 0,
                  units: str = "mV") -> dict[str, bytes]:
    """Single-node encoder (fixtures / round-trip tests): ``signals`` is
    (T, n_sig) int ADC. Returns ``{f"{record}.hea": ..., f"{record}.dat":
    ...}`` with sample-major interleaved format-212 frames."""
    sig = np.asarray(signals, dtype=np.int64)
    if sig.ndim == 1:
        sig = sig[:, None]
    t, n_sig = sig.shape
    specs = tuple(SignalSpec(f"{record}.dat", 212, gain, baseline, units,
                             f"ch{i}", wfdb_checksum(sig[:, i]))
                  for i in range(n_sig))
    hea = format_header(RecordHeader(record, n_sig, fs, t, specs))
    return {f"{record}.hea": hea.encode("ascii"),
            f"{record}.dat": pack212(sig.reshape(-1))}


def decode_record(hea: bytes, dat: bytes) -> tuple[RecordHeader, np.ndarray]:
    """(header, (T, n_sig) int64 ADC) from raw file bytes; verifies the
    per-signal checksums when the header carries them. A header without a
    sample count infers it from the ``.dat`` size (the wfdb-library
    behavior) — for an odd flattened count the format-212 pad sample is
    indistinguishable from data, so such records may carry one trailing
    zero frame; headers written by :func:`encode_record` always carry the
    exact count."""
    h = parse_header(hea.decode("ascii"))
    for s in h.signals:
        if s.fmt != 212:
            raise NotImplementedError(
                f"WFDB format {s.fmt} not supported (record {h.record}); "
                "this reader implements format 212 (MIT-BIH)")
    n_samples = h.n_samples
    if n_samples == 0 and len(dat):
        n_samples = (len(dat) // 3 * 2) // h.n_sig
        h = RecordHeader(h.record, h.n_sig, h.fs, n_samples, h.signals)
    flat = unpack212(dat, n_samples * h.n_sig)
    sig = flat.reshape(n_samples, h.n_sig)
    for i, s in enumerate(h.signals):
        if s.checksum is None:  # field absent from the header: no check
            continue
        got = wfdb_checksum(sig[:, i])
        if got != s.checksum:
            raise ValueError(f"checksum mismatch record {h.record} "
                             f"signal {i}: header {s.checksum}, data {got}")
    return h, sig


# ---------------------------------------------------------- MIT annotations ---

def encode_annotations(anns: list[tuple]) -> bytes:
    """MIT-format ``.atr`` bytes from ``(time, code, sub, chn, num, aux)``
    tuples (time strictly increasing; ``aux`` bytes/str or None)."""
    out = _io.BytesIO()

    def word(a: int, d: int) -> None:
        out.write(int((a << 10) | (d & 0x3FF)).to_bytes(2, "little"))

    t_prev, chn_prev, num_prev = 0, 0, 0
    for time, code, sub, chn, num, aux in anns:
        if not 1 <= code <= 49:  # ACMAX=49; 0 = EOF, 50+ undefined/pseudo
            raise ValueError(f"annotation code={code} out of data range")
        for field, v in (("sub", sub), ("chn", chn), ("num", num)):
            if not 0 <= v <= 0x3FF:
                raise ValueError(f"annotation {field}={v} exceeds 10 bits")
        delta = time - t_prev
        if delta < 0:
            raise ValueError("annotation times must be non-decreasing")
        if delta > 0x3FF:
            word(_SKIP, 0)
            out.write(int((delta >> 16) & 0xFFFF).to_bytes(2, "little"))
            out.write(int(delta & 0xFFFF).to_bytes(2, "little"))
            delta = 0
        word(code, delta)
        t_prev = time
        if sub:
            word(_SUB, sub)
        if chn != chn_prev:
            word(_CHN, chn)
            chn_prev = chn
        if num != num_prev:
            word(_NUM, num)
            num_prev = num
        if aux:
            b = aux.encode("ascii") if isinstance(aux, str) else bytes(aux)
            if len(b) > 0x3FF:
                # the 10-bit length field can't address more — a masked
                # write would desync the reader into parsing payload bytes
                # as annotation words
                raise ValueError(
                    f"aux string of {len(b)} bytes exceeds the MIT "
                    "format's 1023-byte limit")
            word(_AUX, len(b))
            out.write(b + (b"\x00" if len(b) % 2 else b""))
    word(0, 0)  # EOF
    return out.getvalue()


def decode_annotations(buf: bytes) -> list[tuple]:
    """Inverse of :func:`encode_annotations`:
    ``(time, code, sub, chn, num, aux)`` tuples. SKIP intervals are read
    high-word-first per the spec; SUB applies to the current annotation
    only, CHN/NUM stick until changed, AUX attaches to the most recent
    annotation."""
    words = np.frombuffer(
        buf[: len(buf) - (len(buf) % 2)], dtype="<u2")
    out: list[list] = []
    t = chn = num = 0
    pending_skip = 0
    i, n = 0, len(words)
    while i < n:
        w = int(words[i])
        i += 1
        a, d = w >> 10, w & 0x3FF
        if a == 0 and d == 0:
            break
        if a == _SKIP:
            pending_skip += (int(words[i]) << 16) | int(words[i + 1])
            i += 2
        elif a == _SUB:
            if out:
                out[-1][2] = d
        elif a == _CHN:
            chn = d
            if out:
                out[-1][3] = d
        elif a == _NUM:
            num = d
            if out:
                out[-1][4] = d
        elif a == _AUX:
            nb = d
            raw = bytes(words[i:i + (nb + 1) // 2].tobytes()[:nb])
            i += (nb + 1) // 2
            if out:
                out[-1][5] = raw.decode("ascii", "replace")
        else:
            t += d + pending_skip
            pending_skip = 0
            out.append([t, a, 0, chn, num, None])
    return [tuple(r) for r in out]


# ------------------------------------------------------------- Spark reads ---

_STEM = r"([^/]+)\.[^./]+$"

SIGNALS_SCHEMA = ("record string, channel int, fs double, gain double, "
                  "baseline int, units string, description string, "
                  "n_samples long, adc array<long>")
ANN_SCHEMA = ("record string, pos long, code int, symbol string, sub int, "
              "chn int, num int, aux string")


def read_wfdb_signals(spark, path: str):
    """Distributed WFDB read: one output row per (record, channel) with the
    full ADC array. ``.dat`` blobs stream through ``mapInArrow`` (one
    vectorized unpack per record — no per-sample Python); the
    metadata-sized header rows broadcast onto the blob scan, so nothing
    big ever shuffles. ``mv`` physical units are one exact IEEE division
    away: ``(adc - baseline) / gain``."""
    from pyspark.sql import functions as F

    binf = spark.read.format("binaryFile")
    hea = (binf.option("pathGlobFilter", "*.hea").load(path)
           .select(F.regexp_extract("path", _STEM, 1).alias("record"),
                   F.col("content").alias("_hea")))
    dat = (binf.option("pathGlobFilter", "*.dat").load(path)
           .select(F.regexp_extract("path", _STEM, 1).alias("record"),
                   F.col("content").alias("_dat")))
    joined = dat.join(F.broadcast(hea), "record")
    schema = arrow_schema(SIGNALS_SCHEMA)

    def _decode(batches: Iterator) -> Iterator:
        for rb in batches:
            rows = []
            for r in rb.to_pylist():
                h, sig = decode_record(r["_hea"], r["_dat"])
                for ch, spec in enumerate(h.signals):
                    rows.append((r["record"], ch, h.fs, spec.gain,
                                 spec.baseline, spec.units, spec.description,
                                 h.n_samples, sig[:, ch]))
            if rows:
                yield rows_batch(rows, schema)

    return joined.mapInArrow(_decode, SIGNALS_SCHEMA)


def read_wfdb_annotations(spark, path: str, ext: str = "atr"):
    """Distributed ``.atr`` read: each annotation file is self-contained,
    so the decode is a pure map over the binary scan — zero shuffles.
    Output: (record, pos, code, symbol, sub, chn, num, aux)."""
    from pyspark.sql import functions as F

    atr = (spark.read.format("binaryFile")
           .option("pathGlobFilter", f"*.{ext}").load(path)
           .select(F.regexp_extract("path", _STEM, 1).alias("record"),
                   F.col("content").alias("_atr")))
    schema = arrow_schema(ANN_SCHEMA)

    def _decode(batches: Iterator) -> Iterator:
        for rb in batches:
            rows = []
            for r in rb.to_pylist():
                for t, code, sub, chn, num, aux in decode_annotations(
                        r["_atr"]):
                    rows.append((r["record"], t, code,
                                 ANN_SYMBOL.get(code, "?"), sub, chn, num,
                                 aux))
            if rows:
                yield rows_batch(rows, schema)

    return atr.mapInArrow(_decode, ANN_SCHEMA)


def read_mit_bih(spark, path: str,
                 labels: tuple[str, ...] = ("N", "L", "R", "A", "V"),
                 left_offset: int = 99, right_offset: int = 160,
                 fixed_length: int = 1000, channel: int = 0):
    """The reference's full binary pipeline (``data.py:99-154``
    read_mit_bih), end to end on Spark: parse ``.dat``/``.hea``/``.atr``
    natively, calibrate channel ``channel`` to mV, keep annotations in
    ``labels``, then run-segment + offset-expand + pad/truncate via
    :func:`tsrollup.segments.extract_segments`. Output: one row per
    annotation run — (series_id, seg_id, symbol, seg array<double>
    [fixed_length], n_raw)."""
    from pyspark.sql import functions as F

    from tsrollup.segments import extract_segments

    sig = (read_wfdb_signals(spark, path)
           .filter(F.col("channel") == channel)
           .select(F.col("record").alias("series_id"),
                   F.transform(
                       "adc",
                       lambda a: (a - F.col("baseline")) / F.col("gain"))
                   .alias("values")))
    ann = (read_wfdb_annotations(spark, path)
           .filter(F.col("symbol").isin(*labels))
           .select(F.col("record").alias("series_id"), "pos", "symbol"))
    return extract_segments(sig, ann, left_offset=left_offset,
                            right_offset=right_offset,
                            fixed_length=fixed_length)
