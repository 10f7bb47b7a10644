"""Open Variant binary encoding — the engine's encoder, and its
decoding of shredded cells.

The parquet-format spec (VariantEncoding.md, the encoding Delta's
``variantType`` table feature stores as a ``struct<value binary,
metadata binary>`` pair) defines a little-endian binary document
format: a metadata dictionary of UTF-8 keys plus a recursive value
encoding. The encoder is written from the spec text and shares no code
with pyspark's ``VariantVal`` or with the independent from-spec decoder
of the test oracle (``tests/delta_reader.py``), so conformance tests
pin THREE implementations against each other (this encoder, the
oracle's decoder, and Spark's own variant reader). Decoding a binary
value goes through ``VariantVal.toPython`` (:func:`_decode`);
:func:`_shredded_value` reassembles shredded cells around it.

Uses:
- building FOREIGN variant table fixtures without Spark (tests write
  the encoded pairs via pyarrow and hand-author the Delta log, then
  both readers must agree with ``VariantVal.toPython``);
- encoding driver-side Python values into variant columns where
  ``F.parse_json`` (JSON text) can't express the type (binary,
  decimal16, timestamps) — see :func:`encode_variant`.

Write-path note: the Delta WRITER itself never re-encodes — Spark's
``VariantVal`` already carries the binary pair, which the staging
transform (``delta_log._variant_physical``) re-wraps losslessly.

Spec reference: parquet-format VariantEncoding.md (also Delta
PROTOCOL.md §Variant Data Type). Reference repo has no counterpart
(its 509 lines never touch semi-structured binary formats).
"""

from __future__ import annotations

import datetime as _dt
import struct as _struct
from decimal import Decimal


def _min_uint_bytes(n: int) -> int:
    """Smallest byte width (1-4) holding the unsigned value."""
    if n < (1 << 8):
        return 1
    if n < (1 << 16):
        return 2
    if n < (1 << 24):
        return 3
    return 4


def _collect_keys(value, keys: set) -> None:
    if isinstance(value, dict):
        for k, v in value.items():
            if not isinstance(k, str):
                raise TypeError(
                    f"variant object keys must be str, got {type(k).__name__}"
                )
            keys.add(k)
            _collect_keys(v, keys)
    elif isinstance(value, (list, tuple)):
        for v in value:
            _collect_keys(v, keys)


def _encode_metadata(keys: list[str]) -> bytes:
    """Metadata dictionary: header (version=1 | sorted | offset size),
    dict size, offsets, key bytes. Keys must already be sorted (the
    ``sorted_strings`` header bit is set, enabling readers' binary
    search)."""
    enc = [k.encode() for k in keys]
    total = sum(len(b) for b in enc)
    osz = _min_uint_bytes(max(total, len(keys)))
    header = 0x01 | 0x10 | ((osz - 1) << 6)  # version 1, sorted
    out = bytearray([header])
    out += len(keys).to_bytes(osz, "little")
    off = 0
    for b in enc:
        out += off.to_bytes(osz, "little")
        off += len(b)
    out += off.to_bytes(osz, "little")
    for b in enc:
        out += b
    return bytes(out)


def _primitive(type_id: int, payload: bytes = b"") -> bytes:
    return bytes([type_id << 2]) + payload


def _encode_int(n: int) -> bytes:
    for type_id, width in ((3, 1), (4, 2), (5, 4), (6, 8)):
        lo, hi = -(1 << (width * 8 - 1)), (1 << (width * 8 - 1)) - 1
        if lo <= n <= hi:
            return _primitive(
                type_id, n.to_bytes(width, "little", signed=True)
            )
    raise OverflowError(f"int {n} exceeds variant int64 range")


def _encode_decimal(d: Decimal) -> bytes:
    sign, digits, exp = d.as_tuple()
    if not isinstance(exp, int):
        raise ValueError(f"non-finite decimal {d} has no variant form")
    # variant decimals carry a non-negative scale; positive exponents
    # fold into the unscaled value (spec: scale byte is unsigned).
    # Built from the digit tuple, NOT Decimal arithmetic — scaleb()
    # rounds through the context's 28-digit precision and would corrupt
    # wide decimal16 values
    scale = max(0, -exp)
    unscaled = int("".join(map(str, digits)) or "0") * 10 ** (exp + scale)
    if sign:
        unscaled = -unscaled
    for type_id, width in ((8, 4), (9, 8), (10, 16)):
        lo, hi = -(1 << (width * 8 - 1)), (1 << (width * 8 - 1)) - 1
        if lo <= unscaled <= hi:
            return _primitive(
                type_id,
                bytes([scale])
                + unscaled.to_bytes(width, "little", signed=True),
            )
    raise OverflowError(f"decimal {d} exceeds variant decimal16 range")


_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_EPOCH_NTZ = _dt.datetime(1970, 1, 1)


def _encode_value(value, key_ids: dict[str, int]) -> bytes:
    if value is None:
        return _primitive(0)
    if isinstance(value, bool):  # before int (bool subclasses int)
        return _primitive(1 if value else 2)
    if isinstance(value, int):
        return _encode_int(value)
    if isinstance(value, float):
        # always double (type 7): Python floats are 64-bit; emitting
        # float32 (type 14) would silently lose precision
        return _primitive(7, _struct.pack("<d", value))
    if isinstance(value, Decimal):
        return _encode_decimal(value)
    if isinstance(value, _dt.datetime):  # before date (subclass)
        if value.tzinfo is not None:
            us = round((value - _EPOCH_UTC).total_seconds() * 1_000_000)
            return _primitive(12, us.to_bytes(8, "little", signed=True))
        us = round((value - _EPOCH_NTZ).total_seconds() * 1_000_000)
        return _primitive(13, us.to_bytes(8, "little", signed=True))
    if isinstance(value, _dt.date):
        days = (value - _EPOCH_DATE).days
        return _primitive(11, days.to_bytes(4, "little", signed=True))
    if isinstance(value, str):
        b = value.encode()
        if len(b) < 64:  # short string: basic type 1, length in info
            return bytes([1 | (len(b) << 2)]) + b
        return _primitive(16, len(b).to_bytes(4, "little") + b)
    if isinstance(value, (bytes, bytearray)):
        return _primitive(
            15, len(value).to_bytes(4, "little") + bytes(value)
        )
    if isinstance(value, dict):
        # fields sorted by key name — with the sorted metadata dict,
        # key order and id order coincide (what the spec recommends
        # and Spark's writer produces)
        items = sorted(value.items())
        encoded = [_encode_value(v, key_ids) for _k, v in items]
        offs = [0]
        for e in encoded:
            offs.append(offs[-1] + len(e))
        fid_sz = _min_uint_bytes(max((key_ids[k] for k, _ in items), default=0))
        fo_sz = _min_uint_bytes(offs[-1])
        large = len(items) > 255
        info = (
            ((fo_sz - 1) & 3)
            | (((fid_sz - 1) & 3) << 2)
            | ((1 if large else 0) << 4)
        )
        out = bytearray([2 | (info << 2)])
        out += len(items).to_bytes(4 if large else 1, "little")
        for k, _v in items:
            out += key_ids[k].to_bytes(fid_sz, "little")
        for o in offs:
            out += o.to_bytes(fo_sz, "little")
        for e in encoded:
            out += e
        return bytes(out)
    if isinstance(value, (list, tuple)):
        encoded = [_encode_value(v, key_ids) for v in value]
        offs = [0]
        for e in encoded:
            offs.append(offs[-1] + len(e))
        fo_sz = _min_uint_bytes(offs[-1])
        large = len(encoded) > 255
        info = ((fo_sz - 1) & 3) | ((1 if large else 0) << 2)
        out = bytearray([3 | (info << 2)])
        out += len(encoded).to_bytes(4 if large else 1, "little")
        for o in offs:
            out += o.to_bytes(fo_sz, "little")
        for e in encoded:
            out += e
        return bytes(out)
    raise TypeError(
        f"no variant encoding for {type(value).__name__}"
    )


def encode_variant(value) -> tuple[bytes, bytes]:
    """Encode a Python value as an open-Variant binary pair.

    Returns ``(metadata, value)`` bytes — the ``struct<value,
    metadata>`` pair Delta's variantType feature stores per cell (note
    the tuple is (metadata, value); callers place each in its column).
    Supported inputs: None, bool, int (≤64-bit), float (as double),
    ``Decimal`` (decimal4/8/16 by magnitude), str, bytes, ``date``,
    ``datetime`` (tz-aware → UTC-adjusted micros, naive → ntz), list/
    tuple, dict with str keys — nested arbitrarily."""
    keys: set = set()
    _collect_keys(value, keys)
    ordered = sorted(keys)
    key_ids = {k: i for i, k in enumerate(ordered)}
    return _encode_metadata(ordered), _encode_value(value, key_ids)


def _metadata_keys(md: bytes) -> list[str]:
    """The metadata dictionary's keys in id order — the inverse of
    :func:`_encode_metadata`."""
    if (md[0] & 0x0F) != 1:
        raise ValueError(f"unsupported variant metadata version {md[0] & 0x0F}")
    osz = ((md[0] >> 6) & 3) + 1
    n = int.from_bytes(md[1:1 + osz], "little")
    offs = [
        int.from_bytes(md[1 + i * osz:1 + (i + 1) * osz], "little")
        for i in range(1, n + 2)
    ]
    base = 1 + (n + 2) * osz
    return [md[base + offs[i]:base + offs[i + 1]].decode() for i in range(n)]


def _decode(value: bytes, metadata: bytes):
    """One binary variant value → Python via ``VariantVal.toPython``,
    under a 50-digit decimal context: the default 28 digits would round
    a 38-digit decimal16."""
    from decimal import localcontext

    from pyspark.sql.types import VariantVal

    with localcontext() as ctx:
        ctx.prec = 50
        return VariantVal(bytes(value), bytes(metadata)).toPython()


def _shredded_value(value, typed, metadata: bytes):
    """One shredded (value?, typed_value?) pair → Python
    (VariantShredding.md): a null ``typed_value`` defers to the binary
    ``value``; an object's per-field groups are absent when both-null,
    and its binary ``value`` holds the residual fields; array elements
    are per-element groups; a scalar ``typed_value`` IS the value."""
    if typed is None:
        return None if value is None else _decode(value, metadata)
    if isinstance(typed, dict):
        out = {
            name: _shredded_value(grp.get("value"), grp.get("typed_value"),
                                  metadata)
            for name, grp in typed.items()
            if grp is not None
            and (grp.get("value") is not None
                 or grp.get("typed_value") is not None)
        }
        if value is not None:
            resid = _decode(value, metadata)
            if not isinstance(resid, dict):
                raise ValueError(
                    "shredded object residual value must be an object, "
                    f"got {type(resid).__name__}"
                )
            out.update(resid)
        return out
    if isinstance(typed, list):
        return [
            None if e is None
            else _shredded_value(e.get("value"), e.get("typed_value"), metadata)
            for e in typed
        ]
    return typed  # scalar shredded type: already parquet-typed Python


#: Scalar shred targets this writer supports (VariantShredding.md
#: top-level scalar shredding): spark type name -> the variant
#: primitive type-ids that shred into it losslessly.
_SHRED_SCALAR_TYPES = {
    "long": (3, 4, 5, 6),     # int8/16/32/64
    "double": (7,),
    "boolean": (1, 2),
    "string": (16,),          # long string; short strings via basic=1
}


def shred_scalar(buf: bytes, target: str):
    """Top-level scalar shredding decision for one variant value
    (VariantShredding.md): if the encoded value IS a scalar of
    ``target``'s type, return ``(True, decoded python value)`` — the
    row stores ``typed_value`` and omits ``value``; otherwise
    ``(False, None)`` — the row keeps the full binary in ``value``.
    Decodes only the 1-byte header (plus the fixed-width payload on a
    match), so the non-matching path costs one byte inspection."""
    import struct as _struct

    if not buf:
        return False, None
    h = buf[0]
    basic, info = h & 3, h >> 2
    if target == "string":
        if basic == 1:  # short string: length IS the type info
            return True, buf[1:1 + info].decode()
        if basic == 0 and info == 16:
            ln = int.from_bytes(buf[1:5], "little")
            return True, buf[5:5 + ln].decode()
        return False, None
    if basic != 0:
        return False, None
    if target == "long" and info in (3, 4, 5, 6):
        w = {3: 1, 4: 2, 5: 4, 6: 8}[info]
        return True, int.from_bytes(buf[1:1 + w], "little", signed=True)
    if target == "double" and info == 7:
        return True, _struct.unpack("<d", buf[1:9])[0]
    if target == "boolean" and info in (1, 2):
        return True, info == 1
    return False, None
