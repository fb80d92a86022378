"""Generic Apache Avro Object Container File codec — from scratch,
no avro package.

Implements the PUBLIC Avro 1.11 spec (container format + binary
encoding) generically: the reader is driven entirely by the JSON
schema embedded in the file header, so it decodes ANY container file
whose schema uses records / arrays / maps / unions / enums / fixed /
primitives — which is exactly what Iceberg's manifest-list and
manifest files are (see :mod:`iceberg_reader`). The encoder exists
for CONFORMANCE fixtures (hand-built tables proving the reader, the
codec-module discipline: FLAC/JPEG ship test-side encoders too) and
for symmetric round-trip property tests.

Encoding rules implemented (spec §"Binary encoding"):
- int/long: zigzag varint; float/double: IEEE little-endian;
- bytes/string: long length + raw; fixed: raw; boolean: 1 byte;
- record: fields in declared order; enum: int index;
- array/map: blocks (count, items; negative count ⇒ byte-size
  prefix follows — produced by some writers, handled), 0 terminates;
- union: long branch index + value.
- container: magic Obj\\x01, file-metadata map (avro.schema,
  avro.codec), 16-byte sync; blocks of (count, byte-size, payload,
  sync). Codecs: null and deflate (stdlib zlib raw).

Logical types decode as their underlying primitives (Iceberg's
readers do their own interpretation, and so do we).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

_MAGIC = b"Obj\x01"


# -- binary primitives --------------------------------------------------


def _read_long(b: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = b.read(1)
        if not byte:
            raise EOFError("varint truncated")
        v = byte[0]
        acc |= (v & 0x7F) << shift
        if not v & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n >= 0 else ((-n - 1) << 1 | 1)
    if n < 0:
        n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


# -- schema-driven decode ----------------------------------------------


class _Decoder:
    def __init__(self, schema, named: dict | None = None):
        self.named: dict[str, dict] = named or {}
        self._register(schema)
        self.schema = schema

    def _register(self, s) -> None:
        if isinstance(s, dict):
            t = s.get("type")
            if t in ("record", "enum", "fixed"):
                self.named[s["name"]] = s
            if t == "record":
                for f in s["fields"]:
                    self._register(f["type"])
            elif t == "array":
                self._register(s["items"])
            elif t == "map":
                self._register(s["values"])
        elif isinstance(s, list):
            for x in s:
                self._register(x)

    def read(self, s, b: io.BytesIO):
        if isinstance(s, str):
            if s in self.named:
                return self.read(self.named[s], b)
            return self._prim(s, b)
        if isinstance(s, list):  # union
            idx = _read_long(b)
            return self.read(s[idx], b)
        t = s["type"]
        if isinstance(t, (list, dict)):  # nested/wrapped type
            return self.read(t, b)
        if t == "record":
            return {
                f["name"]: self.read(f["type"], b) for f in s["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = _read_long(b)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(b)  # byte size — unused
                    n = -n
                for _ in range(n):
                    out.append(self.read(s["items"], b))
        if t == "map":
            out = {}
            while True:
                n = _read_long(b)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(b)
                    n = -n
                for _ in range(n):
                    k = self._prim("string", b)
                    out[k] = self.read(s["values"], b)
        if t == "enum":
            return s["symbols"][_read_long(b)]
        if t == "fixed":
            return b.read(s["size"])
        return self._prim(t, b)

    def _prim(self, t: str, b: io.BytesIO):
        if t == "null":
            return None
        if t == "boolean":
            return b.read(1) != b"\x00"
        if t in ("int", "long"):
            return _read_long(b)
        if t == "float":
            return struct.unpack("<f", b.read(4))[0]
        if t == "double":
            return struct.unpack("<d", b.read(8))[0]
        if t in ("bytes", "string"):
            n = _read_long(b)
            raw = b.read(n)
            return raw.decode("utf-8") if t == "string" else raw
        raise NotImplementedError(f"avro type: {t}")


def read_container(path: str) -> tuple[dict | list | str, list]:
    """Decode an entire container file → (schema, records)."""
    with open(path, "rb") as f:
        data = f.read()
    b = io.BytesIO(data)
    if b.read(4) != _MAGIC:
        raise ValueError(f"not an Avro container file: {path}")
    meta_dec = _Decoder({"type": "map", "values": "bytes"})
    meta = meta_dec.read(meta_dec.schema, b)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec: {codec}")
    sync = b.read(16)
    dec = _Decoder(schema)
    records = []
    while b.tell() < len(data):
        n = _read_long(b)
        size = _read_long(b)
        payload = b.read(size)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        pb = io.BytesIO(payload)
        for _ in range(n):
            records.append(dec.read(schema, pb))
        if b.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return schema, records


# -- schema-driven encode (conformance fixtures + round-trip tests) ----


class _Encoder(_Decoder):
    def write(self, s, v, out: bytearray) -> None:
        if isinstance(s, str):
            if s in self.named:
                return self.write(self.named[s], v, out)
            return self._wprim(s, v, out)
        if isinstance(s, list):  # union: first branch accepting v
            for i, branch in enumerate(s):
                if self._accepts(branch, v):
                    _write_long(out, i)
                    return self.write(branch, v, out)
            raise ValueError(f"no union branch for {v!r} in {s}")
        t = s["type"]
        if isinstance(t, (list, dict)):
            return self.write(t, v, out)
        if t == "record":
            for f in s["fields"]:
                # absent keys encode as null when the field's union
                # allows it (spec "default": the writer supplies the
                # value; optional fields default to null) — lets
                # schema-evolved records mix with older producers
                if f["name"] not in v and _allows_null(f["type"]):
                    self.write(f["type"], None, out)
                    continue
                self.write(f["type"], v[f["name"]], out)
            return
        if t == "array":
            if v:
                _write_long(out, len(v))
                for x in v:
                    self.write(s["items"], x, out)
            _write_long(out, 0)
            return
        if t == "map":
            if v:
                _write_long(out, len(v))
                for k, x in v.items():
                    self._wprim("string", k, out)
                    self.write(s["values"], x, out)
            _write_long(out, 0)
            return
        if t == "enum":
            _write_long(out, s["symbols"].index(v))
            return
        if t == "fixed":
            assert len(v) == s["size"]
            out.extend(v)
            return
        return self._wprim(t, v, out)

    def _accepts(self, s, v) -> bool:
        name = s if isinstance(s, str) else s.get("type")
        if name in self.named and isinstance(s, str):
            name = self.named[s]["type"]
        if v is None:
            return name == "null"
        if isinstance(v, bool):
            return name == "boolean"
        if isinstance(v, int):
            return name in ("int", "long")
        if isinstance(v, float):
            return name in ("float", "double")
        if isinstance(v, str):
            return name in ("string", "enum")
        if isinstance(v, (bytes, bytearray)):
            return name in ("bytes", "fixed")
        if isinstance(v, list):
            return name == "array"
        if isinstance(v, dict):
            return name in ("record", "map")
        return False

    def _wprim(self, t: str, v, out: bytearray) -> None:
        if t == "null":
            return
        if t == "boolean":
            out.append(1 if v else 0)
            return
        if t in ("int", "long"):
            _write_long(out, v)
            return
        if t == "float":
            out.extend(struct.pack("<f", v))
            return
        if t == "double":
            out.extend(struct.pack("<d", v))
            return
        if t in ("bytes", "string"):
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            _write_long(out, len(raw))
            out.extend(raw)
            return
        raise NotImplementedError(f"avro type: {t}")


def write_container(
    path: str, schema: dict, records: list, codec: str = "null"
) -> None:
    """Encode records as one container block (fixture scale)."""
    enc = _Encoder(schema)
    body = bytearray()
    for r in records:
        enc.write(schema, r, body)
    payload = bytes(body)
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        payload = co.compress(payload) + co.flush()
    elif codec != "null":
        raise NotImplementedError(f"avro codec: {codec}")
    sync = b"\x00" * 8 + b"dfxspark"  # any 16 bytes; constant = stable
    out = bytearray(_MAGIC)
    meta_enc = _Encoder({"type": "map", "values": "bytes"})
    meta_enc.write(
        meta_enc.schema,
        {
            "avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode(),
        },
        out,
    )
    out.extend(sync)
    _write_long(out, len(records))
    _write_long(out, len(payload))
    out.extend(payload)
    out.extend(sync)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(bytes(out))


def _allows_null(s) -> bool:
    """Whether a field schema (possibly a union) accepts null."""
    if s == "null":
        return True
    if isinstance(s, list):
        return "null" in s
    return False
