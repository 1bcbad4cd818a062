"""Pure-Python protobuf support — the in-container fallback behind the
`protobuf` processor (lib/processor/protobuf.go:27 to_json/from_json).

The reference parses the target .proto files at config time (schema
reflection) and maps messages ⇄ JSON with proto3 JSON semantics.  The
JVM spark-protobuf module (compiled descriptor sets) is the scale path
when its jar ships; this module reimplements the two pieces needed for
the processor in stdlib Python, applied as Arrow-batched kernels:

  * a .proto subset parser — proto3 syntax, packages, (nested)
    messages, enums, scalar/repeated/map fields, comments, imports
    resolved across the walked import paths;
  * the wire-format codec — varint/zigzag, 32/64-bit, length-delimited,
    packed repeated scalars (decoder accepts packed and expanded),
    map entries, unknown-field skipping.

JSON mapping follows proto3 JSON (jsonpb): lowerCamelCase field names
(original names accepted on input), 64-bit ints as strings, bytes as
base64, enums by symbol, zero values omitted.

oneof: exclusivity enforced — wire decode is last-field-wins within a
group, JSON parse rejects multiple set members (proto3 JSON spec).
Well-known types are pre-registered with their special JSON forms:
Timestamp ⇄ RFC 3339, Duration ⇄ "1.5s", Any ⇄ {"@type", ...inline}
(embedded type must be registered), wrappers ⇄ bare values, FieldMask
⇄ comma-joined camelCase, Empty ⇄ {}.

Unsupported (out of the reference's commonly-exercised surface):
groups, extensions, Struct/Value/ListValue JSON forms.
"""

from __future__ import annotations

import base64
import json
import re
import struct as _struct
from typing import Any

from pyspark.sql import Column

SCALARS = {
    "double", "float", "int32", "int64", "uint32", "uint64", "sint32",
    "sint64", "fixed32", "fixed64", "sfixed32", "sfixed64", "bool",
    "string", "bytes",
}
_VARINT = {"int32", "int64", "uint32", "uint64", "sint32", "sint64",
           "bool"}
_I64 = {"fixed64", "sfixed64", "double"}
_I32 = {"fixed32", "sfixed32", "float"}


class ProtoError(ValueError):
    pass


# ---------------------------------------------------------------- parse

_TOKEN = re.compile(r"""
    \s+ | //[^\n]* | /\*.*?\*/ |
    (?P<str>"(?:[^"\\]|\\.)*") |
    (?P<pun>[{}=;<>,\[\]]) |
    (?P<word>[A-Za-z0-9_.\-]+)
""", re.VERBOSE | re.DOTALL)


def _tokens(src: str) -> list[str]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if not m:
            raise ProtoError(f"proto parse error at {src[pos:pos+30]!r}")
        pos = m.end()
        tok = m.group("str") or m.group("pun") or m.group("word")
        if tok:
            out.append(tok)
    return out


class Field:
    __slots__ = ("name", "type", "number", "repeated", "map_kv",
                 "oneof")

    def __init__(self, name, type_, number, repeated=False, map_kv=None,
                 oneof=None):
        self.name, self.type, self.number = name, type_, number
        self.repeated, self.map_kv = repeated, map_kv
        self.oneof = oneof  # group name when member of a oneof

    @property
    def json_name(self) -> str:
        parts = self.name.split("_")
        return parts[0] + "".join(p.title() for p in parts[1:])


def parse_proto(src: str) -> dict[str, Any]:
    """→ {"package": str, "messages": {local_name: {field_num: Field}},
    "enums": {local_name: {symbol: value}}} with nested names flattened
    as Parent.Child."""
    toks = _tokens(src)
    i = 0
    package = ""
    messages: dict[str, dict[int, Field]] = {}
    enums: dict[str, dict[str, int]] = {}

    def skip_to_semi():
        nonlocal i
        while i < len(toks) and toks[i] != ";":
            i += 1
        i += 1

    def parse_enum(prefix: str):
        nonlocal i
        name = toks[i]
        i += 2  # name {
        syms: dict[str, int] = {}
        while toks[i] != "}":
            if toks[i] == "option" or toks[i] == "reserved":
                skip_to_semi()
                continue
            sym = toks[i]
            if toks[i + 1] != "=":
                raise ProtoError(f"enum {name}: bad entry {sym!r}")
            syms[sym] = int(toks[i + 2])
            i += 3
            if toks[i] == ";":
                i += 1
        i += 1  # }
        enums[prefix + name] = syms

    def parse_message(prefix: str):
        nonlocal i
        name = toks[i]
        full = prefix + name
        i += 2  # name {
        fields: dict[int, Field] = {}
        oneof_stack: list[str] = []  # members parse flat, tagged w/ group
        while True:
            if i >= len(toks):
                raise ProtoError(f"message {full}: unterminated body")
            t = toks[i]
            if t == "}":
                if oneof_stack:  # closes a oneof block, not the message
                    oneof_stack.pop()
                    i += 1
                    continue
                break
            if t == "message":
                i += 1
                parse_message(full + ".")
                continue
            if t == "enum":
                i += 1
                parse_enum(full + ".")
                continue
            if t in ("option", "reserved", "extensions"):
                skip_to_semi()
                continue
            if t == "oneof":
                if i + 2 >= len(toks) or toks[i + 2] != "{":
                    raise ProtoError(f"message {full}: malformed oneof")
                oneof_stack.append(toks[i + 1])
                i += 3  # oneof name {
                continue
            repeated = False
            if t in ("repeated", "optional", "required"):
                repeated = t == "repeated"
                i += 1
                t = toks[i]
            try:
                if t == "map":
                    # map < K , V > name = N ;
                    k, v = toks[i + 2], toks[i + 4]
                    fname, num = toks[i + 6], int(toks[i + 8])
                    fields[num] = Field(fname, "map", num, True, (k, v))
                    i += 9
                    if toks[i] == ";":
                        i += 1
                    continue
                fname, num = toks[i + 1], int(toks[i + 3])
            except (ValueError, IndexError) as exc:
                raise ProtoError(
                    f"message {full}: malformed field near "
                    f"{' '.join(toks[i:i + 4])!r}") from exc
            fields[num] = Field(fname, t, num, repeated,
                                oneof=(oneof_stack[-1] if oneof_stack
                                       else None))
            i += 4
            while i < len(toks) and toks[i] not in (";", "}"):
                i += 1  # field options [ ... ]
            if toks[i] == ";":
                i += 1
        i += 1  # }
        messages[full] = fields

    while i < len(toks):
        t = toks[i]
        if t == "syntax" or t == "option" or t == "import":
            skip_to_semi()
        elif t == "package":
            package = toks[i + 1]
            i += 3
        elif t == "message":
            i += 1
            parse_message("")
        elif t == "enum":
            i += 1
            parse_enum("")
        else:
            i += 1
    return {"package": package, "messages": messages, "enums": enums}


# Well-known types are always resolvable (the reference links them via
# protoregistry; `import "google/protobuf/*.proto"` needs no file on
# disk).  Their JSON forms are special-cased per the proto3 JSON spec.
_WKT_SOURCE = """
syntax = "proto3";
package google.protobuf;
message Timestamp { int64 seconds = 1; int32 nanos = 2; }
message Duration  { int64 seconds = 1; int32 nanos = 2; }
message Any       { string type_url = 1; bytes value = 2; }
message Empty     {}
message FieldMask { repeated string paths = 1; }
message DoubleValue { double value = 1; }
message FloatValue  { float value = 1; }
message Int64Value  { int64 value = 1; }
message UInt64Value { uint64 value = 1; }
message Int32Value  { int32 value = 1; }
message UInt32Value { uint32 value = 1; }
message BoolValue   { bool value = 1; }
message StringValue { string value = 1; }
message BytesValue  { bytes value = 1; }
"""

_WKT_WRAPPERS = {
    "google.protobuf." + n for n in (
        "DoubleValue", "FloatValue", "Int64Value", "UInt64Value",
        "Int32Value", "UInt32Value", "BoolValue", "StringValue",
        "BytesValue")}


class ProtoRegistry:
    """Fully-qualified message/enum lookup across walked .proto files
    (the processor's import_paths semantics).  google.protobuf
    well-known types are pre-registered."""

    def __init__(self):
        self.messages: dict[str, dict[int, Field]] = {}
        self.enums: dict[str, dict[str, int]] = {}
        self.add_source(_WKT_SOURCE)

    def add_source(self, src: str) -> "ProtoRegistry":
        p = parse_proto(src)
        prefix = p["package"] + "." if p["package"] else ""
        for name, fields in p["messages"].items():
            self.messages[prefix + name] = fields
        for name, syms in p["enums"].items():
            self.enums[prefix + name] = syms
        return self

    def add_paths(self, paths: list[str]) -> "ProtoRegistry":
        import os
        for root_dir in paths or ["."]:
            for dirpath, _, files in os.walk(root_dir):
                for f in sorted(files):
                    if f.endswith(".proto"):
                        with open(os.path.join(dirpath, f)) as fh:
                            self.add_source(fh.read())
        return self

    def resolve(self, type_name: str, scope: str) -> tuple[str, str]:
        """→ ("message"|"enum"|"scalar", resolved name).  Resolution
        order: scoped (innermost first), then absolute."""
        if type_name in SCALARS:
            return "scalar", type_name
        candidates = []
        parts = scope.split(".") if scope else []
        for k in range(len(parts), -1, -1):
            candidates.append(".".join(parts[:k] + [type_name]).lstrip("."))
        for c in candidates:
            if c in self.messages:
                return "message", c
            if c in self.enums:
                return "enum", c
        raise ProtoError(f"unresolved type {type_name!r} in {scope!r}")


# ---------------------------------------------------------------- wire

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        if pos >= len(buf):
            raise ProtoError("protobuf: truncated varint")
        b = buf[pos]
        acc |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return acc, pos
        shift += 7


def _write_varint(v: int) -> bytes:
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz_enc(v: int, bits: int) -> int:
    return (v << 1) ^ (v >> (bits - 1))


def _zz_dec(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _scalar_from_wire(t: str, v, buf_val: bytes | None):
    if t in ("int32", "int64"):
        return v - (1 << 64) if v >= (1 << 63) else v
    if t in ("uint32", "uint64"):
        return v
    if t in ("sint32", "sint64"):
        return _zz_dec(v)
    if t == "bool":
        return bool(v)
    if t == "double":
        return _struct.unpack("<d", buf_val)[0]
    if t == "float":
        return _struct.unpack("<f", buf_val)[0]
    if t == "fixed64":
        return _struct.unpack("<Q", buf_val)[0]
    if t == "sfixed64":
        return _struct.unpack("<q", buf_val)[0]
    if t == "fixed32":
        return _struct.unpack("<I", buf_val)[0]
    if t == "sfixed32":
        return _struct.unpack("<i", buf_val)[0]
    raise ProtoError(f"scalar {t!r} from wire")


def _decode_message(buf: bytes, msg: str, reg: ProtoRegistry) -> dict:
    fields = reg.messages[msg]
    out: dict[str, Any] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wt = tag >> 3, tag & 7
        field = fields.get(num)
        if field is None:  # unknown field: skip
            if wt == 0:
                _, pos = _read_varint(buf, pos)
            elif wt == 1:
                pos += 8
            elif wt == 2:
                ln, pos = _read_varint(buf, pos)
                pos += ln
            elif wt == 5:
                pos += 4
            else:
                raise ProtoError(f"unknown wire type {wt}")
            continue
        ftype = field.type
        if field.map_kv:
            ln, pos = _read_varint(buf, pos)
            entry = buf[pos:pos + ln]
            pos += ln
            k = _decode_entry_part(entry, 1, field.map_kv[0], msg, reg)
            v = _decode_entry_part(entry, 2, field.map_kv[1], msg, reg)
            out.setdefault(field.name, {})[_map_key(k)] = v
            continue
        kind, rname = reg.resolve(ftype, msg) if ftype not in SCALARS \
            else ("scalar", ftype)
        if wt == 2 and (kind == "message" or ftype in ("string", "bytes")):
            ln, pos = _read_varint(buf, pos)
            raw = buf[pos:pos + ln]
            pos += ln
            if kind == "message":
                val = _decode_message(raw, rname, reg)
            elif ftype == "string":
                val = raw.decode("utf-8")
            else:
                val = base64.b64encode(raw).decode("ascii")
        elif wt == 2:  # packed repeated scalars/enums
            ln, pos = _read_varint(buf, pos)
            end = pos + ln
            vals = []
            while pos < end:
                if ftype in _I64:
                    vals.append(_scalar_from_wire(ftype, 0, buf[pos:pos + 8]))
                    pos += 8
                elif ftype in _I32:
                    vals.append(_scalar_from_wire(ftype, 0, buf[pos:pos + 4]))
                    pos += 4
                else:
                    v, pos = _read_varint(buf, pos)
                    vals.append(_enum_sym(reg, rname, v) if kind == "enum"
                                else _scalar_from_wire(ftype, v, None))
            out.setdefault(field.name, []).extend(vals)
            continue
        elif wt == 0:
            v, pos = _read_varint(buf, pos)
            val = _enum_sym(reg, rname, v) if kind == "enum" \
                else _scalar_from_wire(ftype, v, None)
        elif wt == 1:
            val = _scalar_from_wire(ftype, 0, buf[pos:pos + 8])
            pos += 8
        elif wt == 5:
            val = _scalar_from_wire(ftype, 0, buf[pos:pos + 4])
            pos += 4
        else:
            raise ProtoError(f"wire type {wt} for {ftype}")
        if field.repeated:
            out.setdefault(field.name, []).append(val)
        else:
            if field.oneof is not None:
                # oneof exclusivity: last field on the wire wins; any
                # previously-decoded sibling of the group is dropped
                for f2 in fields.values():
                    if (f2.oneof == field.oneof
                            and f2.name != field.name):
                        out.pop(f2.name, None)
            out[field.name] = val
    return out


def _decode_entry_part(entry: bytes, want_num: int, t: str, scope: str,
                       reg: ProtoRegistry):
    pos = 0
    while pos < len(entry):
        tag, pos = _read_varint(entry, pos)
        num, wt = tag >> 3, tag & 7
        if wt == 2:
            ln, pos = _read_varint(entry, pos)
            raw = entry[pos:pos + ln]
            pos += ln
            if num == want_num:
                if t in SCALARS:
                    return raw.decode() if t == "string" else \
                        base64.b64encode(raw).decode()
                kind, rname = reg.resolve(t, scope)
                return _decode_message(raw, rname, reg)
        elif wt == 0:
            v, pos = _read_varint(entry, pos)
            if num == want_num:
                if t in SCALARS:
                    return _scalar_from_wire(t, v, None)
                kind, rname = reg.resolve(t, scope)
                return _enum_sym(reg, rname, v) if kind == "enum" else v
        elif wt == 1:
            if num == want_num:
                return _scalar_from_wire(t, 0, entry[pos:pos + 8])
            pos += 8
        elif wt == 5:
            if num == want_num:
                return _scalar_from_wire(t, 0, entry[pos:pos + 4])
            pos += 4
    # absent part = zero value
    return 0 if t not in ("string", "bytes") else ""


def _map_key(k) -> str:
    return str(k).lower() if isinstance(k, bool) else str(k)


def _enum_sym(reg: ProtoRegistry, ename: str, v: int):
    for sym, val in reg.enums[ename].items():
        if val == v:
            return sym
    return v  # unknown enum number: keep numeric (proto3 JSON rule)


def _encode_scalar(t: str, v) -> tuple[int, bytes]:
    """→ (wire_type, payload)."""
    if t in ("int32", "int64", "uint32", "uint64"):
        return 0, _write_varint(int(v))
    if t in ("sint32", "sint64"):
        return 0, _write_varint(_zz_enc(int(v), 64))
    if t == "bool":
        return 0, _write_varint(1 if v else 0)
    if t == "double":
        return 1, _struct.pack("<d", float(v))
    if t == "fixed64":
        return 1, _struct.pack("<Q", int(v))
    if t == "sfixed64":
        return 1, _struct.pack("<q", int(v))
    if t == "float":
        return 5, _struct.pack("<f", float(v))
    if t == "fixed32":
        return 5, _struct.pack("<I", int(v))
    if t == "sfixed32":
        return 5, _struct.pack("<i", int(v))
    if t == "string":
        raw = str(v).encode("utf-8")
        return 2, _write_varint(len(raw)) + raw
    if t == "bytes":
        raw = base64.b64decode(v) if isinstance(v, str) else bytes(v)
        return 2, _write_varint(len(raw)) + raw
    raise ProtoError(f"encode scalar {t!r}")


def _tagged(num: int, wt: int, payload: bytes) -> bytes:
    return _write_varint((num << 3) | wt) + payload


def _encode_message(doc: dict, msg: str, reg: ProtoRegistry) -> bytes:
    fields = reg.messages[msg]
    by_name: dict[str, Field] = {}
    for f in fields.values():
        by_name[f.name] = f
        by_name[f.json_name] = f
    out = bytearray()
    for key, val in doc.items():
        f = by_name.get(key)
        if f is None:
            raise ProtoError(f"{msg}: unknown field {key!r}")
        if f.map_kv:
            kt, vt = f.map_kv
            for k, v in dict(val or {}).items():
                entry = bytearray()
                kk = {"int32": int, "int64": int, "uint32": int,
                      "uint64": int, "bool": lambda x: x in (True, "true"),
                      }.get(kt, str)(k)
                wt, payload = _encode_scalar(kt, kk)
                entry += _tagged(1, wt, payload)
                entry += _encode_value(2, vt, v, msg, reg)
                out += _tagged(f.number, 2,
                               _write_varint(len(entry)) + bytes(entry))
            continue
        vals = val if f.repeated else [val]
        for v in vals:
            out += _encode_value(f.number, f.type, v, msg, reg)
    return bytes(out)


def _encode_value(num: int, t: str, v, scope: str,
                  reg: ProtoRegistry) -> bytes:
    if t in SCALARS:
        wt, payload = _encode_scalar(t, v)
        return _tagged(num, wt, payload)
    kind, rname = reg.resolve(t, scope)
    if kind == "enum":
        n = reg.enums[rname].get(v, v if isinstance(v, int) else None)
        if n is None:
            raise ProtoError(f"enum {rname}: unknown symbol {v!r}")
        return _tagged(num, 0, _write_varint(n))
    raw = _encode_message(v or {}, rname, reg)
    return _tagged(num, 2, _write_varint(len(raw)) + raw)


# ---------------------------------------------------------------- json

def message_to_json(buf: bytes, msg: str, reg: ProtoRegistry) -> str:
    """Decoded message → proto3-JSON text: camelCase names, 64-bit
    ints as strings, zero values present (they were on the wire)."""
    decoded = _decode_message(buf, msg, reg)
    return json.dumps(_jsonify(decoded, msg, reg), sort_keys=True)


def _jsonify(doc: dict, msg: str, reg: ProtoRegistry):
    if msg.startswith("google.protobuf."):
        special = _wkt_to_json(doc, msg, reg)
        if special is not _NOT_WKT:
            return special
    fields = {f.name: f for f in reg.messages[msg].values()}
    out = {}
    for k, v in doc.items():
        f = fields[k]
        key = f.json_name
        if f.map_kv:
            vt = f.map_kv[1]
            out[key] = {mk: _jsonify_val(mv, vt, msg, reg)
                        for mk, mv in v.items()}
        elif f.repeated:
            out[key] = [_jsonify_val(x, f.type, msg, reg) for x in v]
        else:
            out[key] = _jsonify_val(v, f.type, msg, reg)
    return out


def _jsonify_val(v, t: str, scope: str, reg: ProtoRegistry):
    if t in ("int64", "uint64", "sint64", "fixed64", "sfixed64"):
        return str(v)  # proto3 JSON: 64-bit ints as strings
    if t in SCALARS:
        return v
    kind, rname = reg.resolve(t, scope)
    if kind == "enum":
        return v
    return _jsonify(v, rname, reg)


# ------------------------------------------------- well-known types

_NOT_WKT = object()


def _ts_to_rfc3339(seconds: int, nanos: int) -> str:
    import datetime as dt
    base = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + \
        dt.timedelta(seconds=int(seconds))
    s = base.strftime("%Y-%m-%dT%H:%M:%S")
    return s + _frac(nanos) + "Z"


def _frac(nanos: int) -> str:
    # proto3 JSON: 0, 3, 6 or 9 fractional digits
    n = abs(int(nanos))
    if n == 0:
        return ""
    if n % 1_000_000 == 0:
        return f".{n // 1_000_000:03d}"
    if n % 1_000 == 0:
        return f".{n // 1_000:06d}"
    return f".{n:09d}"


_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt](\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d{1,9}))?([Zz]|[+-]\d{2}:\d{2})$")


def _rfc3339_to_ts(text: str) -> tuple[int, int]:
    import datetime as dt
    m = _RFC3339.match(text)
    if not m:
        raise ProtoError(f"Timestamp: bad RFC 3339 value {text!r}")
    y, mo, d, h, mi, s, frac, off = m.groups()
    base = dt.datetime(int(y), int(mo), int(d), int(h), int(mi),
                       int(s), tzinfo=dt.timezone.utc)
    secs = int(base.timestamp())
    if off not in ("Z", "z"):
        sign = 1 if off[0] == "+" else -1
        secs -= sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
    nanos = int((frac or "").ljust(9, "0") or 0)
    return secs, nanos


def _dur_to_str(seconds: int, nanos: int) -> str:
    sign = "-" if (seconds < 0 or nanos < 0) else ""
    return f"{sign}{abs(int(seconds))}{_frac(nanos)}s"


def _str_to_dur(text: str) -> tuple[int, int]:
    m = re.fullmatch(r"(-?)(\d+)(?:\.(\d{1,9}))?s", text.strip())
    if not m:
        raise ProtoError(f"Duration: bad value {text!r}")
    sign = -1 if m.group(1) else 1
    secs = sign * int(m.group(2))
    nanos = sign * int((m.group(3) or "").ljust(9, "0") or 0)
    return secs, nanos


def _wkt_to_json(doc: dict, msg: str, reg: ProtoRegistry):
    short = msg[len("google.protobuf."):]
    if short == "Timestamp":
        return _ts_to_rfc3339(doc.get("seconds", 0), doc.get("nanos", 0))
    if short == "Duration":
        return _dur_to_str(doc.get("seconds", 0), doc.get("nanos", 0))
    if msg in _WKT_WRAPPERS:
        v = doc.get("value")
        t = reg.messages[msg][1].type
        if v is None:  # wire-absent = zero value
            v = {"string": "", "bytes": "", "bool": False,
                 "double": 0.0, "float": 0.0}.get(t, 0)
        return _jsonify_val(v, t, msg, reg)
    if short == "FieldMask":
        # camelCase paths joined by commas
        paths = doc.get("paths", [])
        cc = [p.split("_")[0] + "".join(w.title()
                                        for w in p.split("_")[1:])
              for p in paths]
        return ",".join(cc)
    if short == "Empty":
        return {}
    if short == "Any":
        type_url = doc.get("type_url", "")
        inner_name = type_url.split("/")[-1]
        if inner_name not in reg.messages:
            raise ProtoError(
                f"Any: embedded type {type_url!r} is not registered "
                "(add its .proto to import_paths)")
        raw = base64.b64decode(doc.get("value", "") or "")
        inner = _jsonify(_decode_message(raw, inner_name, reg),
                         inner_name, reg)
        if not isinstance(inner, dict):  # embedded WKT special form
            return {"@type": type_url, "value": inner}
        return {"@type": type_url, **inner}
    return _NOT_WKT


def _wkt_from_json(v, msg: str, reg: ProtoRegistry):
    short = msg[len("google.protobuf."):]
    if short == "Timestamp":
        secs, nanos = _rfc3339_to_ts(str(v))
        return {"seconds": secs, "nanos": nanos}
    if short == "Duration":
        secs, nanos = _str_to_dur(str(v))
        return {"seconds": secs, "nanos": nanos}
    if msg in _WKT_WRAPPERS:
        return {"value": _num(v)}
    if short == "FieldMask":
        snake = [re.sub(r"([A-Z])", lambda m: "_" + m.group(1).lower(),
                        p) for p in str(v).split(",") if p]
        return {"paths": snake}
    if short == "Empty":
        return {}
    if short == "Any":
        if not isinstance(v, dict) or "@type" not in v:
            raise ProtoError("Any: JSON form needs an @type key")
        type_url = v["@type"]
        inner_name = type_url.split("/")[-1]
        if inner_name not in reg.messages:
            raise ProtoError(
                f"Any: embedded type {type_url!r} is not registered")
        if inner_name.startswith("google.protobuf.") and "value" in v \
                and _wkt_to_json({}, inner_name, reg) is not _NOT_WKT:
            inner_doc = _wkt_from_json(v["value"], inner_name, reg)
        else:
            inner_doc = _dejsonify(
                {k: x for k, x in v.items() if k != "@type"},
                inner_name, reg)
        raw = _encode_message(inner_doc, inner_name, reg)
        return {"type_url": type_url,
                "value": base64.b64encode(raw).decode("ascii")}
    return _NOT_WKT


def json_to_message(text: str, msg: str, reg: ProtoRegistry) -> bytes:
    doc = json.loads(text)
    return _encode_message(_dejsonify(doc, msg, reg), msg, reg)


def _dejsonify(doc, msg: str, reg: ProtoRegistry):
    if msg.startswith("google.protobuf."):
        special = _wkt_from_json(doc, msg, reg)
        if special is not _NOT_WKT:
            return special
    by_name: dict[str, Field] = {}
    for f in reg.messages[msg].values():
        by_name[f.name] = f
        by_name[f.json_name] = f
    out = {}
    oneof_seen: dict[str, str] = {}
    for k, v in doc.items():
        f = by_name.get(k)
        if f is None:
            raise ProtoError(f"{msg}: unknown field {k!r}")
        if f.oneof is not None:
            # proto3 JSON: a parser must reject multiple members of
            # the same oneof
            prev = oneof_seen.get(f.oneof)
            if prev is not None and prev != f.name:
                raise ProtoError(
                    f"{msg}: oneof {f.oneof!r} set more than once "
                    f"({prev!r} and {f.name!r})")
            oneof_seen[f.oneof] = f.name
        if f.map_kv:
            out[f.name] = v
        elif f.type in SCALARS or f.type not in SCALARS and \
                reg.resolve(f.type, msg)[0] == "enum":
            out[f.name] = ([_num(x) for x in v] if f.repeated
                           else _num(v))
        else:
            rname = reg.resolve(f.type, msg)[1]
            out[f.name] = ([_dejsonify(x, rname, reg) for x in v]
                           if f.repeated else _dejsonify(v, rname, reg))
    return out


def _num(v):
    # proto3 JSON writes 64-bit ints as strings; accept both
    if isinstance(v, str) and re.fullmatch(r"-?\d+", v):
        return int(v)
    return v


# ---------------------------------------------------------------- columns

def protobuf_decode_json(col: Column, message: str,
                         reg: ProtoRegistry) -> Column:
    """binary message → proto3-JSON string (`protobuf` op=to_json)."""
    from pyspark.sql.functions import pandas_udf
    if message not in reg.messages:
        raise ProtoError(f"unknown message {message!r} "
                         f"(have: {sorted(reg.messages)})")

    @pandas_udf("string")
    def dec(s):
        return s.map(lambda b: None if b is None
                     else message_to_json(bytes(b), message, reg))

    return dec(col.cast("binary"))


def protobuf_encode_json(col: Column, message: str,
                         reg: ProtoRegistry) -> Column:
    """JSON string → binary message (`protobuf` op=from_json)."""
    from pyspark.sql.functions import pandas_udf
    if message not in reg.messages:
        raise ProtoError(f"unknown message {message!r}")

    @pandas_udf("binary")
    def enc(s):
        return s.map(lambda v: None if v is None
                     else json_to_message(v, message, reg))

    return enc(col)
