"""Pure-Python subset of the protobuf runtime (round 9, VERDICT r8
ask #6) — just enough to execute a generated ``*_pb2`` module and give
its callers working message classes.

Why it exists: Spark 4's ``transformWithStateInPandas`` Python state
client serializes its state-server requests with
``pyspark/sql/streaming/proto/StateMessage_pb2.py``, whose only
dependency is ``google.protobuf`` — absent from this container
(probed in tests/test_streaming.py; installs are not permitted). The
import graph of pyspark's TWS path shows the full surface that pb2 and
its consumers (stateful_processor_api_client, value/list/map state
clients, transform_with_state_driver_worker) actually use:

- ``descriptor_pool.Default().AddSerializedFile(blob)``
- ``internal.builder.BuildMessageAndEnumDescriptors`` /
  ``BuildTopDescriptorsAndMessages``
- ``runtime_version.ValidateProtobufRuntimeVersion``
- message classes: kwargs construction (nested messages, enums),
  ``SerializeToString``, ``ParseFromString``, plain attribute reads,
  and module-level enum value constants.

Everything here derives from the PUBLIC protobuf documentation: the
wire format (varint / 64-bit / length-delimited / 32-bit, tag =
field_number << 3 | wire_type) and the public ``descriptor.proto``
schema (FileDescriptorProto et al.) — the serialized descriptor blob
inside a generated pb2 IS a FileDescriptorProto message, so this
module bootstraps by hand-decoding that one message type and then
synthesizes Python classes for everything the file declares.

Supported subset (disclosed): proto3 singular/repeated fields of all
scalar types, nested messages, enums, oneofs (presence-correct
serialization; no ``WhichOneof``), packed + unpacked repeated
decoding. NOT implemented: maps, groups, extensions, unknown-field
retention, Any, JSON — none of which StateMessage.proto uses.
"""

from __future__ import annotations

# --- wire primitives (public encoding: varint, zigzag, fixed) ---------

_WT_VARINT, _WT_F64, _WT_LD, _WT_F32 = 0, 1, 2, 5

# FieldDescriptorProto.Type values (public descriptor.proto)
T_DOUBLE, T_FLOAT, T_INT64, T_UINT64, T_INT32 = 1, 2, 3, 4, 5
T_FIXED64, T_FIXED32, T_BOOL, T_STRING, T_GROUP = 6, 7, 8, 9, 10
T_MESSAGE, T_BYTES, T_UINT32, T_ENUM = 11, 12, 13, 14
T_SFIXED32, T_SFIXED64, T_SINT32, T_SINT64 = 15, 16, 17, 18

_VARINT_TYPES = {
    T_INT64, T_UINT64, T_INT32, T_BOOL, T_UINT32, T_ENUM, T_SINT32, T_SINT64
}
_F64_TYPES = {T_DOUBLE, T_FIXED64, T_SFIXED64}
_F32_TYPES = {T_FLOAT, T_FIXED32, T_SFIXED32}

LABEL_REPEATED = 3


def _enc_varint(buf: bytearray, v: int) -> None:
    while v > 0x7F:
        buf.append((v & 0x7F) | 0x80)
        v >>= 7
    buf.append(v)


def _enc_field_varint(buf: bytearray, v: int, ftype: int) -> None:
    if ftype in (T_SINT32, T_SINT64):  # zigzag
        v = (v << 1) ^ (v >> 63)
    elif v < 0:  # two's-complement 10-byte varint (int32/int64/enum)
        v &= (1 << 64) - 1
    _enc_varint(buf, int(v))


def _dec_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _dec_field_varint(raw: int, ftype: int):
    if ftype == T_BOOL:
        return bool(raw)
    if ftype in (T_SINT32, T_SINT64):
        return (raw >> 1) ^ -(raw & 1)
    if ftype in (T_INT32, T_INT64, T_ENUM):
        if raw >= 1 << 63:
            raw -= 1 << 64
        if ftype == T_INT32 and raw >= 1 << 31:
            raw -= 1 << 32
    return raw


def _skip(data: bytes, pos: int, wt: int) -> int:
    if wt == _WT_VARINT:
        _, pos = _dec_varint(data, pos)
        return pos
    if wt == _WT_F64:
        return pos + 8
    if wt == _WT_F32:
        return pos + 4
    if wt == _WT_LD:
        n, pos = _dec_varint(data, pos)
        return pos + n
    raise ValueError(f"unsupported wire type {wt}")


def _walk(data: bytes):
    """Yield (field_number, wire_type, payload) over one message's
    bytes — payload is the raw varint int, 4/8 fixed bytes, or the
    length-delimited slice."""
    pos, n = 0, len(data)
    while pos < n:
        tag, pos = _dec_varint(data, pos)
        num, wt = tag >> 3, tag & 7
        if wt == _WT_VARINT:
            raw, pos = _dec_varint(data, pos)
            yield num, wt, raw
        elif wt == _WT_F64:
            yield num, wt, data[pos : pos + 8]
            pos += 8
        elif wt == _WT_F32:
            yield num, wt, data[pos : pos + 4]
            pos += 4
        elif wt == _WT_LD:
            ln, pos = _dec_varint(data, pos)
            yield num, wt, data[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")


# --- FileDescriptorProto bootstrap parser ------------------------------
# Hand-decoded subset of the public descriptor.proto schema: exactly
# the fields a generated pb2's blob carries that matter for runtime
# message synthesis.


def _parse_field(data: bytes) -> dict:
    f = {"name": "", "number": 0, "label": 1, "type": 0, "type_name": "",
         "oneof_index": None, "proto3_optional": False}
    for num, _wt, val in _walk(data):
        if num == 1:
            f["name"] = val.decode()
        elif num == 3:
            f["number"] = val
        elif num == 4:
            f["label"] = val
        elif num == 5:
            f["type"] = val
        elif num == 6:
            f["type_name"] = val.decode()
        elif num == 9:
            f["oneof_index"] = val
        elif num == 17:
            f["proto3_optional"] = bool(val)
    return f


def _parse_enum(data: bytes) -> dict:
    e = {"name": "", "values": []}
    for num, _wt, val in _walk(data):
        if num == 1:
            e["name"] = val.decode()
        elif num == 2:
            vname, vnum = "", 0
            for n2, _w2, v2 in _walk(val):
                if n2 == 1:
                    vname = v2.decode()
                elif n2 == 2:
                    vnum = _dec_field_varint(v2, T_INT32)
            e["values"].append((vname, vnum))
    return e


def _parse_message(data: bytes) -> dict:
    m = {"name": "", "fields": [], "nested": [], "enums": [], "oneofs": []}
    for num, _wt, val in _walk(data):
        if num == 1:
            m["name"] = val.decode()
        elif num == 2:
            m["fields"].append(_parse_field(val))
        elif num == 3:
            m["nested"].append(_parse_message(val))
        elif num == 4:
            m["enums"].append(_parse_enum(val))
        elif num == 8:
            oneof_name = ""
            for n2, _w2, v2 in _walk(val):
                if n2 == 1:
                    oneof_name = v2.decode()
            m["oneofs"].append(oneof_name)
    return m


def parse_file_descriptor(blob: bytes) -> dict:
    fd = {"name": "", "package": "", "messages": [], "enums": []}
    for num, _wt, val in _walk(blob):
        if num == 1:
            fd["name"] = val.decode()
        elif num == 2:
            fd["package"] = val.decode()
        elif num == 4:
            fd["messages"].append(_parse_message(val))
        elif num == 5:
            fd["enums"].append(_parse_enum(val))
    return fd


# --- dynamic message classes -------------------------------------------


class ShimMessage:
    """Base class: kwargs construction, proto3 defaults, presence
    tracking for oneof/optional members, wire serialize/parse."""

    _FIELDS: dict = {}  # name -> field dict (with resolved "msg_cls")

    def __init__(self, **kwargs):
        object.__setattr__(self, "_values", {})
        object.__setattr__(self, "_set", set())
        for f in self._FIELDS.values():
            if f["label"] == LABEL_REPEATED:
                self._values[f["name"]] = []
        for k, v in kwargs.items():
            if k not in self._FIELDS:
                raise ValueError(
                    f"Protocol message {type(self).__name__} has no "
                    f'"{k}" field.'
                )
            if v is None:
                continue  # proto kwargs semantics: None means unset
            f = self._FIELDS[k]
            if f["label"] == LABEL_REPEATED:
                self._values[k] = list(v)
            else:
                self._values[k] = v
            self._set.add(k)

    # -- attribute protocol -------------------------------------------
    def __getattr__(self, name):
        fields = type(self)._FIELDS
        if name in fields:
            values = object.__getattribute__(self, "_values")
            if name in values:
                return values[name]
            f = fields[name]
            if f["type"] == T_MESSAGE:
                return f["msg_cls"]()  # default (detached) instance
            return _SCALAR_DEFAULTS[f["type"]]
        raise AttributeError(name)

    def __setattr__(self, name, value):
        if name in self._FIELDS:
            f = self._FIELDS[name]
            if f["type"] == T_MESSAGE and f["label"] != LABEL_REPEATED:
                raise AttributeError(
                    f"Assignment not allowed to message field {name!r} "
                    "(pass it via the constructor)"
                )
            self._values[name] = value
            self._set.add(name)
        else:
            object.__setattr__(self, name, value)

    def HasField(self, name: str) -> bool:
        return name in self._set

    def Clear(self) -> None:
        self._values.clear()
        self._set.clear()
        for f in self._FIELDS.values():
            if f["label"] == LABEL_REPEATED:
                self._values[f["name"]] = []

    def CopyFrom(self, other) -> None:
        self.Clear()
        self.ParseFromString(other.SerializeToString())

    # -- wire format ----------------------------------------------------
    def SerializeToString(self) -> bytes:
        import struct

        buf = bytearray()
        for f in sorted(self._FIELDS.values(), key=lambda f: f["number"]):
            name, ftype, num = f["name"], f["type"], f["number"]
            if f["label"] == LABEL_REPEATED:
                for item in self._values.get(name, ()):
                    self._emit(buf, f, item, struct)
                continue
            if name not in self._values:
                continue
            v = self._values[name]
            explicit = f["oneof_index"] is not None or f["proto3_optional"]
            if ftype == T_MESSAGE:
                if v is None:
                    continue
            elif not explicit and v == _SCALAR_DEFAULTS[ftype]:
                continue  # proto3 implicit presence: defaults are absent
            self._emit(buf, f, v, struct)
        return bytes(buf)

    @staticmethod
    def _emit(buf: bytearray, f: dict, v, struct) -> None:
        num, ftype = f["number"], f["type"]
        if ftype in _VARINT_TYPES:
            _enc_varint(buf, num << 3 | _WT_VARINT)
            _enc_field_varint(buf, int(v), ftype)
        elif ftype in _F64_TYPES:
            _enc_varint(buf, num << 3 | _WT_F64)
            # fixed64 is UNSIGNED on the wire ('<Q'); only sfixed64 is
            # signed — a signed pack would raise on values >= 2^63
            buf += struct.pack(
                "<d" if ftype == T_DOUBLE
                else ("<Q" if ftype == T_FIXED64 else "<q"),
                v,
            )
        elif ftype in _F32_TYPES:
            _enc_varint(buf, num << 3 | _WT_F32)
            buf += struct.pack(
                "<f" if ftype == T_FLOAT
                else ("<I" if ftype == T_FIXED32 else "<i"),
                v,
            )
        elif ftype == T_STRING:
            payload = v.encode("utf-8")
            _enc_varint(buf, num << 3 | _WT_LD)
            _enc_varint(buf, len(payload))
            buf += payload
        elif ftype == T_BYTES:
            _enc_varint(buf, num << 3 | _WT_LD)
            _enc_varint(buf, len(v))
            buf += bytes(v)
        elif ftype == T_MESSAGE:
            payload = v.SerializeToString()
            _enc_varint(buf, num << 3 | _WT_LD)
            _enc_varint(buf, len(payload))
            buf += payload
        else:
            raise ValueError(f"unsupported field type {ftype}")

    def ByteSize(self) -> int:
        return len(self.SerializeToString())

    def ParseFromString(self, data: bytes) -> int:
        import struct

        self.Clear()
        by_num = {f["number"]: f for f in self._FIELDS.values()}
        for num, wt, val in _walk(bytes(data)):
            f = by_num.get(num)
            if f is None:
                continue  # unknown field: skipped (not retained)
            name, ftype = f["name"], f["type"]
            repeated = f["label"] == LABEL_REPEATED
            if ftype in _VARINT_TYPES:
                if wt == _WT_LD and repeated:  # packed
                    pos = 0
                    while pos < len(val):
                        raw, pos = _dec_varint(val, pos)
                        self._values[name].append(
                            _dec_field_varint(raw, ftype)
                        )
                    self._set.add(name)
                    continue
                v = _dec_field_varint(val, ftype)
            elif ftype in _F64_TYPES:
                # mirror _emit: fixed64 unsigned, sfixed64 signed — the
                # signed unpack decoded u64 values >= 2^63 as negative
                v = struct.unpack(
                    "<d" if ftype == T_DOUBLE
                    else ("<Q" if ftype == T_FIXED64 else "<q"),
                    val,
                )[0]
            elif ftype in _F32_TYPES:
                v = struct.unpack(
                    "<f" if ftype == T_FLOAT
                    else ("<I" if ftype == T_FIXED32 else "<i"),
                    val,
                )[0]
            elif ftype == T_STRING:
                v = val.decode("utf-8")
            elif ftype == T_BYTES:
                v = bytes(val)
            elif ftype == T_MESSAGE:
                v = f["msg_cls"]()
                v.ParseFromString(val)
            else:
                raise ValueError(f"unsupported field type {ftype}")
            if repeated:
                self._values[name].append(v)
            else:
                self._values[name] = v
            self._set.add(name)
        return len(data)

    def __repr__(self):
        pairs = ", ".join(
            f"{k}={self._values[k]!r}" for k in sorted(self._set)
        )
        return f"{type(self).__name__}({pairs})"

    def __eq__(self, other):
        return (
            type(self) is type(other)
            and self.SerializeToString() == other.SerializeToString()
        )

    __hash__ = None


_SCALAR_DEFAULTS = {
    T_DOUBLE: 0.0, T_FLOAT: 0.0, T_INT64: 0, T_UINT64: 0, T_INT32: 0,
    T_FIXED64: 0, T_FIXED32: 0, T_BOOL: False, T_STRING: "",
    T_BYTES: b"", T_UINT32: 0, T_ENUM: 0, T_SFIXED32: 0, T_SFIXED64: 0,
    T_SINT32: 0, T_SINT64: 0,
}


class EnumTypeWrapper:
    """Enum container: value names as class-style attributes plus the
    Name()/Value() lookups generated code users rely on."""

    def __init__(self, name: str, values: list[tuple[str, int]]):
        self._name = name
        self._by_name = dict(values)
        self._by_number = {n: k for k, n in values}
        for k, n in values:
            setattr(self, k, n)

    def Name(self, number: int) -> str:
        return self._by_number[number]

    def Value(self, name: str) -> int:
        return self._by_name[name]


class FileDescriptorShim:
    """What AddSerializedFile returns: the parsed file plus the
    attribute surface generated modules poke (``_loaded_options``,
    ``_serialized_start``...)."""

    def __init__(self, parsed: dict, blob: bytes):
        self.parsed = parsed
        self.serialized_pb = blob
        self.name = parsed["name"]
        self.package = parsed["package"]
        self._loaded_options = None

    def __setattr__(self, k, v):  # generated code sets arbitrary attrs
        object.__setattr__(self, k, v)


def build_messages(file_des: FileDescriptorShim, globals_dict: dict) -> None:
    """The builder: synthesize a class per message (nested included),
    resolve cross-references, and inject classes, enum wrappers, and
    top-level enum VALUE constants into the generated module's
    globals — the observable contract of protobuf's
    ``BuildTopDescriptorsAndMessages``."""
    parsed = file_des.parsed
    pkg = parsed["package"]
    by_fullname: dict[str, type] = {}

    def declare(msg: dict, prefix: str) -> type:
        cls = type(msg["name"], (ShimMessage,), {"_FIELDS": {}})
        full = f"{prefix}.{msg['name']}" if prefix else msg["name"]
        by_fullname[full] = cls
        for nested in msg["nested"]:
            ncls = declare(nested, full)
            setattr(cls, nested["name"], ncls)
        for en in msg["enums"]:
            wrapper = EnumTypeWrapper(en["name"], en["values"])
            setattr(cls, en["name"], wrapper)
            for vname, vnum in en["values"]:
                setattr(cls, vname, vnum)
        return cls

    roots = [(m, declare(m, pkg)) for m in parsed["messages"]]

    def wire(msg: dict, cls: type) -> None:
        fields = {}
        for f in msg["fields"]:
            f = dict(f)
            if f["type"] in (T_MESSAGE, T_ENUM) and f["type_name"]:
                ref = f["type_name"].lstrip(".")
                if f["type"] == T_MESSAGE:
                    if ref not in by_fullname:
                        raise ValueError(f"unresolved type {ref}")
                    f["msg_cls"] = by_fullname[ref]
            fields[f["name"]] = f
        cls._FIELDS = fields
        nested_by_name = {n["name"]: n for n in msg["nested"]}
        for name, sub in nested_by_name.items():
            wire(sub, getattr(cls, name))

    for msg, cls in roots:
        wire(msg, cls)
    for msg, cls in roots:
        globals_dict[msg["name"]] = cls
    for en in parsed["enums"]:
        wrapper = EnumTypeWrapper(en["name"], en["values"])
        globals_dict[en["name"]] = wrapper
        for vname, vnum in en["values"]:
            globals_dict[vname] = vnum
