"""Pure-Python wire codecs: msgpack (the reference's native chunk
format) and Avro binary (the reference's out_kafka / flb_avro path).

The reference buffers every event as the msgpack pair
``[EventTime, map]`` (src/flb_pack.c) where EventTime is msgpack
ext type 0 carrying 4-byte big-endian seconds + 4-byte big-endian
nanoseconds (src/flb_time.c:141-181, flb_time_append_to_msgpack).
`pack_event` / `unpack_event` reproduce that envelope byte-for-byte;
the scalar packers follow msgpack's canonical smallest-encoding rule
(what msgpack-c, the reference's bundled library, emits).

The Avro codec implements the binary encoding from the Avro spec
(zigzag varints, length-prefixed utf8, little-endian doubles, union
index prefix) for flat record schemas — enough to encode the
transcript/log record shape src/flb_avro.c handles, without the
spark-avro jar this image lacks.

Both codecs run inside Arrow-batched `mapInPandas` stages (bytes in,
bytes out per record — a codec is inherently per-record work; the
batching amortizes the Python boundary the same way the murmur3 path
in functions/hashing.py does).
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------- msgpack

_EVENTTIME_EXT = 0


def _pack_int(v: int) -> bytes:
    """Canonical smallest msgpack int encoding (msgpack-c behavior)."""
    if 0 <= v <= 0x7F:
        return bytes([v])
    if -32 <= v < 0:
        return bytes([v & 0xFF])
    if v >= 0:
        if v <= 0xFF:
            return b"\xcc" + v.to_bytes(1, "big")
        if v <= 0xFFFF:
            return b"\xcd" + v.to_bytes(2, "big")
        if v <= 0xFFFFFFFF:
            return b"\xce" + v.to_bytes(4, "big")
        return b"\xcf" + v.to_bytes(8, "big")
    if v >= -0x80:
        return b"\xd0" + v.to_bytes(1, "big", signed=True)
    if v >= -0x8000:
        return b"\xd1" + v.to_bytes(2, "big", signed=True)
    if v >= -0x80000000:
        return b"\xd2" + v.to_bytes(4, "big", signed=True)
    return b"\xd3" + v.to_bytes(8, "big", signed=True)


def _pack_str(s: str) -> bytes:
    b = s.encode("utf-8")
    n = len(b)
    if n <= 31:
        return bytes([0xA0 | n]) + b
    if n <= 0xFF:
        return b"\xd9" + n.to_bytes(1, "big") + b
    if n <= 0xFFFF:
        return b"\xda" + n.to_bytes(2, "big") + b
    return b"\xdb" + n.to_bytes(4, "big") + b


def msgpack_pack(obj) -> bytes:
    """Pack None/bool/int/float/str/bytes/list/dict canonically."""
    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        return _pack_int(obj)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        return _pack_str(obj)
    if isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            return b"\xc4" + n.to_bytes(1, "big") + bytes(obj)
        if n <= 0xFFFF:
            return b"\xc5" + n.to_bytes(2, "big") + bytes(obj)
        return b"\xc6" + n.to_bytes(4, "big") + bytes(obj)
    if isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 15:
            head = bytes([0x90 | n])
        elif n <= 0xFFFF:
            head = b"\xdc" + n.to_bytes(2, "big")
        else:
            head = b"\xdd" + n.to_bytes(4, "big")
        return head + b"".join(msgpack_pack(x) for x in obj)
    if isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            head = bytes([0x80 | n])
        elif n <= 0xFFFF:
            head = b"\xde" + n.to_bytes(2, "big")
        else:
            head = b"\xdf" + n.to_bytes(4, "big")
        return head + b"".join(
            msgpack_pack(k) + msgpack_pack(v) for k, v in obj.items()
        )
    raise TypeError(f"cannot msgpack {type(obj)!r}")


def pack_eventtime(sec: int, nsec: int) -> bytes:
    """EventTime = fixext8, type 0, 4B sec BE + 4B nsec BE — exactly
    flb_time_append_to_msgpack (src/flb_time.c)."""
    return b"\xd7\x00" + struct.pack(">II", sec, nsec)


def pack_event(sec: int, nsec: int, record: dict) -> bytes:
    """The reference's chunk entry: fixarray2 [EventTime, map]."""
    return b"\x92" + pack_eventtime(sec, nsec) + msgpack_pack(record)


# Specialized fast path for the transcript record shape.  Byte-identical
# to pack_event(sec, nsec, {conv_id, turn_idx, role, text, tool}) — the
# generic packer dispatches on type per value and builds a dict per row;
# this inlines the five fixstr key headers as constants and calls the
# scalar packers directly.  Equality with the generic path is pinned by
# tests/test_wireformat.py (property test over the value space).
_TK_CONV = b"\xa7conv_id"
_TK_TURN = b"\xa8turn_idx"
_TK_ROLE = b"\xa4role"
_TK_TEXT = b"\xa4text"
_TK_TOOL = b"\xa4tool"
_TURN_PRELUDE = b"\x92\xd7\x00"  # fixarray2 + fixext8 type 0
_PACKII = struct.Struct(">II")


def pack_turn_event(
    sec: int, nsec: int, conv_id: str, turn_idx: int, role: str,
    text: str, tool,
) -> bytes:
    """pack_event specialized to the 5-key transcript map (same bytes)."""
    return b"".join(
        (
            _TURN_PRELUDE,
            _PACKII.pack(sec, nsec),
            b"\x85",
            _TK_CONV, _pack_str(conv_id),
            _TK_TURN, _pack_int(turn_idx),
            _TK_ROLE, _pack_str(role),
            _TK_TEXT, _pack_str(text),
            _TK_TOOL, b"\xc0" if tool is None else _pack_str(tool),
        )
    )


_TK_TIME = b"\xa4time"


def pack_td_record(
    t: int, conv_id: str, turn_idx: int, role: str, text: str, tool
) -> bytes:
    """msgpack_pack specialized to out_td's repacked map — the injected
    leading 'time' int key followed by the five turn keys (same bytes
    as the generic packer; pinned by tests/test_wireformat.py)."""
    return b"".join(
        (
            b"\x86",
            _TK_TIME, _pack_int(t),
            _TK_CONV, _pack_str(conv_id),
            _TK_TURN, _pack_int(turn_idx),
            _TK_ROLE, _pack_str(role),
            _TK_TEXT, _pack_str(text),
            _TK_TOOL, b"\xc0" if tool is None else _pack_str(tool),
        )
    )


def _read_str_at(buf: bytes, pos: int):
    """Inline str decode (fixstr/str8/str16/str32) -> (s, next_pos)."""
    b0 = buf[pos]
    pos += 1
    if 0xA0 <= b0 <= 0xBF:
        n = b0 & 0x1F
    elif b0 in (0xD9, 0xDA, 0xDB):
        w = 1 << (b0 - 0xD9)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
    else:
        raise ValueError(f"expected str header, got 0x{b0:02x}")
    return buf[pos : pos + n].decode("utf-8"), pos + n


def unpack_turn_event(buf: bytes):
    """Decode what pack_turn_event wrote, verifying the fixed envelope
    (prelude, map arity, key bytes) rather than trusting it — a wrong
    byte raises instead of round-tripping silently.  Falls back to the
    generic decoder for any shape it does not recognize."""
    if buf[:3] != _TURN_PRELUDE or len(buf) < 12 or buf[11] != 0x85:
        return None  # not the specialized shape; caller uses unpack_event
    sec, nsec = _PACKII.unpack_from(buf, 3)
    pos = 12
    rec = {}
    for key in (_TK_CONV, _TK_TURN, _TK_ROLE, _TK_TEXT, _TK_TOOL):
        if buf[pos : pos + len(key)] != key:
            return None
        pos += len(key)
        name = key[1:].decode("ascii")
        b0 = buf[pos]
        if name == "turn_idx":
            v, pos = msgpack_unpack(buf, pos)
            if not isinstance(v, int):
                return None
            rec[name] = v
        elif b0 == 0xC0:
            rec[name] = None
            pos += 1
        else:
            rec[name], pos = _read_str_at(buf, pos)
    if pos != len(buf):
        return None
    return sec, nsec, rec


def msgpack_unpack(buf: bytes, pos: int = 0):
    """Decode one object; returns (obj, next_pos). EventTime ext
    decodes to the tuple ('eventtime', sec, nsec)."""
    b0 = buf[pos]
    pos += 1
    if b0 <= 0x7F:
        return b0, pos
    if b0 >= 0xE0:
        return b0 - 0x100, pos
    if 0x80 <= b0 <= 0x8F:
        return _unpack_map(buf, pos, b0 & 0x0F)
    if 0x90 <= b0 <= 0x9F:
        return _unpack_arr(buf, pos, b0 & 0x0F)
    if 0xA0 <= b0 <= 0xBF:
        n = b0 & 0x1F
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if b0 == 0xC0:
        return None, pos
    if b0 == 0xC2:
        return False, pos
    if b0 == 0xC3:
        return True, pos
    if b0 in (0xC4, 0xC5, 0xC6):
        w = 1 << (b0 - 0xC4)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
        return bytes(buf[pos : pos + n]), pos + n
    if b0 == 0xCB:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if b0 in (0xCC, 0xCD, 0xCE, 0xCF):
        w = 1 << (b0 - 0xCC)
        return int.from_bytes(buf[pos : pos + w], "big"), pos + w
    if b0 in (0xD0, 0xD1, 0xD2, 0xD3):
        w = 1 << (b0 - 0xD0)
        return (
            int.from_bytes(buf[pos : pos + w], "big", signed=True),
            pos + w,
        )
    if b0 == 0xD7:  # fixext8
        ext_type = buf[pos]
        pos += 1
        if ext_type == _EVENTTIME_EXT:
            sec, nsec = struct.unpack_from(">II", buf, pos)
            return ("eventtime", sec, nsec), pos + 8
        return ("ext", ext_type, bytes(buf[pos : pos + 8])), pos + 8
    if b0 in (0xD9, 0xDA, 0xDB):
        w = 1 << (b0 - 0xD9)
        n = int.from_bytes(buf[pos : pos + w], "big")
        pos += w
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if b0 in (0xDC, 0xDD):
        w = 2 << (b0 - 0xDC)
        n = int.from_bytes(buf[pos : pos + w], "big")
        return _unpack_arr(buf, pos + w, n)
    if b0 in (0xDE, 0xDF):
        w = 2 << (b0 - 0xDE)
        n = int.from_bytes(buf[pos : pos + w], "big")
        return _unpack_map(buf, pos + w, n)
    raise ValueError(f"unsupported msgpack byte 0x{b0:02x}")


def _unpack_arr(buf, pos, n):
    out = []
    for _ in range(n):
        v, pos = msgpack_unpack(buf, pos)
        out.append(v)
    return out, pos


def _unpack_map(buf, pos, n):
    out = {}
    for _ in range(n):
        k, pos = msgpack_unpack(buf, pos)
        v, pos = msgpack_unpack(buf, pos)
        out[k] = v
    return out, pos


def unpack_event(buf: bytes):
    """Inverse of pack_event: (sec, nsec, record)."""
    obj, _ = msgpack_unpack(buf, 0)
    (tag, sec, nsec), record = obj
    if tag != "eventtime":
        raise ValueError("event does not start with EventTime ext")
    return sec, nsec, record


# ---------------------------------------------------------------- avro

def _zigzag(v: int) -> bytes:
    """Avro spec: zigzag then base-128 varint, little groups first."""
    u = (v << 1) ^ (v >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _unzigzag(buf: bytes, pos: int):
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def avro_encode(record: dict, schema: list) -> bytes:
    """Encode `record` under `schema` = [(name, type)] where type is
    'string' | 'long' | 'int' | 'double' | 'boolean' | 'bytes' or the
    nullable union ['null', <type>] (union index varint per the Avro
    spec's binary encoding, then the branch value)."""
    out = bytearray()
    for name, typ in schema:
        v = record.get(name)
        if isinstance(typ, list):  # ['null', base]
            if v is None:
                out += _zigzag(0)
                continue
            out += _zigzag(1)
            typ = typ[1]
        if v is None:
            raise ValueError(f"null in non-nullable field {name!r}")
        if typ == "string":
            b = v.encode("utf-8")
            out += _zigzag(len(b)) + b
        elif typ in ("long", "int"):
            out += _zigzag(int(v))
        elif typ == "double":
            out += struct.pack("<d", float(v))
        elif typ == "boolean":
            out += b"\x01" if v else b"\x00"
        elif typ == "bytes":
            out += _zigzag(len(v)) + bytes(v)
        else:
            raise TypeError(f"unsupported avro type {typ!r}")
    return bytes(out)


def avro_decode(buf: bytes, schema: list) -> dict:
    pos, out = 0, {}
    for name, typ in schema:
        if isinstance(typ, list):
            idx, pos = _unzigzag(buf, pos)
            if idx == 0:
                out[name] = None
                continue
            typ = typ[1]
        if typ == "string":
            n, pos = _unzigzag(buf, pos)
            out[name] = buf[pos : pos + n].decode("utf-8")
            pos += n
        elif typ in ("long", "int"):
            out[name], pos = _unzigzag(buf, pos)
        elif typ == "double":
            out[name] = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif typ == "boolean":
            out[name] = buf[pos] == 1
            pos += 1
        elif typ == "bytes":
            n, pos = _unzigzag(buf, pos)
            out[name] = bytes(buf[pos : pos + n])
            pos += n
        else:
            raise TypeError(f"unsupported avro type {typ!r}")
    return out


# ------------------------------------------------------- forward protocol

def pack_forward_message(tag: str, events: list) -> bytes:
    """Fluent Forward-protocol "Forward mode" message
    (plugins/in_forward/fw_prot.c; out_forward sends the same shape):
    the msgpack array ``[tag, [[EventTime, record], ...]]``. `events`
    is a list of (sec, nsec, record) triples."""
    inner = b"".join(pack_event(s, n, r) for s, n, r in events)
    n = len(events)
    if n <= 15:
        head = bytes([0x90 | n])
    elif n <= 0xFFFF:
        head = b"\xdc" + n.to_bytes(2, "big")
    else:
        head = b"\xdd" + n.to_bytes(4, "big")
    return b"\x92" + _pack_str(tag) + head + inner


def unpack_forward_message(buf: bytes):
    """Inverse: (tag, [(sec, nsec, record), ...])."""
    obj, _ = msgpack_unpack(buf, 0)
    tag, entries = obj
    out = []
    for (etag, sec, nsec), rec in entries:
        if etag != "eventtime":
            raise ValueError("entry does not start with EventTime ext")
        out.append((sec, nsec, rec))
    return tag, out


# ----------------------------------------------------------- GELF chunking

GELF_MAGIC = b"\x1e\x0f"
GELF_HEADER_SIZE = 12
GELF_MAX_CHUNKS = 128


def gelf_chunk(payload: bytes, msgid: bytes, pckt_size: int) -> list:
    """Chunked-GELF datagrams (plugins/out_gelf/gelf.c:100-171):
    payloads over ``pckt_size`` split into ceil(len/pckt_size) chunks,
    each prefixed by the 12-byte header MAGIC(2) | MESSAGE ID(8) |
    SEQ(1) | NUM(1); more than 128 chunks is a protocol error (the
    reference drops the message). Small payloads go unchunked as one
    bare datagram."""
    if len(msgid) != 8:
        raise ValueError("msgid must be exactly 8 bytes")
    if len(payload) <= pckt_size:
        return [payload]
    n = -(-len(payload) // pckt_size)
    if n > GELF_MAX_CHUNKS:
        raise ValueError(f"message too big: {len(payload)} bytes -> {n} chunks")
    return [
        GELF_MAGIC + msgid + bytes([i, n])
        + payload[i * pckt_size : (i + 1) * pckt_size]
        for i in range(n)
    ]


# -------------------------------------------- Kafka record batch (magic 2)

# CRC-32C (Castagnoli), the checksum Kafka's v2 record batches carry —
# reflected polynomial 0x82F63B78, table-driven, pure Python.
_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = (c >> 8) ^ _CRC32C_TABLE[(c ^ b) & 0xFF]
    return c ^ 0xFFFFFFFF


# Bytes before the records array in a v2 batch: baseOffset(8)
# batchLength(4) partitionLeaderEpoch(4) magic(1) crc(4) attributes(2)
# lastOffsetDelta(4) baseTimestamp(8) maxTimestamp(8) producerId(8)
# producerEpoch(2) baseSequence(4) recordCount(4).
KAFKA_BATCH_OVERHEAD = 61


def _i(v: int, width: int) -> bytes:
    return v.to_bytes(width, "big", signed=True)


def _kafka_record(ts_delta: int, offset_delta: int, key, value) -> bytes:
    """One v2 record body, length-prefixed: all integer fields are
    zigzag varints (the Kafka protocol's varint IS the zigzag one);
    a null key/value encodes as length -1."""
    body = bytearray(b"\x00")  # record attributes: unused, always 0
    body += _zigzag(ts_delta)
    body += _zigzag(offset_delta)
    for part in (key, value):
        if part is None:
            body += _zigzag(-1)
        else:
            body += _zigzag(len(part))
            body += part
    body += _zigzag(0)  # header count
    return bytes(_zigzag(len(body)) + body)


def pack_kafka_batch(records: list) -> bytes:
    """records = [(ts_ms, key_bytes|None, value_bytes)] -> one v2
    record batch (KIP-98 message format, magic 2) as the broker would
    store it: big-endian fixed header, CRC-32C over everything after
    the crc field, zigzag-varint record bodies with timestamp/offset
    deltas against the first record."""
    if not records:
        raise ValueError("empty batch")
    base_ts = records[0][0]
    max_ts = max(r[0] for r in records)
    recs = b"".join(
        _kafka_record(ts - base_ts, i, k, v)
        for i, (ts, k, v) in enumerate(records)
    )
    after_crc = (
        _i(0, 2)                      # attributes: no compression, create-time
        + _i(len(records) - 1, 4)     # lastOffsetDelta
        + _i(base_ts, 8)
        + _i(max_ts, 8)
        + _i(-1, 8)                   # producerId (idempotence off)
        + _i(-1, 2)                   # producerEpoch
        + _i(-1, 4)                   # baseSequence
        + _i(len(records), 4)
        + recs
    )
    crc = crc32c(after_crc)
    # batchLength counts bytes after its own field
    # (partitionLeaderEpoch onward)
    batch_len = 4 + 1 + 4 + len(after_crc)
    return (
        _i(0, 8)                      # baseOffset
        + _i(batch_len, 4)
        + _i(-1, 4)                   # partitionLeaderEpoch
        + b"\x02"                     # magic
        + crc.to_bytes(4, "big")
        + after_crc
    )


def unpack_kafka_batch(buf: bytes):
    """Inverse of pack_kafka_batch -> (records, crc_ok) with records
    = [(ts_ms, key_bytes|None, value_bytes)]; validates magic,
    batchLength, recordCount, and the CRC-32C."""
    if buf[16] != 2:
        raise ValueError(f"unsupported magic {buf[16]}")
    batch_len = int.from_bytes(buf[8:12], "big", signed=True)
    if batch_len != len(buf) - 12:
        raise ValueError("batchLength mismatch")
    crc = int.from_bytes(buf[17:21], "big")
    crc_ok = crc == crc32c(buf[21:])
    base_ts = int.from_bytes(buf[27:35], "big", signed=True)
    n = int.from_bytes(buf[57:61], "big", signed=True)
    pos, out = KAFKA_BATCH_OVERHEAD, []
    for _ in range(n):
        body_len, pos = _unzigzag(buf, pos)
        end = pos + body_len
        pos += 1  # record attributes
        ts_delta, pos = _unzigzag(buf, pos)
        _offset_delta, pos = _unzigzag(buf, pos)
        parts = []
        for _ in range(2):
            ln, pos = _unzigzag(buf, pos)
            if ln < 0:
                parts.append(None)
            else:
                parts.append(buf[pos : pos + ln])
                pos += ln
        n_headers, pos = _unzigzag(buf, pos)
        if n_headers or pos != end:
            raise ValueError("malformed record")
        out.append((base_ts + ts_delta, parts[0], parts[1]))
    return out, crc_ok


# ---------------------------------------------------------------- MQTT


def mqtt_remaining_length(n: int) -> bytes:
    """MQTT Remaining Length varint: 7 bits per byte, high bit =
    continuation — the exact inverse of the decode loop in
    plugins/in_mqtt/mqtt_prot.c:341-355 (mult *= 128 up to 128^3)."""
    if n < 0 or n > 268_435_455:
        raise ValueError(f"remaining length out of range: {n}")
    out = bytearray()
    while True:
        n, digit = divmod(n, 128)
        out.append(digit | (0x80 if n else 0))
        if not n:
            return bytes(out)


def pack_mqtt_publish(
    topic: str, payload: bytes, qos: int = 0, packet_id: int = 0
) -> bytes:
    """MQTT 3.1.1 PUBLISH frame (DUP=0, RETAIN=0): fixed header
    (type 3 << 4 | qos << 1), Remaining Length varint, 2-byte BE topic
    length + topic, 2-byte packet id when QoS > 0
    (mqtt_prot.c:222-268 mqtt_handle_publish), then the payload."""
    t = topic.encode("utf-8")
    rem = 2 + len(t) + (2 if qos else 0) + len(payload)
    return (
        bytes([0x30 | (qos << 1)])
        + mqtt_remaining_length(rem)
        + len(t).to_bytes(2, "big")
        + t
        + (packet_id.to_bytes(2, "big") if qos else b"")
        + payload
    )


def unpack_mqtt_publish(buf: bytes):
    """Inverse of pack_mqtt_publish -> (qos, topic, packet_id,
    payload); validates the packet type nibble and that the Remaining
    Length covers the buffer exactly."""
    if buf[0] >> 4 != 3:
        raise ValueError(f"not a PUBLISH packet: {buf[0]:#x}")
    qos = (buf[0] >> 1) & 0x03
    pos, mult, rem = 1, 1, 0
    while True:
        b = buf[pos]
        rem += (b & 127) * mult
        mult *= 128
        pos += 1
        if not b & 0x80:
            break
        if mult > 128 * 128 * 128:
            raise ValueError("malformed remaining length")
    if rem != len(buf) - pos:
        raise ValueError("remaining length mismatch")
    tlen = int.from_bytes(buf[pos : pos + 2], "big")
    pos += 2
    topic = buf[pos : pos + tlen].decode("utf-8")
    pos += tlen
    packet_id = 0
    if qos:
        packet_id = int.from_bytes(buf[pos : pos + 2], "big")
        pos += 2
    return qos, topic, packet_id, buf[pos:]


# ------------------------------------------------------------ collectd

CDP_HOST = 0x0000
CDP_TIME = 0x0001
CDP_PLUGIN = 0x0002
CDP_PLUGIN_INSTANCE = 0x0003
CDP_TYPE = 0x0004
CDP_TYPE_INSTANCE = 0x0005
CDP_VALUE = 0x0006
DS_COUNTER, DS_GAUGE, DS_DERIVE, DS_ABSOLUTE = 0, 1, 2, 3


def _cd_part(ptype: int, body: bytes) -> bytes:
    # part length includes the 4-byte (type, length) header
    return ptype.to_bytes(2, "big") + (len(body) + 4).to_bytes(2, "big") + body


def pack_collectd(
    host: str,
    plugin: str,
    plugin_instance: str,
    type_: str,
    type_instance: str | None,
    time_sec: int,
    values: list,
) -> bytes:
    """collectd binary network protocol packet
    (plugins/in_collectd/netprot.c:49-59 part table): NUL-terminated
    string parts, 8-byte BE time, and a VALUE part laid out as
    count(2 BE) + count type bytes + count 8-byte values — gauges are
    host-endian doubles, counter/derive/absolute big-endian ints
    (netprot.c:180-203). `values` = [(ds_type, number)]."""
    import struct as _struct

    out = [
        _cd_part(CDP_HOST, host.encode() + b"\x00"),
        _cd_part(CDP_TIME, time_sec.to_bytes(8, "big")),
        _cd_part(CDP_PLUGIN, plugin.encode() + b"\x00"),
        _cd_part(CDP_PLUGIN_INSTANCE, plugin_instance.encode() + b"\x00"),
        _cd_part(CDP_TYPE, type_.encode() + b"\x00"),
    ]
    if type_instance is not None:
        out.append(_cd_part(CDP_TYPE_INSTANCE, type_instance.encode() + b"\x00"))
    types = bytes(t for t, _ in values)
    vals = b"".join(
        _struct.pack("<d", v) if t == DS_GAUGE
        else int(v).to_bytes(8, "big", signed=(t == DS_DERIVE))
        for t, v in values
    )
    out.append(
        _cd_part(CDP_VALUE, len(values).to_bytes(2, "big") + types + vals)
    )
    return b"".join(out)


def unpack_collectd(buf: bytes) -> dict:
    """Inverse of pack_collectd -> dict of header fields + `values` =
    [(ds_type, number)]; mirrors netprot.c:214-280's part loop and the
    2 + count*9 VALUE size check (netprot.c:120-124)."""
    import struct as _struct

    pos, hdr = 0, {"values": []}
    names = {
        CDP_HOST: "host",
        CDP_PLUGIN: "plugin",
        CDP_PLUGIN_INSTANCE: "plugin_instance",
        CDP_TYPE: "type",
        CDP_TYPE_INSTANCE: "type_instance",
    }
    while pos < len(buf):
        ptype = int.from_bytes(buf[pos : pos + 2], "big")
        plen = int.from_bytes(buf[pos + 2 : pos + 4], "big")
        body = buf[pos + 4 : pos + plen]
        if len(body) != plen - 4:
            raise ValueError("truncated part")
        pos += plen
        if ptype in names:
            if body[-1:] != b"\x00":
                raise ValueError("string part not NUL-terminated")
            hdr[names[ptype]] = body[:-1].decode()
        elif ptype == CDP_TIME:
            hdr["time_sec"] = int.from_bytes(body, "big")
        elif ptype == CDP_VALUE:
            count = int.from_bytes(body[:2], "big")
            if len(body) != 2 + count * 9:
                raise ValueError("data corrupted")
            for i in range(count):
                t = body[2 + i]
                raw = body[2 + count + 8 * i : 2 + count + 8 * i + 8]
                if t == DS_GAUGE:
                    hdr["values"].append((t, _struct.unpack("<d", raw)[0]))
                else:
                    hdr["values"].append(
                        (t, int.from_bytes(raw, "big", signed=(t == DS_DERIVE)))
                    )
        else:
            raise ValueError(f"unknown part {ptype:#x}")
    return hdr


# ------------------------------------------------- HTTP chunked coding


def http_chunked_encode(payload: bytes, chunk_size: int) -> bytes:
    """HTTP/1.1 chunked transfer encoding: `<hex size>\\r\\n<bytes>
    \\r\\n` per chunk, closed by the 0-chunk `0\\r\\n\\r\\n` — the
    exact framing src/flb_http_client.c:258 process_chunked_data
    walks (strtol base-16 size, the `val + 2` trailing CRLF check,
    and the 5-byte ending-chunk validation)."""
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    out = bytearray()
    for i in range(0, len(payload), chunk_size):
        piece = payload[i : i + chunk_size]
        out += f"{len(piece):x}\r\n".encode() + piece + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def http_chunked_decode(buf: bytes) -> bytes:
    """Inverse of http_chunked_encode; enforces the same validations
    as the reference's parser (hex header, per-chunk trailing CRLF,
    terminating 0-chunk)."""
    pos, out = 0, bytearray()
    while True:
        nl = buf.index(b"\r\n", pos)
        size = int(buf[pos:nl], 16)
        if size < 0:
            raise ValueError("negative chunk size")
        pos = nl + 2
        if size == 0:
            if buf[pos : pos + 2] != b"\r\n" or pos + 2 != len(buf):
                raise ValueError("malformed ending chunk")
            return bytes(out)
        piece = buf[pos : pos + size]
        if len(piece) != size or buf[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("chunk does not end with CRLF")
        out += piece
        pos += size + 2


# ---------------------------------------------------------------------------
# WebSocket data frames (plugins/out_websocket/websocket.c:84-156)

WS_MASK = b"\x12\x34\x56\x78"


def ws_mask(data: bytes, mask: bytes = WS_MASK) -> bytes:
    """Client-side payload masking (websocket.c:84 flb_ws_mask): XOR
    with the 4-byte key, repeating.  The reference hardcodes the key
    {0x12,0x34,0x56,0x78} (websocket.c:100) -- a deterministic codec,
    its own inverse."""
    if len(mask) != 4:
        raise ValueError(f"mask must be 4 bytes, got {len(mask)}")
    rep = (mask * (len(data) // 4 + 1))[: len(data)]
    return (int.from_bytes(data, "big") ^ int.from_bytes(rep, "big")).to_bytes(
        len(data), "big"
    ) if data else b""


def pack_ws_frame(payload: bytes, mask: bytes = WS_MASK) -> bytes:
    """RFC 6455 client data frame exactly as the reference sends it
    (websocket.c:92-156 flb_ws_sendDataFrameHeader): FIN+text opcode
    0x81, MASK bit set, 7/16/64-bit extended length branches at 126
    and 65536, 4-byte masking key, then the masked payload."""
    n = len(payload)
    if n < 126:
        head = bytes([0x81, n | 0x80])
    elif n < 65536:
        head = bytes([0x81, 126 | 0x80]) + n.to_bytes(2, "big")
    else:
        head = bytes([0x81, 127 | 0x80]) + n.to_bytes(8, "big")
    return head + mask + ws_mask(payload, mask)


def unpack_ws_frame(buf: bytes):
    """Inverse of pack_ws_frame: returns (opcode_byte, payload,
    consumed).  Enforces the MASK bit (the reference always masks
    client frames) and the exact-length framing."""
    if len(buf) < 6:
        raise ValueError("short websocket frame")
    op, b1 = buf[0], buf[1]
    if not b1 & 0x80:
        raise ValueError("client frame must be masked")
    n, pos = b1 & 0x7F, 2
    if n == 126:
        n, pos = int.from_bytes(buf[2:4], "big"), 4
    elif n == 127:
        n, pos = int.from_bytes(buf[2:10], "big"), 10
    mask = buf[pos : pos + 4]
    pos += 4
    if len(buf) < pos + n:
        raise ValueError("truncated websocket payload")
    return op, ws_mask(buf[pos : pos + n], mask), pos + n


# ---------------------------------------------------------------------------
# Kafka Produce request framing (the wire envelope the reference's
# out_kafka emits through librdkafka — plugins/out_kafka/kafka.c
# produce path; layout per the public Kafka protocol, Produce v3)

def _kstr(s) -> bytes:
    """Kafka STRING: int16 byte length + bytes; NULLABLE_STRING null
    encodes as length -1."""
    if s is None:
        return _i(-1, 2)
    b = s.encode("utf-8")
    return _i(len(b), 2) + b


def pack_kafka_produce_request(
    client_id: str,
    topic: str,
    partition: int,
    record_set: bytes,
    acks: int = -1,
    timeout_ms: int = 30000,
    correlation_id: int = 0,
) -> bytes:
    """One Produce v3 request framing a single (topic, partition)
    record batch: int32 size prefix, request header (api_key=0,
    api_version=3, correlation_id, client_id), nullable
    transactional_id, acks, timeout, then the topic/partition arrays
    with the record set as BYTES."""
    body = (
        _i(0, 2)                          # api_key: Produce
        + _i(3, 2)                        # api_version
        + _i(correlation_id, 4)
        + _kstr(client_id)
        + _kstr(None)                     # transactional_id
        + _i(acks, 2)
        + _i(timeout_ms, 4)
        + _i(1, 4)                        # topic array count
        + _kstr(topic)
        + _i(1, 4)                        # partition array count
        + _i(partition, 4)
        + _i(len(record_set), 4)
        + record_set
    )
    return _i(len(body), 4) + body


def unpack_kafka_produce_request(buf: bytes) -> dict:
    """Inverse of pack_kafka_produce_request; validates the size
    prefix and single-topic/single-partition shape."""
    size = int.from_bytes(buf[0:4], "big", signed=True)
    if size != len(buf) - 4:
        raise ValueError(f"size prefix {size} != body {len(buf) - 4}")
    pos = 4

    def i(n):
        nonlocal pos
        v = int.from_bytes(buf[pos : pos + n], "big", signed=True)
        pos += n
        return v

    def s():
        nonlocal pos
        ln = i(2)
        if ln == -1:
            return None
        v = buf[pos : pos + ln].decode("utf-8")
        pos += ln
        return v

    out = {"api_key": i(2), "api_version": i(2), "correlation_id": i(4),
           "client_id": s(), "transactional_id": s(), "acks": i(2),
           "timeout_ms": i(4)}
    if out["api_key"] != 0:
        raise ValueError(f"not a Produce request: api_key={out['api_key']}")
    if i(4) != 1:
        raise ValueError("expected exactly one topic")
    out["topic"] = s()
    if i(4) != 1:
        raise ValueError("expected exactly one partition")
    out["partition"] = i(4)
    set_len = i(4)
    out["record_set"] = buf[pos : pos + set_len]
    pos += set_len
    if pos != len(buf):
        raise ValueError("trailing bytes after record set")
    return out
