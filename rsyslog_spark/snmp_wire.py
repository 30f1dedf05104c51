"""SNMPv1/v2c trap encoding (omsnmp) — hand-rolled ASN.1 BER.

Built from the PUBLIC specs only: X.690 BER encoding rules and the
SNMP RFCs (RFC 1157 Trap-PDU for v1, RFC 3416 SNMPv2-Trap-PDU), with
omsnmp's field choices and defaults (plugins/omsnmp/omsnmp.c:55-71,
141-145, 265-385): enterprise 1.3.6.1.4.1.3.1.1, trap OID
1.3.6.1.4.1.19406.1.2.1, syslog-message OID 1.3.6.1.4.1.19406.1.1.2.1
(ADISCON-MONITORWARE-MIB::syslogMsg), generic type 6
(enterpriseSpecific). No SNMP library in the sandbox, so encode AND
decode are implemented and round-tripped in tests.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame

from rsyslog_spark.net import send_partitions, total_sent

# BER tags
_INT, _OCTSTR, _NULL, _OID, _SEQ = 0x02, 0x04, 0x05, 0x06, 0x30
_IPADDR, _COUNTER, _GAUGE, _TIMETICKS = 0x40, 0x41, 0x42, 0x43
_TRAP_V1_PDU, _TRAP_V2_PDU = 0xA4, 0xA7

DFLT_ENTERPRISE = "1.3.6.1.4.1.3.1.1"
DFLT_TRAP_OID = "1.3.6.1.4.1.19406.1.2.1"
DFLT_MSG_OID = "1.3.6.1.4.1.19406.1.1.2.1"
OID_SYSUPTIME = "1.3.6.1.2.1.1.3.0"
OID_SNMPTRAP = "1.3.6.1.6.3.1.1.4.1.0"
TRAP_ENTERPRISESPECIFIC = 6


# ---------------------------------------------------------------------------
# BER primitives (X.690)
# ---------------------------------------------------------------------------

def ber_len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    body = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(body)]) + body


def ber_tlv(tag: int, payload: bytes) -> bytes:
    return bytes([tag]) + ber_len(len(payload)) + payload


def ber_int(v: int, tag: int = _INT) -> bytes:
    if v == 0:
        return ber_tlv(tag, b"\x00")
    n = (v.bit_length() + 8) // 8  # room for the sign bit
    return ber_tlv(tag, v.to_bytes(n, "big", signed=True))


def ber_uint(v: int, tag: int) -> bytes:
    """Application types (TimeTicks, Counter, Gauge) are unsigned but
    still need a 0x00 pad when the high bit is set."""
    body = v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")
    if body[0] & 0x80:
        body = b"\x00" + body
    return ber_tlv(tag, body)


def ber_octets(v: bytes | str, tag: int = _OCTSTR) -> bytes:
    if isinstance(v, str):
        v = v.encode("utf-8")
    return ber_tlv(tag, v)


def ber_oid(dotted: str) -> bytes:
    arcs = [int(a) for a in dotted.strip(".").split(".")]
    if len(arcs) < 2:
        raise ValueError(f"OID needs >= 2 arcs: {dotted!r}")
    body = bytearray([arcs[0] * 40 + arcs[1]])
    for a in arcs[2:]:
        chunk = [a & 0x7F]
        a >>= 7
        while a:
            chunk.append(0x80 | (a & 0x7F))
            a >>= 7
        body.extend(reversed(chunk))
    return ber_tlv(_OID, bytes(body))


def ber_decode(buf: bytes, pos: int = 0):
    """One TLV → (tag, decoded_value, new_pos). Constructed types
    decode to a list of child values; OIDs back to dotted strings."""
    tag = buf[pos]
    ln = buf[pos + 1]
    pos += 2
    if ln & 0x80:
        nb = ln & 0x7F
        ln = int.from_bytes(buf[pos:pos + nb], "big")
        pos += nb
    payload = buf[pos:pos + ln]
    end = pos + ln
    if tag in (_SEQ, _TRAP_V1_PDU, _TRAP_V2_PDU) or (tag & 0x20):
        items = []
        p = pos
        while p < end:
            t, v, p = ber_decode(buf, p)
            items.append((t, v))
        return tag, items, end
    if tag == _INT:
        return tag, int.from_bytes(payload, "big", signed=True), end
    if tag in (_TIMETICKS, _COUNTER, _GAUGE):
        return tag, int.from_bytes(payload, "big"), end
    if tag == _OID:
        arcs = [payload[0] // 40, payload[0] % 40]
        cur = 0
        for b in payload[1:]:
            cur = (cur << 7) | (b & 0x7F)
            if not b & 0x80:
                arcs.append(cur)
                cur = 0
        return tag, ".".join(map(str, arcs)), end
    if tag == _IPADDR:
        return tag, ".".join(map(str, payload)), end
    if tag == _NULL:
        return tag, None, end
    return tag, payload, end


# ---------------------------------------------------------------------------
# trap messages (omsnmp.c omsnmp_sendsnmp)
# ---------------------------------------------------------------------------

def _varbind(oid: str, value: bytes) -> bytes:
    return ber_tlv(_SEQ, ber_oid(oid) + value)


def snmpv1_trap(
    msg: str,
    source: str | None = None,
    community: str = "public",
    enterprise_oid: str = DFLT_ENTERPRISE,
    generic_trap: int = TRAP_ENTERPRISESPECIFIC,
    specific_trap: int = 0,
    timeticks: int = 0,
    msg_oid: str = DFLT_MSG_OID,
) -> bytes:
    """RFC 1157 Trap-PDU, fields exactly as omsnmp sets them
    (omsnmp.c:287-333): enterprise OID, agent-addr from the trap
    source (0.0.0.0 when absent or unparsable), generic/specific
    type, uptime, and the syslog message as an OCTET STRING varbind."""
    try:
        addr = socket.inet_aton(source) if source else b"\x00" * 4
    except OSError:
        addr = b"\x00" * 4  # reference logs + leaves 0.0.0.0
    pdu = (
        ber_oid(enterprise_oid)
        + ber_tlv(_IPADDR, addr)
        + ber_int(generic_trap)
        + ber_int(specific_trap)
        + ber_uint(timeticks, _TIMETICKS)
        + ber_tlv(_SEQ, _varbind(msg_oid, ber_octets(msg)))
    )
    return ber_tlv(
        _SEQ,
        ber_int(0)  # version 1 encodes as 0
        + ber_octets(community)
        + ber_tlv(_TRAP_V1_PDU, pdu),
    )


def snmpv2c_trap(
    msg: str,
    community: str = "public",
    trap_oid: str = DFLT_TRAP_OID,
    timeticks: int = 0,
    msg_oid: str = DFLT_MSG_OID,
    request_id: int = 0,
) -> bytes:
    """RFC 3416 SNMPv2-Trap-PDU as omsnmp builds it (omsnmp.c:335-358):
    sysUpTime.0 TimeTicks, snmpTrapOID.0, then the syslog message."""
    varbinds = (
        _varbind(OID_SYSUPTIME, ber_uint(timeticks, _TIMETICKS))
        + _varbind(OID_SNMPTRAP, ber_oid(trap_oid))
        + _varbind(msg_oid, ber_octets(msg))
    )
    pdu = (
        ber_int(request_id)
        + ber_int(0)  # error-status
        + ber_int(0)  # error-index
        + ber_tlv(_SEQ, varbinds)
    )
    return ber_tlv(
        _SEQ,
        ber_int(1)  # version 2c encodes as 1
        + ber_octets(community)
        + ber_tlv(_TRAP_V2_PDU, pdu),
    )


def parse_trap(buf: bytes) -> dict:
    """Decode a v1/v2c trap back to a dict (test/monitoring seam)."""
    tag, items, _ = ber_decode(buf)
    assert tag == _SEQ
    version = items[0][1]
    community = items[1][1].decode("utf-8")
    pdu_tag, pdu = items[2]
    out = {"version": 1 if version == 0 else 2, "community": community}
    if pdu_tag == _TRAP_V1_PDU:
        out.update(
            enterprise=pdu[0][1],
            agent_addr=pdu[1][1],
            generic_trap=pdu[2][1],
            specific_trap=pdu[3][1],
            timeticks=pdu[4][1],
            varbinds=[
                (vb[0][1], vb[1][1]) for _, vb in pdu[5][1]
            ],
        )
    else:
        out.update(
            request_id=pdu[0][1],
            varbinds=[
                (vb[0][1], vb[1][1]) for _, vb in pdu[3][1]
            ],
        )
    return out


def omsnmp_send(
    df: DataFrame,
    host: str,
    port: int = 162,
    value_col: str = "value",
    source_col: str | None = None,
    version: int = 2,
    community: str = "public",
    **trap_kwargs,
) -> int:
    """omsnmp's doAction: one UDP trap datagram per message,
    executor-side (one socket per partition, through
    :func:`rsyslog_spark.net.partition_sender`). Returns traps sent."""
    if version not in (1, 2):
        raise ValueError("omsnmp supports version 1 or 2 (2c)")

    def send(sock: socket.socket, pdf) -> tuple[int]:
        srcs = (
            pdf[source_col].tolist()
            if source_col is not None else [None] * len(pdf)
        )
        for v, s in zip(pdf[value_col].tolist(), srcs):
            if version == 1:
                b = snmpv1_trap(
                    v, source=s, community=community, **trap_kwargs
                )
            else:
                b = snmpv2c_trap(v, community=community, **trap_kwargs)
            sock.sendto(b, (host, port))
        return (len(pdf),)

    return total_sent(send_partitions(
        df, lambda: socket.socket(socket.AF_INET, socket.SOCK_DGRAM),
        send, "n_sent long",
    ))
