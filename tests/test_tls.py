"""TLS stream-driver tests: auth modes, permitted-peer wildcards,
fingerprint pinning — against real in-test TLS sockets with
openssl-CLI-generated certificates.

Reference semantics under test: runtime/nsd_ossl.c SetAuthMode
(:638-667) / osslChkPeerAuth (:457), runtime/net_ossl.c fingerprint
format (:818-843) + chkpeername SAN/CN order (:1191-1235), and
runtime/net.c PermittedPeerWildcardMatch (:356-470).
"""

from __future__ import annotations

import socket
import ssl
import subprocess
import time
from pathlib import Path

import pytest

from rsyslog_spark.tls import (
    TlsConfig,
    check_peer,
    fingerprint_strs,
    make_client_context,
    permitted_peer_match,
)


def _run(args):
    subprocess.run(
        args, check=True, capture_output=True, text=True
    )


def _gen_cert(tmp, name, subj, san=None, ca=None):
    """Self-signed when ca is None, else CA-signed with optional SAN."""
    key, crt = tmp / f"{name}.key", tmp / f"{name}.crt"
    base = ["openssl", "req", "-newkey", "rsa:2048", "-nodes",
            "-keyout", str(key), "-subj", subj, "-days", "2"]
    if ca is None:
        cmd = base + ["-x509", "-out", str(crt)]
        if san:
            cmd += ["-addext", f"subjectAltName={san}"]
        _run(cmd)
    else:
        csr = tmp / f"{name}.csr"
        _run(base + ["-out", str(csr)])
        ext = tmp / f"{name}.ext"
        ext.write_text(
            f"subjectAltName={san}\n" if san
            else "basicConstraints=CA:FALSE\n"
        )
        _run(["openssl", "x509", "-req", "-in", str(csr),
              "-CA", str(tmp / f"{ca}.crt"),
              "-CAkey", str(tmp / f"{ca}.key"), "-CAcreateserial",
              "-out", str(crt), "-days", "2", "-extfile", str(ext)])
    return str(crt), str(key)


@pytest.fixture(scope="module")
def certs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tlscerts")
    out = {"dir": tmp, "ca": _gen_cert(tmp, "ca", "/CN=test-ca")}
    out["server"] = _gen_cert(
        tmp, "server", "/CN=server.example.net",
        san="DNS:server.example.net", ca="ca")
    out["client1"] = _gen_cert(
        tmp, "client1", "/CN=client1.example.net",
        san="DNS:client1.example.net", ca="ca")
    out["client2"] = _gen_cert(
        tmp, "client2", "/CN=other.example.org", ca="ca")
    out["client3"] = _gen_cert(
        tmp, "client3", "/CN=cn.example.net",
        san="DNS:san.example.org", ca="ca")
    out["rogue"] = _gen_cert(
        tmp, "rogue", "/CN=client1.example.net")
    out["ca_file"] = str(tmp / "ca.crt")
    return out


def test_permitted_peer_wildcards():
    """net.c PermittedPeerWildcardMatch component semantics."""
    # PLAIN entry: whole-string compare
    assert permitted_peer_match("host.example.net", "host.example.net")
    assert not permitted_peer_match("host.example.net", "Host.example.net")
    # per-component '*'
    assert permitted_peer_match("*.example.net", "host.example.net")
    # component COUNT must match — the reference walks both lists in
    # lockstep and fails on leftovers either side
    assert not permitted_peer_match("*.example.net", "a.b.example.net")
    assert not permitted_peer_match("*.*.example.net", "a.example.net")
    assert permitted_peer_match("*.*.example.net", "a.b.example.net")
    # prefix*/ *suffix inside one component
    assert permitted_peer_match("host*.example.net", "host17.example.net")
    assert not permitted_peer_match("host*.example.net", "ghost.example.net")
    assert permitted_peer_match("*17.example.net", "host17.example.net")
    assert not permitted_peer_match("*17.example.net", "host18.example.net")
    # lone '*' component matches anything non-structural
    assert permitted_peer_match("*", "whatever")
    assert not permitted_peer_match("*", "a.b")
    # empty component must be empty ('..')
    assert permitted_peer_match("a..b", "a..b")
    assert not permitted_peer_match("a..b", "a.x.b")


def test_fingerprint_format(certs):
    """net_ossl_genfingerprintstr format: prefix + ':%02X' per byte."""
    der = ssl.PEM_cert_to_DER_cert(Path(certs["client1"][0]).read_text())
    sha1, sha256 = fingerprint_strs(der)
    assert sha1.startswith("SHA1:") and sha256.startswith("SHA256:")
    assert len(sha1) == 4 + 3 * 20 and len(sha256) == 6 + 3 * 32
    body = sha256[len("SHA256"):]
    assert all(
        part == part.upper() and len(part) == 2
        for part in body.split(":")[1:]
    )
    # either digest may be pinned (net_ossl.c:1155-1163)
    cfg = TlsConfig(*certs["server"], ca_file=certs["ca_file"],
                    auth_mode="x509/fingerprint",
                    permitted_peers=(sha1,))
    assert check_peer(der, {}, cfg)[0]
    cfg2 = TlsConfig(*certs["server"], ca_file=certs["ca_file"],
                     auth_mode="x509/fingerprint",
                     permitted_peers=(sha256,))
    assert check_peer(der, {}, cfg2)[0]
    cfg3 = TlsConfig(*certs["server"], ca_file=certs["ca_file"],
                     auth_mode="x509/fingerprint",
                     permitted_peers=("SHA1:00:11",))
    assert not check_peer(der, {}, cfg3)[0]


def test_check_peer_name_modes(certs):
    """chkpeername order: subject oneline, SANs, then CN only when
    nothing matched and (no SAN priority or no SAN present)."""
    der = b"\x00"  # name mode never hashes
    d_san = {
        "subject": ((("commonName", "cn.example.net"),),),
        "subjectAltName": (("DNS", "san.example.org"),),
    }
    srv = dict(ca_file=certs["ca_file"])

    def cfg(peers, prio=False):
        return TlsConfig(*certs["server"], auth_mode="x509/name",
                         permitted_peers=tuple(peers),
                         prioritize_san=prio, **srv)

    # SAN matches directly
    assert check_peer(der, d_san, cfg(["*.example.org"]))[0]
    # CN fallback allowed by default even when a SAN exists
    # (bSANpriority=0 default)
    assert check_peer(der, d_san, cfg(["cn.example.net"]))[0]
    # PrioritizeSAN suppresses the CN fallback when ANY SAN exists
    assert not check_peer(der, d_san, cfg(["cn.example.net"], prio=True))[0]
    # no SAN → CN fallback even with PrioritizeSAN
    d_nosan = {"subject": ((("commonName", "cn.example.net"),),)}
    assert check_peer(der, d_nosan, cfg(["cn.example.net"], prio=True))[0]
    # full subject oneline is also an identity (chkonepeername)
    assert check_peer(der, d_nosan, cfg(["/CN=cn.example.net"]))[0]
    # no identity matches
    ok, detail = check_peer(der, d_san, cfg(["*.example.com"]))
    assert not ok and "not authorized" in detail


def _tls_client_send(port, cfg, payload: bytes) -> bool:
    """Plain client mimicking omfwd's TLS hop; returns False when the
    handshake is refused. A post-handshake authorization close by the
    server is NOT visible here (detected via listener counters)."""
    try:
        raw = socket.create_connection(("127.0.0.1", port), timeout=5.0)
        with make_client_context(cfg).wrap_socket(
            raw, server_hostname="127.0.0.1"
        ) as tsock:
            tsock.sendall(payload)
        return True
    except (ssl.SSLError, OSError):
        return False


def _wait(pred, timeout=5.0):
    for _ in range(int(timeout / 0.05)):
        if pred():
            return True
        time.sleep(0.05)
    return pred()


def test_tls_listener_auth_modes(certs, tmp_path):
    """imtcp with StreamDriver.Mode=1 over real sockets: certvalid
    accepts any CA-signed client and refuses self-signed; fingerprint
    pins one client cert; name mode enforces permitted peers before
    any frame is processed."""
    from rsyslog_spark.net import SyslogTcpListener

    ca = certs["ca_file"]
    cli1 = TlsConfig(*certs["client1"], ca_file=ca)
    cli2 = TlsConfig(*certs["client2"], ca_file=ca)
    rogue = TlsConfig(*certs["rogue"], ca_file=ca)
    frame = b"<13>Jan  1 00:00:00 h tag: over tls\n"

    # --- x509/certvalid ---
    srv = TlsConfig(*certs["server"], ca_file=ca,
                    auth_mode="x509/certvalid")
    lst = SyslogTcpListener(str(tmp_path / "v"), tls=srv)
    try:
        assert _tls_client_send(lst.port, cli1, frame)
        assert _wait(lambda: lst.n_received == 1)
        # self-signed client fails the server-side handshake (TLS 1.3
        # verifies the client cert after the client's Finished, so the
        # client's own send may appear to succeed — the server-side
        # rejection is the contract)
        _tls_client_send(lst.port, rogue, frame)
        assert _wait(lambda: lst.auth_errors)
        assert "handshake failed" in lst.auth_errors[0]
        assert lst.n_received == 1
    finally:
        lst.close()

    # --- x509/fingerprint ---
    der1 = ssl.PEM_cert_to_DER_cert(Path(certs["client1"][0]).read_text())
    srv_fp = TlsConfig(*certs["server"], ca_file=ca,
                       auth_mode="x509/fingerprint",
                       permitted_peers=(fingerprint_strs(der1)[1],))
    lst = SyslogTcpListener(str(tmp_path / "f"), tls=srv_fp)
    try:
        _tls_client_send(lst.port, cli1, frame)
        assert _wait(lambda: lst.n_received == 1)
        _tls_client_send(lst.port, cli2, frame)  # valid chain, wrong fp
        assert _wait(lambda: lst.auth_errors)
        assert "Fingerprint check failed" in lst.auth_errors[0]
        assert lst.n_received == 1
    finally:
        lst.close()

    # --- x509/name with wildcard ---
    srv_nm = TlsConfig(*certs["server"], ca_file=ca,
                       auth_mode="x509/name",
                       permitted_peers=("*.example.net",))
    lst = SyslogTcpListener(str(tmp_path / "n"), tls=srv_nm)
    try:
        _tls_client_send(lst.port, cli1, frame)  # SAN client1.example.net
        assert _wait(lambda: lst.n_received == 1)
        _tls_client_send(lst.port, cli2, frame)  # CN other.example.org
        assert _wait(lambda: lst.auth_errors)
        assert "not authorized" in lst.auth_errors[0]
        assert lst.n_received == 1
    finally:
        lst.close()


def test_tls_omfwd_roundtrip(spark, tmp_path):
    """The full Spark hop: omfwd_frame → omfwd_send(tls=…) from an
    executor into the TLS listener, with the CLIENT also authorizing
    the server by name (both directions, like the reference)."""
    import pyspark.sql.functions as F

    from rsyslog_spark.net import SyslogTcpListener, omfwd_send
    from rsyslog_spark.sinks import omfwd_frame

    certs_dir = tmp_path / "certs"
    certs_dir.mkdir()
    _gen_cert(certs_dir, "ca", "/CN=rt-ca")
    server = _gen_cert(certs_dir, "server", "/CN=server.example.net",
                       san="DNS:server.example.net", ca="ca")
    client = _gen_cert(certs_dir, "client", "/CN=fwd.example.net",
                       san="DNS:fwd.example.net", ca="ca")
    ca = str(certs_dir / "ca.crt")

    df = spark.createDataFrame(
        [(13, f"h{i}", f"app{i}:", f" tls event {i}") for i in range(20)],
        "pri int, hostname string, syslogtag string, msg string",
    ).withColumns(
        {"facility": (F.col("pri") / 8).cast("int"),
         "severity": F.col("pri") % 8,
         "timereported_str": F.lit("2024-01-01T00:00:00Z")}
    ).coalesce(1)

    srv = TlsConfig(*server, ca_file=ca, auth_mode="x509/name",
                    permitted_peers=("fwd.example.net",))
    cli = TlsConfig(*client, ca_file=ca, auth_mode="x509/name",
                    permitted_peers=("server.example.net",))
    spool = str(tmp_path / "tls-spool")
    lst = SyslogTcpListener(spool, tls=srv)
    try:
        n = omfwd_send(
            omfwd_frame(df, framing="octet-counted"),
            "127.0.0.1", lst.port, tls=cli,
        )
        assert n == 20
        assert _wait(lambda: lst.n_received == 20)
        assert not lst.auth_errors and not lst.framing_errors
        got = [r.value for r in spark.read.text(spool + "/*.log").collect()]
        assert len(got) == 20
        assert sum("tls event 7" in g for g in got) == 1
    finally:
        lst.close()

    # client refuses an unauthorized server: same server cert, but the
    # sender only trusts peers named *.example.org
    cli_bad = TlsConfig(*client, ca_file=ca, auth_mode="x509/name",
                        permitted_peers=("*.example.org",))
    lst2 = SyslogTcpListener(str(tmp_path / "tls2"), tls=srv)
    try:
        with pytest.raises(Exception, match="TLS session terminated"):
            omfwd_send(
                omfwd_frame(df, framing="octet-counted"),
                "127.0.0.1", lst2.port, tls=cli_bad,
            )
        assert lst2.n_received == 0
    finally:
        lst2.close()
