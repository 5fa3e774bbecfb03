"""Live replication socket client vs a local fake walsender.

The fake server speaks the real PostgreSQL v3 wire protocol (startup,
auth, IDENTIFY_SYSTEM, START_REPLICATION → CopyBoth with XLogData /
keepalive frames) over a loopback socket — the same live-binding test
pattern ``test_rest`` uses for HTTP. pgoutput payloads are synthesized
with the byte-exact encoder from ``test_pgoutput``.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import socket
import ssl
import struct
import subprocess
import threading

import pyarrow.parquet as pq
import pytest

from gear5_spark.sources.pg_replication import (
    ReplicationClient,
    ReplicationError,
    lsn_str,
    parse_lsn,
)
from gear5_spark.sources.pgoutput import PgOutputFeed
from tests.test_pgoutput import (
    REL,
    TS_US,
    msg_begin,
    msg_commit,
    msg_insert,
)


def _m(tag: bytes, body: bytes = b"") -> bytes:
    return tag + struct.pack(">i", len(body) + 4) + body


def _xlogdata(wal_start: int, payload: bytes) -> bytes:
    return _m(
        b"d",
        b"w" + struct.pack(">qqq", wal_start, wal_start + 1, 0) + payload,
    )


def _keepalive(wal_end: int, reply: int) -> bytes:
    return _m(b"d", b"k" + struct.pack(">qqb", wal_end, 0, reply))


class FakeWalSender(threading.Thread):
    """One-connection walsender: scripted XLogData frames, records every
    standby-status update the client sends."""

    def __init__(self, frames, require_password=None, split_writes=False,
                 scram_password=None, tls_ctx=None, bad_server_sig=False,
                 offer_plus=False, der_cert=None):
        super().__init__(daemon=True)
        self.frames = frames  # [(wal_start, pgoutput payload bytes)]
        self.require_password = require_password
        self.scram_password = scram_password  # SCRAM-SHA-256 exchange
        self.tls_ctx = tls_ctx  # ssl.SSLContext -> expect SSLRequest
        self.bad_server_sig = bad_server_sig  # forge v= in SASLFinal
        self.offer_plus = offer_plus  # advertise SCRAM-SHA-256-PLUS
        self.der_cert = der_cert  # server cert DER (for cb verification)
        self.used_mechanism = None  # what the client picked
        self.split_writes = split_writes  # stress the client's reframing
        self.statuses: list[int] = []  # flushed LSNs from 'r' updates
        self.startup_params: dict[str, str] = {}
        self.queries: list[str] = []
        self.errors: list[str] = []
        # message tags the client sent after the server's CopyDone
        self.end_tags: list[bytes] = []
        self._lsock = socket.create_server(("127.0.0.1", 0))
        self.port = self._lsock.getsockname()[1]

    # -- helpers -----------------------------------------------------
    def _recv_exact(self, c, n):
        buf = b""
        while len(buf) < n:
            chunk = c.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("client closed")
            buf += chunk
        return buf

    def _recv_startup(self, c):
        (ln,) = struct.unpack(">i", self._recv_exact(c, 4))
        body = self._recv_exact(c, ln - 4)
        assert struct.unpack_from(">i", body, 0)[0] == 196608
        parts = body[4:].split(b"\x00")
        it = iter(parts)
        for k in it:
            if not k:
                break
            self.startup_params[k.decode()] = next(it).decode()

    def _recv_msg(self, c):
        hdr = self._recv_exact(c, 5)
        (ln,) = struct.unpack(">i", hdr[1:])
        return hdr[:1], self._recv_exact(c, ln - 4)

    def _send(self, c, data: bytes):
        if self.split_writes:
            # deliberately fragment across the message boundary so the
            # client's buffer-atomic reframing is actually exercised
            mid = max(1, len(data) // 2)
            c.sendall(data[:mid])
            c.sendall(data[mid:])
        else:
            c.sendall(data)

    # -- the scripted session ---------------------------------------
    def run(self):
        try:
            c, _ = self._lsock.accept()
            if self.tls_ctx is not None:
                # SSLRequest preamble precedes the TLS handshake
                req = self._recv_exact(c, 8)
                assert struct.unpack(">ii", req) == (8, 80877103)
                c.sendall(b"S")
                c = self.tls_ctx.wrap_socket(c, server_side=True)
            with c:
                self._session(c)
        except Exception as e:  # surface in the test thread
            self.errors.append(repr(e))
        finally:
            self._lsock.close()

    def _session(self, c):
        self._recv_startup(c)
        if self.require_password is not None:
            self._send(c, _m(b"R", struct.pack(">i", 3)))
            tag, body = self._recv_msg(c)
            assert tag == b"p"
            assert body.rstrip(b"\x00").decode() == self.require_password
        if self.scram_password is not None:
            if not self._scram_auth(c):
                return  # auth failed; error already sent
        self._send(c, _m(b"R", struct.pack(">i", 0)))  # AuthenticationOk
        self._send(
            c, _m(b"S", b"server_version\x0016.1\x00")
        )  # ParameterStatus
        self._send(c, _m(b"Z", b"I"))  # ReadyForQuery
        while True:
            tag, body = self._recv_msg(c)
            if tag == b"X":  # Terminate
                return
            assert tag == b"Q"
            q = body.rstrip(b"\x00").decode()
            self.queries.append(q)
            if q == "IDENTIFY_SYSTEM":
                self._send_identify(c)
                continue
            assert q.startswith("START_REPLICATION")
            break
        # CopyBothResponse: format 0, zero columns
        self._send(c, _m(b"W", struct.pack(">bh", 0, 0)))
        for wal_start, payload in self.frames:
            self._send(c, _xlogdata(wal_start, payload))
        # reply-requested keepalive -> client must send a status update
        self._send(c, _keepalive(self.frames[-1][0] + 1, 1))
        tag, body = self._recv_msg(c)
        assert tag == b"d" and body[:1] == b"r"
        self.statuses.append(struct.unpack_from(">q", body, 9)[0])
        # end the stream cleanly, then drain the client's final status
        self._send(c, _m(b"c"))  # CopyDone
        self._send(c, _m(b"C", b"COPY 0\x00"))
        self._send(c, _m(b"Z", b"I"))
        c.settimeout(2.0)
        try:
            while True:
                tag, body = self._recv_msg(c)
                self.end_tags.append(tag)
                if tag == b"d" and body[:1] == b"r":
                    self.statuses.append(
                        struct.unpack_from(">q", body, 9)[0]
                    )
                elif tag == b"X":
                    return
        except (ConnectionError, socket.timeout):
            pass

    def _scram_auth(self, c) -> bool:
        """Real server side of SCRAM-SHA-256[-PLUS] (RFC 5802/7677):
        verifies the client proof against the stored key derived from
        ``scram_password`` — not a rubber stamp — and, when the client
        binds the channel, recomputes the expected ``c=`` from the
        server's OWN certificate exactly as PostgreSQL does."""
        mech_list = (
            b"SCRAM-SHA-256-PLUS\x00SCRAM-SHA-256\x00\x00"
            if self.offer_plus
            else b"SCRAM-SHA-256\x00\x00"
        )
        self._send(c, _m(b"R", struct.pack(">i", 10) + mech_list))
        tag, body = self._recv_msg(c)
        assert tag == b"p"
        end = body.index(b"\x00")
        mech = body[:end].decode()
        self.used_mechanism = mech
        assert mech in ("SCRAM-SHA-256", "SCRAM-SHA-256-PLUS")
        (ln,) = struct.unpack_from(">i", body, end + 1)
        client_first = body[end + 5 : end + 5 + ln].decode()
        if mech == "SCRAM-SHA-256-PLUS":
            gs2 = "p=tls-server-end-point,,"
            assert client_first.startswith(gs2)
            from gear5_spark.sources.pg_replication import (
                tls_server_end_point,
            )
            expect_c = base64.b64encode(
                gs2.encode() + tls_server_end_point(self.der_cert)
            ).decode()
        else:
            gs2 = client_first[: client_first.index(",,") + 2]
            assert gs2 in ("n,,", "y,,")
            expect_c = base64.b64encode(gs2.encode()).decode()
        self.seen_gs2 = gs2
        bare = client_first[len(gs2):]
        cnonce = dict(p.split("=", 1) for p in bare.split(","))["r"]
        snonce = cnonce + "srvXYZ"
        salt, iters = b"0123456789abcdef", 4096
        server_first = (
            f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
        )
        self._send(
            c, _m(b"R", struct.pack(">i", 11) + server_first.encode())
        )
        tag, body = self._recv_msg(c)
        assert tag == b"p"
        client_final = body.decode()
        attrs = dict(p.split("=", 1) for p in client_final.split(","))
        assert attrs["c"] == expect_c and attrs["r"] == snonce
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.scram_password.encode(), salt, iters
        )
        client_key = hmac.digest(salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        without_proof = client_final[: client_final.rindex(",p=")]
        auth_msg = ",".join([bare, server_first, without_proof]).encode()
        signature = hmac.digest(stored_key, auth_msg, "sha256")
        recovered = bytes(
            a ^ b for a, b in zip(base64.b64decode(attrs["p"]), signature)
        )
        if hashlib.sha256(recovered).digest() != stored_key:
            self._send(
                c,
                _m(b"E", b"SFATAL\x00Mpassword authentication failed "
                   b"for user\x00\x00"),
            )
            return False
        server_key = hmac.digest(salted, b"Server Key", "sha256")
        v = base64.b64encode(
            hmac.digest(server_key, auth_msg, "sha256")
        ).decode()
        if self.bad_server_sig:
            v = base64.b64encode(b"\x00" * 32).decode()
        self._send(
            c, _m(b"R", struct.pack(">i", 12) + f"v={v}".encode())
        )
        return True

    def _send_identify(self, c):
        def field(name):
            return name + b"\x00" + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)

        self._send(
            c,
            _m(b"T", struct.pack(">h", 4) + field(b"systemid")
               + field(b"timeline") + field(b"xlogpos") + field(b"dbname")),
        )
        vals = [b"7001", b"1", b"0/500", b"app"]
        row = struct.pack(">h", 4)
        for v in vals:
            row += struct.pack(">i", len(v)) + v
        self._send(c, _m(b"D", row))
        self._send(c, _m(b"C", b"IDENTIFY_SYSTEM\x00"))
        self._send(c, _m(b"Z", b"I"))


def _tx_frames(lsn: int, n_rows: int, xid: int = 9):
    """One committed transaction as (wal_start, payload) XLogData frames."""
    frames = [(lsn, msg_begin(lsn, TS_US, xid)), (lsn, REL)]
    for i in range(n_rows):
        frames.append(
            (lsn + i, msg_insert(
                4001, [f"c{xid}", str(i), "user", f"t{i}", None, None, None]
            ))
        )
    frames.append((lsn + n_rows, msg_commit(lsn, lsn + n_rows, TS_US)))
    return frames


def test_lsn_text_roundtrip():
    assert lsn_str(0x1_0000_002A) == "1/2A"
    assert parse_lsn("1/2A") == 0x1_0000_002A
    assert parse_lsn(lsn_str(2**40 + 17)) == 2**40 + 17


def test_live_tail_end_to_end(tmp_path):
    """Full loop: handshake → START_REPLICATION → decode → durable
    chunks → ACK of the durable commit LSN; server writes fragmented
    across message boundaries to exercise reframing."""
    frames = _tx_frames(1000, 3, xid=1) + _tx_frames(2000, 2, xid=2)
    srv = FakeWalSender(frames, split_writes=True)
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="rep", dbname="app", timeout=5.0
    )
    client.connect()
    ident = client.identify_system()
    assert ident["systemid"] == "7001"
    assert ident["xlogpos"] == parse_lsn("0/500")
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="g5", publication="g5pub", batch_rows=3)
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    # session walsender-mode + replication commands
    assert srv.startup_params["replication"] == "database"
    assert srv.startup_params["user"] == "rep"
    start = [q for q in srv.queries if q.startswith("START_REPLICATION")]
    assert start == [
        "START_REPLICATION SLOT \"g5\" LOGICAL 0/0 "
        "(\"proto_version\" '1', \"publication_names\" 'g5pub')"
    ]
    # both transactions durable, stamped with their commit LSNs
    files = sorted((tmp_path / "wal").glob("chunk-*.parquet"))
    assert len(files) == 2  # flush at 3 buffered rows, final drain of 2
    rows = []
    for f in files:
        rows += pq.read_table(f).to_pylist()
    assert [(r["lsn"], r["conv_id"], r["turn_idx"]) for r in rows] == [
        (1000, "c1", 0), (1000, "c1", 1), (1000, "c1", 2),
        (2000, "c2", 0), (2000, "c2", 1),
    ]
    # ACKs only ever report DURABLE positions (+1 next-byte convention):
    # the keepalive-forced status carries the first flush (1000+1), the
    # final drain acks 2000+1; nothing beyond the durable max
    assert srv.statuses[0] == 1001
    assert srv.statuses[-1] == 2001


def test_client_ends_the_copy_before_terminate(tmp_path):
    """After the server's CopyDone the client sends its final status
    update while the copy is still open, then answers with its own
    CopyDone and reads through ReadyForQuery before it hangs up, so the
    server's end-of-stream writes never meet a closed socket."""
    srv = FakeWalSender(_tx_frames(700, 2))
    srv.start()
    client = ReplicationClient("127.0.0.1", srv.port, user="r", dbname="d")
    client.connect()
    client.run(PgOutputFeed(str(tmp_path / "wal")), slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert srv.end_tags == [b"d", b"c", b"X"]
    assert srv.statuses[-1] == 701  # the final ack, inside the copy


def test_resume_from_durable_chunks(tmp_path):
    """A restarted client resumes START_REPLICATION at the feed's
    durable max LSN, exactly like the reference resumes from
    confirmed_flush_lsn."""
    frames = _tx_frames(500, 2)
    srv = FakeWalSender(frames)
    srv.start()
    client = ReplicationClient("127.0.0.1", srv.port, user="r", dbname="d")
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors

    srv2 = FakeWalSender(_tx_frames(800, 1))
    srv2.start()
    client2 = ReplicationClient("127.0.0.1", srv2.port, user="r", dbname="d")
    client2.connect()
    feed2 = PgOutputFeed(str(tmp_path / "wal"))
    client2.run(feed2, slot="s", publication="p")
    client2.close()
    srv2.join(timeout=5)
    assert not srv2.errors, srv2.errors
    start = [q for q in srv2.queries if q.startswith("START_REPLICATION")][0]
    assert f"LOGICAL {lsn_str(500)} " in start  # resumed, not 0/0


def test_cleartext_password_auth(tmp_path):
    frames = _tx_frames(100, 1)
    srv = FakeWalSender(frames, require_password="sekrit")
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="r", dbname="d", password="sekrit"
    )
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert (tmp_path / "wal" / "chunk-000000.parquet").exists()


def test_password_required_but_missing():
    srv = FakeWalSender(_tx_frames(100, 1), require_password="x")
    srv.start()
    client = ReplicationClient("127.0.0.1", srv.port, user="r", dbname="d")
    with pytest.raises(ReplicationError, match="password"):
        client.connect()
    client.close()


def test_server_error_surfaces():
    """An ErrorResponse to START_REPLICATION (e.g. unknown slot) raises
    with the server's message."""

    class ErrSender(FakeWalSender):
        def _session(self, c):
            self._recv_startup(c)
            self._send(c, _m(b"R", struct.pack(">i", 0)))
            self._send(c, _m(b"Z", b"I"))
            tag, body = self._recv_msg(c)
            self._send(
                c,
                _m(b"E", b"SERROR\x00Mreplication slot \"s\" does not "
                   b"exist\x00\x00"),
            )

    srv = ErrSender([])
    srv.start()
    client = ReplicationClient("127.0.0.1", srv.port, user="r", dbname="d")
    client.connect()
    with pytest.raises(ReplicationError, match="does not exist"):
        list(client.start_replication("s", 0, {"proto_version": "1"}))
    client.close()


# ---------------------------------------------------------------- SCRAM/TLS


def test_scram_auth_end_to_end(tmp_path):
    """Full SCRAM-SHA-256 exchange (RFC 7677 over 'R' codes 10/11/12)
    against a fake server that VERIFIES the client proof, then a normal
    tail — parity with pgx's default auth on hosted Postgres."""
    frames = _tx_frames(300, 2)
    srv = FakeWalSender(frames, scram_password="s3cret")
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="rep", dbname="app", password="s3cret"
    )
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    rows = pq.read_table(
        tmp_path / "wal" / "chunk-000000.parquet"
    ).to_pylist()
    assert [(r["lsn"], r["turn_idx"]) for r in rows] == [(300, 0), (300, 1)]


def test_sasl_continue_before_start_rejected():
    """A server that skips AuthenticationSASL and jumps straight to
    SASLContinue (code 11) is a protocol violation — the client must
    raise a diagnosable ReplicationError, not AttributeError."""

    class SkipSender(FakeWalSender):
        def _session(self, c):
            self._recv_startup(c)
            self._send(c, _m(b"R", struct.pack(">i", 11) + b"r=bogus"))
            self._recv_msg(c)  # whatever the client sends back, if any

    srv = SkipSender([])
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="r", dbname="d", password="pw"
    )
    with pytest.raises(ReplicationError, match="before AuthenticationSASL"):
        client.connect()
    client.close()


def test_scram_wrong_password_rejected():
    srv = FakeWalSender(_tx_frames(1, 1), scram_password="right")
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="r", dbname="d", password="wrong"
    )
    with pytest.raises(ReplicationError, match="authentication failed"):
        client.connect()
    client.close()
    srv.join(timeout=5)


def test_scram_forged_server_signature_rejected():
    """Mutual auth: a server that validates our proof but cannot produce
    the v= signature (doesn't actually know the password — MITM shape)
    must be rejected by the CLIENT."""
    srv = FakeWalSender(
        _tx_frames(1, 1), scram_password="pw", bad_server_sig=True
    )
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="r", dbname="d", password="pw"
    )
    with pytest.raises(ReplicationError, match="server signature"):
        client.connect()
    client.close()
    srv.join(timeout=5)


@pytest.fixture(scope="module")
def tls_cert(tmp_path_factory):
    d = tmp_path_factory.mktemp("tls")
    key, crt = d / "key.pem", d / "cert.pem"
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", str(key), "-out", str(crt), "-days", "2",
            "-subj", "/CN=127.0.0.1",
            "-addext", "subjectAltName=IP:127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    return str(crt), str(key)


def test_tls_verify_full_tail(tmp_path, tls_cert):
    """SSLRequest preamble → TLS handshake (verify-full against the
    self-signed root) → SCRAM → tail: the full hosted-Postgres shape."""
    crt, key = tls_cert
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)
    frames = _tx_frames(700, 2)
    srv = FakeWalSender(frames, scram_password="pw", tls_ctx=ctx)
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="rep", dbname="app", password="pw",
        sslmode="verify-full", sslrootcert=crt,
    )
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    rows = pq.read_table(
        tmp_path / "wal" / "chunk-000000.parquet"
    ).to_pylist()
    assert [(r["lsn"], r["turn_idx"]) for r in rows] == [(700, 0), (700, 1)]


def test_scram_plus_channel_binding_tail(tmp_path, tls_cert):
    """Server advertises SCRAM-SHA-256-PLUS over TLS: the client must
    pick the PLUS variant with gs2 ``p=tls-server-end-point,,`` and a
    ``c=`` carrying the certificate hash — the fake server recomputes
    the binding from its own certificate (as PostgreSQL does) and
    rejects a mismatch, so a passing tail proves the binding data."""
    crt, key = tls_cert
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)
    der = ssl.PEM_cert_to_DER_cert(open(crt).read())
    frames = _tx_frames(810, 2)
    srv = FakeWalSender(
        frames, scram_password="pw", tls_ctx=ctx,
        offer_plus=True, der_cert=der,
    )
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="rep", dbname="app", password="pw",
        sslmode="verify-full", sslrootcert=crt,
    )
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert srv.used_mechanism == "SCRAM-SHA-256-PLUS"
    assert srv.seen_gs2 == "p=tls-server-end-point,,"
    rows = pq.read_table(
        tmp_path / "wal" / "chunk-000000.parquet"
    ).to_pylist()
    assert [(r["lsn"], r["turn_idx"]) for r in rows] == [(810, 0), (810, 1)]


def test_scram_downgrade_flag_over_tls(tmp_path, tls_cert):
    """TLS is up but the server offers only plain SCRAM (the pgbouncer
    shape): the client falls back to SCRAM-SHA-256 with gs2 ``y`` —
    honest downgrade evidence per RFC 5802 — instead of ``n``."""
    crt, key = tls_cert
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(crt, key)
    frames = _tx_frames(820, 1)
    srv = FakeWalSender(frames, scram_password="pw", tls_ctx=ctx)
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="rep", dbname="app", password="pw",
        sslmode="verify-full", sslrootcert=crt,
    )
    client.connect()
    feed = PgOutputFeed(str(tmp_path / "wal"))
    client.run(feed, slot="s", publication="p")
    client.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert srv.used_mechanism == "SCRAM-SHA-256"
    assert srv.seen_gs2 == "y,,"


def test_tls_server_end_point_digest_selection(tls_cert):
    """RFC 5929 digest choice: the fixture cert is sha256WithRSA so the
    binding is SHA-256 of the DER; a handcrafted certificate whose
    signatureAlgorithm is sha384WithRSA hashes with SHA-384; MD5/SHA-1
    upgrade to SHA-256; garbage DER falls back to SHA-256."""
    import hashlib as _hl

    from gear5_spark.sources.pg_replication import tls_server_end_point

    crt, _ = tls_cert
    der = ssl.PEM_cert_to_DER_cert(open(crt).read())
    assert tls_server_end_point(der) == _hl.sha256(der).digest()

    def _tlv(tag: int, val: bytes) -> bytes:
        if len(val) < 0x80:
            return bytes([tag, len(val)]) + val
        enc = len(val).to_bytes(2, "big")
        return bytes([tag, 0x82]) + enc + val

    def _fake_cert(sig_oid: bytes) -> bytes:
        tbs = _tlv(0x30, b"")
        alg = _tlv(0x30, _tlv(0x06, sig_oid) + _tlv(0x05, b""))
        sig = _tlv(0x03, b"\x00sig")
        return _tlv(0x30, tbs + alg + sig)

    sha384_oid = bytes(  # 1.2.840.113549.1.1.12
        [0x2A, 0x86, 0x48, 0x86, 0xF7, 0x0D, 0x01, 0x01, 0x0C]
    )
    c384 = _fake_cert(sha384_oid)
    assert tls_server_end_point(c384) == _hl.sha384(c384).digest()
    sha1_oid = bytes(  # 1.2.840.113549.1.1.5 -> upgraded to SHA-256
        [0x2A, 0x86, 0x48, 0x86, 0xF7, 0x0D, 0x01, 0x01, 0x05]
    )
    c1 = _fake_cert(sha1_oid)
    assert tls_server_end_point(c1) == _hl.sha256(c1).digest()
    junk = b"\x30\x03junkthatisnotDER"
    assert tls_server_end_point(junk) == _hl.sha256(junk).digest()


def test_tls_refused_raises():
    """A server answering 'N' to SSLRequest under sslmode=require must
    raise — never silent plaintext fallback."""

    class NoTls(threading.Thread):
        def __init__(self):
            super().__init__(daemon=True)
            self._lsock = socket.create_server(("127.0.0.1", 0))
            self.port = self._lsock.getsockname()[1]

        def run(self):
            try:
                c, _ = self._lsock.accept()
                with c:
                    buf = b""
                    while len(buf) < 8:
                        buf += c.recv(8 - len(buf))
                    c.sendall(b"N")
            finally:
                self._lsock.close()

    srv = NoTls()
    srv.start()
    client = ReplicationClient(
        "127.0.0.1", srv.port, user="r", dbname="d", sslmode="require"
    )
    with pytest.raises(ReplicationError, match="refused TLS"):
        client.connect()
    client.close()
    srv.join(timeout=5)


def test_bad_sslmode_rejected():
    with pytest.raises(ValueError, match="sslmode"):
        ReplicationClient("h", 1, user="u", dbname="d", sslmode="prefer")
