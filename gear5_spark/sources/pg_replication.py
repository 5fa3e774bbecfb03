"""Live Postgres logical-replication socket client (stdlib-only).

This is the wire loop itself — the piece the adapter contract
(``sources/wal_adapter.py``) and the pgoutput decoder
(``sources/pgoutput.py``) were designed to plug into, speaking the
public PostgreSQL frontend/backend protocol (v3.0) over a plain
``socket``: startup with ``replication=database``, ``START_REPLICATION
SLOT ... LOGICAL``, then the CopyBoth stream of ``XLogData`` /
keepalive frames, acknowledged with standby-status updates. It mirrors
the reference's receive loop one-to-one (``pkg/waljs/waljs.go:126-259``:
start `:126-146`, receive `:179-259`, keepalive `:211-218`, ACK
`:149-169`) with the durability split documented in ``wal_adapter.py``:
only LSNs whose chunk file is atomically visible are ever acknowledged.

Zero dependencies by design (no psycopg2 in this sandbox, and none
needed): the replication subprotocol uses a handful of fixed-layout
messages. Supported auth: trust, cleartext password, and
**SCRAM-SHA-256** (RFC 5802/7677 over the 'R' codes 10/11/12 — the
default of every hosted Postgres: RDS, Cloud SQL, Azure), matching the
reference's pgx-provided auth (`drivers/postgres/internal/postgres.go:45`).
TLS is negotiated with the standard SSLRequest preamble + stdlib
``ssl`` when ``sslmode`` is require/verify-ca/verify-full (reference:
sslmode plumbed at `drivers/postgres/internal/config.go:123-125`).
Over TLS the client prefers **SCRAM-SHA-256-PLUS** with
``tls-server-end-point`` channel binding (RFC 5929 §4.1: the hash of
the server certificate, digest chosen by the certificate's signature
algorithm with MD5/SHA-1 upgraded to SHA-256) whenever the server
advertises it, binding the SCRAM exchange to THIS TLS channel so a
credential-relaying MITM fails even with a trusted certificate; the
gs2 flag follows libpq's ladder (``p=…`` when PLUS is used, ``y``
when TLS is up but the server offered only plain SCRAM — downgrade
evidence the server can act on — and ``n`` without TLS).

Protocol layouts used (all big-endian; public PG docs "Message
Formats" + "Streaming Replication Protocol"):

=====  ==========================================================
dir    message
=====  ==========================================================
F->B   SSLRequest: Int32 8, Int32 80877103; B->F one raw byte
       'S' (proceed to TLS handshake) / 'N' (refused)
F->B   Startup: Int32 len, Int32 196608, (key\\0value\\0)* \\0
B->F   'R' auth: Int32 len, Int32 code (0 ok, 3 cleartext,
       10 SASL mechanism list, 11 SASL continue, 12 SASL final)
F->B   'p' password / SASLInitialResponse / SASLResponse
B->F   'S' parameter status / 'K' backend key data (skipped)
B->F   'Z' ready for query
F->B   'Q' simple query: Int32 len, String
B->F   'W' CopyBothResponse — the stream is live
B->F   'd' CopyData: 'w' XLogData (Int64 walStart, Int64 walEnd,
       Int64 sendTime, bytes payload) | 'k' keepalive (Int64
       walEnd, Int64 sendTime, Byte replyRequested)
F->B   'd' CopyData: 'r' standby status (Int64 received, Int64
       flushed, Int64 applied, Int64 clientTime, Byte reply)
B->F   'E' error response: (Byte field, String)* \\0
=====  ==========================================================
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import ssl
import struct
import time
from typing import Any, Callable, Iterator

from gear5_spark.sources.pgoutput import PG_EPOCH_MS, PgOutputFeed

#: protocol version 3.0
_PROTO = 196608
#: SSLRequest "version" magic (public PG protocol docs)
_SSL_MAGIC = 80877103


def _startup_payload(params: dict[str, str]) -> bytes:
    body = struct.pack(">i", _PROTO)
    for k, v in params.items():
        body += k.encode() + b"\x00" + v.encode() + b"\x00"
    body += b"\x00"
    return struct.pack(">i", len(body) + 4) + body


def _msg(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack(">i", len(body) + 4) + body


def _parse_error(body: bytes) -> str:
    """ErrorResponse fields -> 'SEVERITY: message' (code M = message)."""
    fields = {}
    pos = 0
    while pos < len(body) and body[pos] != 0:
        code = chr(body[pos])
        end = body.index(b"\x00", pos + 1)
        fields[code] = body[pos + 1 : end].decode("utf-8", "replace")
        pos = end + 1
    return f"{fields.get('S', 'ERROR')}: {fields.get('M', repr(body))}"


def lsn_str(lsn: int) -> str:
    """int -> Postgres textual LSN ('X/Y')."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def parse_lsn(s: str) -> int:
    hi, lo = s.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


class ReplicationError(RuntimeError):
    pass


def _oid_str(b: bytes) -> str:
    """DER-encoded OBJECT IDENTIFIER value bytes -> dotted string."""
    parts = [b[0] // 40, b[0] % 40]
    val = 0
    for c in b[1:]:
        val = (val << 7) | (c & 0x7F)
        if not c & 0x80:
            parts.append(val)
            val = 0
    return ".".join(map(str, parts))


def _der_tlv(b: bytes, pos: int) -> tuple[int, bytes, int]:
    """One DER TLV at ``pos`` -> (tag, value bytes, end offset)."""
    tag = b[pos]
    pos += 1
    ln = b[pos]
    pos += 1
    if ln & 0x80:
        n = ln & 0x7F
        ln = int.from_bytes(b[pos : pos + n], "big")
        pos += n
    return tag, b[pos : pos + ln], pos + ln


#: certificate signatureAlgorithm OID -> hash for tls-server-end-point
#: (RFC 5929 §4.1; MD5 and SHA-1 are upgraded to SHA-256)
_SIG_OID_HASH = {
    "1.2.840.113549.1.1.4": "sha256",   # md5WithRSA -> upgraded
    "1.2.840.113549.1.1.5": "sha256",   # sha1WithRSA -> upgraded
    "1.2.840.113549.1.1.11": "sha256",  # sha256WithRSA
    "1.2.840.113549.1.1.12": "sha384",  # sha384WithRSA
    "1.2.840.113549.1.1.13": "sha512",  # sha512WithRSA
    "1.2.840.10045.4.1": "sha256",      # ecdsa-with-SHA1 -> upgraded
    "1.2.840.10045.4.3.2": "sha256",    # ecdsa-with-SHA256
    "1.2.840.10045.4.3.3": "sha384",    # ecdsa-with-SHA384
    "1.2.840.10045.4.3.4": "sha512",    # ecdsa-with-SHA512
    "1.3.101.112": "sha512",            # Ed25519 (no inner hash): SHA-512
    # RSASSA-PSS (1.2.840.113549.1.1.10) carries its hash in the
    # AlgorithmIdentifier params; not parsed — falls through to the
    # SHA-256 default, which is the overwhelmingly common PSS choice.
}


def tls_server_end_point(der_cert: bytes) -> bytes:
    """RFC 5929 §4.1 channel-binding data for a DER certificate: its
    hash under the digest implied by the certificate's OWN signature
    algorithm (parsed from the outer ``Certificate`` SEQUENCE —
    tbsCertificate, signatureAlgorithm{OID, …}, signatureValue),
    with MD5/SHA-1 upgraded to SHA-256. Unknown algorithms fall back
    to SHA-256, matching libpq/pgx behavior."""
    algo = "sha256"
    try:
        _, cert_body, _ = _der_tlv(der_cert, 0)  # Certificate ::= SEQ
        off = len(der_cert) - len(cert_body)
        _, _, tbs_end = _der_tlv(der_cert, off)  # tbsCertificate
        _, sigalg, _ = _der_tlv(der_cert, tbs_end)  # signatureAlgorithm
        tag, oid, _ = _der_tlv(sigalg, 0)
        if tag == 0x06:
            algo = _SIG_OID_HASH.get(_oid_str(oid), "sha256")
    except (IndexError, ValueError):
        pass  # malformed DER: SHA-256 default (cert already verified)
    return hashlib.new(algo, der_cert).digest()


class _ScramSha256:
    """Client side of SCRAM-SHA-256 / SCRAM-SHA-256-PLUS (RFC 5802,
    SHA-256 parameters per RFC 7677). With ``cb_data`` (the RFC 5929
    ``tls-server-end-point`` certificate hash) the PLUS variant is
    spoken: gs2 header ``p=tls-server-end-point,,`` and the binding
    data carried in the ``c=`` attribute, so the server proves it
    terminates THIS TLS channel. Without it the gs2 flag is ``y`` when
    ``downgraded`` (TLS is up but the server offered no PLUS — the
    honest libpq ladder) else ``n``. The username attribute is left
    empty — PostgreSQL takes the role from the startup packet and
    ignores SCRAM's ``n=``. SASLprep normalization is not applied
    (stdlib has no implementation); passwords outside printable ASCII
    should be avoided or fronted with psycopg2."""

    MECHANISM = "SCRAM-SHA-256"

    def __init__(
        self,
        password: str,
        nonce: str | None = None,
        cb_data: bytes | None = None,
        downgraded: bool = False,
    ):
        self._password = password.encode()
        # printable-ASCII nonce, no commas (RFC 5802 attr syntax)
        self._nonce = nonce or base64.b64encode(os.urandom(18)).decode()
        self.client_first_bare = f"n=,r={self._nonce}"
        self._server_signature: bytes | None = None
        if cb_data is not None:
            self.mechanism = self.MECHANISM + "-PLUS"
            self._gs2 = "p=tls-server-end-point,,"
        else:
            self.mechanism = self.MECHANISM
            self._gs2 = "y,," if downgraded else "n,,"
        # c= is base64(gs2-header || cb-data) — "biws"/"eSws" when empty
        self._cbind = base64.b64encode(
            self._gs2.encode() + (cb_data or b"")
        ).decode()

    def client_first(self) -> bytes:
        return (self._gs2 + self.client_first_bare).encode()

    def client_final(self, server_first: bytes) -> bytes:
        text = server_first.decode()
        attrs = dict(p.split("=", 1) for p in text.split(","))
        full_nonce = attrs["r"]
        if not full_nonce.startswith(self._nonce):
            raise ReplicationError(
                "SCRAM server nonce does not extend the client nonce"
            )
        salt = base64.b64decode(attrs["s"])
        iterations = int(attrs["i"])
        salted = hashlib.pbkdf2_hmac(
            "sha256", self._password, salt, iterations
        )
        client_key = hmac.digest(salted, b"Client Key", "sha256")
        stored_key = hashlib.sha256(client_key).digest()
        # c= echoes the gs2 header plus any channel-binding data; the
        # server recomputes it from ITS view of the TLS channel, so a
        # relayed exchange mismatches here
        without_proof = f"c={self._cbind},r={full_nonce}"
        auth_message = ",".join(
            [self.client_first_bare, text, without_proof]
        ).encode()
        signature = hmac.digest(stored_key, auth_message, "sha256")
        proof = bytes(a ^ b for a, b in zip(client_key, signature))
        server_key = hmac.digest(salted, b"Server Key", "sha256")
        self._server_signature = hmac.digest(
            server_key, auth_message, "sha256"
        )
        return (
            without_proof + ",p=" + base64.b64encode(proof).decode()
        ).encode()

    def verify_server_final(self, server_final: bytes) -> None:
        """Mutual auth: the v= signature proves the SERVER knows the
        (salted) password too — a MITM that faked the exchange cannot
        produce it."""
        attrs = dict(
            p.split("=", 1) for p in server_final.decode().split(",")
        )
        expected = self._server_signature
        if expected is None or not hmac.compare_digest(
            base64.b64decode(attrs.get("v", "")), expected
        ):
            raise ReplicationError(
                "SCRAM server signature mismatch — the server does not "
                "know the password (possible MITM); aborting"
            )


class ReplicationClient:
    """Minimal logical-replication frontend over one socket.

    Usage (matching the reference loop)::

        client = ReplicationClient(host, port, user="rep", dbname="app")
        client.connect()
        feed = PgOutputFeed(changelog_dir)
        client.run(feed, slot="g5", publication="g5pub",
                   batch_rows=10_000)   # blocks; Ctrl-C / stop() to end
    """

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        dbname: str,
        password: str | None = None,
        timeout: float = 10.0,
        keepalive_interval: float = 1.0,
        sslmode: str = "disable",
        sslrootcert: str | None = None,
    ):
        if sslmode not in ("disable", "require", "verify-ca", "verify-full"):
            raise ValueError(
                f"sslmode {sslmode!r} not one of disable/require/"
                "verify-ca/verify-full"
            )
        self.host, self.port = host, port
        self.user, self.dbname, self.password = user, dbname, password
        self.sslmode, self.sslrootcert = sslmode, sslrootcert
        self.timeout = timeout
        # reference pins a 1 s standby deadline (pkg/waljs/waljs.go:80):
        # send an unsolicited status at least this often
        self.keepalive_interval = keepalive_interval
        self._sock: socket.socket | None = None
        self._buf = b""
        self._stopping = False
        self._server_done = False  # the server sent CopyDone
        self._scram: _ScramSha256 | None = None

    # -- transport ---------------------------------------------------
    def connect(self) -> None:
        # a reconnect after stop()/close() starts a fresh session: stale
        # stop flags or buffered bytes from the old socket must not
        # leak into (and silently stall or desync) the new stream
        self._stopping = False
        self._server_done = False
        self._buf = b""
        self._scram = None
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.timeout
        )
        self._negotiate_tls()
        self._send_raw(
            _startup_payload(
                {
                    "user": self.user,
                    "database": self.dbname,
                    # the magic words: puts the session in walsender mode
                    "replication": "database",
                }
            )
        )
        while True:
            tag, body = self._recv_msg()
            if tag == b"R":
                (code,) = struct.unpack_from(">i", body, 0)
                if code == 0:
                    continue  # AuthenticationOk
                if code == 3:  # cleartext password
                    if self.password is None:
                        raise ReplicationError(
                            "server requests a password; none configured"
                        )
                    self._send_raw(
                        _msg(b"p", self.password.encode() + b"\x00")
                    )
                    continue
                if code == 10:  # AuthenticationSASL: mechanism list
                    if self.password is None:
                        raise ReplicationError(
                            "server requests SCRAM; no password configured"
                        )
                    mechs = [
                        m.decode()
                        for m in body[4:].split(b"\x00")
                        if m
                    ]
                    cb = self._channel_binding()
                    plus = _ScramSha256.MECHANISM + "-PLUS"
                    if cb is not None and plus in mechs:
                        # TLS channel + server offers PLUS: bind the
                        # exchange to this channel (libpq does the same)
                        self._scram = _ScramSha256(
                            self.password, cb_data=cb
                        )
                    elif _ScramSha256.MECHANISM in mechs:
                        # gs2 'y' over TLS tells the server we COULD
                        # have bound but it offered no PLUS — a real PG
                        # (which always offers PLUS on TLS) treats that
                        # as downgrade evidence and aborts
                        self._scram = _ScramSha256(
                            self.password, downgraded=cb is not None
                        )
                    else:
                        raise ReplicationError(
                            f"no common SASL mechanism (server offers "
                            f"{mechs}, client speaks "
                            f"{_ScramSha256.MECHANISM}[-PLUS])"
                        )
                    first = self._scram.client_first()
                    self._send_raw(
                        _msg(
                            b"p",
                            self._scram.mechanism.encode()
                            + b"\x00"
                            + struct.pack(">i", len(first))
                            + first,
                        )
                    )
                    continue
                if code in (11, 12) and self._scram is None:
                    # SASLContinue/Final without a preceding SASL start
                    # (code 10) is a protocol violation — diagnose it,
                    # don't AttributeError
                    raise ReplicationError(
                        f"server sent SASL message {code} before "
                        "AuthenticationSASL — broken auth sequence"
                    )
                if code == 11:  # AuthenticationSASLContinue
                    self._send_raw(
                        _msg(b"p", self._scram.client_final(body[4:]))
                    )
                    continue
                if code == 12:  # AuthenticationSASLFinal
                    self._scram.verify_server_final(body[4:])
                    continue
                raise ReplicationError(
                    f"unsupported auth method {code} (trust/cleartext/"
                    "SCRAM-SHA-256[-PLUS] supported)"
                )
            elif tag in (b"S", b"K", b"N"):  # params / key data / notice
                continue
            elif tag == b"Z":  # ReadyForQuery
                return
            elif tag == b"E":
                raise ReplicationError(_parse_error(body))
            else:
                raise ReplicationError(
                    f"unexpected message {tag!r} during startup"
                )

    def close(self) -> None:
        """Hang up; once the server ended the stream, end the copy first
        so the server has written the stream's end before the close."""
        if self._sock is None:
            return
        try:
            if self._server_done:
                self._end_copy()
            self._send_raw(_msg(b"X", b""))  # Terminate
        except OSError:
            pass
        finally:
            self._sock.close()
            self._sock = None

    def stop(self) -> None:
        """Ask the streaming loop to exit after the current frame."""
        self._stopping = True

    # -- replication -------------------------------------------------
    def identify_system(self) -> dict[str, Any]:
        """IDENTIFY_SYSTEM -> {systemid, timeline, xlogpos (int), dbname}."""
        self._send_raw(_msg(b"Q", b"IDENTIFY_SYSTEM\x00"))
        cols: list[str] = []
        row: list[Any] = []
        while True:
            tag, body = self._recv_msg()
            if tag == b"T":  # RowDescription
                (n,) = struct.unpack_from(">h", body, 0)
                pos = 2
                for _ in range(n):
                    end = body.index(b"\x00", pos)
                    cols.append(body[pos:end].decode())
                    pos = end + 1 + 18  # fixed per-field trailer
            elif tag == b"D":  # DataRow
                (n,) = struct.unpack_from(">h", body, 0)
                pos = 2
                for _ in range(n):
                    (ln,) = struct.unpack_from(">i", body, pos)
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[pos : pos + ln].decode())
                        pos += ln
            elif tag == b"Z":
                out = dict(zip(cols, row))
                if "xlogpos" in out and out["xlogpos"]:
                    out["xlogpos"] = parse_lsn(out["xlogpos"])
                return out
            elif tag == b"E":
                raise ReplicationError(_parse_error(body))
            elif tag == b"C":  # CommandComplete
                continue

    def start_replication(
        self,
        slot: str,
        start_lsn: int,
        options: dict[str, str] | None = None,
    ) -> Iterator[tuple[int, bytes]]:
        """START_REPLICATION; yields (wal_start, payload) per XLogData.

        Keepalives are handled inside the generator: a reply-requested
        keepalive (and a quiet period longer than ``keepalive_interval``)
        triggers a standby-status update carrying ``self.flush_lsn`` —
        set by the caller after durable flushes (the two-level
        durability contract in wal_adapter.py). The generator exits on
        the server's CopyDone, leaving the client's side of the copy
        open for a last status update (:meth:`close` ends it), or after
        :meth:`stop`."""
        def _ident(s: str) -> str:  # embedded " doubles inside "..."
            return '"' + s.replace('"', '""') + '"'

        def _lit(s: str) -> str:  # embedded ' doubles inside '...'
            return "'" + s.replace("'", "''") + "'"

        opts = ""
        if options:
            inner = ", ".join(
                f"{_ident(k)} {_lit(v)}" for k, v in options.items()
            )
            opts = f" ({inner})"
        q = (
            f"START_REPLICATION SLOT {_ident(slot)} LOGICAL "
            f"{lsn_str(start_lsn)}{opts}"
        )
        self._send_raw(_msg(b"Q", q.encode() + b"\x00"))
        tag, body = self._recv_msg()
        if tag == b"E":
            raise ReplicationError(_parse_error(body))
        if tag != b"W":
            raise ReplicationError(
                f"expected CopyBothResponse, got {tag!r}"
            )
        # streaming phase: wake at the keepalive cadence so unsolicited
        # status updates go out even when the server is quiet (reference
        # standby deadline, pkg/waljs/waljs.go:80)
        assert self._sock is not None
        self._sock.settimeout(self.keepalive_interval)
        self.flush_lsn = start_lsn
        last_status = time.monotonic()
        while not self._stopping:
            try:
                tag, body = self._recv_msg()
            except socket.timeout:
                self._send_status()
                last_status = time.monotonic()
                continue
            if tag == b"d":  # CopyData
                kind = body[:1]
                if kind == b"w":
                    wal_start, _wal_end, _ts = struct.unpack_from(
                        ">qqq", body, 1
                    )
                    yield wal_start, body[25:]
                elif kind == b"k":
                    _wal_end, _ts, reply = struct.unpack_from(
                        ">qqb", body, 1
                    )
                    if reply:
                        self._send_status()
                        last_status = time.monotonic()
                else:  # pragma: no cover - unknown copy subprotocol
                    raise ReplicationError(
                        f"unknown CopyData kind {kind!r}"
                    )
            elif tag == b"c":  # CopyDone — server ends the stream
                self._server_done = True
                return
            elif tag == b"E":
                raise ReplicationError(_parse_error(body))
            elif tag in (b"C", b"Z", b"N"):
                continue
            if time.monotonic() - last_status >= self.keepalive_interval:
                self._send_status()
                last_status = time.monotonic()

    def _end_copy(self) -> None:
        """Answer the server's CopyDone with ours and read through its
        CommandComplete to ReadyForQuery. A status update sent after
        this is outside the copy, where a walsender discards it."""
        self._send_raw(_msg(b"c", b""))
        while True:
            try:
                tag, body = self._recv_msg()
            except socket.timeout:
                continue
            if tag == b"Z":
                return
            if tag == b"E":
                raise ReplicationError(_parse_error(body))

    def run(
        self,
        feed: PgOutputFeed,
        slot: str,
        publication: str,
        batch_rows: int = 10_000,
        start_lsn: int | None = None,
        on_flush: Callable[[str | None, int | None], None] | None = None,
    ) -> None:
        """The full reference loop: tail the slot through ``feed``
        (decode → durable chunks), flush every ``batch_rows`` buffered
        rows, and acknowledge ONLY the durable ``ackable_lsn`` after
        each flush. Resumes from the feed's own durable max when
        ``start_lsn`` is not given. Batch size default matches the
        reference's ``--batch`` default (protocol/root.go:78)."""
        resume = (
            start_lsn
            if start_lsn is not None
            else (feed.writer.resume_lsn() or 0)
        )
        options = {
            "proto_version": "1",
            "publication_names": publication,
        }
        try:
            for wal_start, payload in self.start_replication(
                slot, resume, options
            ):
                feed.on_xlog_data(wal_start, payload)
                if feed.writer.pending_rows >= batch_rows:
                    path = feed.writer.flush()
                    ack = feed.writer.ackable_lsn()
                    if ack is not None:
                        self.flush_lsn = ack
                        self._send_status()
                    if on_flush is not None:
                        on_flush(path, ack)
        finally:
            path = feed.writer.flush()
            ack = feed.writer.ackable_lsn()
            if ack is not None:
                self.flush_lsn = ack
                try:
                    self._send_status()
                except OSError:
                    pass
            if on_flush is not None and path is not None:
                on_flush(path, ack)

    # -- internals ---------------------------------------------------
    def _negotiate_tls(self) -> None:
        """SSLRequest preamble + stdlib TLS handshake per ``sslmode``:

        - ``disable``     — plain socket (the default; sandbox servers)
        - ``require``     — encrypt, no certificate verification
        - ``verify-ca``   — verify the chain against ``sslrootcert``
        - ``verify-full`` — verify-ca + hostname match

        Mirrors libpq's sslmode ladder (reference plumbs the same knob,
        `drivers/postgres/internal/config.go:123-125`). A server
        answering 'N' under any non-disable mode is an error — this
        client never silently falls back to plaintext."""
        if self.sslmode == "disable":
            return
        assert self._sock is not None
        self._sock.sendall(struct.pack(">ii", 8, _SSL_MAGIC))
        resp = self._sock.recv(1)
        if resp != b"S":
            raise ReplicationError(
                f"server refused TLS (got {resp!r}) and sslmode="
                f"{self.sslmode} forbids plaintext fallback"
            )
        if self.sslmode == "require":
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        else:
            ctx = ssl.create_default_context(cafile=self.sslrootcert)
            if self.sslmode == "verify-ca":
                ctx.check_hostname = False
        self._sock = ctx.wrap_socket(
            self._sock, server_hostname=self.host
        )

    def _channel_binding(self) -> bytes | None:
        """``tls-server-end-point`` data for the live TLS channel, or
        None when the transport is plaintext (no channel to bind)."""
        if not isinstance(self._sock, ssl.SSLSocket):
            return None
        der = self._sock.getpeercert(binary_form=True)
        if not der:
            return None
        return tls_server_end_point(der)

    def _send_status(self) -> None:
        """Standby status update: received/flushed/applied all report the
        durable flush LSN (+1 per the convention that the reported
        position is the next byte expected), client clock in pg-epoch
        microseconds, no reply requested."""
        # microseconds since 2000-01-01 — compute in µs directly; scaling
        # an already-truncated ms count would pin the clock to ms boundaries
        now_us = int((time.time() * 1000 - PG_EPOCH_MS) * 1000)
        body = b"r" + struct.pack(
            ">qqqqb",
            self.flush_lsn + 1,
            self.flush_lsn + 1,
            self.flush_lsn + 1,
            now_us,
            0,
        )
        self._send_raw(_msg(b"d", body))

    def _send_raw(self, data: bytes) -> None:
        assert self._sock is not None, "connect() first"
        self._sock.sendall(data)

    def _recv_msg(self) -> tuple[bytes, bytes]:
        """One backend message: (tag, body). Timeout-safe: nothing is
        consumed from the buffer until the WHOLE message is present, so
        a ``socket.timeout`` mid-message never desyncs the framing (the
        partial bytes wait in ``_buf`` for the next call)."""
        assert self._sock is not None, "connect() first"
        while True:
            if len(self._buf) >= 5:
                tag = self._buf[:1]
                (ln,) = struct.unpack(">i", self._buf[1:5])
                total = 1 + ln  # tag byte + ln (which counts itself)
                if len(self._buf) >= total:
                    body = self._buf[5:total]
                    self._buf = self._buf[total:]
                    return tag, body
            chunk = self._sock.recv(65536)  # may raise timeout; buf intact
            if not chunk:
                raise ReplicationError("server closed the connection")
            self._buf += chunk
