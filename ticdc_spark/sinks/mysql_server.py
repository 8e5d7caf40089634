"""In-process MySQL server speaking the real wire protocol over TCP.

Handshake V10 + mysql_native_password auth + COM_QUERY against a shared
sqlite3 backend (stdlib). Purpose: give the MySQL sink (`sinks/mysql.py`
SQL generation + `sinks/jdbc.py` ordered apply) a live endpoint so the
whole `pkg/sink/mysql` path — session-init statements, safe-mode
REPLACE/DELETE DML, multi-statement batches, final-state readback — is
exercised over actual sockets in this container (no mysqld available).

Dialect notes (documented mini-server simplifications, not protocol ones):
- ``schema`.`table`` names work natively: each schema is ATTACHed as a
  named sqlite database; backtick quoting is sqlite-native.
- ``SET ...`` session statements are accepted and no-op'd with OK, like a
  real server whose variables we don't model.
- Multi-statement COM_QUERY payloads are split on ';\n' (the client joins
  with that separator); responses use the real SERVER_MORE_RESULTS_EXISTS
  chaining. A real server parses statement boundaries properly — the
  generated DML here is single-line so the separator is unambiguous.

Scale note: TEST endpoint. In production the same client bytes target a
real MySQL/TiDB; nothing here sits on the data path.
"""

from __future__ import annotations

import os
import re
import socketserver
import sqlite3
import threading

from ticdc_spark.codec import mysql_wire as mw
from ticdc_spark.endpoint import Endpoint

_FLOAT_RE = re.compile(r"^-?\d+\.\d+$")


class _BufSock:
    """Accumulates response packets for one multi-statement batch and
    flushes them with a single sendall — a 256-statement batch otherwise
    costs 256 tiny sendall syscalls serialized under the GIL (the
    per-statement OK packets are what the applier's throughput is made
    of).  Protocol-transparent: the client reads the same byte stream,
    just delivered in one segment."""

    __slots__ = ("_sock", "_buf")

    def __init__(self, sock):
        self._sock = sock
        self._buf = bytearray()

    def sendall(self, data) -> None:
        self._buf += data

    def flush(self) -> None:
        if self._buf:
            self._sock.sendall(bytes(self._buf))
            self._buf.clear()


class MiniMySQLServer(Endpoint):
    def __init__(
        self,
        user: str = "root",
        password: str = "secret",
        schemas: tuple[str, ...] = ("test",),
        host: str = "127.0.0.1",
        tls: bool = False,
        mutual_tls: bool = False,
        auth_plugin: str = "caching_sha2_password",
    ):
        # tls=True advertises CLIENT_SSL; a client may send Protocol::
        # SSLRequest after the handshake packet and upgrade mid-stream
        # (the ssl-ca/require-secure-transport deployment shape).
        # mutual_tls=True makes the upgrade demand a client certificate
        # chained to the server's CA (ssl-cert/ssl-key client options);
        # mint one with issue_client_cert().
        super().__init__(host, tls, mutual_tls)
        self.user = user
        self.password = password
        # default auth plugin, like MySQL 8's default_authentication_plugin.
        # caching_sha2_password keeps only the double-SHA256 digest cache
        # (populated on the first FULL auth, hit by the fast path after);
        # the RSA keypair serves the non-TLS full-auth leg.
        if auth_plugin not in ("caching_sha2_password",
                               "mysql_native_password"):
            raise ValueError(f"unknown auth plugin {auth_plugin!r}")
        self.auth_plugin = auth_plugin.encode()
        self._sha2_cache: dict[str, bytes] = {}
        self._rsa_priv = None
        self._rsa_pub_pem = None
        if self.auth_plugin == mw.AUTH_PLUGIN_CACHING_SHA2:
            from cryptography.hazmat.primitives import serialization
            from cryptography.hazmat.primitives.asymmetric import rsa

            self._rsa_priv = rsa.generate_private_key(
                public_exponent=65537, key_size=2048)
            self._rsa_pub_pem = self._rsa_priv.public_key().public_bytes(
                serialization.Encoding.PEM,
                serialization.PublicFormat.SubjectPublicKeyInfo)
        # isolation_level=None = true autocommit with EXPLICIT transaction
        # control: each DML commits immediately unless a BEGIN is open —
        # the semantics START TRANSACTION / COMMIT framing needs
        # cached_statements: the prepared-statement writer produces a
        # distinct SQL string per (table, kind, chunk arity) — hundreds
        # of shapes at real batch sizes — and the sqlite3 default cache
        # of 128 thrashes, re-parsing ~2 KB multirow REPLACEs on every
        # execute.  Size it to hold the whole shape population.
        self._db = sqlite3.connect(":memory:", check_same_thread=False,
                                   isolation_level=None,
                                   cached_statements=4096)
        self._db_lock = threading.Lock()
        for s in schemas:
            self._db.execute(f"ATTACH ':memory:' AS `{s}`")
        self._thread_id = 0
        srv = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                try:
                    srv._serve(self.request)
                except (ConnectionResetError, BrokenPipeError):
                    return

        self._listen(Handler)

    def stop(self) -> None:
        if self._thread is not None:
            super().stop()
            self._db.close()

    # -- auth

    def _authenticate(self, sock, resp: dict, nonce: bytes, seq: int,
                      secure: bool) -> bool:
        """Plugin-aware auth after HandshakeResponse41; ends with OK (True)
        or ERR 1045 (False).  caching_sha2_password: fast path against the
        double-SHA256 cache, else perform_full_authentication — cleartext
        over TLS, or the RSA public-key leg over plaintext (exactly the
        stock MySQL 8 flow go-sql-driver negotiates)."""
        def deny() -> bool:
            mw.write_packet(sock, seq, mw.enc_err(
                1045, f"Access denied for user '{resp['user']}'", "28000"))
            return False

        token = resp["token"]
        if resp["user"] != self.user:
            return deny()
        # client answered with a different plugin -> Protocol::
        # AuthSwitchRequest to the server default, same nonce
        if resp["auth_plugin"] and resp["auth_plugin"] != self.auth_plugin:
            seq = mw.write_packet(
                sock, seq, mw.enc_auth_switch_request(self.auth_plugin, nonce))
            got = mw.read_packet(sock)
            if got is None:
                return False
            s_in, token = got
            seq = s_in + 1
        if self.auth_plugin == mw.AUTH_PLUGIN:
            if not mw.verify_native_password(self.password, nonce, token):
                return deny()
            mw.write_packet(sock, seq, mw.enc_ok())
            return True
        # caching_sha2_password
        if not token and not self.password:
            mw.write_packet(sock, seq, mw.enc_ok())
            return True
        digest = self._sha2_cache.get(resp["user"])
        if digest is not None and mw.verify_caching_sha2_cached(
                digest, nonce, token):
            seq = mw.write_packet(sock, seq, mw.enc_auth_more_data(
                bytes([mw.SHA2_FAST_AUTH_SUCCESS])))
            mw.write_packet(sock, seq, mw.enc_ok())
            return True
        # cache miss (or stale): perform_full_authentication
        seq = mw.write_packet(sock, seq, mw.enc_auth_more_data(
            bytes([mw.SHA2_PERFORM_FULL_AUTH])))
        got = mw.read_packet(sock)
        if got is None:
            return False
        s_in, data = got
        seq = s_in + 1
        if data == bytes([mw.SHA2_REQUEST_PUBLIC_KEY]):
            seq = mw.write_packet(
                sock, seq, mw.enc_auth_more_data(self._rsa_pub_pem))
            got = mw.read_packet(sock)
            if got is None:
                return False
            s_in, blob = got
            seq = s_in + 1
            try:
                pwd = mw.rsa_decrypt_password(self._rsa_priv, blob, nonce)
            except Exception:  # cryptography raises several decrypt errors
                return deny()
        else:
            # cleartext password — a real server only accepts this over
            # a secure transport
            if not secure:
                return deny()
            pwd = data.rstrip(b"\x00").decode("utf-8", "replace")
        if pwd != self.password:
            return deny()
        self._sha2_cache[resp["user"]] = mw.caching_sha2_digest(self.password)
        mw.write_packet(sock, seq, mw.enc_ok())
        return True

    # -- one connection

    def _serve(self, sock):
        stmts: dict[int, tuple[str, int]] = {}  # stmt_id -> (sql, n_params)
        next_stmt = [0]
        # COM_STMT_SEND_LONG_DATA accumulation: stmt_id -> {param: bytes}
        long_data: dict[int, dict[int, bytearray]] = {}
        self._thread_id += 1
        nonce = os.urandom(20).replace(b"\x00", b"\x01")  # NUL-free like a real server
        caps = mw.SERVER_CAPS if self._tls_ctx is not None \
            else mw.SERVER_CAPS & ~mw.CLIENT_SSL
        seq = mw.write_packet(sock, 0, mw.enc_handshake_v10(
            self._thread_id, nonce, "8.0.11-ticdc-spark", caps=caps,
            plugin=self.auth_plugin))
        got = mw.read_packet(sock)
        if got is None:
            return
        secure = False
        seq_in, payload = got
        if len(payload) == 32:
            caps = int.from_bytes(payload[:4], "little")
            if caps & mw.CLIENT_SSL:
                # Protocol::SSLRequest — upgrade the stream, then the
                # real HandshakeResponse41 arrives over TLS
                if self._tls_ctx is None:
                    mw.write_packet(sock, seq_in + 1, mw.enc_err(
                        3159, "SSL is required but the server doesn't support it",
                        "HY000"))
                    return
                sock = self._accept_tls(sock)
                if sock is None:
                    return
                got = mw.read_packet(sock)
                if got is None:
                    return
                seq_in, payload = got
                secure = True
        resp = mw.dec_handshake_response41(payload)
        if not self._authenticate(sock, resp, nonce, seq_in + 1, secure):
            return
        multi_ok = bool(resp["capabilities"] & mw.CLIENT_MULTI_STATEMENTS)

        while True:
            got = mw.read_packet(sock)
            if got is None:
                return
            _, payload = got
            if not payload:
                return
            # chaos hook: kill the connection mid-conversation (arm
            # `mysql/drop-connection` with N*return(1)); the applier must
            # reconnect + re-run the safe-mode batch (REPLACE/DELETE are
            # idempotent re-applied)
            from ticdc_spark import failpoint
            if failpoint.inject("mysql/drop-connection"):
                return
            cmd = payload[0]
            if cmd == 0x01:  # COM_QUIT
                return
            if cmd == 0x0E:  # COM_PING
                mw.write_packet(sock, 1, mw.enc_ok())
                continue
            if cmd == mw.COM_STMT_PREPARE:
                sql = payload[1:].decode("utf-8")
                next_stmt[0] += 1
                n_params = sql.count("?")
                stmts[next_stmt[0]] = (sql, n_params)
                # one sendall for the whole response: an arity-64
                # multirow REPLACE has 192 params, and 192 individual
                # param-def sendalls per prepare (x hundreds of
                # prepares per apply) syscall-thrash under the GIL —
                # same batching as _BufSock on the COM_QUERY path.
                # The param-def body is identical for every param;
                # encode it once and repeat with advancing seq.
                bsock = _BufSock(sock)
                seq_out = mw.write_packet(
                    bsock, 1, mw.enc_stmt_prepare_ok(next_stmt[0], 0, n_params))
                # param definition packets + EOF (classic, non-DEPRECATE_EOF)
                if n_params:
                    pdef = mw.enc_column_def("?", mw.MYSQL_TYPE_VAR_STRING)
                    for _ in range(n_params):
                        seq_out = mw.write_packet(bsock, seq_out, pdef)
                    mw.write_packet(bsock, seq_out, mw.enc_eof())
                bsock.flush()
                continue
            if cmd == mw.COM_STMT_SEND_LONG_DATA:
                # streams one chunk of one parameter ahead of EXECUTE;
                # chunks APPEND, and there is NO response (per protocol —
                # errors surface at the next EXECUTE)
                sid, pid, chunk = mw.dec_stmt_send_long_data(payload)
                if sid in stmts:
                    long_data.setdefault(sid, {}).setdefault(
                        pid, bytearray()).extend(chunk)
                continue
            if cmd == mw.COM_STMT_RESET:
                # drops accumulated long data for the statement -> OK
                sid = int.from_bytes(payload[1:5], "little")
                if sid not in stmts:
                    mw.write_packet(sock, 1, mw.enc_err(
                        1243,
                        f"Unknown prepared statement handler ({sid})",
                        "HY000"))
                    continue
                long_data.pop(sid, None)
                mw.write_packet(sock, 1, mw.enc_ok())
                continue
            if cmd == mw.COM_STMT_EXECUTE:
                stmt_id = int.from_bytes(payload[1:5], "little")
                if stmt_id not in stmts:
                    mw.write_packet(sock, 1, mw.enc_err(1243, f"Unknown prepared statement handler ({stmt_id})", "HY000"))
                    continue
                sql, n_params = stmts[stmt_id]
                acc = {pid: bytes(b) for pid, b in
                       long_data.get(stmt_id, {}).items()}
                try:
                    _, params = mw.dec_stmt_execute(payload, n_params,
                                                    long_data=acc)
                except (ValueError, IndexError, KeyError) as e:
                    mw.write_packet(sock, 1, mw.enc_err(1210, str(e), "HY000"))
                    continue
                try:
                    with self._db_lock:
                        cur = self._db.execute(sql, params)
                        n = cur.rowcount if cur.rowcount >= 0 else 0
                    # accumulated long data is consumed by the execute
                    # (clients re-send per statement execution)
                    long_data.pop(stmt_id, None)
                    mw.write_packet(sock, 1, mw.enc_ok(affected=n))
                except sqlite3.Error as e:
                    msg = str(e)
                    if "generated column" in msg:  # same 3105 mapping as
                        mw.write_packet(sock, 1, mw.enc_err(  # _run_one
                            3105,
                            f"The value specified for {msg} is not allowed.",
                            "HY000"))
                    else:
                        mw.write_packet(sock, 1, mw.enc_err(1064, msg,
                                                            "42000"))
                continue
            if cmd == mw.COM_STMT_CLOSE:
                sid = int.from_bytes(payload[1:5], "little")
                stmts.pop(sid, None)
                long_data.pop(sid, None)
                continue  # no response, per protocol
            if cmd != 0x03:  # COM_QUERY only
                mw.write_packet(sock, 1, mw.enc_err(1047, f"unsupported command {cmd:#x}", "08S01"))
                continue
            text = payload[1:].decode("utf-8")
            qstmts = text.split(";\n") if multi_ok else [text]
            qstmts = [s for s in (t.strip() for t in qstmts) if s]
            seq_out = 1
            # a batch opening a transaction holds the db lock for its whole
            # span, giving per-connection transaction ATOMICITY on the
            # shared backend: a mid-batch error rolls everything back (the
            # reference's transaction-atomicity contract); other
            # connections' statements never interleave inside the txn
            txn_batch = qstmts and qstmts[0].upper().startswith(
                ("START TRANSACTION", "BEGIN"))
            if txn_batch:
                self._db_lock.acquire()
            in_error = False
            bsock = _BufSock(sock)
            try:
                for i, stmt in enumerate(qstmts):
                    more = mw.SERVER_MORE_RESULTS_EXISTS if i + 1 < len(qstmts) else 0
                    seq_out = self._run_one(bsock, seq_out, stmt, more,
                                            locked=txn_batch)
                    if seq_out is None:  # error sent — stop the batch
                        in_error = True
                        break
            finally:
                if txn_batch:
                    if in_error and self._db.in_transaction:
                        self._db.execute("ROLLBACK")
                    self._db_lock.release()
                bsock.flush()

    def _run_one(self, sock, seq: int, stmt: str, more_flag: int,
                 locked: bool = False):
        status = mw.SERVER_STATUS_AUTOCOMMIT | more_flag
        # first-char gate: the hot DML statements (REPLACE/DELETE/
        # INSERT/UPDATE/COMMIT...) can't match SET/FLUSH/START, so skip
        # the full upper() copy for them (per-statement cost in the
        # applier loop); behavior for matching statements is unchanged
        if stmt[:1] in "SsFf":
            upper = stmt.upper()
            if upper.startswith(("SET ", "SET\t", "FLUSH ")):
                return mw.write_packet(sock, seq, mw.enc_ok(status=status))
            if upper.startswith("START TRANSACTION"):
                stmt = "BEGIN"
        try:
            if not locked:
                self._db_lock.acquire()
            try:
                cur = self._db.execute(stmt)
                if cur.description is None:
                    n = cur.rowcount if cur.rowcount >= 0 else 0
                    return mw.write_packet(sock, seq, mw.enc_ok(affected=n, status=status))
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
            finally:
                if not locked:
                    self._db_lock.release()
        except sqlite3.Error as e:
            msg = str(e)
            if "generated column" in msg:
                # MySQL 3105 ER_NON_DEFAULT_VALUE_FOR_GENERATED_COLUMN:
                # "The value specified for generated column ... is not
                # allowed." — sqlite enforces the same write prohibition
                # ("cannot INSERT/UPDATE generated column"), so a sink
                # that fails to skip generated columns fails the apply
                # exactly like a real downstream would.
                mw.write_packet(sock, seq, mw.enc_err(
                    3105, f"The value specified for {msg} is not allowed.",
                    "HY000"))
                return None
            mw.write_packet(sock, seq, mw.enc_err(1064, msg, "42000"))
            return None
        # text resultset: count, defs, EOF, rows, EOF
        seq = mw.write_packet(sock, seq, mw.enc_lenenc_int(len(cols)))
        for i, name in enumerate(cols):
            col_type = _infer_type(rows, i)
            seq = mw.write_packet(sock, seq, mw.enc_column_def(name, col_type))
        seq = mw.write_packet(sock, seq, mw.enc_eof(status))
        # one sendall for the row stream — 40k tiny sends would syscall-thrash
        out = bytearray()
        import struct as _s

        for row in rows:
            body = mw.enc_text_row(list(row))
            if len(body) >= mw.MAX_PACKET:
                raise ValueError("row too large for one packet")
            out += _s.pack("<I", len(body))[:3] + bytes([seq & 0xFF]) + body
            seq = (seq + 1) & 0xFF
        sock.sendall(bytes(out))
        return mw.write_packet(sock, seq, mw.enc_eof(status))


def _infer_type(rows, i: int) -> int:
    for row in rows:
        v = row[i]
        if v is None:
            continue
        if isinstance(v, float):
            return mw.MYSQL_TYPE_DOUBLE
        if isinstance(v, int):
            return mw.MYSQL_TYPE_LONGLONG
        return mw.MYSQL_TYPE_VAR_STRING
    return mw.MYSQL_TYPE_VAR_STRING
