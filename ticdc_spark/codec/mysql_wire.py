"""MySQL client/server wire protocol — the subset a DML sink speaks.

Layouts follow the public MySQL protocol documentation (dev.mysql.com
"Client/Server Protocol"): 3-byte little-endian length + sequence-id
packet framing, Protocol::HandshakeV10, HandshakeResponse41 with
mysql_native_password scrambling (SHA1(pwd) XOR SHA1(nonce+SHA1(SHA1(pwd)))),
OK_Packet / ERR_Packet / EOF_Packet, COM_QUERY, and the text-protocol
resultset (ColumnDefinition41 + NULL-as-0xFB lenenc rows).
CLIENT_MULTI_STATEMENTS is supported with the real multi-resultset
framing (SERVER_MORE_RESULTS_EXISTS chaining).

Reference behavior being reproduced: `pkg/sink/mysql` drives go-sql-driver
connections speaking exactly these frames; see sinks/mysql_server.py for
the in-process endpoint and sinks/mysql_live.py for the sink round trip.
All from the public spec — no reference code consulted for bytes.
"""

from __future__ import annotations

import hashlib
import hmac
import struct

from ticdc_spark.endpoint import recv_exact

# capability flags (protocol constants from the public docs)
CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_TRANSACTIONS = 0x00002000
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_MULTI_STATEMENTS = 0x00010000
CLIENT_MULTI_RESULTS = 0x00020000
CLIENT_PLUGIN_AUTH = 0x00080000
CLIENT_SSL = 0x00000800

SERVER_STATUS_AUTOCOMMIT = 0x0002
SERVER_MORE_RESULTS_EXISTS = 0x0008

# column types (text protocol sends values as strings; types are metadata)
MYSQL_TYPE_DOUBLE = 0x05
MYSQL_TYPE_NULL = 0x06
MYSQL_TYPE_LONGLONG = 0x08
MYSQL_TYPE_BLOB = 0xFC
MYSQL_TYPE_VAR_STRING = 0xFD

CHARSET_UTF8MB4 = 45  # utf8mb4_general_ci

AUTH_PLUGIN = b"mysql_native_password"
AUTH_PLUGIN_CACHING_SHA2 = b"caching_sha2_password"

MAX_PACKET = 0xFFFFFF


# ---------------------------------------------------------------- packets


def write_packet(sock, seq: int, payload: bytes) -> int:
    """Send one packet; returns the next sequence id. Payloads here stay
    far below 16 MiB (the sink batches statements); guard anyway."""
    if len(payload) >= MAX_PACKET:
        raise ValueError("packet overflow: payload >= 16MiB needs continuation packets")
    sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([seq & 0xFF]) + payload)
    return (seq + 1) & 0xFF


def read_packet(sock) -> tuple[int, bytes] | None:
    # mysql_client's buffered socket brings its own read_exact
    read_exact = (getattr(sock, "read_exact", None)
                  or (lambda n: recv_exact(sock, n)))
    hdr = read_exact(4)
    if hdr is None:
        return None
    length = hdr[0] | (hdr[1] << 8) | (hdr[2] << 16)
    payload = read_exact(length) if length else b""
    if payload is None:
        return None
    return hdr[3], payload


# ---------------------------------------------------------------- lenenc


def enc_lenenc_int(v: int) -> bytes:
    if v < 0xFB:
        return bytes([v])
    if v < 1 << 16:
        return b"\xfc" + struct.pack("<H", v)
    if v < 1 << 24:
        return b"\xfd" + struct.pack("<I", v)[:3]
    return b"\xfe" + struct.pack("<Q", v)


def dec_lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0xFB:
        return b, pos + 1
    if b == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b == 0xFD:
        return buf[pos + 1] | (buf[pos + 2] << 8) | (buf[pos + 3] << 16), pos + 4
    if b == 0xFE:
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    raise ValueError(f"invalid lenenc int header {b:#x}")


def enc_lenenc_str(s: bytes) -> bytes:
    return enc_lenenc_int(len(s)) + s


def dec_lenenc_str(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = dec_lenenc_int(buf, pos)
    return buf[pos : pos + n], pos + n


def _nul_str(buf: bytes, pos: int) -> tuple[bytes, int]:
    end = buf.index(0, pos)
    return buf[pos:end], end + 1


# ---------------------------------------------------------------- auth


def native_password_scramble(password: str, nonce: bytes) -> bytes:
    """mysql_native_password token: SHA1(pwd) XOR SHA1(nonce + SHA1(SHA1(pwd)))."""
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode("utf-8")).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


def verify_native_password(password: str, nonce: bytes, token: bytes) -> bool:
    return native_password_scramble(password, nonce) == token


def caching_sha2_scramble(password: str, nonce: bytes) -> bytes:
    """caching_sha2_password token:
    XOR(SHA256(pwd), SHA256(SHA256(SHA256(pwd)) || nonce)) — MySQL 8's
    default plugin (the go-sql-driver path the reference rides)."""
    if not password:
        return b""
    p1 = hashlib.sha256(password.encode("utf-8")).digest()
    p2 = hashlib.sha256(p1).digest()
    p3 = hashlib.sha256(p2 + nonce).digest()
    return bytes(a ^ b for a, b in zip(p1, p3))


def caching_sha2_digest(password: str) -> bytes:
    """What the server-side cache stores: SHA256(SHA256(pwd)).  The raw
    password never needs to be resident for the fast path."""
    return hashlib.sha256(
        hashlib.sha256(password.encode("utf-8")).digest()).digest()


def verify_caching_sha2_cached(digest: bytes, nonce: bytes,
                               token: bytes) -> bool:
    """Fast-path verify against the cached double hash only:
    unmask SHA256(pwd) out of the token, re-hash, compare to digest."""
    if len(token) != 32:
        return False
    mask = hashlib.sha256(digest + nonce).digest()
    p1 = bytes(a ^ b for a, b in zip(token, mask))
    return hmac.compare_digest(hashlib.sha256(p1).digest(), digest)


# caching_sha2 full-auth sub-protocol bytes (inside AuthMoreData 0x01)
SHA2_FAST_AUTH_SUCCESS = 3
SHA2_PERFORM_FULL_AUTH = 4
SHA2_REQUEST_PUBLIC_KEY = 2


def enc_auth_more_data(data: bytes) -> bytes:
    """Protocol::AuthMoreData — 0x01 status + plugin-specific payload."""
    return b"\x01" + data


def enc_auth_switch_request(plugin: bytes, nonce: bytes) -> bytes:
    """Protocol::AuthSwitchRequest — 0xFE + plugin NUL + data NUL."""
    return b"\xfe" + plugin + b"\x00" + nonce + b"\x00"


def dec_auth_switch_request(payload: bytes) -> tuple[bytes, bytes]:
    plugin, pos = _nul_str(payload, 1)
    return plugin, payload[pos:].rstrip(b"\x00")


def xor_password(password: str, nonce: bytes) -> bytes:
    """Full-auth RSA payload: (pwd || NUL) XOR repeating nonce — what
    the client encrypts with the server public key."""
    pw = password.encode("utf-8") + b"\x00"
    return bytes(b ^ nonce[i % len(nonce)] for i, b in enumerate(pw))


def rsa_encrypt_password(pub_pem: bytes, password: str, nonce: bytes) -> bytes:
    """RSA-OAEP(SHA-1) over the XOR-masked password, per the plugin's
    RSA_PKCS1_OAEP_PADDING full-auth leg."""
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding

    pub = serialization.load_pem_public_key(pub_pem)
    return pub.encrypt(
        xor_password(password, nonce),
        padding.OAEP(mgf=padding.MGF1(hashes.SHA1()),
                     algorithm=hashes.SHA1(), label=None))


def rsa_decrypt_password(priv, data: bytes, nonce: bytes) -> str:
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding

    masked = priv.decrypt(
        data, padding.OAEP(mgf=padding.MGF1(hashes.SHA1()),
                           algorithm=hashes.SHA1(), label=None))
    pw = bytes(b ^ nonce[i % len(nonce)] for i, b in enumerate(masked))
    return pw.rstrip(b"\x00").decode("utf-8")


# ---------------------------------------------------------------- handshake

SERVER_CAPS = (
    CLIENT_LONG_PASSWORD
    | CLIENT_CONNECT_WITH_DB
    | CLIENT_PROTOCOL_41
    | CLIENT_TRANSACTIONS
    | CLIENT_SECURE_CONNECTION
    | CLIENT_MULTI_STATEMENTS
    | CLIENT_MULTI_RESULTS
    | CLIENT_PLUGIN_AUTH
    | CLIENT_SSL
)


def enc_ssl_request(client_caps: int) -> bytes:
    """Protocol::SSLRequest — the 32-byte HandshakeResponse prefix (caps
    with CLIENT_SSL, max packet, charset, 23 zeros) sent in the clear;
    the TLS handshake follows, then the full HandshakeResponse41 rides
    encrypted."""
    import struct as _s

    return (_s.pack("<I", client_caps | CLIENT_SSL)
            + _s.pack("<I", 1 << 24) + bytes([CHARSET_UTF8MB4]) + b"\x00" * 23)


def enc_handshake_v10(thread_id: int, nonce: bytes, server_version: str,
                      caps: int | None = None,
                      plugin: bytes | None = None) -> bytes:
    """nonce: 20 bytes (8-byte part 1, 12-byte part 2 + trailing NUL on wire)."""
    assert len(nonce) == 20
    caps = SERVER_CAPS if caps is None else caps
    plugin = AUTH_PLUGIN if plugin is None else plugin
    out = bytearray()
    out += b"\x0a" + server_version.encode() + b"\x00"
    out += struct.pack("<I", thread_id)
    out += nonce[:8] + b"\x00"
    out += struct.pack("<H", caps & 0xFFFF)
    out += bytes([CHARSET_UTF8MB4])
    out += struct.pack("<H", SERVER_STATUS_AUTOCOMMIT)
    out += struct.pack("<H", caps >> 16)
    out += bytes([21])  # auth plugin data total length (8 + 12 + NUL)
    out += b"\x00" * 10
    out += nonce[8:] + b"\x00"
    out += plugin + b"\x00"
    return bytes(out)


def dec_handshake_v10(payload: bytes) -> dict:
    if payload[0] != 0x0A:
        raise IOError(f"unsupported handshake protocol version {payload[0]}")
    version, pos = _nul_str(payload, 1)
    thread_id = struct.unpack_from("<I", payload, pos)[0]
    pos += 4
    nonce1 = payload[pos : pos + 8]
    pos += 9  # + filler
    caps = struct.unpack_from("<H", payload, pos)[0]
    pos += 2
    charset = payload[pos]
    pos += 1
    status = struct.unpack_from("<H", payload, pos)[0]
    pos += 2
    caps |= struct.unpack_from("<H", payload, pos)[0] << 16
    pos += 2
    auth_len = payload[pos]
    pos += 1 + 10
    nonce2 = b""
    if caps & CLIENT_SECURE_CONNECTION:
        n2 = max(13, auth_len - 8)
        nonce2 = payload[pos : pos + n2].rstrip(b"\x00")
        pos += n2
    plugin = b""
    if caps & CLIENT_PLUGIN_AUTH:
        plugin, pos = _nul_str(payload, pos)
    return {
        "version": version.decode(),
        "thread_id": thread_id,
        "nonce": nonce1 + nonce2,
        "capabilities": caps,
        "charset": charset,
        "status": status,
        "auth_plugin": plugin,
    }


def scramble_for(plugin: bytes, password: str, nonce: bytes) -> bytes:
    if plugin == AUTH_PLUGIN_CACHING_SHA2:
        return caching_sha2_scramble(password, nonce)
    if plugin in (b"", AUTH_PLUGIN):
        return native_password_scramble(password, nonce)
    raise IOError(f"unsupported auth plugin {plugin!r}")


def enc_handshake_response41(
    user: str, password: str, nonce: bytes, database: str | None,
    client_caps: int, plugin: bytes | None = None
) -> bytes:
    plugin = AUTH_PLUGIN if plugin is None else plugin
    out = bytearray()
    out += struct.pack("<I", client_caps)
    out += struct.pack("<I", 1 << 24)  # max packet size
    out += bytes([CHARSET_UTF8MB4])
    out += b"\x00" * 23
    out += user.encode() + b"\x00"
    token = scramble_for(plugin, password, nonce)
    out += bytes([len(token)]) + token  # CLIENT_SECURE_CONNECTION form
    if client_caps & CLIENT_CONNECT_WITH_DB:
        out += (database or "").encode() + b"\x00"
    if client_caps & CLIENT_PLUGIN_AUTH:
        out += plugin + b"\x00"
    return bytes(out)


def dec_handshake_response41(payload: bytes) -> dict:
    caps, _max_packet = struct.unpack_from("<II", payload, 0)
    pos = 8 + 1 + 23
    user, pos = _nul_str(payload, pos)
    tlen = payload[pos]
    pos += 1
    token = payload[pos : pos + tlen]
    pos += tlen
    database = None
    if caps & CLIENT_CONNECT_WITH_DB and pos < len(payload):
        db, pos = _nul_str(payload, pos)
        database = db.decode() or None
    plugin = b""
    if caps & CLIENT_PLUGIN_AUTH and pos < len(payload):
        plugin, pos = _nul_str(payload, pos)
    return {"capabilities": caps, "user": user.decode(), "token": token,
            "database": database, "auth_plugin": plugin}


# ---------------------------------------------------------------- OK / ERR / EOF


def enc_ok(affected: int = 0, last_insert_id: int = 0, status: int = SERVER_STATUS_AUTOCOMMIT) -> bytes:
    return (
        b"\x00"
        + enc_lenenc_int(affected)
        + enc_lenenc_int(last_insert_id)
        + struct.pack("<HH", status, 0)
    )


def enc_err(code: int, message: str, sql_state: str = "HY000") -> bytes:
    return b"\xff" + struct.pack("<H", code) + b"#" + sql_state.encode()[:5] + message.encode()


def enc_eof(status: int = SERVER_STATUS_AUTOCOMMIT) -> bytes:
    return b"\xfe" + struct.pack("<HH", 0, status)


class MySQLError(Exception):
    def __init__(self, code: int, sql_state: str, message: str):
        super().__init__(f"({code}, {sql_state}): {message}")
        self.code = code
        self.sql_state = sql_state
        self.message = message


def dec_ok(payload: bytes) -> dict:
    affected, pos = dec_lenenc_int(payload, 1)
    last_id, pos = dec_lenenc_int(payload, pos)
    status, warnings = struct.unpack_from("<HH", payload, pos)
    return {"affected": affected, "last_insert_id": last_id,
            "status": status, "warnings": warnings}


def dec_err(payload: bytes) -> MySQLError:
    code = struct.unpack_from("<H", payload, 1)[0]
    pos = 3
    sql_state = ""
    if pos < len(payload) and payload[pos : pos + 1] == b"#":
        sql_state = payload[pos + 1 : pos + 6].decode()
        pos += 6
    return MySQLError(code, sql_state, payload[pos:].decode("utf-8", "replace"))


# ---------------------------------------------------------------- resultset


def enc_column_def(name: str, col_type: int, flags: int = 0) -> bytes:
    out = bytearray()
    out += enc_lenenc_str(b"def")  # catalog
    out += enc_lenenc_str(b"")  # schema
    out += enc_lenenc_str(b"")  # table
    out += enc_lenenc_str(b"")  # org_table
    out += enc_lenenc_str(name.encode())
    out += enc_lenenc_str(name.encode())  # org_name
    out += bytes([0x0C])  # fixed-length fields marker
    out += struct.pack("<H", CHARSET_UTF8MB4)
    out += struct.pack("<I", 255)  # column_length (display)
    out += bytes([col_type])
    out += struct.pack("<H", flags)
    out += bytes([0])  # decimals
    out += b"\x00\x00"
    return bytes(out)


def dec_column_def(payload: bytes) -> dict:
    pos = 0
    _, pos = dec_lenenc_str(payload, pos)  # catalog
    _, pos = dec_lenenc_str(payload, pos)
    _, pos = dec_lenenc_str(payload, pos)
    _, pos = dec_lenenc_str(payload, pos)
    name, pos = dec_lenenc_str(payload, pos)
    _, pos = dec_lenenc_str(payload, pos)
    pos += 1  # 0x0c
    pos += 2 + 4
    col_type = payload[pos]
    return {"name": name.decode(), "type": col_type}


def enc_text_row(values: list) -> bytes:
    """Text-protocol row: NULL -> 0xFB, everything else lenenc-str of its
    text form (floats via repr = shortest round-trip)."""
    out = bytearray()
    for v in values:
        if v is None:
            out += b"\xfb"
        else:
            if isinstance(v, float):
                s = repr(v).encode()
            elif isinstance(v, bytes):
                s = v
            else:
                s = str(v).encode()
            out += enc_lenenc_str(s)
    return bytes(out)


def dec_text_row(payload: bytes, n_cols: int) -> list[bytes | None]:
    out: list[bytes | None] = []
    pos = 0
    for _ in range(n_cols):
        if payload[pos] == 0xFB:
            out.append(None)
            pos += 1
        else:
            v, pos = dec_lenenc_str(payload, pos)
            out.append(v)
    return out


# ---------------------------------------------------------------- prepared
# COM_STMT_PREPARE / COM_STMT_EXECUTE / COM_STMT_CLOSE — the binary
# protocol go-sql-driver actually uses for the reference's DML writes
# (query + args arrays from pkg/sink/sqlmodel, not interpolated
# literals). Layouts from the public protocol docs.

COM_QUERY = 0x03
COM_STMT_PREPARE = 0x16
COM_STMT_EXECUTE = 0x17
COM_STMT_SEND_LONG_DATA = 0x18
COM_STMT_CLOSE = 0x19
COM_STMT_RESET = 0x1A


def enc_stmt_prepare_ok(stmt_id: int, num_columns: int, num_params: int) -> bytes:
    return (b"\x00" + struct.pack("<IHH", stmt_id, num_columns, num_params)
            + b"\x00" + struct.pack("<H", 0))  # filler, warnings


def dec_stmt_prepare_ok(payload: bytes) -> tuple[int, int, int]:
    stmt_id, num_columns, num_params = struct.unpack_from("<IHH", payload, 1)
    return stmt_id, num_columns, num_params


def enc_stmt_send_long_data(stmt_id: int, param_id: int,
                            chunk: bytes) -> bytes:
    """COM_STMT_SEND_LONG_DATA: streams one chunk of one parameter
    ahead of COM_STMT_EXECUTE (the go-sql-driver path for values above
    maxAllowedPacket).  NO server response, per protocol."""
    return (bytes([COM_STMT_SEND_LONG_DATA])
            + struct.pack("<IH", stmt_id, param_id) + chunk)


def dec_stmt_send_long_data(payload: bytes) -> tuple[int, int, bytes]:
    stmt_id, param_id = struct.unpack_from("<IH", payload, 1)
    return stmt_id, param_id, payload[7:]


def _param_type(v) -> int:
    if v is None:
        return MYSQL_TYPE_NULL
    if isinstance(v, bool):
        return MYSQL_TYPE_LONGLONG
    if isinstance(v, int):
        return MYSQL_TYPE_LONGLONG
    if isinstance(v, float):
        return MYSQL_TYPE_DOUBLE
    return MYSQL_TYPE_VAR_STRING


def enc_stmt_execute(stmt_id: int, params: list,
                     long_data_params: set[int] | None = None) -> bytes:
    """Binary execute: null bitmap, new-params-bound=1, 2-byte type per
    param, then values (i64/f64 LE, lenenc strings).
    ``long_data_params``: indices already streamed through
    COM_STMT_SEND_LONG_DATA — typed MYSQL_TYPE_BLOB, no value bytes."""
    long_data_params = long_data_params or set()
    out = bytearray()
    out += bytes([COM_STMT_EXECUTE])
    out += struct.pack("<IBI", stmt_id, 0, 1)  # flags=0, iteration_count=1
    n = len(params)
    if n:
        bitmap = bytearray((n + 7) // 8)
        for i, v in enumerate(params):
            if v is None and i not in long_data_params:
                bitmap[i // 8] |= 1 << (i % 8)
        out += bytes(bitmap)
        out += b"\x01"  # new_params_bound_flag
        for i, v in enumerate(params):
            out += bytes([MYSQL_TYPE_BLOB if i in long_data_params
                          else _param_type(v), 0x00])
        for i, v in enumerate(params):
            if v is None or i in long_data_params:
                continue
            if isinstance(v, bool):
                out += struct.pack("<q", int(v))
            elif isinstance(v, int):
                out += struct.pack("<q", v)
            elif isinstance(v, float):
                out += struct.pack("<d", v)
            else:
                b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                out += enc_lenenc_str(b)
    return bytes(out)


def dec_stmt_execute(payload: bytes, n_params: int,
                     long_data: dict[int, bytes] | None = None,
                     ) -> tuple[int, list]:
    """``long_data``: accumulated COM_STMT_SEND_LONG_DATA per param
    index — those params carry NO value bytes in the execute packet
    (per protocol); the accumulated bytes are their values."""
    stmt_id, _flags, _iter = struct.unpack_from("<IBI", payload, 1)
    pos = 10
    params: list = []
    long_data = long_data or {}
    if n_params:
        nb = (n_params + 7) // 8
        bitmap = payload[pos : pos + nb]
        pos += nb
        bound = payload[pos]
        pos += 1
        types = []
        if bound:
            for _ in range(n_params):
                types.append(payload[pos])
                pos += 2
        else:
            raise ValueError("re-bound executes without types unsupported")
        for i in range(n_params):
            if i in long_data:
                params.append(long_data[i].decode("utf-8", "surrogateescape"))
                continue
            if bitmap[i // 8] & (1 << (i % 8)):
                params.append(None)
                continue
            t = types[i]
            if t == MYSQL_TYPE_LONGLONG:
                params.append(struct.unpack_from("<q", payload, pos)[0])
                pos += 8
            elif t == MYSQL_TYPE_DOUBLE:
                params.append(struct.unpack_from("<d", payload, pos)[0])
                pos += 8
            elif t == MYSQL_TYPE_NULL:
                params.append(None)
            else:
                v, pos = dec_lenenc_str(payload, pos)
                params.append(v.decode("utf-8"))
    return stmt_id, params
