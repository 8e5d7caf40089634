"""MySQL wire protocol: packet/lenenc/auth codecs + live server TCP."""

import threading

import pytest

from ticdc_spark.codec import mysql_wire as mw
from ticdc_spark.sinks.mysql_client import MySQLConn
from ticdc_spark.sinks.mysql_server import MiniMySQLServer


# ------------------------------------------------------------------ lenenc

@pytest.mark.parametrize("v", [0, 1, 0xFA, 0xFB, 0xFF, 0xFFFF, 0x10000,
                               0xFFFFFF, 0x1000000, (1 << 63) - 1])
def test_lenenc_int_roundtrip(v):
    buf = mw.enc_lenenc_int(v)
    got, pos = mw.dec_lenenc_int(buf, 0)
    assert (got, pos) == (v, len(buf))


def test_lenenc_int_wire_forms():
    assert mw.enc_lenenc_int(250) == bytes([250])
    assert mw.enc_lenenc_int(251) == b"\xfc\xfb\x00"
    assert mw.enc_lenenc_int(0xFFFF) == b"\xfc\xff\xff"
    assert mw.enc_lenenc_int(0x10000) == b"\xfd\x00\x00\x01"
    assert mw.enc_lenenc_int(0x1000000)[0] == 0xFE


# ------------------------------------------------------------------ auth

def test_native_password_scramble_properties():
    nonce = bytes(range(1, 21))
    tok = mw.native_password_scramble("pw", nonce)
    assert len(tok) == 20
    assert mw.verify_native_password("pw", nonce, tok)
    assert not mw.verify_native_password("other", nonce, tok)
    assert not mw.verify_native_password("pw", bytes(range(21, 41)), tok)
    assert mw.native_password_scramble("", nonce) == b""


def test_native_password_known_vector():
    # independently derivable: SHA1("secret") ^ SHA1(nonce + SHA1(SHA1("secret")))
    import hashlib

    nonce = b"\x01" * 20
    h1 = hashlib.sha1(b"secret").digest()
    expect = bytes(a ^ b for a, b in zip(
        h1, hashlib.sha1(nonce + hashlib.sha1(h1).digest()).digest()))
    assert mw.native_password_scramble("secret", nonce) == expect


# ------------------------------------------------------------------ codecs

def test_handshake_v10_roundtrip():
    nonce = bytes(range(40, 60))
    payload = mw.enc_handshake_v10(7, nonce, "8.0.11-test")
    hs = mw.dec_handshake_v10(payload)
    assert hs["version"] == "8.0.11-test"
    assert hs["thread_id"] == 7
    assert hs["nonce"] == nonce
    assert hs["auth_plugin"] == mw.AUTH_PLUGIN
    assert hs["capabilities"] & mw.CLIENT_PROTOCOL_41
    assert hs["capabilities"] & mw.CLIENT_PLUGIN_AUTH


def test_handshake_response41_roundtrip():
    nonce = bytes(range(20))
    payload = mw.enc_handshake_response41("u", "p", nonce, None,
                                          mw.SERVER_CAPS)
    resp = mw.dec_handshake_response41(payload)
    assert resp["user"] == "u"
    assert resp["token"] == mw.native_password_scramble("p", nonce)
    assert resp["auth_plugin"] == mw.AUTH_PLUGIN


def test_ok_err_packets():
    ok = mw.dec_ok(mw.enc_ok(affected=3, status=mw.SERVER_MORE_RESULTS_EXISTS))
    assert ok["affected"] == 3
    assert ok["status"] & mw.SERVER_MORE_RESULTS_EXISTS
    err = mw.dec_err(mw.enc_err(1045, "denied", "28000"))
    assert (err.code, err.sql_state, err.message) == (1045, "28000", "denied")


def test_text_row_null_and_floats():
    row = mw.enc_text_row([1, None, 0.1, "s"])
    vals = mw.dec_text_row(row, 4)
    assert vals == [b"1", None, b"0.1", b"s"]
    assert float(mw.dec_text_row(mw.enc_text_row([1.0 / 3.0]), 1)[0]) == 1.0 / 3.0


# ------------------------------------------------------------------ live server

@pytest.fixture()
def server():
    with MiniMySQLServer(user="root", password="pw") as s:
        yield s


def _conn(s):
    return MySQLConn("127.0.0.1", s.port, "root", "pw")


def test_live_auth_and_version(server):
    with _conn(server) as c:
        assert c.server_version.startswith("8.0")
    with pytest.raises(mw.MySQLError) as ei:
        MySQLConn("127.0.0.1", server.port, "root", "nope")
    assert ei.value.code == 1045 and ei.value.sql_state == "28000"


def test_live_dml_and_resultset(server):
    with _conn(server) as c:
        assert c.query("SET sql_mode = 'x'")["affected"] == 0
        c.query("CREATE TABLE `test`.`t` (`id` BIGINT PRIMARY KEY, `val` DOUBLE, `k` BIGINT)")
        n = c.execute_batch([
            "REPLACE INTO `test`.`t` (`id`, `val`, `k`) VALUES (1, 1.50, 2)",
            "REPLACE INTO `test`.`t` (`id`, `val`, `k`) VALUES (1, 2.25, NULL)",
            "REPLACE INTO `test`.`t` (`id`, `val`, `k`) VALUES (5, 0.10, 9)",
            "DELETE FROM `test`.`t` WHERE `id` = 5",
        ])
        assert n == 4
        rs = c.query("SELECT `id`, `val`, `k` FROM `test`.`t` ORDER BY `id`")
        assert rs.columns == ["id", "val", "k"]
        assert rs.rows == [[1, 2.25, None]]
        assert rs.types[:2] == [mw.MYSQL_TYPE_LONGLONG, mw.MYSQL_TYPE_DOUBLE]


def test_live_sql_error_surfaces(server):
    with _conn(server) as c:
        with pytest.raises(mw.MySQLError) as ei:
            c.query("SELECT * FROM `test`.`missing`")
        assert ei.value.code == 1064


def test_live_batch_stops_at_error(server):
    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`t2` (`id` BIGINT PRIMARY KEY)")
        with pytest.raises(mw.MySQLError):
            c.execute_batch([
                "INSERT INTO `test`.`t2` (`id`) VALUES (1)",
                "INSERT INTO `test`.`nowhere` (`id`) VALUES (2)",
                "INSERT INTO `test`.`t2` (`id`) VALUES (3)",
            ])
        # connection still usable after a failed batch; tail not applied
        rs = c.query("SELECT count(*) FROM `test`.`t2`")
        assert rs.rows == [[1]]


def test_live_concurrent_connections(server):
    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`cc` (`id` BIGINT PRIMARY KEY, `v` BIGINT)")

    def work(tid):
        with _conn(server) as c:
            c.execute_batch([
                f"REPLACE INTO `test`.`cc` (`id`, `v`) VALUES ({tid * 100 + i}, {i})"
                for i in range(50)
            ])

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with _conn(server) as c:
        assert c.query("SELECT count(*) FROM `test`.`cc`").rows == [[400]]


def test_live_empty_resultset_types(server):
    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`e` (`id` BIGINT PRIMARY KEY)")
        rs = c.query("SELECT `id` FROM `test`.`e`")
        assert rs.rows == [] and rs.columns == ["id"]


# ------------------------------------------------------------------ prepared

def test_prepared_statement_binary_roundtrip(server):
    from ticdc_spark.sinks.mysql_client import (close_prepared,
                                                execute_prepared, prepare)

    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`p` (`id` BIGINT PRIMARY KEY, `val` DOUBLE, `k` BIGINT)")
        sid, n_params = prepare(
            c, "REPLACE INTO `test`.`p` (`id`, `val`, `k`) VALUES (?, ?, ?)")
        assert n_params == 3
        assert execute_prepared(c, sid, [1, 0.1 + 0.2, 7]) == 1
        assert execute_prepared(c, sid, [1, 2.25, None]) == 1
        did, _ = prepare(c, "DELETE FROM `test`.`p` WHERE `id` = ?")
        assert execute_prepared(c, did, [99]) == 0
        rs = c.query("SELECT `id`, `val`, `k` FROM `test`.`p`")
        assert rs.rows == [[1, 2.25, None]]
        # bit-exact doubles through the binary protocol (no text rendering)
        execute_prepared(c, sid, [5, 0.1 + 0.2, 1])
        assert c.query("SELECT `val` FROM `test`.`p` WHERE `id` = 5").rows[0][0] == 0.1 + 0.2
        # multirow arity
        mid, n = prepare(
            c, "REPLACE INTO `test`.`p` (`id`, `val`, `k`) VALUES (?, ?, ?), (?, ?, ?)")
        assert n == 6
        assert execute_prepared(c, mid, [10, 1.0, 1, 11, 2.0, 2]) == 2
        close_prepared(c, sid)
        with pytest.raises(mw.MySQLError, match="1243"):
            execute_prepared(c, sid, [9, 1.0, 1])


def test_prepared_param_codec_edge_values():
    vals = [(1 << 62), -(1 << 62), 0.0, -0.0, float("inf"), 1e-308, "s'tr", None, True]
    enc = mw.enc_stmt_execute(3, vals)
    sid, got = mw.dec_stmt_execute(enc, len(vals))
    assert sid == 3
    assert got[0] == 1 << 62 and got[1] == -(1 << 62)
    assert got[4] == float("inf") and got[5] == 1e-308
    assert got[6] == "s'tr" and got[7] is None and got[8] == 1


def test_applier_retry_survives_connection_drops(server):
    """Chaos: the server kills connections mid-batch; the safe-mode
    applier's writer (``mysql_live.applier``) reconnects and re-runs the
    batch — idempotent, final state exact."""
    from ticdc_spark import failpoint
    from ticdc_spark.sinks.mysql_live import applier

    failpoint.disable_all()
    try:
        with _conn(server) as c:
            c.query("CREATE TABLE `test`.`r` (`id` BIGINT PRIMARY KEY, `v` BIGINT)")
        failpoint.enable("mysql/drop-connection", "3*return(1)")
        with applier(server.host, server.port, "root", "pw") as w:
            w.sleep = lambda s: None
            for i in range(5):
                w.send([f"REPLACE INTO `test`.`r` (`id`, `v`) VALUES ({j}, {i})"
                        for j in range(i * 4, i * 4 + 4)])
        failpoint.disable_all()
        with _conn(server) as c:
            assert c.query("SELECT count(*) FROM `test`.`r`").rows == [[20]]
    finally:
        failpoint.disable_all()


def test_transaction_batch_atomicity(server):
    """A batch framed in START TRANSACTION..COMMIT applies all-or-nothing:
    a mid-batch error rolls back the earlier statements (the reference's
    transaction-atomicity contract), and concurrent connections never
    observe or interleave a half-applied transaction."""
    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`tx` (`id` BIGINT PRIMARY KEY, `v` BIGINT)")
        with pytest.raises(mw.MySQLError):
            c.execute_batch([
                "START TRANSACTION",
                "INSERT INTO `test`.`tx` (`id`, `v`) VALUES (1, 1)",
                "INSERT INTO `test`.`tx` (`id`, `v`) VALUES (2, 2)",
                "INSERT INTO `test`.`nope` (`id`) VALUES (3)",  # fails
                "COMMIT",
            ])
        assert c.query("SELECT count(*) FROM `test`.`tx`").rows == [[0]]
        # a clean txn batch applies atomically
        n = c.execute_batch([
            "START TRANSACTION",
            "INSERT INTO `test`.`tx` (`id`, `v`) VALUES (1, 1)",
            "INSERT INTO `test`.`tx` (`id`, `v`) VALUES (2, 2)",
            "COMMIT",
        ])
        assert c.query("SELECT count(*) FROM `test`.`tx`").rows == [[2]]
        # connection still healthy for non-txn work after the rollback
        c.execute_batch(["DELETE FROM `test`.`tx` WHERE `id` = 1"])
        assert c.query("SELECT count(*) FROM `test`.`tx`").rows == [[1]]


def test_transactions_do_not_interleave_across_connections(server):
    import threading

    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`txc` (`id` BIGINT PRIMARY KEY, `w` BIGINT)")

    def work(tid):
        with _conn(server) as c:
            for i in range(10):
                c.execute_batch(
                    ["START TRANSACTION"]
                    + [f"REPLACE INTO `test`.`txc` (`id`, `w`) VALUES ({tid*100+j}, {i})"
                       for j in range(5)]
                    + ["COMMIT"])

    threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with _conn(server) as c:
        assert c.query("SELECT count(*) FROM `test`.`txc`").rows == [[30]]


# ------------------------------------------------------------------ tls

def test_ssl_request_upgrade():
    """Protocol::SSLRequest mid-handshake upgrade: credentials ride the
    encrypted stream; a server without TLS doesn't advertise CLIENT_SSL
    and the client fails closed before sending anything sensitive."""
    with MiniMySQLServer(user="root", password="pw", tls=True) as srv:
        c = MySQLConn("127.0.0.1", srv.port, "root", "pw", tls_ca=srv.ca_pem)
        assert c.sock.version() is not None  # real TLS session
        c.query("CREATE TABLE `test`.`s` (`id` BIGINT PRIMARY KEY)")
        c.execute_batch(["START TRANSACTION",
                         "INSERT INTO `test`.`s` (`id`) VALUES (7)", "COMMIT"])
        assert c.query("SELECT count(*) FROM `test`.`s`").rows == [[1]]
        c.close()
        # plaintext remains allowed when the listener merely offers TLS
        c2 = MySQLConn("127.0.0.1", srv.port, "root", "pw")
        assert c2.query("SELECT count(*) FROM `test`.`s`").rows == [[1]]
        c2.close()
        # wrong password over TLS still rejected by the scramble
        with pytest.raises(mw.MySQLError):
            MySQLConn("127.0.0.1", srv.port, "root", "bad", tls_ca=srv.ca_pem)
    with MiniMySQLServer(user="root", password="pw") as srv:
        with pytest.raises(IOError, match="does not support SSL"):
            MySQLConn("127.0.0.1", srv.port, "root", "pw", tls_ca=b"ca")


def test_stmt_send_long_data(server):
    """COM_STMT_SEND_LONG_DATA: a 1 MB value streamed in 64 KiB chunks
    ahead of the execute (the go-sql-driver path for args above
    maxAllowedPacket); chunks append; COM_STMT_RESET drops the
    accumulation; execute consumes it."""
    from ticdc_spark.sinks.mysql_client import (
        execute_prepared, prepare, reset_prepared, send_long_data)

    big = ("x" * 1023 + "\n") * 1024  # 1 MiB
    with _conn(server) as c:
        c.query("CREATE TABLE `test`.`ld` "
                "(`id` BIGINT PRIMARY KEY, `doc` LONGTEXT)")
        sid, n = prepare(
            c, "REPLACE INTO `test`.`ld` (`id`, `doc`) VALUES (?, ?)")
        assert n == 2
        # explicit chunked send + execute with the param omitted
        send_long_data(c, sid, 1, big, chunk_size=64 * 1024)
        assert execute_prepared(c, sid, [1, None]) == 1
        rs = c.query("SELECT length(`doc`) FROM `test`.`ld` WHERE `id` = 1")
        assert rs.rows == [[len(big)]]
        rs = c.query("SELECT `doc` = '" + big[:0] + "x' FROM `test`.`ld` "
                     "WHERE `id` = 1")  # cheap guard only
        # full-value equality via parameterless roundtrip
        rs = c.query("SELECT `doc` FROM `test`.`ld` WHERE `id` = 1")
        assert rs.rows[0][0] == big
        # accumulation was consumed by the execute: a second execute
        # with a normal inline param doesn't see stale long data
        assert execute_prepared(c, sid, [2, "small"]) == 1
        assert c.query("SELECT `doc` FROM `test`.`ld` WHERE `id` = 2"
                       ).rows == [["small"]]
        # chunks APPEND across sends
        send_long_data(c, sid, 1, "part1-", chunk_size=3)
        send_long_data(c, sid, 1, "part2")
        assert execute_prepared(c, sid, [3, None]) == 1
        assert c.query("SELECT `doc` FROM `test`.`ld` WHERE `id` = 3"
                       ).rows == [["part1-part2"]]
        # COM_STMT_RESET drops staged data
        send_long_data(c, sid, 1, "garbage")
        reset_prepared(c, sid)
        assert execute_prepared(c, sid, [4, "clean"]) == 1
        assert c.query("SELECT `doc` FROM `test`.`ld` WHERE `id` = 4"
                       ).rows == [["clean"]]
        # threshold auto-routing: execute_prepared streams big params
        # by itself
        assert execute_prepared(c, sid, [5, big], long_data_threshold=1000) == 1
        assert c.query("SELECT length(`doc`) FROM `test`.`ld` "
                       "WHERE `id` = 5").rows == [[len(big)]]
        # reset on an unknown statement errors
        with pytest.raises(mw.MySQLError, match="1243"):
            reset_prepared(c, 424242)
