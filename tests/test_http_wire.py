"""HttpWire + the storage clients' shared paths: byte equality of the
pipelined and per-item ops, ordering, windowing, keys that XML must
escape, and transport-error behavior."""

import socket
import threading

import pytest

from ticdc_spark.sinks.azblob_server import AzBlobClient, MiniAzureBlobServer
from ticdc_spark.sinks.gcs_server import GCSClient, MiniGCSServer
from ticdc_spark.sinks.http_wire import HttpWire
from ticdc_spark.sinks.s3_client import S3Client
from ticdc_spark.sinks.s3_server import MiniS3Server


def test_s3_pipelined_put_get_matches_per_item():
    with MiniS3Server() as srv:
        c = S3Client(srv.endpoint, srv.access_key, srv.secret_key)
        items = [(f"dir/k{i}", bytes([i % 251]) * (100 + 7 * i))
                 for i in range(40)]
        # window smaller than the batch so several pipeline flights run
        c.put_objects("b", items, max_in_flight=7)
        got = c.get_objects("b", [k for k, _ in items], max_in_flight=7)
        assert got == [v for _, v in items]
        # per-item reads see the same bytes
        assert c.get_object("b", "dir/k3") == items[3][1]
        c.close()


def test_s3_pipelined_byte_window_bounds_flight():
    with MiniS3Server() as srv:
        c = S3Client(srv.endpoint, srv.access_key, srv.secret_key)
        big = b"z" * (3 * 1024 * 1024)
        # 3 objects of 3 MiB with a 4 MiB window: one object per flight,
        # and an object bigger than the window still goes (len guard)
        c.put_objects("b", [("a", big), ("b", big), ("c", big)],
                      max_in_flight=16, max_bytes=4 * 1024 * 1024)
        assert c.get_objects("b", ["a", "b", "c"]) == [big, big, big]
        c.close()


def test_gcs_azblob_pipelined_roundtrip():
    with MiniGCSServer() as srv:
        c = GCSClient(srv.endpoint, srv.token)
        items = [(f"p/{i}.csv", f"v{i}".encode()) for i in range(9)]
        c.put_objects("b", items, max_in_flight=4)
        assert c.get_objects("b", [k for k, _ in items],
                             max_in_flight=4) == [v for _, v in items]
        c.close()
    with MiniAzureBlobServer() as srv:
        c = AzBlobClient(srv.endpoint, srv.account, srv.key_b64)
        items = [(f"p/{i}.csv", f"v{i}".encode()) for i in range(9)]
        c.put_objects("b", items, max_in_flight=4)
        assert c.get_objects("b", [k for k, _ in items],
                             max_in_flight=4) == [v for _, v in items]
        c.close()


_STORES = {
    "s3": (MiniS3Server, lambda srv: S3Client(srv.endpoint, srv.access_key,
                                               srv.secret_key)),
    "gcs": (MiniGCSServer, lambda srv: GCSClient(srv.endpoint, srv.token)),
    "azblob": (MiniAzureBlobServer,
               lambda srv: AzBlobClient(srv.endpoint, srv.account,
                                        srv.key_b64)),
}


@pytest.mark.parametrize("scheme", sorted(_STORES))
def test_xml_special_key_put_list_get(scheme):
    """Keys holding XML- or URL-special characters survive put, list and
    get: the clients percent-encode the path, the XML listings escape the
    key and the clients unescape it."""
    server, client = _STORES[scheme]
    keys = ["db/t&x<1>/a.csv", "db/a b.csv", "db/a%41.csv", "db/q?x.csv"]
    with server() as srv, client(srv) as c:
        for i, key in enumerate(keys):
            c.put_object("b", key, b"%d\n" % i)
        c.put_objects("b", [("db/plain.csv", b"p\n")])
        assert [k for k, _ in c.list_objects("b")] == sorted(
            [*keys, "db/plain.csv"])
        for i, key in enumerate(keys):
            assert c.get_object("b", key) == b"%d\n" % i
        assert c.get_objects("b", keys) == [b"%d\n" % i
                                            for i in range(len(keys))]
        if scheme == "azblob":
            # the client reads the listing by regex: check that the
            # server's XML itself is well formed and carries the key
            import xml.etree.ElementTree as ET

            _, xml = c._request("GET", "/b", {"restype": "container",
                                              "comp": "list"})
            assert [n.text for n in ET.fromstring(xml).iter("Name")] == (
                sorted([*keys, "db/plain.csv"]))


def test_http_wire_header_lookup_and_head():
    with MiniS3Server() as srv:
        c = S3Client(srv.endpoint, srv.access_key, srv.secret_key)
        etag = c.put_object("b", "k", b"hello")
        assert etag  # ETag header parsed (original case preserved)
        assert c.head_object("b", "k") == 5  # HEAD: no body consumed
        # connection still usable after HEAD (framing didn't desync)
        assert c.get_object("b", "k") == b"hello"
        c.close()


def test_http_wire_eof_raises_connection_error():
    # a server that accepts one connection and closes it mid-response
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]

    def serve():
        conn, _ = lsock.accept()
        conn.recv(65536)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 100\r\n\r\nshort")
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    w = HttpWire("127.0.0.1", port, timeout=5)
    w.request("GET", "/x")
    with pytest.raises(ConnectionError):
        w.getresponse()
    lsock.close()


def test_s3_tls_still_works_over_http_wire():
    srv = MiniS3Server(tls=True).start()
    try:
        c = S3Client(srv.endpoint, srv.access_key, srv.secret_key,
                     tls_ca=srv.ca_pem)
        c.put_object("b", "k", b"tls-bytes")
        assert c.get_objects("b", ["k"]) == [b"tls-bytes"]
        c.close()
    finally:
        srv.stop()


def test_http_wire_half_open_peer_fails_a_small_request_fast():
    """A peer that accepts the connection and never answers fails a small
    request after the half-open guard, not the 60 s connection bound; a
    large body keeps the long bound."""
    import time

    from ticdc_spark.sinks.http_wire import GUARD_S

    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]
    w = HttpWire("127.0.0.1", port)
    assert w.request_timeout(0) == GUARD_S < 60
    assert w.request_timeout(512 << 20) == 60
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        w.request("PUT", "/b/k", body=b"x" * 1024)
        w.getresponse()
    assert time.monotonic() - t0 < 3 * GUARD_S
    assert w._sock is None  # closed: a retry reconnects
    lsock.close()
