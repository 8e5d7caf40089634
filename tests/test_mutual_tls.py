"""Mutual TLS on the live listeners: Kafka, MySQL, Pulsar and the HTTPS
endpoints (S3, GCS, Azure Blob, the control-plane API).

Reference shape: connectors take the full Credential triple
{CAPath, CertPath, KeyPath} (pkg/security/credential.go:107-110) —
the server is verified against CAPath AND the client presents its own
certificate.  Here: mutual_tls listeners demand a client cert chained
to the endpoint's CA; a missing cert or one signed by a different CA
must fail the handshake; a minted cert completes a live roundtrip.
"""

from __future__ import annotations

import ssl

import pytest

from ticdc_spark.api import ApiServer
from ticdc_spark.client import ApiClient
from ticdc_spark.codec import tlsutil
from ticdc_spark.codec.kafka_wire import Record
from ticdc_spark.sinks.azblob_server import AzBlobClient, MiniAzureBlobServer
from ticdc_spark.sinks.gcs_server import GCSClient, MiniGCSServer
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn
from ticdc_spark.sinks.mysql_client import MySQLConn
from ticdc_spark.sinks.mysql_server import MiniMySQLServer
from ticdc_spark.sinks.pulsar_broker import PulsarBroker
from ticdc_spark.sinks.pulsar_client import PulsarConn
from ticdc_spark.sinks.s3_client import S3Client
from ticdc_spark.sinks.s3_server import MiniS3Server
from ticdc_spark.streaming.registry import ChangefeedRegistry

_HANDSHAKE_ERRORS = (ssl.SSLError, OSError, IOError, ConnectionError)


def test_ca_issued_certs_verify_chain():
    ca_cert, ca_key = tlsutil.make_ca()
    srv_cert, _ = tlsutil.issue_cert(ca_cert, ca_key, "127.0.0.1")
    cli_cert, _ = tlsutil.issue_cert(ca_cert, ca_key, "svc-client", client=True)
    from cryptography import x509
    from cryptography.x509.oid import ExtendedKeyUsageOID, ExtensionOID

    ca = x509.load_pem_x509_certificate(ca_cert)
    for pem, eku in ((srv_cert, ExtendedKeyUsageOID.SERVER_AUTH),
                     (cli_cert, ExtendedKeyUsageOID.CLIENT_AUTH)):
        leaf = x509.load_pem_x509_certificate(pem)
        assert leaf.issuer == ca.subject
        got = leaf.extensions.get_extension_for_oid(
            ExtensionOID.EXTENDED_KEY_USAGE).value
        assert eku in got


def test_kafka_mtls_roundtrip_and_rejections():
    with KafkaBroker(tls=True, mutual_tls=True) as b:
        cert, key = b.issue_client_cert()
        with KafkaConn.from_bootstrap(b.bootstrap, tls_ca=b.ca_pem,
                                      tls_client_cert=(cert, key)) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1
        # no client cert -> handshake rejected
        with pytest.raises(_HANDSHAKE_ERRORS):
            KafkaConn.from_bootstrap(b.bootstrap, tls_ca=b.ca_pem)
        # cert from a DIFFERENT CA -> rejected
        other_ca, other_key = tlsutil.make_ca("rogue-ca")
        rogue = tlsutil.issue_cert(other_ca, other_key, "client", client=True)
        with pytest.raises(_HANDSHAKE_ERRORS):
            KafkaConn.from_bootstrap(b.bootstrap, tls_ca=b.ca_pem,
                                     tls_client_cert=rogue)


def test_mysql_mtls_roundtrip_and_rejections():
    with MiniMySQLServer(tls=True, mutual_tls=True) as s:
        cert, key = s.issue_client_cert()
        with MySQLConn("127.0.0.1", s.port, "root", "secret",
                       tls_ca=s.ca_pem, tls_client_cert=(cert, key)) as c:
            c.query("CREATE TABLE test.t (a INT PRIMARY KEY)")
            c.query("INSERT INTO test.t VALUES (1)")
            rs = c.query("SELECT a FROM test.t")
            assert rs.rows == [[1]]
        with pytest.raises(_HANDSHAKE_ERRORS):
            MySQLConn("127.0.0.1", s.port, "root", "secret", tls_ca=s.ca_pem)


def test_pulsar_mtls_roundtrip_and_rejections():
    with PulsarBroker(tls=True, mutual_tls=True) as b:
        cert, key = b.issue_client_cert()
        with PulsarConn.from_service_url(b.service_url, tls_ca=b.ca_pem,
                                         tls_client_cert=(cert, key)) as c:
            pid = c.create_producer("persistent://public/default/t")
            c.send(pid, b"payload")
            assert b.topic_size("persistent://public/default/t") == 1
        with pytest.raises(_HANDSHAKE_ERRORS):
            PulsarConn.from_service_url(b.service_url, tls_ca=b.ca_pem)


def _s3_roundtrip(srv, cert):
    with S3Client(srv.endpoint, "AKIDTEST", "s3cr3t", tls_ca=srv.ca_pem,
                  tls_client_cert=cert) as c:
        c.put_object("b", "k", b"data")
        assert c.get_object("b", "k") == b"data"


def _gcs_roundtrip(srv, cert):
    with GCSClient(srv.endpoint, srv.token, tls_ca=srv.ca_pem,
                   tls_client_cert=cert) as c:
        c.put_object("b", "k", b"data")
        assert c.get_object("b", "k") == b"data"


def _azblob_roundtrip(srv, cert):
    with AzBlobClient(srv.endpoint, srv.account, srv.key_b64,
                      tls_ca=srv.ca_pem, tls_client_cert=cert) as c:
        c.put_object("ct", "k", b"data")
        assert c.get_object("ct", "k") == b"data"


def _api_roundtrip(srv, cert):
    cert_pem, key_pem = cert or (None, None)
    assert ApiClient(srv.endpoint, timeout_s=5, ca_pem=srv.ca_pem,
                     cert_pem=cert_pem, key_pem=key_pem).health()


# the HTTPS listeners: (server factory, one authenticated round trip)
_HTTPS_MTLS = {
    "s3": (lambda tmp_path: MiniS3Server(tls=True, mutual_tls=True),
           _s3_roundtrip),
    "gcs": (lambda tmp_path: MiniGCSServer(tls=True, mutual_tls=True),
            _gcs_roundtrip),
    "azblob": (lambda tmp_path: MiniAzureBlobServer(tls=True,
                                                    mutual_tls=True),
               _azblob_roundtrip),
    "api": (lambda tmp_path: ApiServer(
        ChangefeedRegistry(str(tmp_path / "reg")), tls=True,
        mutual_tls=True), _api_roundtrip),
}


@pytest.mark.parametrize("name", sorted(_HTTPS_MTLS))
def test_https_mtls_roundtrip_and_rejections(name, tmp_path):
    make, roundtrip = _HTTPS_MTLS[name]
    with make(tmp_path) as srv:
        roundtrip(srv, srv.issue_client_cert())
        # no client cert -> handshake rejected
        with pytest.raises(_HANDSHAKE_ERRORS):
            roundtrip(srv, None)


def test_hostname_verification_rejects_wrong_identity():
    """client_context verifies the server SAN: a CA-signed server cert
    for a different IP identity must fail, not silently pass (the
    check_hostname=False regression the r3 advice flagged)."""
    ca_cert, ca_key = tlsutil.make_ca()
    # leaf issued for a DIFFERENT address than the one we connect to
    wrong = tlsutil.issue_cert(ca_cert, ca_key, "10.9.9.9")
    import socket
    import threading

    srv_ctx = tlsutil.server_context(*wrong)
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]

    def accept():
        try:
            conn, _ = lsock.accept()
            srv_ctx.wrap_socket(conn, server_side=True).close()
        except (ssl.SSLError, OSError):
            pass

    t = threading.Thread(target=accept, daemon=True)
    t.start()
    raw = socket.create_connection(("127.0.0.1", port), timeout=5)
    with pytest.raises(ssl.SSLCertVerificationError):
        tlsutil.client_context(ca_cert).wrap_socket(
            raw, server_hostname="127.0.0.1")
    raw.close()
    lsock.close()


def test_sink_uri_tls_params():
    """Sink-URI credential triple parsing: kafka ca/cert/key +
    enable-tls, the refused mysql ssl-* aliases, +ssl scheme
    implication, and the cert-without-key rejection."""
    from ticdc_spark.config import parse_changefeed_config

    cfg = parse_changefeed_config(
        'sink-uri = "kafka://h:9092/t?enable-tls=true&ca=/ca.pem'
        '&cert=/c.pem&key=/k.pem"')
    assert cfg.enable_tls and cfg.tls_ca_path == "/ca.pem"
    assert (cfg.tls_cert_path, cfg.tls_key_path) == ("/c.pem", "/k.pem")

    # no task dials the MySQL downstream from the changefeed config, so
    # its ssl-* aliases are refused by name rather than ignored
    with pytest.raises(ValueError, match="ssl-ca"):
        parse_changefeed_config(
            'sink-uri = "mysql://u:p@h:3306/?ssl-ca=/ca.pem"')

    cfg = parse_changefeed_config('sink-uri = "kafka+ssl://h:9092/t"')
    assert cfg.enable_tls

    with pytest.raises(ValueError):
        parse_changefeed_config(
            'sink-uri = "kafka://h:9092/t?cert=/c.pem"')


def test_client_context_cert_without_key_raises():
    """A client cert with no key is a config error — a clear ValueError
    at context build, not an opaque SSLError from load_cert_chain."""
    ca, _key, _ctx = tlsutil.mutual_server_material("127.0.0.1")
    cert, key = tlsutil.issue_cert(ca, _key, "client", client=True)
    with pytest.raises(ValueError, match="requires key_pem"):
        tlsutil.client_context(ca, cert_pem=cert, key_pem=None)
    # the paired call still builds
    tlsutil.client_context(ca, cert_pem=cert, key_pem=key)


def test_insecure_skip_verify_kafka_roundtrip(spark):
    """insecure-skip-verify (`pkg/config/sink.go:494`; honored only
    with enable-tls, `options.go:423-425`; sarama sets
    tls.Config.InsecureSkipVerify, `sarama_config.go:112`): against a
    TLS broker whose CA the client does NOT trust, the verifying
    dialer refuses and the insecure dialer round-trips."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from ticdc_spark.codec import tlsutil
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_client import KafkaConn
    from ticdc_spark.sinks.kafka_live import fetch_df, produce_frame

    cfg = parse_changefeed_config(
        'sink-uri = "kafka://h:9093/cdc?protocol=canal-json"\n'
        "[sink.kafka-config]\n"
        "enable-tls = true\n"
        "insecure-skip-verify = true\n")
    assert cfg.enable_tls and cfg.insecure_skip_verify
    # URI overrides the file
    cfg2 = parse_changefeed_config(
        'sink-uri = "kafka://h:9093/cdc?enable-tls=true'
        '&insecure-skip-verify=false"\n'
        "[sink.kafka-config]\ninsecure-skip-verify = true\n")
    assert cfg2.insecure_skip_verify is False

    with KafkaBroker(tls=True, default_partitions=1) as b:
        # a verifying client pinned to an UNRELATED CA refuses
        other_ca, _ = tlsutil.make_self_signed("127.0.0.1")
        import ssl as _ssl
        with _pytest.raises((_ssl.SSLError, OSError)):
            KafkaConn.from_bootstrap(b.bootstrap, tls_ca=other_ca)
        # the insecure dialer connects without any pinned CA
        insecure = cfg.enable_tls and cfg.insecure_skip_verify
        frame = spark.range(20).select(
            F.lit("t0").alias("topic"), F.lit(0).alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).cast("string").alias("value"))
        produce_frame(frame, b.bootstrap, tls_insecure=insecure)
        got = fetch_df(spark, b.bootstrap, [("t0", 0)],
                       tls_insecure=insecure)
        assert got.count() == 20


def test_kafka_config_roundtrip_fetches_over_mutual_tls(spark, tmp_path):
    """``kafka_live_config_roundtrip`` dials the fetch with the config's
    whole connection options, so an mTLS broker that refuses a client
    without the config's cert/key serves the fetch too."""
    import pyspark.sql.functions as F

    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.sinks.kafka_live import kafka_live_config_roundtrip

    with KafkaBroker(tls=True, mutual_tls=True,
                     default_partitions=1) as b:
        cert, key = b.issue_client_cert()
        for name, pem in (("ca", b.ca_pem), ("cert", cert), ("key", key)):
            (tmp_path / f"{name}.pem").write_bytes(pem)
        cfg = parse_changefeed_config(
            f'sink-uri = "kafka://{b.bootstrap}/t?enable-tls=true'
            f'&ca={tmp_path}/ca.pem&cert={tmp_path}/cert.pem'
            f'&key={tmp_path}/key.pem"\n')
        frame = spark.range(20).select(
            F.lit("t0").alias("topic"), F.lit(0).alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).cast("string").alias("value"))
        got = kafka_live_config_roundtrip(frame, cfg, b)
        assert sorted(r.value for r in got.collect()) == sorted(
            f"v{i}" for i in range(20))
