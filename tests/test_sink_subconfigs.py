"""[sink.kafka-config] / [sink.pulsar-config] / [sink.mysql-config]
TOML sections + the reference's sink-URI params for SASL and the MySQL
sink knobs (`pkg/config/sink.go`, `pkg/sink/kafka/options.go:123-135`,
`pkg/security/sasl.go:43-58`, `pkg/sink/mysql/config.go:277-283,
624-700`), ending in a live SASL handshake driven purely from parsed
changefeed config."""

from __future__ import annotations

import pytest

from ticdc_spark.config import (
    kafka_sasl,
    parse_changefeed_config,
    pulsar_auth,
)


def test_kafka_config_toml_section_parses():
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "scram-sha-256"\n'
        'sasl-user = "alice"\n'
        'sasl-password = "pw"\n'
        'kafka-version = "3.6.0"\n')
    assert cfg.kafka_config["kafka-version"] == "3.6.0"
    assert kafka_sasl(cfg) == ("SCRAM-SHA-256", "alice", "pw")


def test_uri_params_override_toml_section():
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?sasl-user=bob&sasl-mechanism=plain"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "scram-sha-256"\n'
        'sasl-user = "alice"\n'
        'sasl-password = "pw"\n')
    # URI wins per-key; untouched keys survive from TOML
    assert kafka_sasl(cfg) == ("PLAIN", "bob", "pw")


def test_unknown_sasl_mechanism_rejected():
    with pytest.raises(ValueError, match="unknown oauth SASL mechanism"):
        parse_changefeed_config(
            'sink-uri = "kafka://b:9092/t?sasl-mechanism=oauth"\n')


def test_no_sasl_returns_none():
    cfg = parse_changefeed_config('sink-uri = "kafka://b:9092/t"\n')
    assert kafka_sasl(cfg) is None


def test_mysql_uri_knobs():
    # no task dials the MySQL downstream from the changefeed config:
    # the reference defaults are accepted, other values refused by name
    cfg = parse_changefeed_config(
        'sink-uri = "mysql://u:p@h:4000/?read-timeout=2m&timeout=2m'
        '&tidb-txn-mode=optimistic"\n')
    assert cfg.mysql_config is None
    for param in ("timeout=30s", "time-zone=UTC"):
        with pytest.raises(ValueError, match=param.split("=")[0]):
            parse_changefeed_config(
                f'sink-uri = "mysql://u:p@h:4000/?{param}"\n')


def test_mysql_invalid_txn_mode_keeps_default():
    # reference WARNS and keeps the default (`config.go:624-636`)
    cfg = parse_changefeed_config(
        'sink-uri = "mysql://u:p@h:4000/?tidb-txn-mode=serializable"\n')
    assert "tidb-txn-mode" not in (cfg.mysql_config or {})


def test_mysql_bad_duration_raises():
    with pytest.raises(ValueError, match="bad duration"):
        parse_changefeed_config(
            'sink-uri = "mysql://u:p@h:4000/?write-timeout=fast"\n')


def test_mysql_config_toml_section_parses():
    cfg = parse_changefeed_config(
        'sink-uri = "mysql://u:p@h:4000/"\n'
        "[sink.mysql-config]\n"
        "enable-batch-dml = true\n")
    assert cfg.mysql_config["enable-batch-dml"] is True
    with pytest.raises(ValueError, match="tidb-txn-mode"):
        parse_changefeed_config(
            'sink-uri = "mysql://u:p@h:4000/"\n'
            '[sink.mysql-config]\ntidb-txn-mode = "pessimistic"\n')


def test_pulsar_auth_token_and_oauth(tmp_path):
    cfg = parse_changefeed_config(
        'sink-uri = "pulsar://h:6650/t"\n'
        "[sink.pulsar-config]\n"
        'authentication-token = "tok123"\n')
    assert pulsar_auth(cfg) == {"token": "tok123"}
    p = tmp_path / "tok.txt"
    p.write_text("fromfile\n")
    cfg2 = parse_changefeed_config(
        'sink-uri = "pulsar://h:6650/t"\n'
        "[sink.pulsar-config]\n"
        f'token-from-file = "{p}"\n')
    assert pulsar_auth(cfg2) == {"token": "fromfile"}
    # oauth2-private-key is the KEY FILE path (`factory.go:115`
    # ConfigParamKeyFile) — its JSON carries the client credentials
    import json

    kf = tmp_path / "creds.json"
    kf.write_text(json.dumps({"type": "client_credentials",
                              "client_id": "cid-from-file",
                              "client_secret": "sec-from-file"}))
    cfg3 = parse_changefeed_config(
        'sink-uri = "pulsar://h:6650/t"\n'
        "[sink.pulsar-config.oauth2]\n"
        'oauth2-issuer-url = "https://issuer.local"\n'
        'oauth2-client-id = "cid"\n'
        'oauth2-audience = "aud"\n'
        f'oauth2-private-key = "{kf}"\n')
    got = pulsar_auth(cfg3)["oauth2"]
    assert got["issuer_url"] == "https://issuer.local"
    assert got["client_id"] == "cid-from-file"
    assert got["client_secret"] == "sec-from-file"
    # OAuth2.validate (`pkg/config/sink.go:595-603`): private-key (and
    # the other three fields) must be present
    cfg4 = parse_changefeed_config(
        'sink-uri = "pulsar://h:6650/t"\n'
        "[sink.pulsar-config.oauth2]\n"
        'oauth2-issuer-url = "https://issuer.local"\n'
        'oauth2-client-id = "cid"\n'
        'oauth2-audience = "aud"\n')
    with pytest.raises(ValueError, match="private-key"):
        pulsar_auth(cfg4)


def test_live_sasl_plain_from_parsed_config():
    """TOML+URI -> kafka_sasl -> real SASL PLAIN handshake + roundtrip."""
    from ticdc_spark.codec.kafka_wire import Record
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_client import KafkaConn

    with KafkaBroker(sasl_users={"alice": "pw"}) as b:
        cfg = parse_changefeed_config(
            f'sink-uri = "kafka://{b.bootstrap}/t?sasl-mechanism=plain"\n'
            "[sink.kafka-config]\n"
            'sasl-user = "alice"\n'
            'sasl-password = "pw"\n')
        with KafkaConn.from_bootstrap(b.bootstrap,
                                      sasl=kafka_sasl(cfg)) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1
        # wrong password from config must be refused by the broker
        bad = parse_changefeed_config(
            f'sink-uri = "kafka://{b.bootstrap}/t?sasl-mechanism=plain'
            '&sasl-password=nope"\n'
            "[sink.kafka-config]\n"
            'sasl-user = "alice"\n')
        with pytest.raises(Exception, match="[Aa]uth"):
            KafkaConn.from_bootstrap(b.bootstrap, sasl=kafka_sasl(bad))


# ---------------------------------------------------------------- round 7:
# config consumption — the TOML spellings drive the wire stacks


def test_kafka_uri_timeouts_route_to_kafka_config():
    """kafka's read-timeout/write-timeout/dial-timeout are kafka params
    (`pkg/sink/kafka/options.go:119-121`), NOT mysql durations — they
    are checked as Kafka's, and mysql_config must stay untouched.  The
    Kafka connections keep their fixed socket timeout, so only the
    reference defaults (10s) are accepted."""
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?read-timeout=10s&write-timeout=10s'
        '&dial-timeout=10s"\n')
    assert cfg.mysql_config is None
    for param in ("write-timeout=5s", "dial-timeout=3s"):
        with pytest.raises(ValueError, match="Kafka connections"):
            parse_changefeed_config(
                f'sink-uri = "kafka://b:9092/t?{param}"\n')


def test_mysql_knobs_do_not_apply_to_kafka_scheme():
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?tidb-txn-mode=optimistic"\n')
    assert cfg.mysql_config is None


def test_kafka_producer_semantics_uri_params():
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?required-acks=1&auto-create-topic=false'
        '&replication-factor=3&kafka-client-id=my-cdc&kafka-version=2.8.0"\n')
    kc = cfg.kafka_config
    assert kc["required-acks"] == 1
    assert kc["auto-create-topic"] is False
    assert kc["replication-factor"] == 3
    assert kc["kafka-client-id"] == "my-cdc"
    assert kc["kafka-version"] == "2.8.0"


def test_required_acks_validation():
    """`options.go:95-108` requireAcksFromString: only -1/0/1."""
    with pytest.raises(ValueError, match="invalid required acks 2"):
        parse_changefeed_config(
            'sink-uri = "kafka://b:9092/t?required-acks=2"\n')
    for ok in (-1, 0, 1):
        cfg = parse_changefeed_config(
            f'sink-uri = "kafka://b:9092/t?required-acks={ok}"\n')
        assert cfg.kafka_config["required-acks"] == ok


def test_kafka_sasl_spec_oauth_validation():
    import base64

    from ticdc_spark.config import kafka_sasl_spec

    sec = base64.b64encode(b"the-secret").decode()
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "oauthbearer"\n'
        'sasl-oauth-client-id = "cid"\n'
        f'sasl-oauth-client-secret = "{sec}"\n'
        'sasl-oauth-token-url = "http://127.0.0.1:1/token"\n'
        'sasl-oauth-scopes = ["a", "b"]\n'
        'sasl-oauth-audience = "aud"\n')
    spec = kafka_sasl_spec(cfg)
    o = spec["oauth2"]
    assert o["client_secret"] == "the-secret"  # base64-decoded
    assert o["scopes"] == ["a", "b"]
    assert o["grant_type"] == "client_credentials"  # SetDefault
    assert o["audience"] == "aud"

    # not base64 -> the reference's error (`options.go:503-506`)
    bad = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "oauthbearer"\n'
        'sasl-oauth-client-id = "cid"\n'
        'sasl-oauth-client-secret = "%%%not-b64"\n'
        'sasl-oauth-token-url = "http://x/t"\n')
    with pytest.raises(ValueError, match="not base64"):
        kafka_sasl_spec(bad)

    # OAuth2 with a non-oauthbearer mechanism (`options.go:519-523`)
    wrong_mech = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "plain"\n'
        'sasl-oauth-client-id = "cid"\n'
        f'sasl-oauth-client-secret = "{sec}"\n'
        'sasl-oauth-token-url = "http://x/t"\n')
    with pytest.raises(ValueError, match="OAUTHBEARER"):
        kafka_sasl_spec(wrong_mech)


def test_kafka_sasl_spec_gssapi_auth_type():
    from ticdc_spark.config import kafka_sasl_spec

    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "gssapi"\n'
        'sasl-gssapi-auth-type = "keytab"\n'
        'sasl-gssapi-user = "u"\n'
        'sasl-gssapi-realm = "R"\n'
        'sasl-gssapi-keytab-path = "/kt"\n'
        'sasl-gssapi-kerberos-config-path = "/krb5.conf"\n')
    g = kafka_sasl_spec(cfg)["gssapi"]
    assert g["auth_type"] == "keytab"
    assert g["service_name"] == "kafka"  # default
    # AuthTypeFromString (`pkg/security/sasl.go:117-127`)
    bad = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\n"
        'sasl-mechanism = "gssapi"\n'
        'sasl-gssapi-auth-type = "certificate"\n')
    with pytest.raises(ValueError, match="unknown certificate auth type"):
        kafka_sasl_spec(bad)


def test_keytab_roundtrip_and_krb5_conf(tmp_path):
    from ticdc_spark.codec import krb5 as k
    from ticdc_spark.codec import krb5crypto as kc
    from ticdc_spark.config import parse_krb5_conf
    from ticdc_spark.sinks.kdc_server import read_keytab_key, write_keytab

    key = kc.string_to_key("pw", k.default_salt("R.TEST", "svc/h"))
    kt = tmp_path / "svc.keytab"
    write_keytab(str(kt), "R.TEST", "svc/h", key)
    assert read_keytab_key(str(kt), "R.TEST", "svc/h") == key
    with pytest.raises(KeyError):
        read_keytab_key(str(kt), "R.TEST", "other/h")

    conf = tmp_path / "krb5.conf"
    conf.write_text(
        "[libdefaults]\n  default_realm = R.TEST\n\n"
        "[realms]\n  R.TEST = {\n    kdc = 127.0.0.1:10088\n  }\n"
        "  OTHER = {\n    kdc = 127.0.0.2:10088\n  }\n")
    realms = parse_krb5_conf(str(conf))
    assert realms == {"R.TEST": "127.0.0.1:10088", "OTHER": "127.0.0.2:10088"}


def test_live_gssapi_keytab_auth():
    """auth-type=keytab end to end against the live KDC+broker: the
    keytab's key (not a password) authenticates the AS exchange."""
    from ticdc_spark.codec import krb5 as k
    from ticdc_spark.codec import krb5crypto as kc
    from ticdc_spark.codec.kafka_wire import Record
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_client import KafkaConn
    from ticdc_spark.sinks.kdc_server import (MiniKDC, read_keytab_key,
                                              write_keytab)
    import tempfile

    realm, svc = "TEST.REALM", "kafka/127.0.0.1"
    with MiniKDC(realm=realm, principals={"u": "upw", svc: "spw"}) as kdc, \
            KafkaBroker(sasl_users={}, sasl_mechanisms=(),
                        gssapi_service=(svc, "spw", realm)) as b:
        kt = tempfile.mktemp()
        write_keytab(kt, realm, "u", kc.string_to_key(
            "upw", k.default_salt(realm, "u")))
        key = read_keytab_key(kt, realm, "u")
        sasl = ("GSSAPI", "u", "", {"kdc": kdc.address, "realm": realm,
                                    "service": svc, "key": key})
        with KafkaConn.from_bootstrap(b.bootstrap, sasl=sasl) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1


def test_output_raw_change_event_gates_update_split():
    # kafka scheme + [sink.kafka-config]: suppresses the split
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\noutput-raw-change-event = true\n")
    assert cfg.split_updates is False
    # cloud-storage spelling (dispatcher_manager.go:317)
    cfg2 = parse_changefeed_config(
        'sink-uri = "s3://b/p?protocol=csv"\n'
        "[sink.cloud-storage-config]\noutput-raw-change-event = true\n")
    assert cfg2.split_updates is False
    # default stays split; a mysql sink ignores the kafka spelling
    assert parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n').split_updates is True
    cfg3 = parse_changefeed_config(
        'sink-uri = "mysql://u:p@h:4000/"\n'
        "[sink.kafka-config]\noutput-raw-change-event = true\n")
    assert cfg3.split_updates is True


def test_registry_override_uri_replaces_the_config_uri(tmp_path):
    """A sink URI given to the registry beside the config replaces the
    config's own: the config URI's params do not stick, and the update
    split is decided from the override's scheme — on create, and when a
    fresh registry parses the persisted entry again."""
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    toml = ('sink-uri = "kafka://b:9092/t?enable-tls=true'
            '&insecure-skip-verify=true"\n'
            "[sink.kafka-config]\noutput-raw-change-event = true\n")
    created = ChangefeedRegistry(str(tmp_path)).create(
        "cf", toml, sink_uri="mysql://u:p@h:4000/").cfg
    reloaded = ChangefeedRegistry(str(tmp_path)).get("cf").cfg
    for cfg in (created, reloaded):
        assert cfg.sink_uri == "mysql://u:p@h:4000/"
        assert cfg.split_updates is True
        assert cfg.enable_tls is False
