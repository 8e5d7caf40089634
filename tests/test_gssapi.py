"""SASL/GSSAPI end to end: MiniKDC (AS + TGS) -> GSS context over the
live Kafka wire -> RFC 4752 negotiation -> produce/fetch.

Closes the reference's sasl-gssapi surface
(`pkg/sink/kafka/sarama_config.go:128`), previously environmental
(no KDC in the container) — the KDC is now in-process like the other
live endpoints."""

from __future__ import annotations

import pytest

from ticdc_spark.codec import gssapi as g
from ticdc_spark.codec import krb5 as k
from ticdc_spark.codec.kafka_wire import Record
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn
from ticdc_spark.sinks.kdc_server import MiniKDC, get_service_ticket, kinit

REALM = "TEST.REALM"
SVC = "kafka/127.0.0.1"
SVC_PW = "svc-secret"


@pytest.fixture()
def kdc():
    with MiniKDC(realm=REALM, principals={
            "cdc-client": "client-pw", SVC: SVC_PW}) as kdc:
        yield kdc


def test_kinit_and_tgs(kdc):
    tgt, tgt_key = kinit(kdc.address, REALM, "cdc-client", "client-pw")
    assert k.dec_ticket(tgt)["sname"] == f"krbtgt/{REALM}"
    st, skey = get_service_ticket(kdc.address, REALM, "cdc-client",
                                  tgt, tgt_key, SVC)
    assert k.dec_ticket(st)["sname"] == SVC
    assert len(skey) == 32
    with pytest.raises(k.KrbError) as e:
        kinit(kdc.address, REALM, "cdc-client", "wrong-pw")
    assert e.value.info["error_code"] == k.KDC_ERR_PREAUTH_FAILED
    with pytest.raises(k.KrbError) as e:
        get_service_ticket(kdc.address, REALM, "cdc-client",
                           tgt, tgt_key, "nosuch/host")
    assert e.value.info["error_code"] == k.KDC_ERR_S_PRINCIPAL_UNKNOWN


def test_gss_context_tokens(kdc):
    tgt, tgt_key = kinit(kdc.address, REALM, "cdc-client", "client-pw")
    st, skey = get_service_ticket(kdc.address, REALM, "cdc-client",
                                  tgt, tgt_key, SVC)
    tok = g.init_context_token(st, skey, REALM, "cdc-client", seq=3)
    sess, info, rep = g.accept_context_token(tok, kdc.key_of(SVC))
    assert sess == skey and info["cname"] == "cdc-client"
    assert g.check_ap_rep(rep, skey) == 3
    # a ticket for a DIFFERENT service key is rejected
    with pytest.raises(ValueError):
        g.accept_context_token(tok, kdc.key_of(f"krbtgt/{REALM}"))


def test_sasl_gssapi_live_roundtrip(kdc):
    with KafkaBroker(sasl_users={}, sasl_mechanisms=(),
                     gssapi_service=(SVC, SVC_PW, REALM)) as b:
        assert "GSSAPI" in b.sasl_mechanisms
        opts = {"kdc": kdc.address, "realm": REALM, "service": SVC}
        with KafkaConn.from_bootstrap(
                b.bootstrap,
                sasl=("GSSAPI", "cdc-client", "client-pw", opts)) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1
        # wrong password fails at the KDC, never reaching the broker
        with pytest.raises(k.KrbError):
            KafkaConn.from_bootstrap(
                b.bootstrap,
                sasl=("GSSAPI", "cdc-client", "bad", opts))
        # pre-auth API use still gated (ILLEGAL_SASL_STATE error body)
        from ticdc_spark.codec import kafka_wire as kw

        with KafkaConn.from_bootstrap(b.bootstrap) as c2:
            r = c2._call(kw.API_METADATA, 1, kw.enc_metadata_request(1, None))
            assert r.i16() == kw.ERR_ILLEGAL_SASL_STATE


def test_sasl_gssapi_wrong_service_key_rejected(kdc):
    # broker configured with a DIFFERENT password than the KDC's entry:
    # the AP-REQ ticket fails integrity at the acceptor
    with KafkaBroker(sasl_users={}, sasl_mechanisms=(),
                     gssapi_service=(SVC, "not-the-kdc-password",
                                     REALM)) as b:
        opts = {"kdc": kdc.address, "realm": REALM, "service": SVC}
        with pytest.raises(IOError):
            KafkaConn.from_bootstrap(
                b.bootstrap,
                sasl=("GSSAPI", "cdc-client", "client-pw", opts))


def test_sasl_gssapi_ccache_reuse_and_isolation(kdc):
    """The per-process credentials cache (kafka_client._KRB_CCACHE, the
    MIT ccache analog) must (a) serve repeat connections without fresh
    AS/TGS exchanges, (b) key on the FULL credentials so a wrong
    password never hits a cached ticket."""
    import ticdc_spark.sinks.kafka_client as kc_mod
    import ticdc_spark.sinks.kdc_server as kdc_mod

    calls = {"kinit": 0, "tgs": 0}
    real_kinit, real_tgs = kdc_mod.kinit, kdc_mod.get_service_ticket

    def kinit_counted(*a, **kw):
        calls["kinit"] += 1
        return real_kinit(*a, **kw)

    def tgs_counted(*a, **kw):
        calls["tgs"] += 1
        return real_tgs(*a, **kw)

    kc_mod._KRB_CCACHE.clear()
    kdc_mod.kinit = kinit_counted
    kdc_mod.get_service_ticket = tgs_counted
    try:
        with KafkaBroker(sasl_users={}, sasl_mechanisms=(),
                         gssapi_service=(SVC, SVC_PW, REALM)) as b:
            opts = {"kdc": kdc.address, "realm": REALM, "service": SVC}
            for i in range(3):
                with KafkaConn.from_bootstrap(
                        b.bootstrap,
                        sasl=("GSSAPI", "cdc-client", "client-pw",
                              opts)) as c:
                    c.produce("t", 0, [Record(b"k%d" % i, b"v")])
            # one AS + one TGS exchange total, not one per connection
            assert calls == {"kinit": 1, "tgs": 1}
            with KafkaConn.from_bootstrap(
                    b.bootstrap,
                    sasl=("GSSAPI", "cdc-client", "client-pw",
                          opts)) as c:
                assert len(c.fetch_all("t", 0)) == 3
            # wrong password: different cache key -> fresh kinit -> KDC
            # pre-auth refusal, nothing cached for the bad credentials
            with pytest.raises(k.KrbError):
                KafkaConn.from_bootstrap(
                    b.bootstrap,
                    sasl=("GSSAPI", "cdc-client", "bad", opts))
            assert calls["kinit"] == 2
            assert all(key[3] != "bad" for key in kc_mod._KRB_CCACHE)
    finally:
        kdc_mod.kinit = real_kinit
        kdc_mod.get_service_ticket = real_tgs
        kc_mod._KRB_CCACHE.clear()
