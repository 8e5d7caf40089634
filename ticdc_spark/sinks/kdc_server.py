"""In-process Kerberos KDC speaking RFC 4120 over TCP (4-byte length
framing, §7.2.2): AS exchange with PA-ENC-TIMESTAMP preauth and TGS
exchange with PA-TGS-REQ — enough for a SASL/GSSAPI client to kinit,
fetch a service ticket for the broker principal, and run the RFC 4121
context establishment (codec/gssapi.py).

The principal database is a dict(principal -> password); long-term
keys derive via RFC 3962 string-to-key with the MIT default salt
(realm + name components).  Reference surface: sasl-gssapi kafka
params (`pkg/sink/kafka/sarama_config.go:128`) — previously written
off as environmental (needs a KDC); this is the KDC.

TEST endpoint: deterministic ticket times (codec/krb5.FIXED_TIME), no
clock-skew or replay-cache enforcement — documented simplifications of
operational policy, not of the wire format.
"""

from __future__ import annotations

import socketserver
import struct

from ticdc_spark.codec import krb5 as k
from ticdc_spark.codec import krb5crypto as kc
from ticdc_spark.endpoint import Endpoint, recv_exact


class MiniKDC(Endpoint):
    def __init__(self, realm: str = "TEST.REALM",
                 principals: dict[str, str] | None = None,
                 host: str = "127.0.0.1"):
        super().__init__(host)
        self.realm = realm
        self.principals = dict(principals or {})
        self.principals.setdefault(f"krbtgt/{realm}", "kdc-master-secret")
        kdc = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                sock = self.request
                try:
                    while True:
                        hdr = recv_exact(sock, 4)
                        if hdr is None:
                            return
                        (size,) = struct.unpack(">I", hdr)
                        req = recv_exact(sock, size)
                        if req is None:
                            return
                        resp = kdc._dispatch(req)
                        sock.sendall(struct.pack(">I", len(resp)) + resp)
                except (ConnectionResetError, BrokenPipeError):
                    return

        self._listen(Handler)

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    # -- keys

    def key_of(self, principal: str) -> bytes:
        return kc.string_to_key(
            self.principals[principal], k.default_salt(self.realm, principal))

    # -- exchanges

    def _dispatch(self, req: bytes) -> bytes:
        try:
            d = k.dec_kdc_req(req)
        except (AssertionError, KeyError, ValueError, IndexError):
            return k.krb_error(k.KRB_AP_ERR_MODIFIED, self.realm)
        if d["msg_type"] == k.MSG_AS_REQ:
            return self._as_exchange(d)
        if d["msg_type"] == k.MSG_TGS_REQ:
            return self._tgs_exchange(d)
        return k.krb_error(k.KRB_AP_ERR_MODIFIED, self.realm)

    def _as_exchange(self, d: dict) -> bytes:
        cname = d.get("cname")
        if cname not in self.principals:
            return k.krb_error(k.KDC_ERR_C_PRINCIPAL_UNKNOWN, self.realm)
        if d["sname"] not in self.principals:
            return k.krb_error(k.KDC_ERR_S_PRINCIPAL_UNKNOWN, self.realm)
        client_key = self.key_of(cname)
        pa = dict(d["padata"])
        if k.PA_ENC_TIMESTAMP not in pa:
            return k.krb_error(k.KDC_ERR_PREAUTH_REQUIRED, self.realm)
        if not k.verify_pa_enc_ts(client_key, pa[k.PA_ENC_TIMESTAMP]):
            return k.krb_error(k.KDC_ERR_PREAUTH_FAILED, self.realm)
        import os

        session_key = os.urandom(32)
        service_key = self.key_of(d["sname"])
        etp = k.enc_ticket_part(session_key, self.realm, cname)
        tkt = k.ticket(self.realm, d["sname"], k.encrypted_data(
            kc.ETYPE_AES256_CTS_HMAC_SHA1, None,
            kc.encrypt(service_key, kc.KU_KDC_REP_TICKET, etp)))
        rep_part = k.enc_kdc_rep_part(
            k.MSG_AS_REP, session_key, d["nonce"], self.realm, d["sname"])
        return k.kdc_rep(
            k.MSG_AS_REP, self.realm, cname, tkt,
            kc.encrypt(client_key, kc.KU_AS_REP_ENC_PART, rep_part))

    def _tgs_exchange(self, d: dict) -> bytes:
        pa = dict(d["padata"])
        if k.PA_TGS_REQ not in pa:
            return k.krb_error(k.KDC_ERR_PREAUTH_REQUIRED, self.realm)
        try:
            apq = k.dec_ap_req(pa[k.PA_TGS_REQ])
            tgt = k.dec_ticket(apq["ticket"])
            _, tkt_cipher = k.dec_encrypted_data(tgt["enc_part"])
            tgt_info = k.dec_enc_ticket_part(kc.decrypt(
                self.key_of(f"krbtgt/{self.realm}"),
                kc.KU_KDC_REP_TICKET, tkt_cipher))
            _, auth_cipher = k.dec_encrypted_data(apq["authenticator"])
            auth = k.dec_authenticator(kc.decrypt(
                tgt_info["key"], kc.KU_TGS_REQ_AUTH_SESSION, auth_cipher))
        except (AssertionError, ValueError, KeyError):
            return k.krb_error(k.KRB_AP_ERR_BAD_INTEGRITY, self.realm)
        if auth["cname"] != tgt_info["cname"]:
            return k.krb_error(k.KRB_AP_ERR_BAD_INTEGRITY, self.realm)
        if d["sname"] not in self.principals:
            return k.krb_error(k.KDC_ERR_S_PRINCIPAL_UNKNOWN, self.realm)
        import os

        svc_session = os.urandom(32)
        service_key = self.key_of(d["sname"])
        etp = k.enc_ticket_part(svc_session, self.realm, tgt_info["cname"])
        tkt = k.ticket(self.realm, d["sname"], k.encrypted_data(
            kc.ETYPE_AES256_CTS_HMAC_SHA1, None,
            kc.encrypt(service_key, kc.KU_KDC_REP_TICKET, etp)))
        rep_part = k.enc_kdc_rep_part(
            k.MSG_TGS_REP, svc_session, d["nonce"], self.realm, d["sname"])
        # TGS-REP enc-part is encrypted with the TGT SESSION key (usage 8)
        return k.kdc_rep(
            k.MSG_TGS_REP, self.realm, tgt_info["cname"], tkt,
            kc.encrypt(tgt_info["key"], kc.KU_TGS_REP_ENC_PART_SESSION,
                       rep_part))


# ------------------------------------------------------------- client side


def _kdc_call(kdc_addr: str, req: bytes) -> bytes:
    import socket

    host, port = kdc_addr.rsplit(":", 1)
    with socket.create_connection((host, int(port)), timeout=30) as sock:
        sock.sendall(struct.pack(">I", len(req)) + req)
        hdr = recv_exact(sock, 4)
        if hdr is None:
            raise IOError("KDC closed connection")
        (size,) = struct.unpack(">I", hdr)
        resp = recv_exact(sock, size)
        if resp is None:
            raise IOError("KDC closed mid-response")
        return resp


def kinit(kdc_addr: str, realm: str, principal: str,
          password: str = "", client_key: bytes | None = None,
          ) -> tuple[bytes, bytes]:
    """AS exchange -> (TGT ticket TLV, TGT session key).

    ``client_key`` (sasl-gssapi-auth-type = "keytab",
    `pkg/security/sasl.go:113-115` KeyTabAuth): authenticate with the
    long-term key read from a keytab instead of deriving it from a
    password — sarama's KRB5_KEYTAB_AUTH path."""
    if client_key is None:
        client_key = kc.string_to_key(
            password, k.default_salt(realm, principal))
    req = k.kdc_req(
        k.MSG_AS_REQ, realm, f"krbtgt/{realm}", cname=principal,
        padatas=[(k.PA_ENC_TIMESTAMP, k.pa_enc_ts(client_key))])
    rep = k.dec_kdc_rep(_kdc_call(kdc_addr, req))
    _, cipher = k.dec_encrypted_data(rep["enc_part"])
    part = k.dec_kdc_rep_part(
        kc.decrypt(client_key, kc.KU_AS_REP_ENC_PART, cipher))
    return rep["ticket"], part["key"]


def get_service_ticket(kdc_addr: str, realm: str, principal: str,
                       tgt: bytes, tgt_key: bytes,
                       service: str) -> tuple[bytes, bytes]:
    """TGS exchange -> (service ticket TLV, service session key)."""
    auth = k.authenticator(realm, principal)
    apq = k.ap_req(tgt, kc.encrypt(
        tgt_key, kc.KU_TGS_REQ_AUTH_SESSION, auth))
    req = k.kdc_req(k.MSG_TGS_REQ, realm, service,
                    padatas=[(k.PA_TGS_REQ, apq)])
    rep = k.dec_kdc_rep(_kdc_call(kdc_addr, req))
    _, cipher = k.dec_encrypted_data(rep["enc_part"])
    part = k.dec_kdc_rep_part(
        kc.decrypt(tgt_key, kc.KU_TGS_REP_ENC_PART_SESSION, cipher))
    return rep["ticket"], part["key"]


# -- MIT keytab file format (public layout: keytab(5) / MIT krb5
# keytab format version 0x0502) ----------------------------------------------
# An entry: int32 size | uint16 n_components | counted realm | counted
# components... | uint32 name_type | uint32 timestamp | uint8 kvno |
# uint16 enctype | counted key.  All counted strings are uint16-length-
# prefixed; integers big-endian.  This is what sasl-gssapi-keytab-path
# points at (`pkg/security/sasl.go:130` KeyTabPath; sarama's
# KRB5_KEYTAB_AUTH client loads the principal's long-term key from it).

_KEYTAB_MAGIC = 0x0502
_NT_PRINCIPAL = 1


def write_keytab(path: str, realm: str, principal: str, key: bytes,
                 enctype: int = kc.ETYPE_AES256_CTS_HMAC_SHA1,
                 kvno: int = 1, timestamp: int = 0) -> None:
    """Write a single-entry MIT keytab holding ``principal``'s long-term
    key (components split on '/', e.g. ``kafka/127.0.0.1``)."""
    import struct

    comps = principal.split("/")

    def counted(s: bytes) -> bytes:
        return struct.pack(">H", len(s)) + s

    body = struct.pack(">H", len(comps)) + counted(realm.encode())
    for c in comps:
        body += counted(c.encode())
    body += struct.pack(">IIB", _NT_PRINCIPAL, timestamp, kvno)
    body += struct.pack(">H", enctype) + counted(key)
    with open(path, "wb") as f:
        f.write(struct.pack(">HI", _KEYTAB_MAGIC, len(body)) + body)


def read_keytab_key(path: str, realm: str, principal: str,
                    enctype: int = kc.ETYPE_AES256_CTS_HMAC_SHA1) -> bytes:
    """Find ``principal``'s key in a keytab; raises KeyError if the
    (realm, principal, enctype) triple isn't present."""
    import struct

    with open(path, "rb") as f:
        blob = f.read()
    (magic,) = struct.unpack(">H", blob[:2])
    if magic != _KEYTAB_MAGIC:
        raise ValueError(f"unsupported keytab format 0x{magic:04x}")
    pos = 2
    want = principal.split("/")
    while pos + 4 <= len(blob):
        (size,) = struct.unpack(">i", blob[pos:pos + 4])
        pos += 4
        if size <= 0:  # negative size = deleted-entry hole
            pos += -size
            continue
        entry, pos = blob[pos:pos + size], pos + size
        off = 0

        def counted(off: int) -> tuple[bytes, int]:
            (n,) = struct.unpack(">H", entry[off:off + 2])
            return entry[off + 2:off + 2 + n], off + 2 + n

        (ncomp,) = struct.unpack(">H", entry[:2])
        off = 2
        erealm, off = counted(off)
        comps = []
        for _ in range(ncomp):
            c, off = counted(off)
            comps.append(c.decode())
        off += 9  # name_type + timestamp + kvno
        (etype,) = struct.unpack(">H", entry[off:off + 2])
        key, off = counted(off + 2)
        if (erealm.decode() == realm and comps == want
                and etype == enctype):
            return key
    raise KeyError(f"{principal}@{realm} (enctype {enctype}) not in {path}")
