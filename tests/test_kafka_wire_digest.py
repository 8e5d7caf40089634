"""SHA-256 digests pin the bytes of every Kafka request and response.

Each API message is encoded at every version the client negotiates: the
classic floor and the flexible (KIP-482) version, or the one version of
the admin and SASL messages. The digest covers the framed message, so it
pins the request header v1/v2 and response header v0/v1 shapes too. The
digests were taken from the per-version codec pairs that the one
versioned codec replaced. Inputs come from fixed seeds, so a digest
changes only when a wire byte does. Every case also decodes what it
encoded and must get its input back.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.codec.kafka_wire import Record

CLIENT_ID = "digest-client"
CORR = 7


def _name(rng, prefix="t"):
    return prefix + "-" + "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz0123456789ü")
        for _ in range(rng.randrange(1, 14)))


def _record_set(rng):
    return kw.encode_record_batch(
        [Record(rng.randbytes(rng.randrange(0, 9)),
                rng.randbytes(rng.randrange(10, 200)))
         for _ in range(rng.randrange(1, 5))],
        base_timestamp=rng.randrange(1 << 40))


def _offsets(rng):
    return {(_name(rng), rng.randrange(64)): rng.randrange(-1, 1 << 40)
            for _ in range(rng.randrange(1, 5))}


def _topic_partitions(rng):
    return {_name(rng): sorted(rng.sample(range(64), rng.randrange(1, 4)))
            for _ in range(rng.randrange(1, 4))}


# Each builder takes (version, rng) and returns (args, kwargs, decoded):
# the encoder's arguments after the version, and what the decoder must
# return for the encoded bytes.

def _api_versions_request(v, rng):
    return (), {}, ("ticdc-spark", "4") if v >= 3 else (None, None)


def _api_versions_response(v, rng):
    supported = {k: (rng.randrange(3), rng.randrange(3, 13))
                 for k in rng.sample(range(70), 6)}
    return (supported,), {}, supported


def _metadata_request(v, rng):
    topics = [_name(rng) for _ in range(3)]
    return (topics,), {}, topics


def _metadata_response(v, rng):
    host, port, node = "127.0.0.%d" % rng.randrange(256), rng.randrange(1 << 16), rng.randrange(5)
    topics = {_name(rng): rng.randrange(1, 5) for _ in range(3)}
    missing = _name(rng, "missing")
    decoded = {"brokers": [{"node_id": node, "host": host, "port": port,
                            "rack": None}],
               "controller": node,
               "topics": {t: {"error": 0, "partitions": [
                   {"error": 0, "index": p, "leader": node,
                    "replicas": [node], "isr": [node]} for p in range(n)]}
                   for t, n in topics.items()}}
    decoded["topics"][missing] = {"error": 3, "partitions": []}
    return ((host, port, {**topics, missing: (3, 0)}), {"node_id": node},
            decoded)


def _produce_request(v, rng):
    data = {_name(rng): {p: _record_set(rng) for p in rng.sample(range(64), 2)}
            for _ in range(2)}
    acks, timeout = rng.choice((-1, 0, 1)), rng.randrange(1 << 20)
    kwargs = {"acks": acks, "timeout_ms": timeout}
    txn = None
    if v >= 9:
        txn = kwargs["txn_id"] = _name(rng, "txn")
    return (data,), kwargs, (txn, acks, timeout, data)


def _produce_response(v, rng):
    results = {_name(rng): {p: (rng.choice((0, 2, 3, 45)), rng.randrange(-1, 1 << 40))
                            for p in rng.sample(range(64), 3)}
               for _ in range(2)}
    return (results,), {}, results


def _fetch_request(v, rng):
    iso = rng.randrange(2)
    if v < 12:  # a classic fetch: one partition, no session
        wants = [(_name(rng), rng.randrange(64), rng.randrange(1 << 40), 1 << 26)]
        return (wants,), {"isolation": iso}, (iso, 0, -1, wants, [])
    t1, t2 = _name(rng), _name(rng)
    wants = [(t1, 0, rng.randrange(1 << 40), rng.randrange(1 << 26)),
             (t2, 5, rng.randrange(1 << 40), rng.randrange(1 << 26)),
             (t1, 3, rng.randrange(1 << 40), rng.randrange(1 << 26))]
    wants_by_topic = [wants[0], wants[2], wants[1]]
    forgotten = [(_name(rng), [1, 4])]
    sid, epoch = rng.randrange(1, 1 << 30), rng.randrange(1, 100)
    return ((wants,), {"isolation": iso, "session_id": sid,
                       "session_epoch": epoch, "forgotten": forgotten},
            (iso, sid, epoch, wants_by_topic, forgotten))


def _fetch_response(v, rng):
    t = _name(rng)
    hw, lso = rng.randrange(1 << 40), rng.randrange(1 << 40)
    aborted = [(rng.randrange(1 << 40), rng.randrange(1 << 40)) for _ in range(2)]
    rs1, rs2 = _record_set(rng), _record_set(rng)
    parts = [(t, 0, 0, hw, rs1), (t, 1, 0, hw, rs2, lso, aborted),
             (_name(rng), 2, 3, 0, b"")]
    decoded = [(t, 0, 0, hw, hw, [], rs1), (t, 1, 0, hw, lso, aborted, rs2),
               (parts[2][0], 2, 3, 0, 0, [], b"")]
    if v < 12:
        return (parts,), {}, (0, 0, decoded)
    sid = rng.randrange(1, 1 << 30)
    return (parts,), {"session_id": sid}, (0, sid, decoded)


def _list_offsets_request(v, rng):
    t, p, ts = _name(rng), rng.randrange(64), rng.randrange(-2, 1 << 41)
    return (t, p, ts), {}, [(t, p, ts)]


def _list_offsets_response(v, rng):
    rows = [(_name(rng), rng.randrange(64), 0, rng.randrange(-1, 1 << 41),
             rng.randrange(-1, 1 << 40)) for _ in range(3)]
    return (rows,), {}, {(t, p): (ts, off) for t, p, _, ts, off in rows}


def _find_coordinator_request(v, rng):
    key, key_type = _name(rng, "g"), rng.randrange(2)
    return (key, key_type), {}, (key, key_type)


def _find_coordinator_response(v, rng):
    host, port = _name(rng, "h"), rng.randrange(1 << 16)
    return (rng.randrange(5), host, port), {}, (host, port)


def _join_group_request(v, rng):
    gid, mid = _name(rng, "g"), _name(rng, "m")
    topics = [_name(rng) for _ in range(rng.randrange(1, 4))]
    st, rt = rng.randrange(1 << 20), rng.randrange(1 << 20)
    kwargs = {"session_timeout_ms": st, "rebalance_timeout_ms": rt}
    iid = None
    if v >= 5:
        iid = kwargs["group_instance_id"] = _name(rng, "i")
    return ((gid, mid, topics), kwargs,
            {"group_id": gid, "session_timeout": st, "rebalance_timeout": rt,
             "member_id": mid, "group_instance_id": iid,
             "protocol_type": "consumer",
             "protocols": [("range", kw.enc_consumer_metadata(topics))]})


def _join_group_response(v, rng):
    gen, mid = rng.randrange(1 << 30), _name(rng, "m")
    members = [(_name(rng, "m"), rng.randbytes(rng.randrange(40)))
               for _ in range(3)]
    err = rng.choice((0, 27))
    return ((err, gen, "range", mid, mid, members), {},
            {"error": err, "generation": gen, "protocol": "range",
             "leader": mid, "member_id": mid, "members": members})


def _sync_group_request(v, rng):
    gid, gen, mid = _name(rng, "g"), rng.randrange(1 << 30), _name(rng, "m")
    assignments = [(_name(rng, "m"), rng.randbytes(rng.randrange(60)))
                   for _ in range(2)]
    kwargs, iid = {}, None
    if v >= 3:
        iid = kwargs["group_instance_id"] = _name(rng, "i")
    return ((gid, gen, mid, assignments), kwargs,
            {"group_id": gid, "generation": gen, "member_id": mid,
             "group_instance_id": iid, "assignments": assignments})


def _sync_group_response(v, rng):
    err, blob = rng.choice((0, 22)), rng.randbytes(rng.randrange(80))
    return (err, blob), {}, (err, blob)


def _heartbeat_request(v, rng):
    gid, gen, mid = _name(rng, "g"), rng.randrange(1 << 30), _name(rng, "m")
    kwargs, iid = {}, None
    if v >= 3:
        iid = kwargs["group_instance_id"] = _name(rng, "i")
    return (gid, gen, mid), kwargs, (gid, gen, mid, iid)


def _heartbeat_response(v, rng):
    err = rng.choice((0, 22, 25, 27))
    return (err,), {}, err


def _leave_group_request(v, rng):
    gid, mid = _name(rng, "g"), _name(rng, "m")
    return (gid, mid), {}, (gid, [mid])


def _leave_group_response(v, rng):
    err = rng.choice((0, 25))
    return (err, [_name(rng, "m")]), {}, err


def _offset_commit_request(v, rng):
    gid, gen, mid = _name(rng, "g"), rng.randrange(1 << 30), _name(rng, "m")
    offsets = _offsets(rng)
    kwargs, iid = {}, None
    if v >= 7:
        iid = kwargs["group_instance_id"] = _name(rng, "i")
    return ((gid, gen, mid, offsets), kwargs,
            {"group_id": gid, "generation": gen, "member_id": mid,
             "group_instance_id": iid, "offsets": offsets})


def _offset_commit_response(v, rng):
    results = {tp: rng.choice((0, 22)) for tp in _offsets(rng)}
    return (results,), {}, results


def _offset_fetch_request(v, rng):
    gid, tps = _name(rng, "g"), _topic_partitions(rng)
    return (gid, tps), {}, (gid, tps)


def _offset_fetch_response(v, rng):
    offsets = _offsets(rng)
    return (offsets,), {}, offsets


def _init_producer_id_request(v, rng):
    txn, timeout = rng.choice((None, _name(rng, "txn"))), rng.randrange(1 << 30)
    return (txn, timeout), {}, (txn, timeout)


def _init_producer_id_response(v, rng):
    pid, epoch = rng.randrange(1 << 40), rng.randrange(1 << 14)
    return (pid, epoch), {}, (pid, epoch)


def _add_partitions_to_txn_request(v, rng):
    args = (_name(rng, "txn"), rng.randrange(1 << 40), rng.randrange(1 << 14),
            _topic_partitions(rng))
    return args, {}, args


def _add_partitions_to_txn_response(v, rng):
    results = {t: {p: rng.choice((0, 3, 47)) for p in ps}
               for t, ps in _topic_partitions(rng).items()}
    return (results,), {}, results


def _end_txn_request(v, rng):
    args = (_name(rng, "txn"), rng.randrange(1 << 40), rng.randrange(1 << 14),
            rng.random() < 0.5)
    return args, {}, args


def _end_txn_response(v, rng):
    err = rng.choice((0, 47, 48))
    return (err,), {}, err


def _create_topics_request(v, rng):
    topics = [(_name(rng), rng.randrange(-1, 9), rng.choice((-1, 1, 3)),
               {"max.message.bytes": str(rng.randrange(1 << 20)),
                "cleanup.policy": "compact"}) for _ in range(2)]
    validate = rng.random() < 0.5
    return ((topics,), {"timeout_ms": rng.randrange(1 << 20),
                        "validate_only": validate}, (topics, validate))


def _create_topics_response(v, rng):
    results = {_name(rng): (0, None), _name(rng): (36, "Topic exists.")}
    return (results,), {}, results


def _describe_configs_request(v, rng):
    resources = [(kw.RESOURCE_TOPIC, _name(rng), ["max.message.bytes"]),
                 (kw.RESOURCE_BROKER, "0", None)]
    return (resources,), {}, resources


def _describe_configs_response(v, rng):
    results = [(0, None, kw.RESOURCE_TOPIC, _name(rng),
                {"max.message.bytes": "1048588", "retention.ms": None}),
               (0, None, kw.RESOURCE_BROKER, "0", {})]
    return (results,), {}, [(rt, n, c) for _, _, rt, n, c in results]


def _sasl_handshake_request(v, rng):
    return ("SCRAM-SHA-256",), {}, "SCRAM-SHA-256"


def _sasl_handshake_response(v, rng):
    args = (rng.choice((0, 33)), ["PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"])
    return args, {}, args


def _sasl_authenticate_request(v, rng):
    auth = rng.randbytes(rng.randrange(80))
    return (auth,), {}, auth


def _sasl_authenticate_response(v, rng):
    args = (58, "Authentication failed", rng.randbytes(rng.randrange(40)))
    return args, {}, args


MESSAGES = {
    "api_versions": kw.API_API_VERSIONS,
    "metadata": kw.API_METADATA,
    "produce": kw.API_PRODUCE,
    "fetch": kw.API_FETCH,
    "list_offsets": kw.API_LIST_OFFSETS,
    "find_coordinator": kw.API_FIND_COORDINATOR,
    "join_group": kw.API_JOIN_GROUP,
    "sync_group": kw.API_SYNC_GROUP,
    "heartbeat": kw.API_HEARTBEAT,
    "leave_group": kw.API_LEAVE_GROUP,
    "offset_commit": kw.API_OFFSET_COMMIT,
    "offset_fetch": kw.API_OFFSET_FETCH,
    "init_producer_id": kw.API_INIT_PRODUCER_ID,
    "add_partitions_to_txn": kw.API_ADD_PARTITIONS_TO_TXN,
    "end_txn": kw.API_END_TXN,
    "create_topics": kw.API_CREATE_TOPICS,
    "describe_configs": kw.API_DESCRIBE_CONFIGS,
    "sasl_handshake": kw.API_SASL_HANDSHAKE,
    "sasl_authenticate": kw.API_SASL_AUTHENTICATE,
}

DIGESTS = {
    ("api_versions", "request", 0):
        "0198ead2579b42083dc3de3906a2be5f893799be291f1bea184df673baa0fa31",
    ("api_versions", "request", 3):
        "b93ec3ee8a73b764cd751b4e66f7fa19d88a6ec1f25a7c7278e4d08b9743dda3",
    ("api_versions", "response", 0):
        "c7d35f7fc7b2036cccb774f5746e8a21ea1e677b7e24605d101bdb0d5e37f21e",
    ("api_versions", "response", 3):
        "a801ec6a54473ebc5e0dee45ec595cfec21f80a59095b848fc07dd48820605d3",
    ("metadata", "request", 1):
        "b2347a7c128cb3931fbaa0d9b422bbb02f08dc63b277ed5d30e5e11df1fdca7c",
    ("metadata", "request", 9):
        "ff42ee74c197df4c048f05441fb5ef314482f759d09e5d7c26d20d47f3ef1e19",
    ("metadata", "response", 1):
        "ea539075761743bb0cb18ac61e48410921e80d81105d1517deec1d2cebecdedb",
    ("metadata", "response", 9):
        "22d434c6bde4b4a6bc305781508aadcb6c8350295808c12a1c4d2934ee911df1",
    ("produce", "request", 3):
        "0b6309f8bf09708c659f508cb7a6ba055bc5e6c7bc4ebe8104a219bbdda554d6",
    ("produce", "request", 9):
        "3308583c43b5059d1f4674ca159d5011047849ba71fe9249b04891927cd7ff85",
    ("produce", "response", 3):
        "caca42d7b2193f888d880e109b7ca551ce72311444cc9779ed542b972da544c2",
    ("produce", "response", 9):
        "18d55498dbfd2105353a6ecafdc39e78ca2278d082cc20b5796f0a44bee4e16c",
    ("fetch", "request", 4):
        "fe245b97b56d7a3aa3c91e05dc67e3e41bd199e6eff29fb69b82ebc4a525b54f",
    ("fetch", "request", 12):
        "cb2ea491849ada2c49ff8f661ca66e917c637d8ebe907b1751440263e16cf778",
    ("fetch", "response", 4):
        "70ac776bdd54902f372ef1e8bae2f18c65b9c33ea60f8e5a0afdf0130ff59f19",
    ("fetch", "response", 12):
        "bac2e3d6955f5f31d8e92a694bafb0eb370e130251c2fb81563a4beadbb53f78",
    ("list_offsets", "request", 1):
        "df5140ad373a5c5c1391bc252c2e0b4542d37471fd81baa858f5c7a8b66f5131",
    ("list_offsets", "request", 7):
        "c493a68afe17394fac1b3ef38a7a8a0831fb458e6e757b0a3aa3dd54ba97a44d",
    ("list_offsets", "response", 1):
        "bbe898cca2372745058c6584e2f89a631751046a2ae18c07c0b823f796b8e68b",
    ("list_offsets", "response", 7):
        "d35293e08f327ccaf53a0d1d4323c4e9aaf830dd4b25fd6b436778bf6600a921",
    ("find_coordinator", "request", 1):
        "daa5b80b082ff9cdbe94915e65f19139ae1b71243966e7d1af8eb4892e987dde",
    ("find_coordinator", "request", 3):
        "ea14a93a7597e5780f313e9d60956b9c95647bc1dfd167af6bfd85b477efc288",
    ("find_coordinator", "response", 1):
        "73b144c6cb61870b7c0d8d95452a1bbbe458688671856b03346b9a55d3a6f9c6",
    ("find_coordinator", "response", 3):
        "b3757d1d4f79e94a276c78ef3a50e6744bbd9bd8bd85539a30473128525371ff",
    ("join_group", "request", 2):
        "102036c7f5b506a2fed8858ee3506308d6590365c96ea30bafc4f8d8b7a9e930",
    ("join_group", "request", 6):
        "ece925d88b08bacdf6f6273bf5b56c3e4f2efc140ff897848b1bd19fbd2dd8e1",
    ("join_group", "response", 2):
        "7b0e37a768fe0f718f015ebb95598becfbc0fc87a379bf015fd7bc62dea4529d",
    ("join_group", "response", 6):
        "72dd871fbc2fb96048f0df62a2e71698480f93b03446ed0470b545482f0b634e",
    ("sync_group", "request", 1):
        "ecb23c188595d118652a13a8d0be1e90726f17a419d36bf9c9e99a00a84196f2",
    ("sync_group", "request", 4):
        "365184bd7c83fa97be93d8a2bf0570b694037757e3b3c1304ee35019c0196543",
    ("sync_group", "response", 1):
        "a0a6b90d12f49ebce4b3589baa412766cb746b7652325d332bca02e38c356411",
    ("sync_group", "response", 4):
        "e36efe6b9bebf32a04a5a7fa85654fb32a924425aa8d11d627a736572fea3341",
    ("heartbeat", "request", 1):
        "a221de4c9ccad0b626896c0f16ca964942e9820f34e10108806761eef26c41c0",
    ("heartbeat", "request", 4):
        "2e943da8ac57d10a369334ef5b64079f542bc797c496b63b8efabe6972a0b6c1",
    ("heartbeat", "response", 1):
        "6a8246d9a8e90634ca46bc9dd756ec9f233c066730c9d44b10cb1e73660dd81e",
    ("heartbeat", "response", 4):
        "b9242f45ebb5746144430ad76bb32f3a08b22ac8079b6d0736d6fdf926cb0945",
    ("leave_group", "request", 1):
        "bcc9801a8755495b84b32ce6146dc509c83ea21c09ac5b9d869f1f68e3be237b",
    ("leave_group", "request", 4):
        "002e67dfcdcaa01089d26d4ddc9a854dc18472e5dcd289bc6c89c8f9403b5fe0",
    ("leave_group", "response", 1):
        "deb0a2f003df16906f53171c68d337104aa967dbe4ad2decfd06b72b23904101",
    ("leave_group", "response", 4):
        "d3e3c896690176441d5825381e9b5e6d3326c9da1f21456f52a4411af96fd41f",
    ("offset_commit", "request", 3):
        "1ffac06cee8971df5de346effaaf59c4350a80e864af86758a0abe5da1020e26",
    ("offset_commit", "request", 8):
        "4a56292fe762d58561a16299b6caf66133d0ec662936e0d453d0bb0846ee1248",
    ("offset_commit", "response", 3):
        "fca4c2fc121133641f2a9f33b1effa251fe58e33d50ffc5067595b0fc31ec756",
    ("offset_commit", "response", 8):
        "eabbad154a64a19fd068308e4f98ba41f7d54a5c915c940bd24064ea86e67e7c",
    ("offset_fetch", "request", 3):
        "23da4ba469647f7daa9aa08a9130adebae74a88f2b12a857042c838c0d945fe0",
    ("offset_fetch", "request", 6):
        "fb8f0222de9ead7e8a83cc4ecd11590763fd92362bb044f85a5f103d4e8b9979",
    ("offset_fetch", "response", 3):
        "7c8b7a954b10897d6de8e135311ae12c90a8164b923cc9873e3053a2106b5a6e",
    ("offset_fetch", "response", 6):
        "41828258c3d87480d1ef24243eba71cfee5dcadc2242f6c92f79482a9ed82b9c",
    ("init_producer_id", "request", 1):
        "217b15d7b9eb2cf890f709da08591cffaa66c1fb0a9a136f18823a5aca8a8237",
    ("init_producer_id", "request", 2):
        "ad571b93ed76c989879a678ffb153de7367309bc07078764565790bd04f4143e",
    ("init_producer_id", "response", 1):
        "f7960ede4e69ee2f1d476dc4e66ae4284f5f1116048ce4feeffe1bf1e6c85443",
    ("init_producer_id", "response", 2):
        "7314f7dcc4a065866b5693d6d26aab562d4b6fba0ef965b44addd35bccd0456a",
    ("add_partitions_to_txn", "request", 0):
        "3da34240b79f3b91f9728ab243d0f9c73ca19235ec99b85d4984cf7fac3540f8",
    ("add_partitions_to_txn", "request", 3):
        "0f89935e6827a2df7dcc191f0ab487f9e8c1441f69507dc9251afbbe43ac752d",
    ("add_partitions_to_txn", "response", 0):
        "13a0b7ec73b37247d3209d9f1540054c664effb6b9dc18e5405a0c5a3c7728c5",
    ("add_partitions_to_txn", "response", 3):
        "3570085d7afd59d2d296deb87a5ef9dc058a2f2158e2eaffb0c16fcc2957d4bd",
    ("end_txn", "request", 1):
        "009b3b4e85aefc1dde3ae81c98d78ed84539a2b065c422cb31d1d71a5377519f",
    ("end_txn", "request", 3):
        "c12e419f43aa6092e3e744a21611b6f2a04d51f04e7b3282771dec4de7131667",
    ("end_txn", "response", 1):
        "23a67aacdf6048c3705fee223d10be4d06b1885f992bca804dcc94f89b8e426e",
    ("end_txn", "response", 3):
        "b9242f45ebb5746144430ad76bb32f3a08b22ac8079b6d0736d6fdf926cb0945",
    ("create_topics", "request", 2):
        "096d48e91c56e816f367bcd52e53775ed554553db55575e7f0223a837c0f3c4e",
    ("create_topics", "response", 2):
        "1c7c28d72bc00c6c21350d0b5232f2dedaeddf1b6d9466f50d61581cfdd6941a",
    ("describe_configs", "request", 0):
        "a62d6fcd8534623afc50fd819bfaeb5a45aa9534d2c9f9b5f862b04979e606d7",
    ("describe_configs", "response", 0):
        "61e9be62b5267252fd53c269dfb576fd500656e705cdd5c39468f017bc8f1198",
    ("sasl_handshake", "request", 1):
        "1414245a2b409f1928a77480b6c4a58e2c663bddc87bfd13c990087d29fdab5c",
    ("sasl_handshake", "response", 1):
        "ec9cef054f062f93e50fd2dfdd11a817d0f3a72307e29e2f43d3108f821529c1",
    ("sasl_authenticate", "request", 0):
        "06216b5858df16907315b86a27eda4d3dcc43484b7ab4a5ec9b05afd87729763",
    ("sasl_authenticate", "response", 0):
        "923cd874c2dc770c213eecfe959c7d9e53ca42d2f13ff0353970b3c0f7441ea8",
}


def _frame(message: str, kind: str, version: int):
    """-> (framed bytes, decoded value) of one seeded message."""
    api = MESSAGES[message]
    name = f"{message}_{kind}"
    args, kwargs, decoded = globals()["_" + name](
        version, random.Random(f"{name}/v{version}"))
    body = getattr(kw, "enc_" + name)(version, *args, **kwargs)
    if kind == "request":
        return kw.frame_request(api, version, CORR, CLIENT_ID, body), decoded
    return kw.frame_response(api, version, CORR, body), decoded


def _cases():
    return [(m, kind, v) for m, api in MESSAGES.items()
            for kind in ("request", "response") for v in kw.VERSIONS[api]]


def test_every_negotiated_version_has_a_digest():
    assert sorted(DIGESTS) == sorted(_cases())


@pytest.mark.parametrize("message,kind,version", _cases())
def test_framed_bytes_match_digest(message, kind, version):
    frame, _ = _frame(message, kind, version)
    assert hashlib.sha256(frame).hexdigest() == DIGESTS[(message, kind, version)]


@pytest.mark.parametrize("message,kind,version", _cases())
def test_decode_inverts_encode(message, kind, version):
    api = MESSAGES[message]
    frame, decoded = _frame(message, kind, version)
    assert int.from_bytes(frame[:4], "big") == len(frame) - 4
    if kind == "request":
        key, ver, corr, client, r = kw.parse_request_header(frame[4:])
        assert (key, ver, corr, client) == (api, version, CORR, CLIENT_ID)
    else:
        corr, r = kw.parse_response_header(frame[4:], api, version)
        assert corr == CORR
    assert getattr(kw, f"dec_{message}_{kind}")(r, version) == decoded
    assert r.remaining() == 0
