"""Property tests for the flexible-protocol (KIP-482) primitives and
the versioned codecs at their flexible versions (plus the classic txn
versions) — encode∘decode must be identity for arbitrary inputs, and
uvarints must round-trip any uint."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.codec.kafka_wire import Reader, Writer


@given(st.integers(min_value=0, max_value=(1 << 63) - 1))
def test_uvarint_roundtrip(v):
    assert Reader(kw.enc_uvarint(v)).uvarint() == v


@given(st.one_of(st.none(), st.text(max_size=200)))
def test_compact_string_roundtrip(s):
    w = Writer(flexible=True)
    w.string(s)
    assert Reader(w.done(), flexible=True).string() == s


@given(st.one_of(st.none(), st.binary(max_size=500)))
def test_compact_bytes_roundtrip(b):
    w = Writer(flexible=True)
    w.bytes_(b)
    assert Reader(w.done(), flexible=True).bytes_() == b


_topic = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"),
                           whitelist_characters="-._"),
    min_size=1, max_size=40)


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(
    _topic,
    st.dictionaries(st.integers(0, 63), st.binary(min_size=61, max_size=200),
                    min_size=1, max_size=4),
    min_size=1, max_size=4),
    st.sampled_from([-1, 0, 1]))
def test_produce_v9_request_roundtrip(topic_data, acks):
    body = kw.enc_produce_request(9, topic_data, acks=acks)
    txn, got_acks, _, got = kw.dec_produce_request(Reader(body), 9)
    assert txn is None and got_acks == acks and got == topic_data


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(
    _topic,
    st.dictionaries(st.integers(0, 63),
                    st.tuples(st.sampled_from([0, 2, 3, 45, 47]),
                              st.integers(-1, 1 << 40)),
                    min_size=1, max_size=4),
    min_size=1, max_size=4))
def test_produce_v9_response_roundtrip(results):
    body = kw.enc_produce_response(9, results)
    assert kw.dec_produce_response(Reader(body), 9) == results


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(0, 1 << 20), st.integers(0, 1 << 40),
       st.sampled_from([0, 1]))
def test_fetch_v12_request_roundtrip(topic, partition, offset, iso):
    body = kw.enc_fetch_request(12, [(topic, partition, offset, 1 << 26)],
                                isolation=iso)
    assert kw.dec_fetch_request(Reader(body), 12) == (
        iso, 0, -1, [(topic, partition, offset, 1 << 26)], [])


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(0, 63), st.integers(0, 1 << 40),
       st.binary(max_size=300),
       st.integers(0, 1 << 40),
       st.lists(st.tuples(st.integers(0, 1 << 30), st.integers(0, 1 << 30)),
                max_size=3))
def test_fetch_v12_response_roundtrip(topic, partition, hw, rs, lso, aborted):
    body = kw.enc_fetch_response(
        12, [(topic, partition, 0, hw, rs, lso, aborted)])
    assert kw.dec_fetch_response(Reader(body), 12) == (0, 0, [
        (topic, partition, 0, hw, lso, aborted, rs)])


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(0, 63), st.integers(-2, 1 << 41))
def test_list_offsets_v7_roundtrip(topic, partition, ts):
    body = kw.enc_list_offsets_request(7, topic, partition, ts)
    assert kw.dec_list_offsets_request(Reader(body), 7) == [
        (topic, partition, ts)]
    resp = kw.enc_list_offsets_response(7, [(topic, partition, 0, ts, 7)])
    assert kw.dec_list_offsets_response(Reader(resp), 7) == {
        (topic, partition): (ts, 7)}


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=1, max_size=30), st.integers(0, 1 << 40),
       st.integers(0, 1 << 14),
       st.dictionaries(_topic, st.lists(st.integers(0, 63), min_size=1,
                                        max_size=4), min_size=1, max_size=3),
       st.booleans())
def test_txn_codecs_roundtrip(txn_id, pid, epoch, tps, committed):
    body = kw.enc_add_partitions_to_txn_request(0, txn_id, pid, epoch, tps)
    assert kw.dec_add_partitions_to_txn_request(Reader(body), 0) == (
        txn_id, pid, epoch, tps)
    body = kw.enc_end_txn_request(1, txn_id, pid, epoch, committed)
    assert kw.dec_end_txn_request(Reader(body), 1) == (
        txn_id, pid, epoch, committed)


@given(st.sampled_from([kw.CONTROL_ABORT, kw.CONTROL_COMMIT]),
       st.integers(0, 1 << 30))
def test_control_record_roundtrip(marker, epoch):
    assert kw.dec_control_record(kw.enc_control_record(marker, epoch)) == marker


# ---- flexible group/txn family (FindCoordinator v3, JoinGroup v6,
# SyncGroup v4, Heartbeat v4, LeaveGroup v4, OffsetCommit v8,
# OffsetFetch v6, InitProducerId v2, AddPartitionsToTxn v3, EndTxn v3)

_member = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"),
                           whitelist_characters="-"),
    max_size=30)


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(0, 2))
def test_find_coordinator_v3_roundtrip(key, key_type):
    body = kw.enc_find_coordinator_request(3, key, key_type)
    assert kw.dec_find_coordinator_request(Reader(body), 3) == (key, key_type)
    rbody = kw.enc_find_coordinator_response(3, 0, key, 1234)
    assert kw.dec_find_coordinator_response(Reader(rbody), 3) == (key, 1234)


@settings(max_examples=50, deadline=None)
@given(_topic, _member, st.lists(_topic, min_size=1, max_size=5, unique=True),
       st.integers(0, 1 << 20), st.integers(0, 1 << 20))
def test_join_group_v6_request_roundtrip(gid, mid, topics, st_ms, rt_ms):
    body = kw.enc_join_group_request(6, gid, mid, topics, st_ms, rt_ms)
    req = kw.dec_join_group_request(Reader(body), 6)
    assert req["group_id"] == gid and req["member_id"] == mid
    assert req["session_timeout"] == st_ms
    assert req["rebalance_timeout"] == rt_ms
    assert req["protocol_type"] == "consumer"
    [(pname, md)] = req["protocols"]
    assert pname == "range" and kw.dec_consumer_metadata(md) == topics


@settings(max_examples=50, deadline=None)
@given(st.integers(-1, 1 << 30), _topic, _member, _member,
       st.lists(st.tuples(_member, st.binary(max_size=100)), max_size=4))
def test_join_group_v6_response_roundtrip(gen, proto, leader, mid, members):
    body = kw.enc_join_group_response(6, 0, gen, proto, leader, mid, members)
    resp = kw.dec_join_group_response(Reader(body), 6)
    assert resp == {"error": 0, "generation": gen, "protocol": proto,
                    "leader": leader, "member_id": mid, "members": members}


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(-1, 1 << 30), _member,
       st.lists(st.tuples(_member, st.binary(max_size=100)), max_size=4),
       st.binary(max_size=200))
def test_sync_group_v4_roundtrip(gid, gen, mid, assignments, blob):
    body = kw.enc_sync_group_request(4, gid, gen, mid, assignments,
                                     group_instance_id=None)
    req = kw.dec_sync_group_request(Reader(body), 4)
    assert req == {"group_id": gid, "generation": gen, "member_id": mid,
                   "group_instance_id": None, "assignments": assignments}
    rbody = kw.enc_sync_group_response(4, 0, blob)
    assert kw.dec_sync_group_response(Reader(rbody), 4) == (0, blob)


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(-1, 1 << 30), _member,
       st.one_of(st.none(), _member))
def test_heartbeat_v4_roundtrip(gid, gen, mid, iid):
    body = kw.enc_heartbeat_request(4, gid, gen, mid, group_instance_id=iid)
    assert kw.dec_heartbeat_request(Reader(body), 4) == (gid, gen, mid, iid)
    assert kw.dec_heartbeat_response(
        Reader(kw.enc_heartbeat_response(4, 27)), 4) == 27


@settings(max_examples=50, deadline=None)
@given(_topic, _member, st.sampled_from([0, 25]))
def test_leave_group_v4_roundtrip(gid, mid, err):
    body = kw.enc_leave_group_request(4, gid, mid)
    assert kw.dec_leave_group_request(Reader(body), 4) == (gid, [mid])
    rbody = kw.enc_leave_group_response(4, err, [mid])
    assert kw.dec_leave_group_response(Reader(rbody), 4) == err


_offsets = st.dictionaries(
    st.tuples(_topic, st.integers(0, 63)), st.integers(-1, 1 << 40),
    min_size=1, max_size=6)


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(-1, 1 << 30), _member, _offsets)
def test_offset_commit_v8_roundtrip(gid, gen, mid, offsets):
    body = kw.enc_offset_commit_request(8, gid, gen, mid, offsets)
    req = kw.dec_offset_commit_request(Reader(body), 8)
    assert req == {"group_id": gid, "generation": gen, "member_id": mid,
                   "group_instance_id": None, "offsets": offsets}
    results = {tp: 0 for tp in offsets}
    rbody = kw.enc_offset_commit_response(8, results)
    assert kw.dec_offset_commit_response(Reader(rbody), 8) == results


@settings(max_examples=50, deadline=None)
@given(_topic, _offsets)
def test_offset_fetch_v6_roundtrip(gid, offsets):
    wants = {}
    for (t, p) in offsets:
        wants.setdefault(t, []).append(p)
    body = kw.enc_offset_fetch_request(6, gid, wants)
    assert kw.dec_offset_fetch_request(Reader(body), 6) == (gid, wants)
    rbody = kw.enc_offset_fetch_response(6, offsets)
    assert kw.dec_offset_fetch_response(Reader(rbody), 6) == offsets


@settings(max_examples=50, deadline=None)
@given(st.one_of(st.none(), _topic), st.integers(0, 1 << 30),
       st.integers(0, 1 << 40), st.integers(0, 1 << 14))
def test_init_producer_id_v2_roundtrip(txn_id, timeout, pid, epoch):
    body = kw.enc_init_producer_id_request(2, txn_id, timeout)
    assert kw.dec_init_producer_id_request(Reader(body), 2) == (
        txn_id, timeout)
    rbody = kw.enc_init_producer_id_response(2, pid, epoch)
    assert kw.dec_init_producer_id_response(Reader(rbody), 2) == (pid, epoch)


@settings(max_examples=50, deadline=None)
@given(_topic, st.integers(0, 1 << 40), st.integers(0, 1 << 14),
       st.dictionaries(_topic, st.lists(st.integers(0, 63), min_size=1,
                                        max_size=4, unique=True),
                       min_size=1, max_size=4),
       st.booleans())
def test_txn_v3_codecs_roundtrip(txn_id, pid, epoch, tps, committed):
    body = kw.enc_add_partitions_to_txn_request(3, txn_id, pid, epoch, tps)
    assert kw.dec_add_partitions_to_txn_request(Reader(body), 3) == (
        txn_id, pid, epoch, tps)
    results = {t: {p: 0 for p in ps} for t, ps in tps.items()}
    rbody = kw.enc_add_partitions_to_txn_response(3, results)
    assert kw.dec_add_partitions_to_txn_response(Reader(rbody), 3) == results
    ebody = kw.enc_end_txn_request(3, txn_id, pid, epoch, committed)
    assert kw.dec_end_txn_request(Reader(ebody), 3) == (
        txn_id, pid, epoch, committed)
    assert kw.dec_end_txn_response(
        Reader(kw.enc_end_txn_response(3, 48)), 3) == 48
