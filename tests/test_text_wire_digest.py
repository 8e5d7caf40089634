"""SHA-256 digests pin the bytes of every JSON text wire frame.

The digests were taken from the encoders before the text protocols shared
one JSON writer (`functions/render.py`): the DML, DDL, key and watermark
frames of canal-json (with and without the TiDB extension), open-protocol,
simple, debezium (schema on and off) and avro-json, the redo record, the
simple-protocol BOOTSTRAP frame and the claim-check pointer, over the
sf0.01 events changelog and the typed sources. None of these inputs holds
text JSON must escape, so a digest changes only when a wire byte does.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from conftest import SF_DIR

# the sf0.01 corpus next to the suite's test corpus
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _cl(spark):
    from ticdc_spark.sources.changelog import events_changelog

    return events_changelog(spark, SF)


def _registered(name):
    def frame(spark):
        from ticdc_spark.queries import QUERIES

        return QUERIES[name](spark, SF)
    return frame


def _canal(**kw):
    def frame(spark):
        from ticdc_spark.codec.canal_json import encode_canal_json

        return encode_canal_json(_cl(spark), **kw).select("seq", "value")
    return frame


def _canal_watermark(spark):
    from ticdc_spark.codec.canal_json import canal_checkpoints

    return canal_checkpoints(_cl(spark))


def _open(**kw):
    def frame(spark):
        from ticdc_spark.codec.open_protocol import encode_open_protocol

        return encode_open_protocol(_cl(spark), **kw).select(
            "seq", "key", "value")
    return frame


def _open_checkpoint(spark):
    from ticdc_spark.codec.open_protocol import open_protocol_checkpoints

    return open_protocol_checkpoints(_cl(spark)).select("key", "value")


def _simple(spark):
    from ticdc_spark.codec.simple_protocol import encode_simple

    return encode_simple(_cl(spark)).select("seq", "value")


def _simple_watermark(spark):
    from ticdc_spark.codec.simple_protocol import watermark_messages

    return watermark_messages(_cl(spark))


def _bootstrap(spark):
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import compile_bootstrap

    return compile_bootstrap(_cl(spark), parse_changefeed_config(
        '[sink]\nprotocol = "simple"\n'))


def _debezium(**kw):
    def frame(spark):
        from ticdc_spark.codec.debezium import encode_debezium

        return encode_debezium(_cl(spark), **kw).select("seq", "value")
    return frame


def _debezium_full(**kw):
    def frame(spark):
        from ticdc_spark.codec.debezium import (encode_debezium_full,
                                                encode_debezium_key)

        ds = kw.get("disable_schema", True)
        return encode_debezium_key(
            encode_debezium_full(_cl(spark), **kw), disable_schema=ds,
        ).select("seq", "key", "value")
    return frame


def _debezium_watermark(disable_schema):
    def frame(spark):
        from ticdc_spark.codec.debezium import debezium_watermark_messages

        wm = spark.createDataFrame(
            [(1704067200000000,), (1704070800000000,)], "resolved_ts long")
        return debezium_watermark_messages(
            wm, disable_schema=disable_schema)
    return frame


def _avro_json(spark):
    from ticdc_spark.codec.avro_codec import encode_avro_json

    return encode_avro_json(_cl(spark)).select("seq", "value")


def _redo(spark):
    from ticdc_spark.sinks.redo import redo_log_files

    return redo_log_files(_cl(spark)).select("seq", "file_name", "value")


FRAMES = {
    "canal_dml": _canal(),
    "canal_dml_tidb": _canal(tidb_extension=True),
    "canal_ddl": _registered("canal_json_ddl"),
    "canal_watermark": _canal_watermark,
    "canal_rowkey": _registered("canal_rowkey_from_toml"),
    "canal_exotic": _registered("codec_canal_exotic"),
    "canal_temporal": _registered("codec_canal_temporal"),
    "canal_content_compatible": _registered("codec_canal_content_compatible"),
    "open_dml": _open(),
    "open_dml_no_old": _open(output_old_value=False),
    "open_ddl": _registered("open_protocol_ddl"),
    "open_checkpoint": _registered("open_protocol_checkpoint"),
    "open_checkpoint_frame": _open_checkpoint,
    "simple_dml": _simple,
    "simple_ddl": _registered("simple_ddl_messages"),
    "simple_watermark": _simple_watermark,
    "simple_bootstrap": _bootstrap,
    "simple_bootstrap_query": _registered("bootstrap_messages"),
    "debezium_dml": _debezium(),
    "debezium_dml_no_old": _debezium(output_old_value=False),
    "debezium_full": _debezium_full(),
    "debezium_full_schema": _debezium_full(disable_schema=False),
    "debezium_full_no_old": _debezium_full(output_old_value=False),
    "debezium_ddl": _registered("debezium_ddl"),
    "debezium_watermark": _debezium_watermark(True),
    "debezium_watermark_schema": _debezium_watermark(False),
    "avro_json": _avro_json,
    "redo_record": _redo,
    "claim_check": _registered("large_message_claim_check"),
}

DIGESTS = {
    "canal_dml":
        "a668b224591799e6a46b3a38ac6bd1e4dd7119fdfc8b9c65315e70638e8a7da9",
    "canal_dml_tidb":
        "97e2f619408658f7742844626c1865f887c0b9d4249891884a970463cc612d35",
    "canal_ddl":
        "a805660fa37b9aa0e214e545e00edf42d14d5d05d932b23254d981940aed302c",
    "canal_watermark":
        "e39b65c25eb3d689573e54780f374a58bd4ba8848cc0d18aa10dc77f6341d8f5",
    "canal_rowkey":
        "ea5d0ab224afc6ba7f549f2946b4ae20e640f9731c8d5ba65734481a0a94992a",
    "canal_exotic":
        "9ec8c59b731728d5148bb0206b9097601ebb74adb0a6e2369ede90e33dc8a5eb",
    "canal_temporal":
        "e73fa044c383fb25addd6686746da42be264f81d8da41c4c01373823f614815c",
    "canal_content_compatible":
        "9d29ac1be83d1e4714a2356ecf4d73c85aa20a92deb4f36536ae1f62c69c60da",
    "open_dml":
        "cb1b794462b700ddf28998461e22f229ed456e0baf1cfb909a295fe7797d8f65",
    "open_dml_no_old":
        "4da85d6312ed5b276cabea6a5c1df30096721b073352a3a874e1b488dc782ae9",
    "open_ddl":
        "c02a82add1e4381be785fa2bd53106d4b1525785bd41a49ca9d4d0d31a95fc20",
    "open_checkpoint":
        "0b18a116285947e3d080bb64c63e880a93de2095da4042070078aa853345ef65",
    "open_checkpoint_frame":
        "f6334944ccd3f6bd1788f5e7dfa6d03dfa8ad65a1668ee4f24ea06bddc91669d",
    "simple_dml":
        "c42975cd816ec0d18ade1b9fbf4874186cabe879e1becb8ed4af28c449cc75a9",
    "simple_ddl":
        "5a493151c05504550eb5f7434ca46509909d494e6ac0556c95a534fd207cb9bc",
    "simple_watermark":
        "3afdb4c2250a6d396ea41aad23539a7e4dbd2a93ee66bbff662ba7aa332305cb",
    "simple_bootstrap":
        "e99b7fd4390b569853cc5d927de7884aa2f3517ebe0b6e9c95292e8aa5a2d093",
    "simple_bootstrap_query":
        "bffe39adb34c191f9cb2a57d22f31f3734e6674c3cf14ab6d0681236c491cb39",
    "debezium_dml":
        "b6943a52ce5f5f78cb05964f86883a0595eb1b88a25de6de6e1a8b9e6e828984",
    "debezium_dml_no_old":
        "790ccabf98e97548a0a79d3dd05e28c4b34742880fa9efa2801805292a273266",
    "debezium_full":
        "d39791c3b117097866b38e5054d5eae1ac9139ddb0185bfacf132e3a9a631911",
    "debezium_full_schema":
        "6f6f1916570bc124ba9ce0ccd9e7e1a8e5b3605a6a1e2dbbfbdb93422b74f3fe",
    "debezium_full_no_old":
        "c04bf6e8ef874a4b1ecc8368b985d49653878eb7daf06f36aa0465a890677010",
    "debezium_ddl":
        "a67db94bf2707426ded3989d5b6bd954cbe80a6e98cd5e0a7b0085acc6352bf4",
    "debezium_watermark":
        "1dda33bf223c485302dd0d8d3223cb2c6dc4afde9c524a072dc14b12bb47f5f9",
    "debezium_watermark_schema":
        "cddfe814b4d478ad5b5a9314d9f19db9ed6264ee2be4c8d4fbda5bc4762cfaea",
    "avro_json":
        "2505a7db45a9f58212d0515ce8061226c465a20e2af87391f32554ef13f893e9",
    "redo_record":
        "ff3b5756f3c6e4fc7a0eb870a0166d3746edbb3e0b04318bbe17878e9871584d",
    "claim_check":
        "1d0aaa192c109c2b0782ca454018b1bc0903bdba1212633887fc833c49d08c3f",
}


def _digest(df) -> str:
    lines = sorted("\x1f".join(repr(v) for v in r) for r in df.collect())
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(FRAMES))
def test_frame_bytes_unchanged(spark, name):
    assert _digest(FRAMES[name](spark)) == DIGESTS[name]
