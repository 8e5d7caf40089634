"""The changefeed config key table (``config.KEYS``): every key is read,
delegated to Spark, or refused — and the table itself is the guard
against config fields that nothing reads."""

from __future__ import annotations

import ast
import dataclasses
import json
import pathlib

import pytest

from ticdc_spark.config import (KEYS, READ, REFUSED, SPARK,
                                parse_changefeed_config, parse_duration_us)
from ticdc_spark.pipeline import ChangefeedConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "ticdc_spark"
SURVEY = PKG.parent / "SURVEY.md"

#: fields no config key fills: set by the pipeline's callers
#: (``compact``, ``handle_key_fields``) or derived from other keys
#: (``split_updates``: output-raw-change-event)
INTERNAL_FIELDS = {"split_updates", "compact", "handle_key_fields"}

#: a legal, non-default value for the refused keys whose validator is an
#: enum (the others are derived from the default's type)
OTHER_VALUE = {"performance-mode": "low-latency",
               "avro-decimal-handling-mode": "string",
               "avro-bigint-unsigned-handling-mode": "string",
               "tidb-txn-mode": "pessimistic"}


def _fields(key) -> tuple[str, ...]:
    return key.field if isinstance(key.field, tuple) else (key.field,)


def _name(key) -> str:
    return key.uri[0] if key.uri else key.toml[0].rsplit(".", 1)[-1]


def _scan():
    """(names and attributes loaded outside config.py, attributes each
    config.py function loads, string constants in ticdc_spark outside
    the KEYS table)."""
    outside, inside, strings = set(), {}, set()
    config_py = PKG / "config.py"
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        skip: set[int] = set()
        if path == config_py:
            table = next(n for n in tree.body if isinstance(n, ast.AnnAssign)
                         and getattr(n.target, "id", "") == "KEYS")
            skip = {id(n) for n in ast.walk(table)}
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef):
                    inside[fn.name] = {
                        n.attr for n in ast.walk(fn)
                        if isinstance(n, ast.Attribute)}
        for n in ast.walk(tree):
            if id(n) in skip:
                continue
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                strings.add(n.value)
            elif path == config_py:
                continue
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                outside.add(n.attr)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                outside.add(n.id)
            elif (isinstance(n, ast.Call)
                    and getattr(n.func, "id", "") == "getattr"
                    and len(n.args) > 1
                    and isinstance(n.args[1], ast.Constant)):
                outside.add(n.args[1].value)
    return outside, inside, strings


def _other(key):
    """A value the key's validator accepts that is not its default."""
    name = _name(key)
    if name in OTHER_VALUE:
        return OTHER_VALUE[name]
    d = key.default
    if isinstance(d, bool):
        return not d
    if isinstance(d, int):
        return d + 1
    try:
        parse_duration_us(d)
        return "7s"
    except ValueError:
        return "x"


def _toml(path: str, value) -> str:
    table, _, leaf = path.rpartition(".")
    line = f"{leaf} = {json.dumps(value)}\n"
    return f"[{table}]\n{line}" if table else line


def _uri(key, param: str, value) -> str:
    scheme = key.schemes[0] if key.schemes else "kafka"
    text = str(value).lower() if isinstance(value, bool) else value
    return f'sink-uri = "{scheme}://h:1/t?{param}={text}"\n'


def test_every_row_has_one_disposition():
    for key in KEYS:
        assert key.disposition in (READ, SPARK, REFUSED), key
        assert key.toml or key.uri, key
        assert key.ref and key.note, key
        # a read key names its field; the others fill none
        assert (key.field is not None) == (key.disposition == READ), key


def test_each_spelling_has_one_row():
    """One row per TOML path, and per URI param on each scheme: each
    key's validation is written once."""
    paths = [p for k in KEYS for p in k.toml]
    assert len(paths) == len(set(paths))
    seen: dict[str, list[tuple]] = {}
    for key in KEYS:
        for p in key.uri:
            for other in seen.get(p, []):
                assert key.schemes and other and not set(key.schemes) & set(
                    other), f"URI param {p} in two rows"
            seen.setdefault(p, []).append(key.schemes)


def test_every_read_field_has_a_reader():
    """A read field is loaded outside config.py, or by the config.py
    helper its row names (``config.mysql_batch_options`` …), which is
    itself called outside config.py; a sub-config key's reader spells
    the key."""
    outside, inside, strings = _scan()
    for key in KEYS:
        if key.disposition != READ:
            continue
        helper = key.note.split()[0].removeprefix("config.")
        for f in _fields(key):
            attr, _, sub = f.partition(".")
            if key.note.startswith("config."):
                assert attr in inside[helper] and helper in outside, key
            else:
                assert attr in outside, (
                    f"{attr} ({key.toml or key.uri}) is never read outside "
                    "config.py")
            if sub:
                assert sub in strings, f"nothing reads {f}"


def test_every_field_belongs_to_a_read_row():
    covered = {f.partition(".")[0] for k in KEYS if k.disposition == READ
               for f in _fields(k)}
    fields = {f.name for f in dataclasses.fields(ChangefeedConfig)}
    assert fields - covered == INTERNAL_FIELDS
    assert covered <= fields


def test_every_spark_row_cites_a_survey_line():
    import re

    lines = SURVEY.read_text().splitlines()
    for key in KEYS:
        if key.disposition != SPARK:
            continue
        m = re.search(r"SURVEY\.md:(\d+)", key.note)
        assert m, key
        assert lines[int(m.group(1)) - 1].strip(), key
        # the reference default is accepted from every spelling
        for path in key.toml if key.default is not None else ():
            parse_changefeed_config(_toml(path, key.default))


@pytest.mark.parametrize(
    "key", [k for k in KEYS if k.disposition == REFUSED], ids=_name)
def test_every_refused_key_raises_with_its_name(key):
    other = _other(key)
    for path in key.toml:
        parse_changefeed_config(_toml(path, key.default))
        with pytest.raises(ValueError, match=path.rsplit(".", 1)[-1]):
            parse_changefeed_config(_toml(path, other))
    for param in key.uri:
        if key.default not in ("", None):
            parse_changefeed_config(_uri(key, param, key.default))
        with pytest.raises(ValueError, match=param):
            parse_changefeed_config(_uri(key, param, other))


def test_spark_keys_keep_their_bounds():
    """A Spark key's value is dropped, but its reference validation
    still raises."""
    for toml, match in (("event-collector-batch-count = -1\n",
                         "not smaller than 0"),
                        ("event-collector-batch-count = 9000\n",
                         "not larger than 8192"),
                        ("event-collector-batch-bytes = -1\n",
                         "not smaller than 0")):
        with pytest.raises(ValueError, match=match):
            parse_changefeed_config(toml)
    with pytest.raises(ValueError, match="worker-count"):
        parse_changefeed_config('sink-uri = "mysql://h/?worker-count=0"\n')


def test_produce_options_default_to_the_plain_wire():
    """An empty kafka-config keeps today's wire: client id ticdc-spark,
    acks -1, no SASL, no TLS."""
    from ticdc_spark.sinks.kafka_live import produce_options

    for cfg in (ChangefeedConfig(sink_uri="kafka://h:9092/t"),
                parse_changefeed_config('sink-uri = "kafka://h:9092/t"\n')):
        assert produce_options(cfg) == {
            "sasl": None, "client_id": "ticdc-spark", "acks": -1,
            "kafka_version": None, "tls_ca": None, "tls_insecure": False,
            "tls_client_cert": None}
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://h:9092/t?required-acks=1&kafka-client-id=c7'
        '&kafka-version=2.8.0&sasl-mechanism=plain&sasl-user=u'
        '&sasl-password=p"\n')
    opts = produce_options(cfg)
    assert (opts["acks"], opts["client_id"], opts["kafka_version"],
            opts["sasl"]) == (1, "c7", "2.8.0", ("PLAIN", "u", "p"))
    # TLS with neither a CA nor insecure-skip-verify is refused, not sent
    # in plaintext
    with pytest.raises(ValueError, match="enable-tls"):
        produce_options(parse_changefeed_config(
            'sink-uri = "kafka+ssl://h:9092/t"\n'))


def test_error_stuck_duration_reaches_the_backoff(tmp_path, monkeypatch):
    """A feed configured with 31m is failed after 31 minutes of errors
    on a fake clock, not after the default 30."""
    from ticdc_spark.streaming import backoff
    from ticdc_spark.streaming.changefeed import Changefeed
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    now = [0.0]
    real = backoff.ChangefeedBackoff
    monkeypatch.setattr(backoff, "ChangefeedBackoff",
                        lambda stuck_s: real(stuck_s, clock=lambda: now[0]))

    def fail(self, spark, sf_dir, available_now=True):
        raise IOError("downstream unreachable")

    monkeypatch.setattr(Changefeed, "start", fail)
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf-stuck", 'changefeed-error-stuck-duration = "31m"\n')
    for t, state in ((0.0, "warning"), (30 * 60 + 1.0, "warning"),
                     (31 * 60 + 1.0, "failed")):
        now[0] = t
        with pytest.raises(IOError):
            reg.run("cf-stuck", None, "")
        assert reg.list()["cf-stuck"] == state, t
