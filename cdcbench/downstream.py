"""Downstream stand-ins (Kafka broker, MySQL server) in their own process.

A real downstream runs on its own machine; here it runs in a child
process so its CPU is not charged to the driver's interpreter lock, and
``/proc/<pid>`` tells its cost apart from the engine's.  The parent talks
to it over stdin/stdout, one JSON object per line:

    {"cmd": "kafka"}                     -> {"bootstrap": "127.0.0.1:port"}
    {"cmd": "kafka_bytes", "bootstrap"}  -> {"bytes": stored batch bytes}
    {"cmd": "kafka_records", "bootstrap", "skip"}
                                         -> {"records": stored records whose
                                             value does not contain skip}
    {"cmd": "mysql"}                     -> {"host": ..., "port": ...}
    EOF or {"cmd": "quit"}               -> stops every endpoint and exits

``kafka`` and ``mysql`` start a fresh, empty endpoint, so each benchmark
pass writes into an empty downstream; earlier endpoints stay up until the
process exits, so every pass can be checked after the timed window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

MYSQL_USER = "root"
MYSQL_PASSWORD = "cdc-bench"
KAFKA_PARTITIONS = 16


def data_records(broker, skip: bytes) -> int:
    """Records ``broker`` stores whose value does not contain ``skip``;
    raises unless each partition's offsets run 0, 1, ... without a gap."""
    from ticdc_spark.codec.kafka_wire import decode_record_batches

    n = 0
    for topic, parts in broker.topics.items():
        for partition, log in parts.items():
            expect = 0
            for raw in list(log.batches):
                for base, records in decode_record_batches(raw):
                    if base != expect:
                        raise ValueError(f"offset gap on {topic}/{partition}: "
                                         f"{base} != {expect}")
                    expect = base + len(records)
                    n += sum(skip not in (r.value or b"") for r in records)
    return n


def _serve() -> None:
    brokers: dict = {}
    servers: list = []
    try:
        for line in sys.stdin:
            req = json.loads(line)
            cmd = req["cmd"]
            if cmd == "quit":
                break
            try:
                reply = _handle(req, brokers, servers)
            except Exception as e:  # noqa: BLE001 — reported to the caller
                reply = {"error": repr(e)}
            sys.stdout.write(json.dumps(reply) + "\n")
            sys.stdout.flush()
    finally:
        for endpoint in [*brokers.values(), *servers]:
            endpoint.stop()


def _handle(req: dict, brokers: dict, servers: list) -> dict:
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.mysql_server import MiniMySQLServer

    cmd = req["cmd"]
    if cmd == "kafka":
        broker = KafkaBroker(default_partitions=KAFKA_PARTITIONS,
                             flexible_only=True).start()
        brokers[broker.bootstrap] = broker
        return {"bootstrap": broker.bootstrap}
    if cmd == "kafka_bytes":
        topics = brokers[req["bootstrap"]].topics
        return {"bytes": sum(len(b) for parts in topics.values()
                             for log in parts.values() for b in log.batches)}
    if cmd == "kafka_records":
        return {"records": data_records(brokers[req["bootstrap"]],
                                        req["skip"].encode())}
    if cmd == "mysql":
        srv = MiniMySQLServer(user=MYSQL_USER, password=MYSQL_PASSWORD).start()
        servers.append(srv)
        return {"host": srv.host, "port": srv.port}
    return {"error": f"unknown command {cmd}"}


class Downstream:
    """Parent-side handle on the stand-in process."""

    def __init__(self, root: str):
        env = dict(os.environ, PYTHONPATH=root)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)], cwd=root, env=env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    @property
    def pid(self) -> int:
        return self.proc.pid

    def call(self, cmd: str, **args) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"downstream stand-in exited on {cmd!r}")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(reply["error"])
        return reply

    def cpu_s(self) -> float:
        """User + system CPU seconds the stand-in process has used."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


if __name__ == "__main__":
    _serve()
