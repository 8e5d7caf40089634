"""Live cloud-storage sink: the K4 file layout over the real S3 REST API.

Composes the storage sink path layout (`sinks/storage.py`) with the
in-process S3 endpoint: every Spark partition materializes its
(path, file_name) groups into CSV objects and PUTs them with SigV4-signed
requests; the consumer lists the bucket back through real ListObjectsV2
pagination and GETs each object from executor tasks — the
`downstreamadapter/sink/cloudstorage` deployment shape with the SDK
replaced by this repo's own wire client.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.arrow_rows import map_batches
from ticdc_spark.sinks.writer import (SUMMARY_SCHEMA, RetryPolicy, TaskWriter,
                                      transient)

_LIVE_SERVERS: list = []

BUCKET = "cdc"


def start_server(scheme: str = "s3"):
    """One live endpoint per storage scheme: s3 (SigV4/XML), gcs (Bearer/
    JSON API), azblob (SharedKey/XML) — the three URI families the
    reference's external-storage lib speaks
    (`pkg/config/sink_protocol.go:133-139`).  Returns (server, cred1,
    cred2): access-key/secret for s3, token/"" for gcs,
    account/shared-key for azblob."""
    if scheme == "s3":
        from ticdc_spark.sinks.s3_server import MiniS3Server

        srv = MiniS3Server().start()
        creds = (srv.access_key, srv.secret_key)
    elif scheme in ("gcs", "gs"):
        from ticdc_spark.sinks.gcs_server import MiniGCSServer

        srv = MiniGCSServer().start()
        creds = (srv.token, "")
    elif scheme in ("azblob", "azure"):
        from ticdc_spark.sinks.azblob_server import MiniAzureBlobServer

        srv = MiniAzureBlobServer().start()
        creds = (srv.account, srv.key_b64)
    else:
        raise ValueError(f"unknown storage scheme {scheme!r}")
    _LIVE_SERVERS.append(srv)
    return srv, creds[0], creds[1]


def _client(srv_endpoint: str, cred1: str, cred2: str, scheme: str = "s3"):
    """Scheme-dispatched wire client; all three share the
    put_object/get_object/list_objects surface."""
    if scheme == "s3":
        from ticdc_spark.sinks.s3_client import S3Client

        return S3Client(srv_endpoint, cred1, cred2)
    if scheme in ("gcs", "gs"):
        from ticdc_spark.sinks.gcs_server import GCSClient

        return GCSClient(srv_endpoint, token=cred1)
    if scheme in ("azblob", "azure"):
        from ticdc_spark.sinks.azblob_server import AzBlobClient

        return AzBlobClient(srv_endpoint, account=cred1, key_b64=cred2)
    raise ValueError(f"unknown storage scheme {scheme!r}")


# per-worker connection pool (guide §4.5: heavyweight init once per
# task, cached across tasks via worker reuse).  Keyed by pid so a
# forked worker never inherits a parent's socket; endpoints are unique
# per server instance (ephemeral port), so a stale entry is at worst
# reconnected by the caller's retry path.
_CLIENT_POOL: dict = {}


def _pooled_client(endpoint: str, cred1: str, cred2: str, scheme: str):
    import os as _os

    key = (_os.getpid(), endpoint, cred1, cred2, scheme)
    c = _CLIENT_POOL.get(key)
    if c is None:
        if len(_CLIENT_POOL) > 64:  # bound sockets held by a long worker
            # dicts keep insertion order: evict the oldest client
            _CLIENT_POOL.pop(next(iter(_CLIENT_POOL))).close()
        c = _client(endpoint, cred1, cred2, scheme)
        _CLIENT_POOL[key] = c
    return c


#: the connectors' retry budget, with a shorter backoff
RETRY = RetryPolicy(max_tries=6, base_delay=0.05, max_delay=1.0)


def uploader(endpoint: str, cred1: str, cred2: str, scheme: str,
             multipart_threshold: int, part_size: int) -> TaskWriter:
    """A storage task's writer; ``send([(key, data), ...])`` PUTs the
    objects pipelined.  An object above ``multipart_threshold``, sent
    alone, goes multi-part, and its resume handle survives reconnects."""
    from ticdc_spark.sinks.s3_client import S3Error

    handles: dict = {}  # key -> resume handle of its large upload

    def send(client, items) -> None:
        if len(items) > 1 or len(items[0][1]) <= multipart_threshold:
            client.put_objects(BUCKET, items)
            return
        (key, data), = items
        if key not in handles:
            handles[key] = client.open_large(BUCKET, key)
        try:
            client.put_object_large(BUCKET, key, data, part_size,
                                    handles[key])
        except S3Error as exc:
            if exc.code != "NoSuchUpload":
                raise
            # the Complete committed but its response was lost: verify
            # on a fresh connection that the object landed whole
            # instead of failing (idempotent completion)
            with _client(endpoint, cred1, cred2, scheme) as fresh:
                if fresh.head_object(BUCKET, key) != len(data):
                    raise
        del handles[key]

    return _store_writer(endpoint, cred1, cred2, scheme, send)


def _store_writer(endpoint: str, cred1: str, cred2: str, scheme: str,
                  send) -> TaskWriter:
    """A writer over the worker's pooled client.  It retries ``OSError``
    (the wire, GCS and Azure errors) and ``S3Error`` (a 503 SlowDown);
    anything else (a bad part size's ``ValueError``) is permanent."""
    from ticdc_spark.sinks.s3_client import S3Error

    return TaskWriter(lambda: _pooled_client(endpoint, cred1, cred2, scheme),
                      send, transient(OSError, S3Error), RETRY)


def put_files(files: DataFrame, endpoint: str, access_key: str,
              secret_key: str, scheme: str = "s3",
              multipart_threshold: int = 8 * 1024 * 1024,
              part_size: int = 8 * 1024 * 1024,
              header: str | None = None,
              spool_conf: dict | None = None) -> list:
    """files: rows carrying (path, file_name, value [, ordering cols]).
    One object per (path, file_name), rows joined in replay-key order;
    returns the tasks' SUMMARY_SCHEMA rows.  Each task uploads through
    its ``uploader`` writer.

    Objects above ``multipart_threshold`` go through the scheme's
    multi-part path (S3 CreateMultipartUpload/UploadPart/Complete, GCS
    resumable session, Azure Put Block/Put Block List) in ``part_size``
    chunks — real S3 caps a single PUT at 5 GiB and the reference
    streams large redo/storage files through a multipart writer
    (`pkg/redo/writer/memory/file_worker.go:197-203`), so a 100-TB run
    with file-size rotation must not single-shot large objects.

    ``spool_conf`` ([sink.cloud-storage-config] spool-base-dir /
    spool-disk-quota, `pkg/config/sink.go:736-737`; package
    `downstreamadapter/sink/cloudstorage/spool/`): encoded files are
    ENQUEUED into a per-partition local-disk spool and uploaded from
    it — under a slow/stalling object store the writer keeps accepting
    batches (memory below the ratio, disk up to the quota) instead of
    blocking; a stall error parks the batch and the drain retries.
    Keys: ``base-dir`` (executor-local root), ``disk-quota`` (bytes),
    optional ``segment-capacity``/``stall-wait-s``."""
    cols = files.columns
    order = [c for c in ("commit_ts", "dml_order", "seq") if c in cols]
    shaped = (
        files.repartition("path", "file_name")
        .sortWithinPartitions("path", "file_name", *order)
        .select("path", "file_name", "value")
    )

    def _put(batches):
        cur: tuple[str, str] | None = None
        buf: list[str] = []
        # not entered as a context: the pooled client outlives the task
        w = uploader(endpoint, access_key, secret_key, scheme,
                     multipart_threshold, part_size)

        # ---- spool-backed writer ------------------------------------
        sp = None
        queued: list = []  # (key, entry) awaiting upload

        if spool_conf is not None:
            import os as _os

            from pyspark import TaskContext

            from ticdc_spark.sinks import spool as _spool

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            sp = _spool.Spool(
                changefeed=f"part-{pid}",
                root_dir=_os.path.join(
                    spool_conf.get("base-dir", "/tmp/ticdc-spark-spool"),
                    "cloudstorage-sink-spool"),
                disk_quota_bytes=int(spool_conf.get("disk-quota", 0)),
                segment_capacity=int(
                    spool_conf.get("segment-capacity", 0)))

        def drain(tries: int | None = None):
            """Upload every spooled entry, releasing its quota."""
            while queued:
                key, entry = queued[0]
                msgs = sp.read_messages(entry)
                for _k, value, _rows in msgs:
                    w.send([(key, value)], tries)
                sp.release(entry)
                queued.pop(0)

        # single-shot objects batch up and go out PIPELINED (one round
        # trip per window) — the per-request convoy against the single-
        # GIL endpoint measured 3x slower than the pipelined wire;
        # multipart/spool objects keep the per-object path
        pending: list = []  # [(key, data)] awaiting a pipelined PUT
        pending_bytes = 0

        def flush_pending():
            nonlocal pending, pending_bytes
            if not pending:
                return
            items, pending, pending_bytes = pending, [], 0
            try:
                w.send(items, tries=1)
            except Exception as exc:  # noqa: BLE001 — fall back per item
                # with the full retry budget
                if not w.retryable(exc):
                    raise
                for item in items:
                    w.send([item])

        def flush():
            nonlocal pending_bytes
            if cur is None or not buf:
                return
            # output-field-header (`csv_encoder.go:46-48`): the header
            # line opens every file, before the first record
            data = ((header or "") + "\n".join(buf) + "\n").encode("utf-8")
            key = f"{cur[0]}/{cur[1]}"
            if sp is None:
                if len(data) > multipart_threshold:
                    flush_pending()  # keep object order within the task
                    w.send([(key, data)])
                else:
                    pending.append((key, data))
                    pending_bytes += len(data)
                    if len(pending) >= 64 or pending_bytes >= 8 * 1024 * 1024:
                        flush_pending()
                return
            msgs = [(key.encode(), data, len(buf))]
            # TrySend shape (`spool.go:406-435` + writer loop): a spill
            # past the disk quota forces a drain, then waits for room
            action, entry = sp.try_enqueue(msgs)
            if action == _spool.WAIT_DISK_QUOTA:
                drain()
                if not sp.wait_for_disk_quota(
                        msgs, timeout=float(
                            spool_conf.get("stall-wait-s", 60))):
                    raise IOError(
                        "spool disk quota exhausted and no room freed "
                        f"(quota {sp._budget.disk_quota} bytes)")
                action, entry = sp.try_enqueue(msgs)
            queued.append((key, entry))
            if action == _spool.ACCEPTED_OVERSIZED:
                # an entry bigger than the whole quota flushes NOW
                drain()
                return
            # opportunistic drain: upload when the store is healthy,
            # but absorb (keep spooling) while it stalls — one attempt,
            # no backoff; the final drain carries the full retry budget
            try:
                drain(tries=1)
            except Exception:  # noqa: BLE001 — stalled store: park it
                pass

        try:
            # rows arrive as Arrow batches of Python lists (not pickled
            # Row objects — guide §4.1: the boundary crossing scales
            # with row count, Arrow is the cheap way across); group
            # boundaries carry over between batches via cur/buf
            for c in batches:
                w.tally(c)
                for p, fn, v in zip(c["path"], c["file_name"], c["value"]):
                    key = (p, fn)
                    if key != cur:
                        flush()
                        cur = key
                        buf = []
                    buf.append(v)
            flush()
            flush_pending()
            if sp is not None:
                drain()  # final drain must succeed (full retry budget)
        finally:
            if sp is not None:
                sp.close()
        yield list(w.summary())

    # the summary materializes every partition (the upload is the side
    # effect, exactly as foreachPartition ran it — but rows cross the
    # JVM→Python boundary as Arrow batches instead of pickled Rows)
    return map_batches(shaped, _put, SUMMARY_SCHEMA).collect()


def get_files_df(
    spark: SparkSession, endpoint: str, access_key: str, secret_key: str,
    list_page_size: int = 64, scheme: str = "s3",
) -> DataFrame:
    """List the bucket (real continuation-token pages) and GET every
    object from executor tasks -> (path, value) rows, one per CSV line."""
    with _client(endpoint, access_key, secret_key, scheme) as c:
        keys = [k for k, _ in c.list_objects(BUCKET, max_keys=list_page_size)]
    # fan-out follows the cluster, not a constant: one task wave (each
    # task = one connection + a few GETs); a hard-coded 64 ran TWO
    # waves of worker+connection setup on 32 cores and under-splits a
    # big cluster (guide §2 — derive partitioning from the env).
    # A bare LocalRelation already splits its rows round-robin over
    # leafNodeDefaultParallelism slices — balanced, and one Exchange
    # less than the old repartition("key") (guide §2.4), which hashed
    # ~150 keys into 32 buckets leaving some tasks with 2-3x the median.
    kdf = spark.createDataFrame([(k,) for k in keys], "key string")

    def _get(batches):
        reader = _store_writer(
            endpoint, access_key, secret_key, scheme,
            lambda client, keys: client.get_objects(BUCKET, keys))
        for c in batches:
            batch_keys = c["key"]
            if not batch_keys:
                continue
            # a stale pooled socket reconnects once
            bodies = reader.send(batch_keys, tries=2)
            rows = [(key.rsplit("/", 1)[0], ln)
                    for key, body in zip(batch_keys, bodies)
                    for ln in body.decode("utf-8").split("\n") if ln]
            if rows:
                yield rows

    return map_batches(kdf, _get, "path string, value string")


def storage_live_roundtrip(cl_split: DataFrame,
                           scheme: str = "s3",
                           multipart_threshold: int = 8 * 1024 * 1024,
                           part_size: int = 8 * 1024 * 1024,
                           cfg=None) -> DataFrame:
    """CSV-encode -> path layout -> authenticated PUT over the scheme's
    real REST dialect -> paginated list + GET -> storage-consumer decode
    -> replayed state.  The path layout is scheme-independent; only the
    wire dialect (SigV4/XML vs Bearer/JSON vs SharedKey/XML) changes.

    ``cfg`` (a ChangefeedConfig, optional): applies the [sink.csv]
    options to the encode and — when ``output-field-header`` is set —
    builds the header line (`csv_encoder.go:46-48`) and threads it to
    ``put_files`` so every data file opens with it."""
    from ticdc_spark.codec.csv_codec import encode_csv
    from ticdc_spark.sinks.consumer import decode_csv_storage, replay_to_state
    from ticdc_spark.sinks.storage import storage_paths

    spark = cl_split.sparkSession
    srv, cred1, cred2 = start_server(scheme)
    header = None
    if cfg is not None:
        from ticdc_spark.codec.csv_codec import csv_encode_kwargs
        from ticdc_spark.pipeline import storage_file_header

        encoded = encode_csv(cl_split, **csv_encode_kwargs(cfg.csv_config))
        header = storage_file_header(
            cfg, cl_split.schema["after"].dataType, line_terminator="\n")
    else:
        encoded = encode_csv(cl_split)
    files = storage_paths(encoded)
    put_files(files, srv.endpoint, cred1, cred2, scheme=scheme,
              multipart_threshold=multipart_threshold, part_size=part_size,
              header=header,
              spool_conf=(spool_conf_from_cfg(cfg)
                          if cfg is not None else None))
    fetched = get_files_df(spark, srv.endpoint, cred1, cred2, scheme=scheme)
    return replay_to_state(
        decode_csv_storage(fetched, cl_split.schema["after"].dataType))


def storage_live_s3_roundtrip(cl_split: DataFrame) -> DataFrame:
    return storage_live_roundtrip(cl_split, scheme="s3")


def spool_conf_from_cfg(cfg) -> dict | None:
    """[sink.cloud-storage-config] spool-base-dir/spool-disk-quota
    (`pkg/config/sink.go:736-737`) → the ``put_files`` spool_conf;
    None when the spool is not configured."""
    st = (cfg.cloud_storage_config or {})
    base = st.get("spool-base-dir")
    if not base:
        return None
    return {"base-dir": base,
            "disk-quota": int(st.get("spool-disk-quota", 0) or 0)}
