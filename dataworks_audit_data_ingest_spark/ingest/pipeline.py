"""The ingest pipeline: Spark-first rebuild of the reference's driver loop
(`audit_data_ingest.py:36-68` and the CLI block `:235-313`).

Shape (SURVEY.md §3.4): top-level listing of the source on the driver,
keeping ``yyyy-MM-dd`` directories strictly after the watermark → one
``binaryFile`` scan of all those directories together (``day`` and
``basename`` by ``file_columns``, the stream's projection) → fused
compress+encrypt+upload (Arrow-batched ``mapInPandas``, per-object
envelope metadata) → ONE Spark job per run, however many days are new →
the watermark committed day by day, in ascending order, from the audit
rows. A run is all-or-nothing: a failed job commits none of its days, and
the next run uploads them again to the same keys.

This module also owns the S3 side of the object contract, once: the client
(``s3_client``), the key layout (``object_key`` / ``parse_object_key``),
the prefix listing (``list_objects``), the day rule (``_parse_day`` on the
driver, ``file_columns`` in SQL) and the per-object envelope → key → put
routine shared by the blob kernel and the large-file kernel.

What the reference hand-rolled and Spark absorbs (SURVEY.md §4):
- `hdfs dfs -ls` subprocess (`:134-139`) → one ``FileSystem.listStatus``
  of the top level through the session's Hadoop configuration
  (``list_new_days``); only the new days' directories are scanned
- `copyToLocal` staging + cleanup (`:153-166`, `:207-210`) → eliminated;
  executors read source splits directly
- ThreadPoolExecutor fan-out (`:82-90`) → split in two: Spark tasks
  follow bytes (``encrypt_and_upload`` coalesces its input by Spark's
  core-aware split rule over Catalyst's size estimate, pricing a Python
  task's fixed cost where Spark prices a file open), and inside each task
  a thread pool as wide as the S3 client's connection pool overlaps the
  PUTs, as the reference's per-file pool did
- per-day loop with an all-or-nothing day verdict (`:36-68`, `:96-104`) →
  one job for all new days, whose success or failure is the verdict of the
  whole run
"""

from __future__ import annotations

import base64
import io
import logging
import re
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df
from ..session import max_partition_bytes, tune
from .crypto import EnvelopeEncryptor
from .watermark import find_start_date, update_progress_file

logger = logging.getLogger(__name__)

# A day directory name: a zero-padded yyyy-MM-dd (year 0000 does not exist).
# One pattern for the driver (``_parse_day``) and SQL (``file_columns``).
_DAY_NAME = r"(?!0000)[0-9]{4}-[0-9]{2}-[0-9]{2}"

# No separator inserted after the prefix; the suffix says .gz but the framing
# is zlib (`audit_data_ingest.py:117,:172-173`; quirks 1 & 5).
_KEY_SUFFIX = ".gz.enc"

_ENC_SCHEMA = (
    "day string, basename string, ciphertext binary, "
    "iv string, encrypted_key string, key_id string"
)

_AUDIT_SCHEMA = "day string, basename string, s3_key string, n_bytes long"


@dataclass
class IngestConfig:
    """Job config tuple — (source, prefix, watermark-id) parameterization,
    mirroring how the reference deploys the same script for audit and
    equalities datasets (`ci/meta.yml:179-186`, SURVEY.md §3.3)."""

    src_dir: str
    s3_bucket: str
    # NB: concatenated to the day with NO inserted '/' — the prefix carries
    # its own trailing separator (`audit_data_ingest.py:172-173`, quirk 5).
    s3_prefix: str
    hsm_key_id: str  # "cloudhsm:privkeyid:pubkeyid" format (`:267-271`)
    rsa_public_key_pem: bytes
    progress_file: str
    aws_region: str = "eu-west-2"  # CLI default (`:275-280`)
    retries: int = 10  # botocore standard mode (`:190-197`, `:260-265`)
    s3_endpoint_url: str | None = None  # test seam (moto)
    extra_boto_kwargs: dict = field(default_factory=dict)


def fetch_hsm_key(
    param_name: str, region: str, endpoint_url: str | None = None
) -> bytes:
    """SSM-parameter fetch of the base64 RSA public key, driver-side once per
    run (`audit_data_ingest.py:200-204`; decoded at `:78`). The decoded bytes
    travel to executors via task closures (the broadcast analog of `:86-88`)."""
    import boto3

    ssm = boto3.client("ssm", region_name=region, endpoint_url=endpoint_url)
    value = ssm.get_parameter(Name=param_name, WithDecryption=True)["Parameter"][
        "Value"
    ]
    return base64.b64decode(value)


def s3_client(cfg: IngestConfig):
    """The S3 client of every ingest, decrypt and rotate task and listing:
    the configured region and endpoint, botocore standard-mode retries
    (`audit_data_ingest.py:169-197`)."""
    import boto3
    from botocore.config import Config

    config = Config(retries={"max_attempts": cfg.retries, "mode": "standard"})
    return boto3.client("s3", region_name=cfg.aws_region, config=config,
                        endpoint_url=cfg.s3_endpoint_url, **cfg.extra_boto_kwargs)


def object_key(prefix: str, day: str, basename: str) -> str:
    """The reference's object key: prefix, day, ``/``, basename, suffix."""
    return f"{prefix}{day}/{basename}{_KEY_SUFFIX}"


def parse_object_key(prefix: str, key: str) -> tuple[str, str]:
    """Inverse of :func:`object_key`: ``(day, basename)``. A key outside the
    layout keeps what it has: no ``/`` after the prefix gives day ``""``."""
    day, _, name = key.removeprefix(prefix).rpartition("/")
    return day, name.removesuffix(_KEY_SUFFIX)


def _spread(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as a JVM local relation, one row per task up to
    ``defaultParallelism`` tasks."""
    n = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    return local_rows_df(spark, rows, schema).repartition(n)


def list_objects(spark: SparkSession, cfg: IngestConfig) -> tuple[DataFrame, int]:
    """Every key under the configured prefix — a driver-side metadata pass,
    keys only — as an ``s3_key`` frame spread over the cluster, and the key
    count. Object bodies are left to executor tasks."""
    pages = s3_client(cfg).get_paginator("list_objects_v2").paginate(
        Bucket=cfg.s3_bucket, Prefix=cfg.s3_prefix
    )
    keys = [(o["Key"],) for page in pages for o in page.get("Contents", [])]
    return _spread(spark, keys, "s3_key string"), len(keys)


def _put_envelope(client, enc: EnvelopeEncryptor, cfg: IngestConfig,
                  day: str, basename: str, src) -> tuple[str, str, str, int]:
    """The per-object contract of both kernels: envelope → key → put.
    ``src`` is a row's content (bytes: one ``put_object``) or a local file
    path (str: streamed through ``upload_fileobj``'s multipart uploader, so
    the file is never whole in memory). Returns the audit row."""
    key = object_key(cfg.s3_prefix, day, basename)
    if isinstance(src, str):
        with open(src, "rb") as f:
            stream, meta = enc.seal(f)
            client.upload_fileobj(
                stream, cfg.s3_bucket, key, ExtraArgs={"Metadata": meta}
            )
    else:
        stream, meta = enc.seal(io.BytesIO(src))
        client.put_object(
            Bucket=cfg.s3_bucket, Key=key, Body=stream.read(), Metadata=meta
        )
    return day, basename, key, stream.bytes_out


def _overlap(pool: ThreadPoolExecutor, fn, rows, sizes, width: int, budget: int):
    """``fn`` over ``rows`` on ``pool``, results in order, with at most
    ``width`` rows and ``budget`` bytes (by ``sizes``) in flight; a row
    larger than ``budget`` runs alone. Each call of ``fn`` holds copies of
    its row's bytes, so the budget bounds a task's memory however wide the
    pool is."""
    flight: deque = deque()
    held = 0
    for row, n in zip(rows, sizes):
        while flight and (len(flight) >= width or held + n > budget):
            fut, m = flight.popleft()
            yield fut.result()
            held -= m
        flight.append((pool.submit(fn, row), n))
        held += n
    for fut, _ in flight:
        yield fut.result()


def _upload(df: DataFrame, cfg: IngestConfig, source: str) -> DataFrame:
    """``mapInPandas`` of :func:`_put_envelope` over ``(day, basename,
    source)`` rows: one S3 client and one encryptor per task, audit rows out.
    Content rows run on a thread pool as wide as the client's connection
    pool, so PUT latency overlaps (and compression: zlib releases the GIL),
    with at most ``maxPartitionBytes`` of content in flight; path rows keep
    one object in flight per task."""
    budget = max_partition_bytes(df.sparkSession)

    def batches(it):
        import pandas as pd

        client = s3_client(cfg)
        enc = EnvelopeEncryptor(cfg.rsa_public_key_pem, cfg.hsm_key_id)
        width = client.meta.config.max_pool_connections if source == "content" else 1

        def put(row):
            return _put_envelope(client, enc, cfg, *row)

        pool = ThreadPoolExecutor(width)
        try:
            for pdf in it:
                # a NULL day has no key: astype(str) would put it under "None/"
                missing = pdf["day"].isna()
                if missing.any():
                    raise ValueError(
                        f"{int(missing.sum())} row(s) have no day, e.g. "
                        f"{pdf['basename'][missing].iloc[0]!r}; nothing of this "
                        "batch was uploaded"
                    )
                rows = _overlap(
                    pool,
                    put,
                    zip(pdf["day"].astype(str), pdf["basename"], pdf[source]),
                    map(len, pdf[source]),
                    width,
                    budget,
                )
                yield pd.DataFrame(
                    list(rows), columns=["day", "basename", "s3_key", "n_bytes"]
                )
        finally:
            # a failed PUT fails the task: start none of the batch's others
            pool.shutdown(cancel_futures=True)

    # guide §4: ship only the three columns the kernel reads
    return df.select("day", "basename", source).mapInPandas(
        batches, schema=_AUDIT_SCHEMA
    )


def _hadoop_root(spark: SparkSession, src_dir: str):
    """``(FileSystem, qualified Path)`` of ``src_dir`` through the session's
    Hadoop configuration (local, HDFS and S3A alike)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(root)


def file_columns(spark: SparkSession, src_dir: str) -> list[Column]:
    """``basename`` and ``day`` of a ``binaryFile`` read of ``src_dir`` or
    of directories under it (batch or stream), from its ``path``. ``day``
    is the file's top-level directory when that directory passes
    ``_parse_day`` (the rule of ``list_new_days``), else NULL: nested files
    belong to their top-level day, and a dated directory under a non-dated
    one has no day."""
    _, root = _hadoop_root(spark, src_dir)
    quoted = spark._jvm.java.util.regex.Pattern.quote(root.toString().rstrip("/") + "/")
    top = F.regexp_extract("path", f"^{quoted}([^/]+)/", 1)
    day = F.when(top.rlike(f"^{_DAY_NAME}$"), F.try_to_date(top, "yyyy-MM-dd"))
    basename = F.element_at(F.split("path", "/"), -1)
    return [basename.alias("basename"), day.alias("day")]


def _scan(spark: SparkSession, src_dir: str, dirs: str | list[str]) -> DataFrame:
    """One ``binaryFile`` read of ``dirs`` (directories of ``src_dir`` or
    ``src_dir`` itself), nested files included, as ``(path, basename, day,
    length, content)``, ``day`` per :func:`file_columns`."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(dirs)
    )
    return df.select("path", *file_columns(spark, src_dir), "length", "content")


def scan_source(spark: SparkSession, src_dir: str) -> DataFrame:
    """Whole-tree ``binaryFile`` scan as ``(path, basename, day, length,
    content)``, ``day`` per :func:`file_columns`, for the large-file listing
    and ``sources.read_binary_dir``. ``run_ingest`` lists the top level
    first (``list_new_days``) and scans only the new days."""
    tune(spark)
    return _scan(spark, src_dir, src_dir)


def encrypt_files(df: DataFrame, pem: bytes, key_id: str) -> DataFrame:
    """R4+R5: zlib compress + AES-128-EAX envelope encrypt, Arrow-batched.

    ``mapInPandas`` amortizes Python-crossing over whole record batches; the
    RSA public key is constructed once per batch iterator (per task), the
    broadcast-equivalent of the reference's single driver-side key fetch
    fanned out to workers (`audit_data_ingest.py:78,86-88`)."""

    def batches(it):
        import pandas as pd

        enc = EnvelopeEncryptor(pem, key_id)
        for pdf in it:
            recs = [enc.encrypt_record(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "day": pdf["day"].astype(str),
                    "basename": pdf["basename"],
                    "ciphertext": [r.ciphertext for r in recs],
                    "iv": [r.iv for r in recs],
                    "encrypted_key": [r.encrypted_key for r in recs],
                    "key_id": [r.key_id for r in recs],
                }
            )

    # guide §4: only the columns the kernel touches cross the Arrow
    # boundary — without the select, `path` and `length` ride every batch
    # (and an opaque function over extra columns defeats column pruning
    # at the scan).
    return df.select("day", "basename", "content").mapInPandas(
        batches, schema=_ENC_SCHEMA
    )


# The bytes a Python task's fixed cost is worth: a fresh worker spends
# about 1 s of CPU on its imports and each task 0.2-0.3 s more (PERF.md
# "Ingest anchor"), while the kernel runs 23-28 MB/s per core (perfbench
# ``crypto.mb_s_1core``, 4-vCPU host). Spark's split rule prices a file
# open at ``openCostInBytes`` (4 MB); splitting this kernel that fine
# forks workers that cost more than the bytes they take (PERF.md "Tasks
# follow bytes": a 12 MiB stream drain in 3 tasks, not 1, cost perfbench
# ``ingest`` 10.6% of ``wall_s``).
_TASK_COST_BYTES = 32 << 20


def _by_bytes(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``ceil(size / split)`` partitions by Spark's
    core-aware file split rule, ``split = min(maxPartitionBytes,
    max(cost, size / cores))``, with a Python task's fixed cost
    (``_TASK_COST_BYTES``) as ``cost`` where Spark charges each file's open
    cost: a run of up to ``cost`` bytes is one task, and a run of more
    than ``cores × cost`` keeps every core busy. The size is Catalyst's
    ``sizeInBytes`` estimate of the plan (no job runs, and a file source
    is not listed again). ``coalesce`` never adds partitions and merges by
    count and locality, not bytes, so a task holds ``split`` on average,
    not at most."""
    spark = df.sparkSession
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    cores = spark._jsparkSession.leafNodeDefaultParallelism()
    split = min(max_partition_bytes(spark), max(_TASK_COST_BYTES, -(-size // cores)))
    n = max(1, -(-size // split))
    # An unknown size (Long.MaxValue, e.g. a Python data source; projections
    # scale it) asks for more partitions than coalesce takes: merge nothing.
    return df.coalesce(n) if n < 2**31 else df


def encrypt_and_upload(df: DataFrame, cfg: IngestConfig) -> DataFrame:
    """Fused R4+R5+R6+R11: compress+encrypt+upload in ONE Python stage.
    Per-object metadata is outside DataFrameWriter's model, so the S3 sink
    is Python: one boto3 client per task (``s3_client``).

    Tasks follow bytes, not files: ``binaryFile`` charges each file 4 MB of
    open cost, so a few hundred small files would split into several
    tasks, each paying a Python worker's fixed cost for little data. The
    input is coalesced by the split rule of :func:`_by_bytes` (its size
    estimate over cores, a Python task's cost in place of a file's), and
    each task overlaps its PUTs on a thread pool (R7).

    The composable two-stage form (``encrypt_files`` → a separate sink)
    round-trips every ciphertext byte Python→JVM→Python through Arrow; measured
    locally that transfer, not crypto, was the ceiling (PERF.md). Fusing
    keeps ciphertext inside the task that produced it — only small audit
    rows (day, basename, key, size) cross back. An action on the returned
    frame drives the upload; any task failure fails the job before the
    watermark commit. A row with a NULL ``day`` has no key: its batch
    raises ``ValueError`` before that row is put.
    """
    return _upload(_by_bytes(df), cfg, "content")


def list_files(spark: SparkSession, src_dir: str) -> DataFrame:
    """The large-file listing: ``(path, basename, day)`` of every file with
    a day. ``content`` is never selected, so the scan stays a metadata pass
    (asserted by tests/test_plans.py)."""
    return scan_source(spark, src_dir).select("path", "basename", "day").filter(
        F.col("day").isNotNull()
    )


def encrypt_and_upload_large(files: DataFrame, cfg: IngestConfig) -> DataFrame:
    """The large-file path: paths, not blobs. ``binaryFile`` content is a
    ``binary`` column, capped at 2 GiB and whole in memory (SURVEY.md §4,
    §7 hard-part 4); here each task streams its local file through the
    compress+encrypt transform into boto3's multipart uploader, in memory
    O(chunk + compressor state) whatever the file size. Same envelope and
    same key as :func:`encrypt_and_upload`, and identical ciphertext for the
    same session key and nonce.

    ``files`` holds ``(path, basename, day)`` rows (:func:`list_files`). The
    paths are collected on the driver, which raises ``ValueError`` before
    any upload if one is not a ``file:`` path: Python tasks read HDFS only
    through ``binaryFile`` content, i.e. through :func:`run_ingest`. One
    file per task, up to ``defaultParallelism`` tasks. Returns the audit rows
    ``(day, basename, s3_key, n_bytes)``; an action on them drives the upload.
    """
    rows = files.select("path", "day", "basename").collect()
    remote = sorted(r.path for r in rows if not r.path.startswith("file:"))
    if remote:
        raise ValueError(
            f"encrypt_and_upload_large streams local files only; {len(remote)} "
            f"source(s) are not file: paths, e.g. {remote[0]} (use run_ingest)"
        )
    todo = [(r.path[len("file:"):], str(r.day), r.basename) for r in rows]
    spread = _spread(
        files.sparkSession, todo, "path string, day string, basename string"
    )
    return _upload(spread, cfg, "path")


def list_new_days(
    spark: SparkSession, src_dir: str, watermark: date | None
) -> list[tuple[date, str]]:
    """R1+R2: the reference's `hdfs dfs -ls` + ``filter_date``
    (`audit_data_ingest.py:26-33,134-139`) — one non-recursive listing of
    the top level of ``src_dir`` on the driver, through the session's
    Hadoop ``FileSystem`` (local, HDFS and S3A alike). Returns
    ``(day, dir_uri)`` for each directory named as a zero-padded
    ``yyyy-MM-dd`` date strictly after ``watermark``, in ascending order.
    Nothing below the top level is touched, so committed days cost one
    directory entry each and their files are never opened.

    Every other top-level entry gets one warning and is skipped
    (`:30-32`). Deliberate deviation from the reference's first run: with
    no progress file the reference skips ``filter_date`` and would process
    non-dated directories too (`:145-146`); here they are always skipped —
    a non-dated dir can never be watermark-committed, so processing it on
    run 1 and again on every later run is the less defensible behavior."""
    fs, root = _hadoop_root(spark, src_dir)
    days = []
    for status in fs.listStatus(root):
        path = status.getPath()
        day = _parse_day(path.getName()) if status.isDirectory() else None
        if day is None:
            logger.warning("skipping %s: not a yyyy-MM-dd directory", path)
        elif watermark is None or day > watermark:
            days.append((day, path.toString()))
    return sorted(days)


def _parse_day(name: str) -> date | None:
    if not re.fullmatch(_DAY_NAME, name):
        return None
    try:
        return date.fromisoformat(name)
    except ValueError:  # well-formed but not a calendar date, e.g. 2020-02-30
        return None


def run_ingest(spark: SparkSession, cfg: IngestConfig) -> list[date]:
    """R13: the reference's per-day driver loop (`audit_data_ingest.py:36-68`)
    as ONE Spark job per run: every new day's directory in one ``binaryFile``
    scan, the fused kernel over all of it, one ``collect`` of the audit rows.
    The driver then walks the new days in ascending order and commits the
    watermark after each day that uploaded at least one object; a day
    directory that holds no files uploads nothing and is not committed.
    Above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    new days, Spark lists their directories in one more job, JVM-only, at
    the scan's construction.

    Failure is all-or-nothing per run: any task failure fails the one job
    before any commit, and the next run uploads every day of this run again,
    to the same keys (at-least-once over an idempotent overwrite sink,
    `:49-68,96-104`). Deviation from the reference: it commits each day as
    that day finishes, so a failure on day N keeps days before N; here it
    keeps none of the run. With one new day per run, the steady 12-hourly
    state, the two are the same.

    Returns the list of committed days.
    """
    tune(spark)
    watermark = find_start_date(cfg.progress_file)
    days = list_new_days(spark, cfg.src_dir, watermark)
    if not days:
        logger.info("nothing newer than %s under %s", watermark, cfg.src_dir)
        return []

    # Task count follows bytes: encrypt_and_upload coalesces the scan by
    # Spark's core-aware split rule with a Python task's cost in place of
    # the per-file open cost (a run of small files is one task; a larger
    # one still spreads over every core), and each task overlaps its PUTs
    # on a thread pool.
    files = _scan(spark, cfg.src_dir, [day_dir for _, day_dir in days])
    audit: dict[str, list] = {}
    for row in encrypt_and_upload(files, cfg).collect():
        audit.setdefault(row.day, []).append(row)
    # reaching here means every task of the run's job succeeded
    committed: list[date] = []
    for day, _ in days:
        rows = audit.get(day.isoformat())
        if not rows:
            logger.info("day %s holds no files; not committed", day)
            continue
        update_progress_file(cfg.progress_file, day)
        committed.append(day)
        logger.info(
            "committed day %s (%d objects, %d ciphertext bytes)",
            day,
            len(rows),
            sum(r.n_bytes for r in rows),
        )
    return committed
