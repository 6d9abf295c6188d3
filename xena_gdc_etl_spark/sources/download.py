"""Distributed raw-file download — the engine's ``gdc.download`` parity.

The reference downloads each file UUID in a driver-side loop with streamed
chunks and renames it to ``<uuid>.<ext>``
(/root/reference/xena_gdc_etl/gdc.py:360 ``download``, :336 ``get_ext``),
then verifies matrices with a whole-file md5
(/root/reference/xena_gdc_etl/xena_dataset.py:246 ``get_md5sum``). The Spark
version keeps the naming/extension/md5 semantics in pure, unit-testable
helpers and moves the actual byte transfer to executors: a manifest
DataFrame fans out over tasks, each task streams its files to a shared
landing directory (on a cluster: a mounted distributed FS or object store)
and emits a status row — so a million-file manifest downloads at cluster
parallelism with the driver holding nothing but the plan.

Network I/O is isolated behind an injectable ``fetcher`` so the Spark
plumbing (fan-out, streaming write, md5-while-writing, status schema) is
fully testable offline; the default fetcher uses ``requests`` and is gated
behind an import-try.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xena_gdc_etl_spark.sources.gdc_api import data_url

# Orphaned-.part sweep age gate: a tmp file idle this long is abandoned
# (zombie/speculative attempt killed mid-write); a live writer streams
# chunks and keeps its mtime fresh. One hour is ~3 orders of magnitude
# above any per-chunk gap a live HTTP stream produces.
_STALE_PART_SECONDS = 3600
# A writer's tmp name, ``<target>.part.<pid>.<thread id>``.
_PART_NAME = re.compile(r"(.+)\.part\.\d+\.\d+")

# Extensions the reference recognizes (gdc.py:27 _SUPPORTED_FILE_TYPES).
SUPPORTED_FILE_TYPES = frozenset(
    {"txt", "vcf", "bam", "tsv", "xml", "maf", "xlsx", "tar", "gz", "md5", "xls"}
)

DOWNLOAD_STATUS_SCHEMA = StructType(
    [
        StructField("uuid", StringType()),
        StructField("path", StringType()),
        StructField("n_bytes", LongType()),
        StructField("md5", StringType()),
        StructField("md5_ok", BooleanType()),
        StructField("error", StringType()),
    ]
)

# A fetcher maps a URL to (suggested_filename, iterator of byte chunks).
Fetcher = Callable[[str], tuple[str, Iterator[bytes]]]


def get_ext(file_name: str) -> str:
    """All supported extensions in ``file_name``, joined by "." — keeps
    everything from the first (leftmost) supported extension on, the
    reference's rule (gdc.py:336 ``get_ext``): ``a.b.tsv.gz`` → ``tsv.gz``.

    Deliberate deviation: when NO supported extension is present the
    reference falls through and returns the last dot-token (``foo.bar`` →
    ``bar``), which mislabels arbitrary suffixes as extensions; this
    returns ``""`` so ``target_path`` lands the file as the bare UUID
    instead of inventing an extension.
    """
    parts = file_name.split(".")
    for i, part in enumerate(parts):
        if part in SUPPORTED_FILE_TYPES:
            return ".".join(parts[i:])
    return ""


def parse_content_disposition(header: str) -> str:
    """Original filename from a Content-Disposition header (the reference
    slices after ``filename=``, gdc.py:404)."""
    marker = "filename="
    idx = header.find(marker)
    if idx < 0:
        return ""
    value = header[idx + len(marker):]
    # the filename parameter ends at the next ';' — keeping later
    # parameters (e.g. '; size=5') would corrupt the name and lose the
    # extension get_ext looks for
    value = value.split(";", 1)[0]
    return value.strip('" ')


def target_path(uuid: str, original_name: str, download_dir: str) -> str:
    """Landing path ``<dir>/<uuid>.<ext>`` (reference renames downloads to
    UUID + original extension, gdc.py:405-408)."""
    ext = get_ext(original_name)
    name = f"{uuid}.{ext}" if ext else uuid
    return os.path.join(os.path.abspath(download_dir), name)


def _unlink_quiet(path: str | None) -> None:
    """Remove a partial download if it exists; never raise from cleanup."""
    if path is None:
        return
    try:
        os.unlink(path)
    except OSError:
        pass


def _sweep_stale_parts(download_dir: str, landed: set[str]) -> None:
    """Remove the abandoned ``<target>.part.<pid>.<tid>`` files of the
    ``landed`` target names, with one scan of ``download_dir``.

    A zombie or speculative attempt killed mid-write never reaches its own
    unlink handler, so its orphans are swept once a complete copy of the
    target has landed. AGE-GATED: a concurrent LIVE attempt for the same
    uuid (the very scenario the distinct tmp names exist for) also has a
    .part here, and unlinking it mid-write would make ITS os.replace raise
    and record a spurious error row for a file that landed. A live writer
    keeps its tmp's mtime fresh; only files idle for
    >= ``_STALE_PART_SECONDS`` are provably abandoned. Never raises.
    """
    if not landed:
        return
    now = time.time()
    try:
        with os.scandir(download_dir) as entries:
            for entry in entries:
                tmp = _PART_NAME.fullmatch(entry.name)
                if tmp is None or tmp[1] not in landed:
                    continue
                try:
                    idle = now - entry.stat().st_mtime
                except OSError:
                    continue  # raced away already
                if idle >= _STALE_PART_SECONDS:
                    _unlink_quiet(entry.path)
    except OSError:
        pass


def md5_file(path: str, chunk_size: int = 1 << 20) -> str:
    """md5 of a file on disk — ``get_md5sum`` parity
    (xena_dataset.py:246), but streamed in chunks instead of one whole-file
    read so arbitrarily large matrices hash in constant memory."""
    h = hashlib.md5()
    with open(path, "rb") as f:
        while chunk := f.read(chunk_size):
            h.update(chunk)
    return h.hexdigest()


class RetryableFetchError(Exception):
    """A fetch failure worth retrying (5xx, connection reset, timeout)."""


def retrying_fetcher(
    fetcher: Fetcher,
    retries: int = 10,
    backoff_factor: float = 0.5,
    sleep: Callable[[float], None] | None = None,
) -> Fetcher:
    """Wrap a fetcher with the reference's retry policy
    (utils.py:187 ``requests_retry_session``: total=10,
    backoff_factor=0.5 → sleeps 0.5·2^(n-1) between attempts, retrying
    connect/read failures and 500/502/504 — surfaced here as
    ``RetryableFetchError``). Non-retryable errors propagate immediately.
    """
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep

    def fetch(url: str) -> tuple[str, Iterator[bytes]]:
        for attempt in range(retries + 1):
            try:
                return fetcher(url)
            except RetryableFetchError:
                if attempt == retries:
                    raise
                if attempt > 0:
                    do_sleep(backoff_factor * (2 ** (attempt - 1)))
        raise AssertionError("unreachable")

    return fetch


def _requests_fetcher(chunk_size: int = 4096) -> Fetcher:
    """Default fetcher: streamed GET via ``requests`` (reference's
    ``stream=True`` + ``iter_content``, gdc.py:398-420)."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "the default fetcher needs the 'requests' package; pass an "
            "explicit fetcher= for offline use"
        ) from exc

    def fetch(url: str) -> tuple[str, Iterator[bytes]]:
        try:
            resp = requests.get(url, stream=True, timeout=300)
        except (requests.ConnectionError, requests.Timeout) as exc:
            raise RetryableFetchError(str(exc)) from exc
        if resp.status_code in (500, 502, 504):
            raise RetryableFetchError(f"HTTP {resp.status_code}")
        resp.raise_for_status()
        name = parse_content_disposition(
            resp.headers.get("Content-Disposition", "")
        )

        def _stream(r=resp):
            # translate MID-TRANSFER failures into the fetcher contract's
            # retryable type: iter_content raises raw requests exceptions
            # on a connection reset, which would otherwise bypass the
            # caller's retry loop and burn the file on one reset
            try:
                yield from r.iter_content(chunk_size)
            except (
                requests.ConnectionError,
                requests.Timeout,
                requests.exceptions.ChunkedEncodingError,
            ) as exc:
                raise RetryableFetchError(str(exc)) from exc

        return name, _stream()

    return retrying_fetcher(fetch)


def download_files(
    manifest: DataFrame,
    download_dir: str,
    uuid_col: str = "uuid",
    md5_col: str | None = None,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Download every UUID in ``manifest`` on executors; return a status
    DataFrame (uuid, path, n_bytes, md5, md5_ok, error).

    - Fan-out: the manifest repartitions to ``defaultParallelism``, one
      Python task per core. A Python task waits 0.15–0.44 s from worker
      start to its function on a 4-core host, so four tasks per core made a
      45-file download 2–3× slower than one per core. A straggling server is
      Spark speculation's job: the distinct ``.part.<pid>.<tid>`` names and
      the age-gated orphan sweep make a speculative attempt safe.
    - md5 is computed WHILE streaming to disk (no second read); when the
      manifest carries an expected digest (``md5_col``), ``md5_ok`` records
      the comparison — the reference's separate ``get_md5sum`` pass, fused.
    - Failures are rows, not exceptions: one dead URL must not kill a
      million-file job (the reference prints-and-continues, gdc.py:423).
    """
    fetch = fetcher or _requests_fetcher()
    spark = manifest.sparkSession
    cols = [F.col(uuid_col).alias("uuid")]
    cols.append(
        F.col(md5_col).alias("__md5")
        if md5_col
        else F.lit(None).cast("string").alias("__md5")
    )
    par = spark.sparkContext.defaultParallelism

    def _download(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(download_dir, exist_ok=True)
        for pdf in batches:
            rows = []
            landed = set()
            for uuid, expected in zip(pdf["uuid"], pdf["__md5"]):
                tmp = None
                try:
                    # retrying_fetcher only guards fetch ESTABLISHMENT; a
                    # connection dropped mid-iter_content surfaces here, so
                    # retry the whole fetch+stream once for retryable
                    # failures instead of burning the file on one reset.
                    for attempt in (0, 1):
                        try:
                            name, chunks = fetch(data_url(uuid))
                            path = target_path(
                                uuid, name or "", download_dir
                            )
                            h = hashlib.md5()
                            n = 0
                            # unique per writer: a speculative duplicate
                            # attempt (or a zombie task after a stage
                            # retry) writing the SAME .part would
                            # interleave bytes while each attempt hashes
                            # its own stream — md5_ok=True over a corrupt
                            # file. Distinct tmp names make os.replace
                            # last-complete-writer-wins.
                            import threading

                            tmp = (
                                f"{path}.part.{os.getpid()}"
                                f".{threading.get_ident()}"
                            )
                            with open(tmp, "wb") as f:
                                for chunk in chunks:
                                    f.write(chunk)
                                    h.update(chunk)
                                    n += len(chunk)
                            break
                        except RetryableFetchError:
                            _unlink_quiet(tmp)
                            tmp = None
                            if attempt == 1:
                                raise
                    os.replace(tmp, path)  # atomic: no truncated landings
                    landed.add(os.path.basename(path))
                    digest = h.hexdigest()
                    ok = None if expected is None else digest == expected
                    rows.append((uuid, path, n, digest, ok, None))
                except Exception as exc:  # noqa: BLE001 - per-file isolation
                    _unlink_quiet(tmp)  # no orphaned .part accumulation
                    rows.append(
                        (uuid, None, None, None, None,
                         f"{type(exc).__name__}: {exc}"[:500])
                    )
            _sweep_stale_parts(download_dir, landed)
            yield pd.DataFrame(
                rows,
                columns=["uuid", "path", "n_bytes", "md5", "md5_ok", "error"],
            )

    status = (
        manifest.select(*cols)
        .repartition(par, "uuid")
        .mapInPandas(_download, schema=DOWNLOAD_STATUS_SCHEMA)
    )
    # MATERIALIZE the side-effecting stage exactly once: returned lazy,
    # every downstream action (count, then a filter for errors) would
    # re-run the downloads for the whole manifest. The status frame is
    # one small row per file, so pinning it is cheap; the transfers
    # happen here, eagerly, one time.
    return status.localCheckpoint(eager=True)


def md5sum_files(spark, path_glob: str) -> DataFrame:
    """Distributed ``get_md5sum`` (xena_dataset.py:246) over already-landed
    files: the built-in ``binaryFile`` source reads (path, length, content)
    and ``F.md5`` hashes JVM-side — no Python in the path. Files must fit an
    executor's task memory (binaryFile loads whole files); use ``md5_file``
    per path inside ``download_files``-style tasks for larger objects.
    """
    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select(
            F.col("path"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("md5"),
        )
    )
