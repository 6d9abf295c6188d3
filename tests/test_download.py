"""Distributed download operator — naming/extension/md5 parity with the
reference (gdc.py:360 download, :336 get_ext; xena_dataset.py:246
get_md5sum), with the network isolated behind an injected fetcher.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import functions as F

from xena_gdc_etl_spark.sources.download import (
    download_files,
    get_ext,
    md5_file,
    md5sum_files,
    parse_content_disposition,
    target_path,
)


def test_get_ext_reference_rule():
    # keep everything from the first supported extension on (gdc.py:336)
    assert get_ext("sample.htseq.counts.tsv.gz") == "tsv.gz"
    assert get_ext("archive.tar.gz") == "tar.gz"
    assert get_ext("data.maf") == "maf"
    assert get_ext("noext") == ""
    # an unsupported token before a supported one is dropped
    assert get_ext("a.weird.txt.md5") == "txt.md5"


def test_parse_content_disposition():
    assert (
        parse_content_disposition('attachment; filename=abc.tsv.gz')
        == "abc.tsv.gz"
    )
    assert (
        parse_content_disposition('attachment; filename="q.maf"') == "q.maf"
    )
    assert parse_content_disposition("attachment") == ""


def test_target_path(tmp_path):
    p = target_path("u-1", "orig.tsv.gz", str(tmp_path))
    assert p == os.path.join(str(tmp_path), "u-1.tsv.gz")
    # no recognizable extension → bare uuid (reference would error; we land
    # the bytes anyway, named by uuid)
    assert target_path("u-2", "", str(tmp_path)).endswith("/u-2")


def test_md5_file_matches_reference_whole_read(tmp_path):
    payload = b"x" * (1 << 20) + b"tail"
    f = tmp_path / "m.tsv"
    f.write_bytes(payload)
    # reference reads the whole file in one go (xena_dataset.py:246); the
    # chunked stream must produce the identical digest
    assert md5_file(str(f), chunk_size=4096) == hashlib.md5(payload).hexdigest()


def test_download_files_distributed(spark, tmp_path):
    # nested so cloudpickle ships it by value (a test module isn't
    # importable on executors)
    def _fake_fetcher(url: str):
        uuid = url.rsplit("/", 1)[1]
        payload = (uuid * 100).encode()
        chunks = [payload[i : i + 64] for i in range(0, len(payload), 64)]
        return f"{uuid}.counts.tsv.gz", iter(chunks)

    land = str(tmp_path / "land")
    manifest = spark.createDataFrame(
        [("aa",), ("bb",), ("cc",)], ["uuid"]
    ).withColumn(
        "md5",
        F.when(F.col("uuid") == "bb", F.lit("0" * 32)).otherwise(
            F.lit(None).cast("string")
        ),
    )
    status = download_files(
        manifest, land, md5_col="md5", fetcher=_fake_fetcher
    ).collect()
    by_uuid = {r.uuid: r for r in status}
    assert set(by_uuid) == {"aa", "bb", "cc"}
    for uuid in ("aa", "bb", "cc"):
        r = by_uuid[uuid]
        assert r.error is None
        # uuid.<ext> naming; get_ext drops the unsupported "counts" token
        assert r.path.endswith(f"{uuid}.tsv.gz")
        expected = (uuid * 100).encode()
        assert open(r.path, "rb").read() == expected
        assert r.n_bytes == len(expected)
        assert r.md5 == hashlib.md5(expected).hexdigest()
    # md5_ok: null when no expected digest, False for the wrong one
    assert by_uuid["aa"].md5_ok is None
    assert by_uuid["bb"].md5_ok is False
    # no stray .part files (atomic rename)
    assert not [p for p in os.listdir(land) if p.endswith(".part")]


def test_download_failure_is_a_row_not_an_exception(spark, tmp_path):
    def flaky(url: str):
        uuid = url.rsplit("/", 1)[1]
        if uuid == "bad":
            raise OSError("connection reset")
        return f"{uuid}.tsv", iter([b"ok"])

    status = download_files(
        spark.createDataFrame([("good",), ("bad",)], ["uuid"]),
        str(tmp_path / "land2"),
        fetcher=flaky,
    ).collect()
    by_uuid = {r.uuid: r for r in status}
    assert by_uuid["good"].error is None and by_uuid["good"].md5
    assert "connection reset" in by_uuid["bad"].error
    assert by_uuid["bad"].path is None


def test_mid_stream_failure_leaves_no_part_file(spark, tmp_path):
    # the error hits while ITERATING chunks (past fetch establishment, so
    # retrying_fetcher can't see it); the partial .part must be cleaned up
    def breaks_mid_stream(url: str):
        uuid = url.rsplit("/", 1)[1]

        def chunks():
            yield b"partial bytes that made it"
            raise OSError("connection reset mid-stream")

        return f"{uuid}.tsv", chunks()

    land = str(tmp_path / "land3")
    status = download_files(
        spark.createDataFrame([("xx",)], ["uuid"]), land, fetcher=breaks_mid_stream
    ).collect()
    assert "connection reset mid-stream" in status[0].error
    assert os.listdir(land) == []  # neither the file nor an orphan .part


def test_mid_stream_retryable_error_is_retried_once(spark, tmp_path):
    # first stream dies with a RetryableFetchError mid-iteration, the
    # second attempt succeeds; count attempts through a side-effect file
    # (executor closures can't mutate test-local state)
    from xena_gdc_etl_spark.sources.download import RetryableFetchError

    marker = str(tmp_path / "attempts")

    def flaky_stream(url: str):
        uuid = url.rsplit("/", 1)[1]
        with open(marker, "a") as f:
            f.write("x")
        first = os.path.getsize(marker) == 1

        def chunks():
            yield b"abc"
            if first:
                raise RetryableFetchError("reset mid-stream")
            yield b"def"

        return f"{uuid}.tsv", chunks()

    land = str(tmp_path / "land4")
    status = download_files(
        spark.createDataFrame([("yy",)], ["uuid"]), land, fetcher=flaky_stream
    ).collect()
    assert status[0].error is None
    assert open(status[0].path, "rb").read() == b"abcdef"
    assert open(marker).read() == "xx"  # exactly one retry
    assert not [p for p in os.listdir(land) if p.endswith(".part")]


def test_md5sum_files_jvm_side(spark, tmp_path):
    files = {}
    for name in ("a.tsv", "b.tsv"):
        payload = name.encode() * 1000
        (tmp_path / name).write_bytes(payload)
        files[name] = hashlib.md5(payload).hexdigest()
    out = md5sum_files(spark, str(tmp_path / "*.tsv")).collect()
    got = {os.path.basename(r.path): (r.md5, r.n_bytes) for r in out}
    for name, digest in files.items():
        assert got[name][0] == digest
        assert got[name][1] == len(name.encode()) * 1000


def test_retrying_fetcher_backoff_then_success():
    from xena_gdc_etl_spark.sources.download import (
        RetryableFetchError,
        retrying_fetcher,
    )

    calls = {"n": 0}
    sleeps = []

    def flaky(url):
        calls["n"] += 1
        if calls["n"] <= 3:
            raise RetryableFetchError("HTTP 502")
        return "f.tsv", iter([b"ok"])

    fetch = retrying_fetcher(flaky, retries=10, backoff_factor=0.5,
                             sleep=sleeps.append)
    name, chunks = fetch("http://x/u")
    assert name == "f.tsv" and b"".join(chunks) == b"ok"
    assert calls["n"] == 4
    # reference Retry backoff: 0.5 * 2^(n-1) between attempts (utils.py:187)
    assert sleeps == [0.5, 1.0]


def test_retrying_fetcher_exhausts_and_raises():
    from xena_gdc_etl_spark.sources.download import (
        RetryableFetchError,
        retrying_fetcher,
    )

    def always_bad(url):
        raise RetryableFetchError("HTTP 500")

    fetch = retrying_fetcher(always_bad, retries=2, sleep=lambda s: None)
    import pytest as _pytest

    with _pytest.raises(RetryableFetchError):
        fetch("http://x/u")


def test_retrying_fetcher_passes_through_non_retryable():
    from xena_gdc_etl_spark.sources.download import retrying_fetcher

    def notfound(url):
        raise ValueError("HTTP 404")

    calls = {"n": 0}

    def counting(url):
        calls["n"] += 1
        return notfound(url)

    fetch = retrying_fetcher(counting, retries=5, sleep=lambda s: None)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fetch("http://x/u")
    assert calls["n"] == 1


def test_content_disposition_trailing_params():
    from xena_gdc_etl_spark.sources.download import parse_content_disposition

    assert (
        parse_content_disposition('attachment; filename="x.tsv"; size=5')
        == "x.tsv"
    )
    assert parse_content_disposition("filename=plain.tsv") == "plain.tsv"
    assert parse_content_disposition("inline") == ""


def test_mid_stream_reset_retries_with_default_translation(spark, tmp_path):
    """A connection reset DURING iter_content must be retryable: the
    round-16 review found raw requests exceptions bypassed the inner
    retry and burned the file on one reset. The injectable analog: a
    fetcher whose stream raises RetryableFetchError mid-iteration once,
    then succeeds."""
    from xena_gdc_etl_spark.sources.download import (
        RetryableFetchError,
        download_files,
    )

    land = str(tmp_path / "land_mid")
    marker = str(tmp_path / "broke_once")

    def flaky_stream(url: str):
        import os as _os

        uuid = url.rsplit("/", 1)[1]

        def chunks():
            yield b"abc"
            if not _os.path.exists(marker):
                open(marker, "w").close()
                raise RetryableFetchError("reset mid-stream")
            yield b"def"

        return f"{uuid}.counts.tsv.gz", chunks()

    status = download_files(
        spark.createDataFrame([("zz",)], ["uuid"]),
        land,
        fetcher=flaky_stream,
    ).collect()
    assert status[0].error is None and status[0].n_bytes == 6


def test_download_status_is_materialized_once(spark, tmp_path):
    """The returned status frame is pinned: re-consuming it must not
    re-run the side-effecting downloads (round-16 review)."""
    import glob

    from xena_gdc_etl_spark.sources.download import download_files

    land = str(tmp_path / "land_mat")
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()

    def counting_fetcher(url: str, _d=str(calls_dir)):
        import os as _os
        import uuid as _uuidlib

        open(_os.path.join(_d, _uuidlib.uuid4().hex), "w").close()
        u = url.rsplit("/", 1)[1]
        return f"{u}.counts.tsv.gz", iter([b"xy"])

    status = download_files(
        spark.createDataFrame([("m1",), ("m2",)], ["uuid"]),
        land,
        fetcher=counting_fetcher,
    )
    status.count()
    status.filter("error is not null").count()
    status.collect()
    assert len(glob.glob(str(calls_dir / "*"))) == 2


def test_write_manifest_date_partition_keys(spark, tmp_path):
    import datetime
    import json as _json

    from xena_gdc_etl_spark.sources.parquet_sink import write_manifest

    df = spark.createDataFrame(
        [(datetime.date(2026, 1, 1), 1), (datetime.date(2026, 1, 2), 2)],
        "d date, v int",
    )
    path = str(tmp_path / "dated")
    df.write.mode("overwrite").partitionBy("d").parquet(path)
    man = write_manifest(df, path, partition_by=["d"])
    assert man["total_rows"] == 2
    on_disk = _json.load(open(f"{path}/_manifest.json"))
    assert {p["d"] for p in on_disk["partitions"]} == {
        "2026-01-01", "2026-01-02"
    }


def test_save_ann_index_rejects_empty_codebooks(spark, tmp_path):
    import pytest as _pytest

    from xena_gdc_etl_spark.sources.ann_index import (
        load_ann_index,
        save_ann_index,
    )

    path = str(tmp_path / "annidx")
    cents = spark.createDataFrame(
        [(0, [1.0, 2.0])], "centroid_id long, embedding array<double>"
    )
    save_ann_index(cents, path)
    with _pytest.raises(ValueError):
        save_ann_index(cents, path, codebooks=[])
    # prior index still endorsed
    loaded, books, man = load_ann_index(spark, path)
    assert loaded.count() == 1 and books is None


def test_stale_part_sweep_is_age_gated(spark, tmp_path):
    """After a successful landing, orphaned .part files for that target
    are swept ONLY when old enough to be provably abandoned — a fresh
    .part (a concurrent live attempt mid-write) must survive, or its
    os.replace would fail and record a spurious error row. Two targets
    land in one task, so one sweep handles both."""
    def _fake_fetcher(url: str):
        uuid = url.rsplit("/", 1)[1]
        return f"{uuid}.tsv", iter([b"payload"])

    # two uuids that hash to the same download task
    par = spark.sparkContext.defaultParallelism
    by_task = {}
    for r in (
        spark.createDataFrame([(f"u{i}",) for i in range(4 * par)], ["uuid"])
        .repartition(par, "uuid")
        .select("uuid", F.spark_partition_id().alias("task"))
        .collect()
    ):
        by_task.setdefault(r.task, []).append(r.uuid)
    uuids = next(us for us in by_task.values() if len(us) >= 2)[:2]

    land = str(tmp_path / "land")
    os.makedirs(land)
    old = time.time() - 7200
    stale, fresh = [], []
    for uuid in uuids:
        target = os.path.join(land, f"{uuid}.tsv")
        stale.append(target + ".part.999.1")
        fresh.append(target + ".part.999.2")
    # a landed name that merely contains ".part." is not a tmp of the
    # target it starts with
    lookalike = os.path.join(land, f"{uuids[0]}.tsv.part.gz")
    for p in (*stale, *fresh, lookalike):
        with open(p, "wb") as fh:
            fh.write(b"partial")
    for p in (*stale, lookalike):
        os.utime(p, (old, old))  # abandoned two hours ago

    status = download_files(
        spark.createDataFrame([(u,) for u in uuids], ["uuid"]), land,
        fetcher=_fake_fetcher,
    ).collect()
    assert [r.error for r in status] == [None, None]
    for p in stale:
        assert not os.path.exists(p), "abandoned orphan must be swept"
    for p in fresh:
        assert os.path.exists(p), "a live writer's fresh .part must survive"
    assert os.path.exists(lookalike)


def test_download_runs_one_task_per_core(spark, tmp_path):
    """The download stage fans out to ``defaultParallelism`` Python tasks:
    each Python task pays a fixed start-up wait, so more tasks than cores
    only adds it."""
    def _fake_fetcher(url: str):
        uuid = url.rsplit("/", 1)[1]
        return f"{uuid}.tsv", iter([b"x"])

    sc = spark.sparkContext
    group = f"download-fanout-{tmp_path.name}"
    sc.setJobGroup(group, "download fan-out")
    try:
        download_files(
            spark.createDataFrame([(f"f{i}",) for i in range(40)], ["uuid"]),
            str(tmp_path / "land"),
            fetcher=_fake_fetcher,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stage_ids = sorted(
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    # the last stage runs the mapInPandas download
    assert tracker.getStageInfo(stage_ids[-1]).numTasks == (
        sc.defaultParallelism
    )
