"""S13 dated log uploader (sources/transfer.py) — reference parity for
hadoop/scripts/statsupload.pl, exercised through the real Hadoop
FileSystem API on file:// URIs."""

from __future__ import annotations

import os

from white_elephant_spark.sources.transfer import (
    find_queue,
    plan_upload,
    upload_logs,
)

NOW = 1_700_000_000.0  # fixed clock for deterministic windows
DAY = 86400.0

CONF_XML = """<?xml version="1.0"?>
<configuration>
  <property><name>mapred.job.name</name><value>demo</value></property>
  <property><name>mapred.job.queue.name</name><value>marathon</value></property>
</configuration>
"""


def _touch(path, text="x", mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


def test_find_queue_and_unknown_fallback():
    assert find_queue(CONF_XML) == "marathon"
    assert find_queue("<configuration></configuration>") == "unknown"
    assert find_queue("") == "unknown"


def test_plan_upload_filters_and_layout():
    files = {
        "/l/job_202601_0001.log": NOW - 2 * DAY,  # upload
        "/l/job_202601_0002.log": NOW - 3600,  # too new (<24h)
        "/l/job_202509_9999.log": NOW - 30 * DAY,  # too old (>days)
        "/l/job_202601_0001_conf.xml": NOW - 2 * DAY,  # xml: never shipped
        "/l/.job_hidden.log": NOW - 2 * DAY,  # hidden
        "/l/job_202601_0003.log.crc": NOW - 2 * DAY,  # checksum sidecar
    }
    plan = plan_upload(
        files,
        set(),
        "/dest",
        "gridA",
        now=NOW,
        days=7,
        queue_of={"/l/job_202601_0001.log": "marathon"},
    )
    assert [a.src for a in plan] == ["/l/job_202601_0001.log"]
    (act,) = plan
    day = __import__("datetime").datetime.fromtimestamp(
        NOW - 2 * DAY, __import__("datetime").timezone.utc
    )
    assert act.dest == (
        f"/dest/gridA/daily/marathon/{day.year:04d}/"
        f"{day.month:02d}{day.day:02d}/job_202601_0001.log"
    )
    assert act.action == "upload"


def test_plan_upload_skips_already_uploaded():
    files = {"/l/job_1_2.log": NOW - 2 * DAY}
    first = plan_upload(files, set(), "/d", "g", now=NOW)
    again = plan_upload(files, {first[0].dest}, "/d", "g", now=NOW)
    assert first[0].action == "upload" and again[0].action == "skip_uploaded"


def test_upload_logs_end_to_end_idempotent(spark, tmp_path):
    local = tmp_path / "hadoop-logs"
    dest = f"file://{tmp_path}/warehouse/logs"
    _touch(str(local / "job_202601_0001.log"), text="JOB LOG", mtime=NOW - 2 * DAY)
    _touch(str(local / "job_202601_0001_conf.xml"), text=CONF_XML, mtime=NOW - 2 * DAY)
    _touch(str(local / "job_202601_0002.log"), text="OTHER", mtime=NOW - 2 * DAY)

    plan = upload_logs(spark, str(local), dest, "gridA", now=NOW)
    ups = [a for a in plan if a.action == "upload"]
    assert len(ups) == 2
    # queue came from the sibling conf xml for job 0001, unknown for 0002
    by_src = {os.path.basename(a.src): a for a in ups}
    assert by_src["job_202601_0001.log"].queue == "marathon"
    assert by_src["job_202601_0002.log"].queue == "unknown"
    # the files landed in the dated layout, content intact
    lp = by_src["job_202601_0001.log"].dest.removeprefix("file://")
    with open(lp) as fh:
        assert fh.read() == "JOB LOG"
    assert "/gridA/daily/marathon/" in lp

    # re-run: remote diff marks everything already uploaded (no dupes)
    rerun = upload_logs(spark, str(local), dest, "gridA", now=NOW)
    assert all(a.action == "skip_uploaded" for a in rerun)
    assert len(rerun) == 2


def test_uploaded_layout_feeds_partitioned_listing(spark, tmp_path):
    """S13 -> S4 coupling: the dated tree the uploader writes is what
    the day-partitioned listing walks (the reference couples
    statsupload.pl's layout to JobStatsProcessing.java:71-79)."""
    from white_elephant_spark.sources.listing import HadoopFsListing

    local = tmp_path / "logs"
    dest = f"file://{tmp_path}/wh"
    _touch(str(local / "job_1_1.log"), mtime=NOW - 2 * DAY)
    upload_logs(spark, str(local), dest, "g", now=NOW)

    lst = HadoopFsListing(spark)
    assert lst.list_subdirs(f"{dest}/g") == ["daily"]
    assert lst.list_subdirs(f"{dest}/g/daily") == ["unknown"]
    files = lst.walk_files(f"{dest}/g", ".log")
    assert len(files) == 1 and next(iter(files)).endswith("job_1_1.log")


def test_window_day_dirs_bounds():
    from white_elephant_spark.sources.transfer import window_day_dirs

    dirs = window_day_dirs(NOW, days=7, older_than_s=DAY)
    # 7-day window minus the 24h settle period spans 7 calendar days
    # (inclusive endpoints, UTC)
    assert 6 <= len(dirs) <= 8
    assert all(len(y) == 4 and len(md) == 4 for y, md in dirs)
    dt = __import__("datetime")
    first = dt.datetime.fromtimestamp(NOW - 7 * DAY, dt.timezone.utc)
    last = dt.datetime.fromtimestamp(NOW - DAY, dt.timezone.utc)
    assert dirs[0] == (f"{first.year:04d}", f"{first.month:02d}{first.day:02d}")
    assert dirs[-1] == (f"{last.year:04d}", f"{last.month:02d}{last.day:02d}")


def test_plan_upload_canon_applies_to_membership():
    files = {"/l/job_1_2.log": NOW - 2 * DAY}
    first = plan_upload(files, set(), "file:///d", "g", now=NOW)
    # the remote listing renders file:///d as file:/d — membership
    # only matches through canon
    listed = {first[0].dest.replace("file:///", "file:/")}
    raw = plan_upload(files, listed, "file:///d", "g", now=NOW)
    canoned = plan_upload(
        files, listed, "file:///d", "g", now=NOW,
        canon=lambda d: d.replace("file:///", "file:/"),
    )
    assert raw[0].action == "upload"  # without canon the diff is blind
    assert canoned[0].action == "skip_uploaded"


def test_upload_listing_bounded_by_window(spark, tmp_path, monkeypatch):
    """The remote diff must list only (queue x window-day) prefixes —
    never the grid's full history (ADVICE r6: the old recursive
    listing was O(all uploads ever) per run)."""
    from white_elephant_spark.sources import listing as listing_mod

    local = tmp_path / "logs"
    dest = f"file://{tmp_path}/wh"
    _touch(str(local / "job_1_1.log"), mtime=NOW - 2 * DAY)
    upload_logs(spark, str(local), dest, "g", now=NOW)  # seed one queue dir

    calls: list[str] = []
    orig = listing_mod.HadoopFsListing.walk_files

    def spy(self, path, suffix):
        calls.append(path)
        return orig(self, path, suffix)

    monkeypatch.setattr(listing_mod.HadoopFsListing, "walk_files", spy)
    plan = upload_logs(spark, str(local), dest, "g", now=NOW)
    assert all(a.action == "skip_uploaded" for a in plan)  # diff still live
    from white_elephant_spark.sources.transfer import window_day_dirs

    n_days = len(window_day_dirs(NOW))
    assert 0 < len(calls) <= n_days  # one queue x window days, max
    import re as _re

    assert all(_re.search(r"/g/daily/[^/]+/\d{4}/\d{4}$", p) for p in calls)
