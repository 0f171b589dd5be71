"""S13 — the ingestion edge: the dated log uploader, on the Hadoop
``FileSystem`` API.

The reference's S12 fetch (``server/app/usage_hadoop_loader.rb:100-113``)
copies remote Avro files to local temp files before reading them;
Spark reads distributed storage directly, so the engine has no fetch
step.

- **S13 uploader** (reference ``hadoop/scripts/statsupload.pl``):
  a Perl cron job that (1) ``dfs -lsr``'s the destination to learn
  what is already uploaded (``:40-68`` — the ``%DIRSTRUCT`` diff),
  (2) ``File::Find``s local log files in an age window, skipping XML
  confs, hidden files and ``.crc`` sidecars (``wanted``, ``:118-131``),
  (3) reads each job's sibling ``*_conf.xml`` for
  ``mapred.job.queue.name`` (``findqueue``, ``:133-160``), and
  (4) copies into dated dirs ``DEST/GRID/daily/QUEUE/YYYY/MMDD/``
  (``pathbuilder``, ``:70-116``). :func:`upload_logs` keeps exactly
  those semantics — same filters, same dated layout, same
  already-uploaded diff (so re-runs are no-ops) — with the planning
  step (:func:`plan_upload`) split out as a pure function so the
  selection/layout rules are unit-testable without any filesystem.

The dated layout is what feeds S4: the day-partitioned listing and
incremental planner (``sources/incremental.py``) walk precisely the
``.../YYYY/MMDD/`` tree this uploader writes, which is the
reference's own coupling (statsupload.pl writes what
JobStatsProcessing.java:71-79 probes).

The upload is driver-side *metadata plus stream copies* — no
DataFrame shuffles — and O(files) in listing cost; at fleet scale the
per-day prefix listing bounds each run to one day-partition's keys.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from dataclasses import dataclass
from typing import Callable

__all__ = [
    "find_queue",
    "plan_upload",
    "window_day_dirs",
    "upload_logs",
    "UploadAction",
]

_JOBID_RE = re.compile(r"(job_\d+_\d+)")
# findqueue (statsupload.pl:133-160) scans property lines for
# mapred.job.queue.name; confs are the flat Hadoop XML shape already
# parsed engine-side in operators/confs.py — here we only need the one
# property, driver-side, per uploaded job.
_QUEUE_RE = re.compile(
    r"<name>\s*mapred\.job\.queue\.name\s*</name>\s*<value>\s*([^<]*?)\s*</value>",
    re.DOTALL,
)


def find_queue(conf_xml: str) -> str:
    """Queue name from a job conf XML, ``"unknown"`` when absent —
    findqueue's fallback (statsupload.pl:155-158)."""
    m = _QUEUE_RE.search(conf_xml)
    q = m.group(1) if m else ""
    return q or "unknown"


@dataclass(frozen=True)
class UploadAction:
    src: str
    dest: str
    queue: str
    action: str  # "upload" | "skip_uploaded"


def _wanted(name: str) -> bool:
    """The ``wanted`` file filter (statsupload.pl:118-131): plain log
    files only — no conf XML (uploaded implicitly as queue metadata),
    no hidden files, no ``.crc`` checksums."""
    return not (
        name.endswith(".xml") or name.startswith(".") or name.endswith(".crc")
    )


def window_day_dirs(
    now: float, days: int = 7, older_than_s: float = 86400.0
) -> list[tuple[str, str]]:
    """The (YYYY, MMDD) day directories the upload age window can
    touch — every dated destination is derived from a file mtime in
    ``[now - days·86400, now - older_than_s)``, so a remote diff only
    needs to list these O(days) prefixes, never the grid's full
    history (the Perl's dfs -lsr scales O(all-uploads); on an object
    store that is one LIST page per 1000 historical keys per run)."""
    start = _dt.datetime.fromtimestamp(
        now - days * 86400.0, _dt.timezone.utc
    ).date()
    end = _dt.datetime.fromtimestamp(
        now - older_than_s, _dt.timezone.utc
    ).date()
    out: list[tuple[str, str]] = []
    day = start
    while day <= end:
        out.append((f"{day.year:04d}", f"{day.month:02d}{day.day:02d}"))
        day += _dt.timedelta(days=1)
    return out


def plan_upload(
    local_files: dict[str, float],
    remote_existing: set[str],
    dest_root: str,
    grid: str,
    *,
    now: float,
    days: int = 7,
    older_than_s: float = 86400.0,
    queue_of: "dict[str, str] | None" = None,
    canon: "Callable[[str], str] | None" = None,
) -> list[UploadAction]:
    """Pure planning half of the uploader: apply the ``wanted``
    filters and the age window (older than 24h so the job is surely
    finished, newer than ``days`` — statsupload.pl:24-27,125-128),
    build each file's dated destination
    ``DEST/GRID/daily/QUEUE/YYYY/MMDD/basename`` from its own
    modification day (pathbuilder, statsupload.pl:70-116), and mark
    files whose destination already exists as ``skip_uploaded`` (the
    ``%DIRSTRUCT`` diff, statsupload.pl:40-68) so re-runs are
    idempotent. Deterministic: output sorted by source path.

    ``canon`` renders a planned destination in the same form the
    remote listing uses before the membership check (Hadoop's
    ``Path`` canonicalizes ``file:///x`` to ``file:/x``); identity
    when omitted."""
    newer_than = now - days * 86400.0
    older_than = now - older_than_s
    out: list[UploadAction] = []
    for src in sorted(local_files):
        name = os.path.basename(src)
        if not _wanted(name):
            continue
        mtime = local_files[src]
        if not (newer_than <= mtime < older_than):
            continue
        day = _dt.datetime.fromtimestamp(mtime, _dt.timezone.utc)
        queue = (queue_of or {}).get(src, "unknown")
        dest = "/".join(
            [
                dest_root.rstrip("/"),
                grid,
                "daily",
                queue,
                f"{day.year:04d}",
                f"{day.month:02d}{day.day:02d}",
                name,
            ]
        )
        probe = canon(dest) if canon is not None else dest
        action = "skip_uploaded" if probe in remote_existing else "upload"
        out.append(UploadAction(src=src, dest=dest, queue=queue, action=action))
    return out


def _sibling_queues(local_files: dict[str, float]) -> dict[str, str]:
    """Map each local log file to its queue by reading the sibling
    ``<jobid>_conf.xml`` when one exists (findqueue's input — the conf
    rides next to the job log in Hadoop log dirs)."""
    out: dict[str, str] = {}
    for src in local_files:
        m = _JOBID_RE.search(os.path.basename(src))
        if not m:
            out[src] = "unknown"
            continue
        conf = os.path.join(os.path.dirname(src), f"{m.group(1)}_conf.xml")
        if os.path.isfile(conf):
            with open(conf, encoding="utf-8", errors="replace") as fh:
                out[src] = find_queue(fh.read())
        else:
            out[src] = "unknown"
    return out


def upload_logs(
    spark,
    local_dir: str,
    dest_root: str,
    grid: str,
    *,
    days: int = 7,
    older_than_s: float = 86400.0,
    now: float | None = None,
) -> list[UploadAction]:
    """S13 end-to-end: walk ``local_dir`` for finished log files,
    diff against what the destination already holds, and copy the
    rest into the dated layout. Returns the plan that was executed
    (uploads performed + skips observed), sorted by source path.

    ``now`` is injectable for tests; a production cron passes nothing
    and gets wall-clock, matching the Perl's ``time()``."""
    import time as _time

    from white_elephant_spark.sources.listing import HadoopFsListing, LocalListing

    now_s = _time.time() if now is None else now
    local_files = LocalListing().walk_files(local_dir, "")
    queues = _sibling_queues(local_files)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    # Remote diff bounded by the age window, not the grid's history:
    # one shallow listing of the queue level, then one per-day prefix
    # listing per (queue, window day) — O(queues · days) LIST calls,
    # each touching only that day-partition's keys, where the Perl's
    # ``dfs -lsr`` re-listed every upload ever made. Listed paths come
    # back in Hadoop's canonical rendering (``file:/x``, not
    # ``file:///x``), so ``canon`` renders planned destinations the
    # same way for the membership check.
    listing = HadoopFsListing(spark)
    daily_root = f"{dest_root.rstrip('/')}/{grid}/daily"
    remote_existing: set[str] = set()
    for queue in listing.list_subdirs(daily_root):
        for yyyy, mmdd in window_day_dirs(now_s, days, older_than_s):
            remote_existing.update(
                listing.walk_files(f"{daily_root}/{queue}/{yyyy}/{mmdd}", "")
            )
    plan = plan_upload(
        local_files,
        remote_existing,
        dest_root,
        grid,
        now=now_s,
        days=days,
        older_than_s=older_than_s,
        queue_of=queues,
        canon=lambda d: str(jvm.org.apache.hadoop.fs.Path(d)),
    )
    for act in plan:
        if act.action != "upload":
            continue
        dst = jvm.org.apache.hadoop.fs.Path(act.dest)
        fs = dst.getFileSystem(conf)
        fs.mkdirs(dst.getParent())  # pathbuilder's mkdir -p chain
        src = jvm.org.apache.hadoop.fs.Path("file://" + os.path.abspath(act.src))
        fs.copyFromLocalFile(False, False, src, dst)  # delSrc=F, overwrite=F
    return plan
