"""Seeded Hadoop-1.x job-history generator with an exact ground-truth cube.

Files follow the reference layout ``<root>/<cluster>/daily/<yyyy>/<MMdd>/*.log``,
a few files per (cluster, day), split by submit time.  Each job writes the
line kinds and quirks the engine's parser handles:

- job fragments split over an early line (user, submit time, escaped
  quotes in the job name) and a terminal line (finish time, status);
- task start/finish lines;
- attempt fragments split over a start line and a terminal line, with
  duplicate start fragments and duplicate terminal fragments that carry
  an earlier finish time (merge must keep the max);
- about 15% retried tasks (failed or killed first attempt), some tasks
  whose every attempt failed, and speculative killed attempts;
- multi-hour attempts;
- noise lines, truncated lines, and hidden ``_``/``.`` files whose
  content must never reach the cube.

Every job stays inside its log day (submitted before 20:00 UTC, every
attempt finished before midnight), so a refresh whose forced window is
the last two days always rebuilds the newest day and the day before it.

The ground truth is computed from the generated fragments with the
documented merge rules (max times, last non-null status, the last
fragment's counters), excess labelling and hourly proration, in plain
Python: it never calls the engine's parser or operators.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import date, timedelta

HOUR_MS = 3_600_000
DAY_MS = 86_400_000
MIN_MS = 60_000
ROOT_NAME = "history_logs"
FIRST_DAY = date(2024, 3, 3)
CLUSTERS = ("alpha", "beta")
USERS = tuple(f"u{i:02d}" for i in range(40))
# Skewed user popularity: a few heavy users, a long tail.
_USER_WEIGHTS = tuple(1.0 / (i + 1) ** 0.8 for i in range(len(USERS)))


def day_ms(d: date) -> int:
    return (d - date(1970, 1, 1)).days * DAY_MS


@dataclass
class Attempt:
    """One attempt's fragments in file order: (status, start, finish, counters)."""

    job: str
    task: str
    attempt: str
    type: str
    frags: list[tuple[str | None, int | None, int | None, dict[str, int]]] = field(
        default_factory=list
    )


@dataclass
class JobFile:
    cluster: str
    day: date
    path: str
    lines: int
    nbytes: int
    users: dict[str, str]  # jobId -> user (last non-null USER of its job lines)
    attempts: list[Attempt]


class LogGen:
    """Writes history files under ``<base>/history_logs`` and keeps the
    fragments it wrote, so :meth:`truth` can rebuild the exact cube."""

    def __init__(self, base: str, seed: int, jobs_per_day: int, files_per_day: int):
        self.root = os.path.join(base, ROOT_NAME)
        self.rng = random.Random(seed)
        self.jobs_per_day = jobs_per_day
        self.files_per_day = files_per_day
        self.files: dict[str, JobFile] = {}
        self._next_job = {c: 1 for c in CLUSTERS}

    # -- layout --------------------------------------------------------
    def glob(self) -> str:
        return os.path.join(self.root, "*", "daily", "*", "*", "*.log")

    def day_dir(self, cluster: str, d: date) -> str:
        return os.path.join(self.root, cluster, "daily", f"{d:%Y}", f"{d:%m%d}")

    def lines(self) -> int:
        return sum(f.lines for f in self.files.values())

    def nbytes(self) -> int:
        return sum(f.nbytes for f in self.files.values())

    # -- writing -------------------------------------------------------
    def write_day(self, d: date, late: int = 0) -> None:
        """Land the daily volume of jobs per cluster for day ``d``;
        ``late`` > 0 lands one extra late file of that many jobs instead."""
        for ci, cluster in enumerate(CLUSTERS):
            by_part: dict[int, list[tuple[list[str], str, str, list[Attempt]]]] = {}
            for _ in range(late or self.jobs_per_day):
                submit = day_ms(d) + self.rng.randrange(0, 20 * HOUR_MS)
                part = (submit - day_ms(d)) * self.files_per_day // (20 * HOUR_MS)
                by_part.setdefault(part, []).append(self._job(ci, cluster, d, submit))
            ddir = self.day_dir(cluster, d)
            os.makedirs(ddir, exist_ok=True)
            for part, jobs_ in sorted(by_part.items()):
                name = f"late-{late}-{self.rng.randrange(10**6)}.log" if late else f"part-{part:02d}.log"
                self._write_file(cluster, d, os.path.join(ddir, name), jobs_)
            if not late:
                self._write_hidden(ddir, ci, d)

    def remove_day(self, d: date) -> None:
        for cluster in CLUSTERS:
            shutil.rmtree(self.day_dir(cluster, d), ignore_errors=True)
        self.files = {p: f for p, f in self.files.items() if f.day != d}

    def _write_file(self, cluster, d, path, jobs) -> None:
        out: list[str] = ['Meta VERSION="1" .']
        users: dict[str, str] = {}
        attempts: list[Attempt] = []
        for lines, job_id, user, atts in jobs:
            out.extend(lines)
            users[job_id] = user
            attempts.extend(atts)
        # Noise and truncated lines at random positions: they never
        # reorder the fragments of one attempt relative to each other.
        for _ in range(max(1, len(out) // 40)):
            out.insert(self.rng.randrange(1, len(out) + 1), self._noise(out))
        text = "\n".join(out) + "\n"
        with open(path, "w") as fh:
            fh.write(text)
        self.files[path] = JobFile(
            cluster, d, path, len(out), len(text.encode()), users, attempts
        )

    def _write_hidden(self, ddir: str, ci: int, d: date) -> None:
        """Poison: a job of user ``hidden`` that must never appear in the
        cube, in files the scan has to skip."""
        t = day_ms(d) + HOUR_MS
        poison = (
            'Meta VERSION="1" .\n'
            f'Job JOBID="job_99990{ci}_0001" USER="hidden" SUBMIT_TIME="{t}" .\n'
            f'MapAttempt TASK_TYPE="MAP" TASKID="task_99990{ci}_0001_m_000000"'
            f' TASK_ATTEMPT_ID="attempt_99990{ci}_0001_m_000000_0" TASK_STATUS="SUCCESS"'
            f' START_TIME="{t}" FINISH_TIME="{t + HOUR_MS}" .\n'
        )
        for name in ("_SUCCESS", ".part-00.log.crc", "_temporary.log"):
            with open(os.path.join(ddir, name), "w") as fh:
                fh.write(poison)

    def _noise(self, lines: list[str]) -> str:
        r = self.rng.random()
        if r < 0.4:
            return f"garbage ### {self.rng.randrange(10**9)} = = ="
        if r < 0.5:
            return ""
        # A truncated copy of a real line, cut before any field that
        # would let it form a fragment (attempt id, user).
        src = self.rng.choice(lines)
        for marker in (" TASK_ATTEMPT_ID=", " USER=", " TASK_STATUS="):
            i = src.find(marker)
            if i > 0:
                return src[: i + self.rng.randrange(1, len(marker))]
        return src[: max(1, len(src) // 3)].split('"')[0]

    def _job(self, ci: int, cluster: str, d: date, submit: int):
        rng = self.rng
        n = self._next_job[cluster]
        self._next_job[cluster] += 1
        stamp = f"20240303{ci:02d}00"
        job_id = f"job_{stamp}_{n:05d}"
        user = rng.choices(USERS, _USER_WEIGHTS)[0]
        day_end = day_ms(d) + DAY_MS - MIN_MS
        launch = submit + rng.randrange(500, 5_000)
        maps, reduces = rng.randint(1, 8), rng.choice((0, 0, 1, 1, 2, 3))
        lines = [
            f'Job JOBID="{job_id}" JOBNAME="etl \\"{user}\\" step {n % 7}" USER="{user}"'
            f' SUBMIT_TIME="{submit}" JOBCONF="hdfs://nn/{job_id}_conf.xml" JOB_QUEUE="default" .',
            f'Job JOBID="{job_id}" JOB_PRIORITY="NORMAL" .',
            f'Job JOBID="{job_id}" LAUNCH_TIME="{launch}" TOTAL_MAPS="{maps}"'
            f' TOTAL_REDUCES="{reduces}" JOB_STATUS="PREP" .',
        ]
        attempts: list[Attempt] = []
        finish = launch
        failed = {"m": 0, "r": 0}
        for kind, count in (("m", maps), ("r", reduces)):
            maps_done = finish
            ttype = "MAP" if kind == "m" else "REDUCE"
            tag = "MapAttempt" if kind == "m" else "ReduceAttempt"
            for t in range(count):
                task_id = f"task_{stamp}_{n:05d}_{kind}_{t:06d}"
                t0 = (launch if kind == "m" else maps_done) + rng.randrange(0, 10 * MIN_MS)
                lines.append(f'Task TASKID="{task_id}" TASK_TYPE="{ttype}" START_TIME="{t0}" SPLITS="/rack{t % 3}/h{t}" .')
                plan = self._attempt_plan()
                start = t0
                tfinish = t0
                for a, status in enumerate(plan):
                    aid = f"attempt_{stamp}_{n:05d}_{kind}_{t:06d}_{a}"
                    dur = self._duration()
                    s = min(start, day_end - MIN_MS)
                    f_ = min(s + dur, day_end)
                    att = Attempt(job_id, task_id, aid, ttype)
                    counters = self._counters(kind, status, f_ - s)
                    head = (
                        f'{tag} TASK_TYPE="{ttype}" TASKID="{task_id}" TASK_ATTEMPT_ID="{aid}"'
                        f' START_TIME="{s}" TRACKER_NAME="tracker_h{a}" HTTP_PORT="50060" .'
                    )
                    lines.append(head)
                    att.frags.append((None, s, None, {}))
                    if rng.random() < 0.05:  # duplicate start fragment
                        lines.append(head)
                        att.frags.append((None, s, None, {}))
                    lines.append(self._terminal(tag, ttype, task_id, aid, status, f_, counters))
                    att.frags.append((status, None, f_, counters))
                    if rng.random() < 0.05:  # duplicate terminal fragment, earlier finish
                        lines.append(self._terminal(tag, ttype, task_id, aid, status, f_ - 1_000, counters))
                        att.frags.append((status, None, f_ - 1_000, counters))
                    attempts.append(att)
                    tfinish = max(tfinish, f_)
                    # a speculative twin overlaps the winner; a retry
                    # starts after the attempt before it finished
                    if plan == ["SUCCESS", "KILLED"]:
                        start = s + rng.randrange(1_000, 20_000)
                    else:
                        start = f_ + rng.randrange(1_000, 10_000)
                tstatus = "SUCCESS" if "SUCCESS" in plan else "FAILED"
                failed[kind] += tstatus != "SUCCESS"
                lines.append(f'Task TASKID="{task_id}" TASK_TYPE="{ttype}" TASK_STATUS="{tstatus}" FINISH_TIME="{tfinish}" .')
                finish = max(finish, tfinish)
        jstatus = "SUCCESS" if not (failed["m"] or failed["r"]) else "FAILED"
        lines.append(
            f'Job JOBID="{job_id}" FINISH_TIME="{min(finish + 2_000, day_end)}" JOB_STATUS="{jstatus}"'
            f' FINISHED_MAPS="{maps - failed["m"]}" FINISHED_REDUCES="{reduces - failed["r"]}"'
            f' FAILED_MAPS="{failed["m"]}" FAILED_REDUCES="{failed["r"]}" .'
        )
        return lines, job_id, user, attempts

    def _attempt_plan(self) -> list[str]:
        r = self.rng.random()
        if r < 0.12:  # retried: the first attempt fails or is killed
            return [self.rng.choice(("FAILED", "KILLED")), "SUCCESS"]
        if r < 0.15:  # every attempt failed: only the retries are excess
            return ["FAILED", "FAILED"]
        if r < 0.18:  # speculative twin killed after the winner
            return ["SUCCESS", "KILLED"]
        return ["SUCCESS"]

    def _duration(self) -> int:
        r = self.rng.random()
        if r < 0.85:
            return self.rng.randrange(20_000, 15 * MIN_MS)
        if r < 0.95:
            return self.rng.randrange(15 * MIN_MS, HOUR_MS)
        return self.rng.randrange(HOUR_MS, 4 * HOUR_MS)

    def _counters(self, kind: str, status: str, dur: int) -> dict[str, int]:
        if status == "KILLED" and self.rng.random() < 0.5:
            return {}
        c = {
            "CPU_MILLISECONDS": self.rng.randrange(0, max(1, dur)),
            "SPILLED_RECORDS": self.rng.randrange(0, 200_000),
        }
        if kind == "r":
            c["REDUCE_SHUFFLE_BYTES"] = self.rng.randrange(0, 5 * 10**8)
        return c

    @staticmethod
    def _terminal(tag, ttype, task_id, aid, status, finish, counters) -> str:
        cs = "".join(f"[({k})({k.lower().replace('_', ' ')})({v})]" for k, v in counters.items())
        extra = f' SHUFFLE_FINISHED="{finish - 500}" SORT_FINISHED="{finish - 200}"' if ttype == "REDUCE" else ""
        ctr = f' COUNTERS="{{(FileSystemCounters)(fs)[(HDFS_BYTES_READ)(hdfs read)(4096)]}}{{(Task)(Map-Reduce Framework){cs}}}"' if counters else ""
        return (
            f'{tag} TASK_TYPE="{ttype}" TASKID="{task_id}" TASK_ATTEMPT_ID="{aid}"'
            f' TASK_STATUS="{status}" FINISH_TIME="{finish}" HOSTNAME="/rack/h"{extra}{ctr} .'
        )

    # -- ground truth ---------------------------------------------------
    def truth(self, days: set[date] | None = None) -> dict[tuple, tuple]:
        """Exact-integer cube of the files currently on disk, keyed by
        (user, hour_ms, cluster, excess, type, status) with values
        (started, finished, elapsedMs, cpuMsProrated, spilledRecords,
        reduceShuffleBytes); ``None`` where every input was null.
        ``days`` restricts it to buckets on those UTC days."""
        cube: dict[tuple, list] = {}
        for jf in self.files.values():
            tasks: dict[str, list[tuple]] = {}
            for a in jf.attempts:
                if a.job not in jf.users:
                    continue
                status = next((f[0] for f in reversed(a.frags) if f[0] is not None), None)
                starts = [f[1] for f in a.frags if f[1] is not None]
                finishes = [f[2] for f in a.frags if f[2] is not None]
                if status is None or not starts or not finishes:
                    continue
                s, e = max(starts), max(finishes)
                if e < s:
                    continue
                tasks.setdefault(a.task, []).append((s, a.attempt, status, e, a.frags[-1][3], a))
            for atts in tasks.values():
                any_ok = any(x[2] == "SUCCESS" for x in atts)
                first = min(atts)[1]
                for s, aid, status, e, counters, a in atts:
                    excess = status != "SUCCESS" and (any_ok or aid != first)
                    if s <= 0 or e <= s:
                        continue
                    self._explode(cube, days, jf, a, s, e, status, excess, counters)
        return {k: tuple(v) for k, v in cube.items()}

    @staticmethod
    def _explode(cube, days, jf, a, s, e, status, excess, counters) -> None:
        cpu = counters.get("CPU_MILLISECONDS")
        spilled = counters.get("SPILLED_RECORDS")
        shuffle = counters.get("REDUCE_SHUFFLE_BYTES")
        for h in range(s // HOUR_MS, (e - 1) // HOUR_MS + 1):
            b = h * HOUR_MS
            if days is not None and date(1970, 1, 1) + timedelta(days=b // DAY_MS) not in days:
                continue
            be = b + HOUR_MS
            overlap = min(be, e) - max(b, s)
            pct = overlap / (e - s)
            vals = (
                int(be >= s >= b),
                int(be >= e >= b),
                overlap,
                None if cpu is None else math.floor(pct * cpu),
                None if spilled is None else math.floor(pct * spilled),
                shuffle,
            )
            key = (jf.users[a.job], b, jf.cluster, excess, a.type, status)
            acc = cube.setdefault(key, [None] * 6)
            for i, v in enumerate(vals):
                if v is not None:
                    acc[i] = v if acc[i] is None else acc[i] + v
