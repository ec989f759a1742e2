"""Outside-in tracing for the traced (--trace 1) runs.

Nothing here reaches inside the package: a span is a timed call into a
public function, tagged with its own Spark job group, and every count
comes from Spark's public status surfaces -- ``statusTracker`` for the
jobs a group ran, the status REST API (the one tools/shuffle_audit.py
reads) for stages, tasks, shuffle and spill bytes, job intervals and the
Arrow Python-worker SQL metrics.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

_PY_TIME = "time to run Python workers"
_ROWS = "number of output rows"


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _duration_s(text: str) -> float:
    """'12 ms' / '9.2 s' / '1.5 m' / '1.02 h' -> seconds (Spark's
    msDurationToString formats)."""
    num, unit = text.split()[:2]
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}[unit]
    return float(num.replace(",", "")) * scale


def _metric_total(value: str) -> str:
    """An SQL metric's total: the line after the 'total (min, med,
    max ...)' header, or the value itself for plain counters."""
    lines = value.strip().splitlines()
    return lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]


class Tracer:
    """Spans with self time, each tagged with a job group.

    ``span(layer)`` nests: a child's wall time is subtracted from its
    parent's self time, and jobs a child runs land in the child's group.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui = self.sc.uiWebUrl
        self.app = self.sc.applicationId
        self._stack: list[list] = []
        self._n = 0
        self.spans: list[dict] = []
        self._peak_storage = 0
        self._poller: threading.Thread | None = None
        self._stop = threading.Event()

    # -- spans -------------------------------------------------------
    def _set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, layer: str):
        self._n += 1
        gid = f"bench-{layer}-{self._n}"
        frame = [gid, 0.0]  # group id, child wall time
        self._stack.append(frame)
        self._set_group(gid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self._stack[-1][1] += wall
                self._set_group(self._stack[-1][0])
            else:
                self._set_group(None)
            self.spans.append(
                {"layer": layer, "group": gid, "wall_s": wall, "self_s": wall - frame[1]}
            )

    # -- storage high-water mark --------------------------------------
    def _poll_storage(self) -> None:
        url = f"{self.ui}/api/v1/applications/{self.app}/executors"
        while not self._stop.wait(0.5):
            try:
                used = sum(e.get("memoryUsed", 0) for e in _get(url))
            except OSError:
                continue
            self._peak_storage = max(self._peak_storage, used)

    def start_storage_poll(self) -> None:
        self._poller = threading.Thread(target=self._poll_storage, daemon=True)
        self._poller.start()

    def stop_storage_poll(self) -> int:
        if self._poller is not None:
            self._stop.set()
            self._poller.join(timeout=10)
            self._poller = None
        return self._peak_storage

    # -- per-layer rollup ---------------------------------------------
    def rollup(self) -> dict[str, dict]:
        """Per layer: span count, wall and self seconds, and the jobs,
        executed stages, tasks, shuffle-write and spill bytes, job-busy
        seconds and Python-worker rows/seconds of its own job groups."""
        tracker = self.sc.statusTracker()
        base = f"{self.ui}/api/v1/applications/{self.app}"
        stages = {
            s["stageId"]: s
            for s in _get(f"{base}/stages?status=complete")
        }
        jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        sql = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=100000")
        job_group: dict[int, str] = {}
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            agg = out[sp["layer"]]
            agg["spans"] += 1
            agg["wall_s"] += sp["wall_s"]
            agg["self_s"] += sp["self_s"]
            intervals = []
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                job_group[jid] = sp["layer"]
                agg["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = stages.get(sid)
                    if st is None:  # skipped (reused shuffle output)
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += st["numTasks"]
                    agg["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    agg["spill_bytes"] += st["diskBytesSpilled"]
                j = jobs.get(jid)
                if j and j.get("submissionTime") and j.get("completionTime"):
                    intervals.append((_ts(j["submissionTime"]), _ts(j["completionTime"])))
            agg["job_busy_s"] += _union_s(intervals)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            layer = next((job_group[j] for j in ids if j in job_group), None)
            if layer is None:
                continue
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if _PY_TIME not in metrics:
                    continue
                out[layer]["udf_s"] += _duration_s(_metric_total(metrics[_PY_TIME]))
                if _ROWS in metrics:
                    out[layer]["udf_rows"] += float(
                        _metric_total(metrics[_ROWS]).replace(",", "")
                    )
        return {k: dict(v) for k, v in out.items()}


def _ts(text: str) -> float:
    """REST API timestamp '2026-10-17T11:00:00.123GMT' -> epoch s."""
    from datetime import datetime, timezone

    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (concurrent jobs
    count once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
