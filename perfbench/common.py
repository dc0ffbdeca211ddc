"""Shared pieces of the benchmark: percentiles, memory sampling, the stub
HTTP endpoint, the span recorder used by traced runs and the Spark
event-log reader. The engine package imports nothing from here."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class RssSampler:
    """Peak resident memory of this process and every descendant (the JVM
    and its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss() -> int:
        me = os.getpid()
        children: dict[int, list[int]] = defaultdict(list)
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2 :].split()
            pid = int(d)
            children[int(fields[1])].append(pid)
            rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        total, todo = 0, [me]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


class StubEndpoint:
    """Minimal HTTP receiver standing in for the vector DB's instances
    endpoint: records (receipt time, decoded JSON body) for every POST."""

    def __init__(self):
        self.received: list[tuple[float, dict]] = []
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
                now = time.time()
                payload = json.loads(body)
                with stub._lock:
                    stub.received.append((now, payload))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}/api/v1/instances"

    def snapshot(self) -> list[tuple[float, dict]]:
        with self._lock:
            return list(self.received)

    def __enter__(self) -> "StubEndpoint":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()


class Tracer:
    """In-memory spans for traced runs: name, start, end, parent, id.

    Disabled tracers record nothing and wrap nothing, so untraced runs pay
    no cost. ``patch`` replaces a module attribute with a span-recording
    wrapper and ``restore`` puts every original back.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, rid: object = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["idx"] if stack else None,
            "id": rid if rid is not None else (stack[-1]["id"] if stack else None),
            "children_s": 0.0,
        }
        with self._lock:
            rec["idx"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if stack:
                stack[-1]["children_s"] += rec["end"] - rec["start"]

    def patch(self, module, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in ("idx", "name", "start", "end", "parent", "id")}) + "\n")


def job_ids(spark, group: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, shuffle bytes written, spilled bytes and the
    task durations of each stage, from the Spark event log files."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "shuffle_bytes": 0, "spill_bytes": 0, "stage_tasks": defaultdict(list)}
    )
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if f.startswith("events_") or f.startswith("local-")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    info = ev["Task Info"]
                    g["stage_tasks"][ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    return groups
